"""Physical-plan facts for the plan-shape tests.

The 100 TB posture lives or dies in plan shapes (SURVEY.md §4); these
helpers turn ``.explain`` output into assertions so the properties that
matter — pushdown, pruned schemas, broadcast strategy, shuffle counts,
top-k without full sort — are pinned by tests instead of re-checked by
hand after every change.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import DataFrame

from cantera_table_spark.plans.inspect import explain_str


@dataclass
class PlanFacts:
    text: str
    n_shuffles: int          # hash/range repartition exchanges
    n_broadcasts: int
    has_take_ordered: bool
    pushed_filters: list[str]
    read_schemas: list[str]
    has_python_eval: bool    # row-at-a-time Python UDF in the plan

    def pushed(self, fragment: str) -> bool:
        return any(fragment in p for p in self.pushed_filters)

    def reads_column(self, col: str) -> bool:
        return any(col in s for s in self.read_schemas)

    def distinct_shuffle_keys(self) -> set[str]:
        """Logically-distinct shuffle partitionings: expression ids are
        stripped so a cached subtree printed N times (InMemoryRelation
        bodies appear inline in explain output) counts once.

        The partitioning body is extracted with PAREN BALANCING, not a
        ``[^)]*`` regex: a nested call in the partitioning expression
        (``hashpartitioning(pmod(xxhash64(k#3), 8), 200)``) truncates
        the regex capture at the first ``)``, merging logically
        distinct exchanges into one key and silently under-counting a
        real extra shuffle (r11 review finding)."""
        keys = set()
        for m in re.finditer(
                r"Exchange (?:hash|range)partitioning\(", self.text):
            depth, i = 1, m.end()
            while i < len(self.text) and depth:
                c = self.text[i]
                if c == "(":
                    depth += 1
                elif c == ")":
                    depth -= 1
                i += 1
            keys.add(re.sub(r"#\d+L?", "", self.text[m.end():i - 1]))
        return keys


def plan_facts(df: DataFrame) -> PlanFacts:
    text = explain_str(df, "simple")
    return PlanFacts(
        text=text,
        n_shuffles=len(re.findall(
            r"Exchange (?:hash|range)partitioning", text)),
        n_broadcasts=len(re.findall(r"BroadcastExchange", text)),
        has_take_ordered="TakeOrderedAndProject" in text,
        pushed_filters=re.findall(r"PushedFilters: \[([^\]]*)\]", text),
        read_schemas=re.findall(r"ReadSchema: (\S+)", text),
        has_python_eval="BatchEvalPython" in text,
    )
