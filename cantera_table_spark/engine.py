"""Engine facade: executes parsed statements against a Catalog.

The reference's statement dispatch (statement.cc:12-51) and the QUERY /
SELECT executors (query.cc:726-948, select.cc:80-154) re-expressed as
DataFrame pipelines.  Only the final page materializes driver-side (the
JSON envelope is a page of top-k results — small by construction).
"""

from __future__ import annotations

import bisect
import json
from collections import defaultdict
from typing import Callable

from pyspark.sql import DataFrame, Observation, Row
from pyspark.sql import functions as F

from cantera_table_spark.dsl import ast
from cantera_table_spark.dsl.compiler import QueryCompiler
from cantera_table_spark.dsl.parser import parse_script
from cantera_table_spark.functions.dates import (
    days_to_date_string, double_to_string, header_sort_key,
)
from cantera_table_spark.model import Catalog
from cantera_table_spark.operators import set_algebra as sa
from cantera_table_spark.session import CacheScope


class Engine:
    def __init__(self, catalog: Catalog, unique_postings: bool = False,
                 blob_fetcher: Callable[[str], str] | None = None,
                 f32_scores: bool = False):
        self.catalog = catalog
        self.unique_postings = unique_postings
        self.blob_fetcher = blob_fetcher
        self.f32_scores = f32_scores
        # session parameters (reference SET statement, statement.cc:35-48;
        # default CSV per output.cc:32)
        self.output_format = "csv"
        # intermediates cached by CORRELATE statements and query_df's
        # unlimited OFFSET pages; release_caches() frees them once their
        # results are consumed
        self.caches = CacheScope()
        self.time_format = "%Y-%m-%d %H:%M:%S"

    def release_caches(self) -> None:
        """Unpersist intermediates cached by CORRELATE statements and
        ``query_df`` pages (call after consuming their result
        DataFrames in long-lived sessions)."""
        self.caches.release()

    def _compiler(self) -> QueryCompiler:
        return QueryCompiler(self.catalog,
                             unique_postings=self.unique_postings,
                             blob_fetcher=self.blob_fetcher,
                             f32_scores=self.f32_scores)

    # ------------------------------------------------------------------
    # Script / statement entry points
    # ------------------------------------------------------------------
    def execute_script(self, text: str) -> list:
        """Run a ';'-separated script; returns one result object per
        statement (dict for QUERY, DataFrame for SELECT/CORRELATE,
        str for PARSE, None for SET)."""
        out = []
        for stmt in parse_script(text):
            out.append(self.execute(stmt))
        return out

    def execute(self, stmt):
        if isinstance(stmt, ast.QueryStmt):
            return self.query_stmt(stmt)
        if isinstance(stmt, ast.SelectStmt):
            return self.select_stmt(stmt)
        if isinstance(stmt, ast.CorrelateStmt):
            from cantera_table_spark.operators.correlate import correlate
            return correlate(self, stmt.query_a, stmt.query_b)
        if isinstance(stmt, ast.ParseStmt):
            return ast.format_query(stmt.query)
        if isinstance(stmt, ast.SetStmt):
            if stmt.parameter == "output_format":
                self.output_format = stmt.value
            elif stmt.parameter == "time_format":
                # store-only, like the reference: CA_time_format is
                # defined (output.cc:31), written (statement.cc:43-45,
                # ca-shell.cc:106) and never READ anywhere in the
                # reference tree — SET TIME FORMAT is vestigial there,
                # so consuming it here would invent behavior
                self.time_format = stmt.value
            return None
        raise TypeError(f"unknown statement {stmt!r}")

    # ------------------------------------------------------------------
    # QUERY — result DataFrame (the distributed part)
    # ------------------------------------------------------------------
    def query_df(self, query: ast.Node,
                 thresholds: ast.Thresholds | None = None,
                 limit: int = -1, offset: int = 0) -> DataFrame:
        """Evaluate to the (doc_id, score) page DataFrame (pre-envelope)."""
        result = self._result(self._compiler(), query, thresholds)
        return sa.top_k(result, limit, offset, caches=self.caches)

    @staticmethod
    def _result(comp: QueryCompiler, query: ast.Node,
                thresholds: ast.Thresholds | None) -> DataFrame:
        """The unpaged QUERY result (doc_id, score); THRESHOLDS keeps the
        docs whose key score is in range and scores them by it (a
        leading ``~`` on the key only reverses the headers)."""
        result = comp.process_query(query, use_max=True)
        if thresholds is None:
            return result
        kp = comp._lookup_leaf(thresholds.key.removeprefix("~"))
        return sa.threshold_filter(result, kp, thresholds.values)

    def query_stmt(self, stmt: ast.QueryStmt):
        """Full QUERY executor: returns the JSON envelope as a dict
        (``{"result-count": N, "result": [...]}`` — query.cc:933-941) or,
        for KEYS FOR, a list of keys.

        A statement collects the top-k page in one action, then fetches
        the page's summaries by doc_id in a second, small one (the
        reference seeks each result's summary, query.cc:813-890).  Every
        envelope carries the whole result's count, as the reference's
        does, taken where it costs least: inside the page action for
        LIMIT > 0, in a count of its own for LIMIT 0, and as offset plus
        page length without a LIMIT."""
        comp = self._compiler()
        result = self._result(comp, stmt.query, stmt.thresholds)
        # KEYS FOR output carries no result-count, so it counts nothing;
        # offset beyond the result still returns the bare [] through the
        # empty page
        counted = not stmt.keys_only
        total = obs = None
        if counted and stmt.limit == 0:
            # the optimizer drops an empty page together with any
            # observer on it, so LIMIT 0 counts in a job of its own
            total = result.count()
            if stmt.offset >= total:
                # Reference prints a bare "[]" here (query.cc:796-799)
                return []
        elif counted and stmt.limit > 0:
            # count every result row as the top-k reads it: the
            # observer sits directly under TakeOrderedAndProject, in the
            # job's result stage, where Spark applies each partition's
            # accumulator update once even if its task is retried.  No
            # compiled result arrives sorted by the page order, so the
            # top-k reads every row rather than a per-partition prefix.
            obs = Observation()
            result = result.observe(obs, F.count(F.lit(1)).alias("n"))
        with CacheScope() as page_caches:
            page = (sa.top_k(result, stmt.limit, stmt.offset,
                             caches=page_caches).collect()
                    if stmt.limit != 0 else [])
        if not page and stmt.limit != 0:
            # offset beyond the result (an empty offset-0 page means an
            # empty result): the reference's bare [] (query.cc:796-799).
            # A LIMIT 0 page is empty by construction and proves
            # nothing about the total, so it keeps the envelope form.
            return []
        if obs is not None:
            total = obs.get["n"]
        elif counted and stmt.limit < 0:
            # a dump-all page holds the whole result past the offset
            total = stmt.offset + len(page)

        summaries, headers = self._page_lookup(comp, page, stmt.keys_only)
        if stmt.keys_only:
            return [s["key"] for r in page for s in summaries[r["doc_id"]]]

        thr = stmt.thresholds
        if thr is not None:
            thr_values = sorted(thr.values)
            reverse = thr.key.startswith("~")
            use_date_headers = self.catalog.is_timestamped(
                thr.key.removeprefix("~"))
        results = []
        for r in page:
            h = headers.get(r["doc_id"])
            for s in summaries[r["doc_id"]]:
                obj: dict = {"_key": s["key"]}
                if s["doc"]:
                    obj.update(json.loads(s["doc"]))
                if s["__ov_doc"]:
                    obj.update(json.loads(s["__ov_doc"]))
                if h is not None:
                    obj["_header"] = h["_header"]
                    obj["_header_key"] = h["_header_key"]
                if thr is not None:
                    obj.update(self._threshold_header(
                        r["score"], thr_values, use_date_headers, reverse))
                results.append(obj)
        return {"result-count": total, "result": results}

    def _page_lookup(self, comp: QueryCompiler, page: list,
                     keys_only: bool) -> tuple[dict, dict]:
        """Fetch the page's summaries (override bodies merged in) and
        FIELD-in headers by doc_id, reading only the page's ids from
        the summary table instead of joining the page against all of it.

        Returns ({doc_id: [summary rows]}, {doc_id: header row}).  A doc
        with no summary gets one empty row (a NULL ``_key``), one with
        several gets one result object per row, as a left join would."""
        ids = sorted({r["doc_id"] for r in page if r["doc_id"] is not None})
        empty = Row(key=None, doc=None, __ov_doc=None)
        summaries = defaultdict(lambda: [empty])
        if not ids:
            return summaries, {}
        in_page = F.expr(f"doc_id IN ({','.join(map(str, ids))})")
        docs = self.catalog.summary().filter(in_page)
        ov = None if keys_only else self.catalog.override()
        if keys_only:
            docs = docs.select("doc_id", "key")
        elif ov is None:
            docs = docs.select("doc_id", "key", "doc",
                               F.lit(None).alias("__ov_doc"))
        else:
            docs = docs.select("doc_id", "key", "doc").join(
                ov.withColumnRenamed("doc", "__ov_doc"), "key", "left")
        for s in docs.collect():
            summaries.setdefault(s["doc_id"], []).append(s)
        headers = {}
        if comp.extra is not None and not keys_only:
            headers = {h["doc_id"]: h
                       for h in comp.extra.filter(in_page).collect()}
        return summaries, headers

    @staticmethod
    def _threshold_header(score: float, thresholds: list[float],
                          use_date_headers: bool, reverse: bool) -> dict:
        """Group header assembly (query.cc:893-927)."""
        i = bisect.bisect_left(thresholds, score, lo=1)
        if i < len(thresholds) and thresholds[i] == score \
                and i + 1 < len(thresholds):
            i += 1
        lo_v, hi_v = thresholds[i - 1], thresholds[i]
        if not use_date_headers:
            header = f"{double_to_string(lo_v)}–{double_to_string(hi_v)}"
        elif lo_v + 1 != hi_v:
            header = (f"{days_to_date_string(lo_v)}–"
                      f"{days_to_date_string(hi_v)}")
        else:
            header = days_to_date_string(lo_v)
        key = i
        if reverse:
            key = len(thresholds) - key
        return {"_header": header, "_header_key": header_sort_key(key)}

    def export_results(self, query: ast.Node) -> DataFrame:
        """Distributed full-result export: one JSON object string per
        matching document, assembled executor-side with the reference's
        concatenation scheme (query.cc:862-890: '_key' + brace-stripped
        summary body + override body appended — later keys win at the
        client).  Unlike query_stmt (which collects a top-k page), this
        never touches the driver, so exporting millions of results is a
        plain distributed write: engine.export_results(q).write.text(...).
        """
        comp = self._compiler()
        result = comp.process_query(query, use_max=True)
        docs = self.catalog.summary()
        joined = result.join(docs, "doc_id", "left")
        # to_json(named_struct('_key', key)) = {"_key":"..."} with full
        # JSON escaping; strip its closing brace, append the
        # brace-stripped summary body, then overrides, then close.
        def body_of(col_name: str):
            """Brace-stripped JSON body prefixed with a comma, or ''
            when the column is NULL/empty/'{}' — an unconditional comma
            before an empty body would emit invalid trailing-comma
            JSON."""
            c = F.col(col_name)
            stripped = F.when(
                c.startswith("{"),
                F.expr(f"substring({col_name}, 2, "
                       f"length({col_name}) - 2)")).otherwise(c)
            return F.when(
                c.isNull() | (F.length(F.coalesce(stripped, F.lit("")))
                              == 0),
                F.lit("")).otherwise(F.concat(F.lit(","), stripped))

        doc_body = body_of("doc")
        ov = self.catalog.override()
        if ov is not None:
            joined = joined.join(
                ov.withColumnRenamed("doc", "__ov_doc"), "key", "left")
            ov_body = body_of("__ov_doc")
        else:
            ov_body = F.lit("")
        json_col = F.concat(
            F.expr("substring(" +
                   "to_json(named_struct('_key', key)), 1, " +
                   "length(to_json(named_struct('_key', key))) - 1)"),
            doc_body, ov_body, F.lit("}"))
        return joined.select("doc_id", json_col.alias("result_json"))

    # ------------------------------------------------------------------
    # SELECT — feature matrix (select.cc:80-154)
    # ------------------------------------------------------------------
    def select_df(self, fields: list[ast.Node], query: ast.Node,
                  with_summaries: bool = False,
                  field_names: list[str] | None = None) -> DataFrame:
        """Feature matrix: one row per selected doc (key first), one
        float column per field query; NaN = missing, all-zero-score
        fields report 1.0 presence (select.cc:47-65).

        All fields evaluate in ONE pass: union-with-index + pivot, so
        Spark schedules every field lookup in parallel (replacing the
        reference's 16-thread pool) and shuffles once.
        """
        comp = self._compiler()
        sel = comp.process_query(query, use_max=False)

        n = len(fields)
        names = field_names or [f"f{i}" for i in range(n)]
        if len(names) != n:
            raise ValueError("field_names length mismatch")

        parts = []
        for i, fq in enumerate(fields):
            fdf = comp.process_query(fq, use_max=False)
            parts.append(fdf.select(F.lit(i).alias("__fidx"), "doc_id",
                                    "score"))
        allf = parts[0]
        for p in parts[1:]:
            allf = allf.unionByName(p)

        # all-zero -> presence indicator 1.0 (select.cc:47-53)
        stats = allf.groupBy("__fidx").agg(
            F.max(F.abs(F.col("score"))).alias("__mx"))
        allf = (allf.join(F.broadcast(stats), "__fidx")
                .withColumn("__val",
                            F.when(F.col("__mx") == 0.0, F.lit(1.0))
                            .otherwise(F.col("score"))))

        matrix = (allf.groupBy("doc_id")
                  .pivot("__fidx", list(range(n)))
                  .agg(F.first("__val")))
        for i, name in enumerate(names):
            matrix = matrix.withColumnRenamed(str(i), name)

        out = sel.select("doc_id").join(matrix, "doc_id", "left")
        for name in names:
            out = out.withColumn(
                name, F.coalesce(F.col(name), F.lit(float("nan"))))

        docs = self.catalog.summary()
        cols = ["key"] + names + (["doc"] if with_summaries else [])
        return (out.join(docs, "doc_id", "left")
                .select("doc_id", *cols).orderBy("doc_id"))

    def select_stmt(self, stmt: ast.SelectStmt) -> DataFrame:
        return self.select_df(stmt.fields, stmt.query,
                              with_summaries=stmt.with_summaries)
