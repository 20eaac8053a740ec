"""ca-shell equivalent: interactive / scripted statement runner.

Usage::

    python -m cantera_table_spark.shell --sf-dir /root/testdata/sf0.01
    echo 'QUERY (spark AND fast) LIMIT 5;' | \\
        python -m cantera_table_spark.shell --sf-dir /root/testdata/sf0.01

Mirrors the reference CLI surface (ca-shell.cc:100-223): statements from
stdin (or ``-c``), executed in order, results to stdout.  Output
formatting (statement.cc:35-48, output.cc:31-124, S17):

- QUERY -> the JSON envelope ``{"result-count":N,"result":[...]}``
  (or one key per line under KEYS FOR)
- SELECT -> CSV rows ``key,f0,f1,...`` with ``nan`` for missing
  (select.cc:117-153); JSON rows under SET OUTPUT FORMAT JSON
- CORRELATE -> TSV ``log_odds<TAB>match_a<TAB>match_b<TAB>key[range]``
  (correlate.cc:146-180)
- SET OUTPUT FORMAT / SET TIME FORMAT are session state
"""

from __future__ import annotations

import argparse
import json
import math
import sys

from cantera_table_spark.dsl import ast
from cantera_table_spark.engine import Engine
from cantera_table_spark.model import testdata_catalog
from cantera_table_spark.session import get_spark


def format_select_rows(df, output_format: str) -> list[str]:
    """select.cc:117-153: key, then %.9g floats ('nan' when missing)."""
    out = []
    cols = [c for c in df.columns if c not in ("doc_id",)]
    for row in df.collect():
        if output_format == "json":
            obj = {}
            for c in cols:
                v = row[c]
                obj[c] = None if (isinstance(v, float) and math.isnan(v)) \
                    else v
            out.append(json.dumps(obj))
        else:
            vals = []
            for c in cols:
                v = row[c]
                if isinstance(v, float):
                    vals.append("nan" if math.isnan(v) else f"{v:.9g}")
                elif v is None:
                    vals.append("")   # missing summary -> empty field
                elif c == "doc":
                    # WITH SUMMARIES: JSON quoted with doubled quotes
                    # (select.cc:139-147)
                    vals.append('"' + str(v).replace('"', '""') + '"')
                else:
                    vals.append(str(v))
            out.append(",".join(vals))
    return out


def format_correlate_rows(df, catalog=None,
                          do_timestamps: bool = False) -> list[str]:
    """correlate.cc:146-180 output shape with the range annotation.

    Range bounds render per ProcessRange (correlate.cc:152-165):
    plain keywords -> lossless float string (FloatToString, util.h:130
    — the X7 helper); TIMESTAMPED keywords -> ``'N days ago'`` under
    event prediction (``do_timestamps`` = query A's primary keyword is
    timestamped, matching the reference's do_timestamps plumb-through)
    else DayToDate ``'%Y-%m-%d %H:%M'`` (correlate.cc:53-62).  A
    catalog-less call keeps the plain numeric rendering (no keyword
    kinds to consult).  Previously every bound printed as a raw ``%g``
    number regardless of kind (r11 review finding)."""
    from cantera_table_spark.functions.dates import (day_to_date_minute,
                                                     double_to_string)
    out = []
    for r in df.collect():
        is_ts = (catalog.is_timestamped(r.keyword)
                 if catalog is not None else False)

        def fmt(v):
            if not is_ts:
                return double_to_string(v)
            if do_timestamps:
                return double_to_string(v) + " days ago"
            return day_to_date_minute(v)

        key = r.keyword
        if r.min_score is not None and r.max_score is not None:
            key += f"[{fmt(r.min_score)},{fmt(r.max_score)}]"
        elif r.min_score is not None:
            key += f"≥{fmt(r.min_score)}"
        elif r.max_score is not None:
            key += f"≤{fmt(r.max_score)}"
        out.append(f"{r.log_odds:.3f}\t{r.match_count_a}\t"
                   f"{r.match_count_b}\t{key}")
    return out


def run_script(engine: Engine, text: str) -> None:
    from cantera_table_spark.dsl.parser import parse_script
    for stmt in parse_script(text):
        result = engine.execute(stmt)
        if isinstance(stmt, ast.QueryStmt):
            if stmt.keys_only:
                for k in result:
                    print(k)
            else:
                # compact separators: the reference prints the envelope
                # with no spaces (query.cc:933 '{"result-count":%zu,...')
                print(json.dumps(result, ensure_ascii=False,
                                 separators=(",", ":")))
        elif isinstance(stmt, ast.SelectStmt):
            for line in format_select_rows(result, engine.output_format):
                print(line)
        elif isinstance(stmt, ast.CorrelateStmt):
            from cantera_table_spark.operators.correlate import \
                primary_keyword
            a_ts = engine.catalog.is_timestamped(
                primary_keyword(stmt.query_a))
            for line in format_correlate_rows(result, engine.catalog,
                                              do_timestamps=a_ts):
                print(line)
            engine.release_caches()   # rows are materialized above
        elif isinstance(stmt, ast.ParseStmt):
            print(result)
        # SET -> no output (statement.cc:35-48)


def main() -> int:
    ap = argparse.ArgumentParser(prog="cantera-table-spark shell")
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.01",
                    help="testdata directory backing the catalog")
    ap.add_argument("-c", "--command", default=None,
                    help="run this statement string instead of stdin")
    args = ap.parse_args()

    spark = get_spark("cantera-shell")
    spark.sparkContext.setLogLevel("ERROR")
    engine = Engine(testdata_catalog(spark, args.sf_dir),
                    unique_postings=True)
    text = args.command if args.command is not None else sys.stdin.read()
    run_script(engine, text)
    return 0


if __name__ == "__main__":
    sys.exit(main())
