"""ca-dump equivalent CLI: export engine tables.

Usage (mirrors ca-dump, ca-dump.cc:220-404)::

    python -m cantera_table_spark.cli_dump --format raw \\
        --postings /data/postings.parquet [--prefix kw] [--key-filter re]
    python -m cantera_table_spark.cli_dump --format index \\
        --postings ... --summaries ...
    python -m cantera_table_spark.cli_dump --format time-series \\
        --timeseries /data/ts.parquet --time-format 'yyyy-MM-dd HH:mm'
    python -m cantera_table_spark.cli_dump --format counts --postings ...
"""

from __future__ import annotations

import argparse
import sys

from pyspark.sql import functions as F

from cantera_table_spark.model import Catalog
from cantera_table_spark.session import get_spark
from cantera_table_spark.sources import dump


def main() -> int:
    ap = argparse.ArgumentParser(prog="cantera-table-spark dump")
    ap.add_argument("--format", default="raw",
                    choices=["raw", "index", "summaries", "time-series",
                             "counts"])
    ap.add_argument("--postings", default=None)
    ap.add_argument("--summaries", default=None)
    ap.add_argument("--timeseries", default=None)
    ap.add_argument("--prefix", default=None)
    ap.add_argument("--key-filter", default=None)
    ap.add_argument("--time-format", default="yyyy-MM-dd HH:mm:ss")
    ap.add_argument("--output", default=None,
                    help="write CSV here instead of stdout")
    args = ap.parse_args()

    # loud misconfiguration before a Spark session spins up: each
    # format's required source flags, checked here so the error is an
    # argparse usage line instead of a py4j traceback (time-series) or
    # a mid-run Catalog ValueError (the others)
    required = {"raw": ["postings"], "index": ["postings", "summaries"],
                "summaries": ["summaries"], "counts": ["postings"],
                "time-series": ["timeseries"]}
    missing = [f"--{o}" for o in required[args.format]
               if not getattr(args, o.replace("-", "_"))]
    if missing:
        ap.error(f"--format {args.format} requires {' '.join(missing)}")

    spark = get_spark("cantera-dump")
    spark.sparkContext.setLogLevel("ERROR")
    cat = Catalog(
        summaries=[spark.read.parquet(args.summaries)]
        if args.summaries else [],
        indexes=[spark.read.parquet(args.postings)]
        if args.postings else [])

    if args.format == "raw":
        df = dump.dump_postings(cat, key_filter=args.key_filter,
                                prefix=args.prefix)
    elif args.format == "index":
        df = dump.dump_index_with_summaries(cat,
                                            key_filter=args.key_filter)
    elif args.format == "summaries":
        df = dump.dump_summaries(cat)
    elif args.format == "counts":
        df = dump.dump_counts(cat)
    else:
        ts = spark.read.parquet(args.timeseries)
        df = dump.dump_timeseries(ts, time_format=args.time_format)

    # TSV-escape string columns so dump -> load round-trips (reference
    # escapes every field on export, format.cc:247-268)
    from cantera_table_spark.sources.ingest import escape_tsv
    for f_ in df.schema.fields:
        if f_.dataType.simpleString() == "string":
            df = df.withColumn(f_.name, escape_tsv(F.col(f_.name)))

    if args.output:
        df.write.mode("overwrite").option("sep", "\t").csv(args.output)
        print(f"wrote {args.output}")
    else:
        for row in df.toLocalIterator():
            print("\t".join("" if v is None else str(v) for v in row),
                  file=sys.stdout)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
