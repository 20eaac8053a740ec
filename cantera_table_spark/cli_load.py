"""ca-load equivalent CLI: build engine tables from TSV/parquet inputs.

Usage (mirrors the reference's ca-load options, ca-load.cc:593-704)::

    python -m cantera_table_spark.cli_load \\
        --output-type=time-series --output /data/ts.parquet \\
        --date-format 'yyyy-MM-dd HH:mm:ss' --threshold 0.5 \\
        --merge-mode sum input1.tsv input2.tsv

    python -m cantera_table_spark.cli_load \\
        --output-type=index --output /data/postings.parquet \\
        --summaries /data/documents.parquet \\
        --add-key-prefix 'cat:' input.tsv
"""

from __future__ import annotations

import argparse

from cantera_table_spark.session import CacheScope, get_spark
from cantera_table_spark.sources.ingest import (
    merge_tables, read_tsv_postings, read_tsv_summaries,
    read_tsv_timeseries, write_postings,
)


def main() -> int:
    ap = argparse.ArgumentParser(prog="cantera-table-spark load")
    ap.add_argument("inputs", nargs="+")
    ap.add_argument("--output", required=True)
    ap.add_argument("--output-type", default="time-series",
                    choices=["summaries", "index", "time-series"])
    ap.add_argument("--summaries", default=None,
                    help="documents parquet for doc-name resolution "
                         "(index output type)")
    ap.add_argument("--date-format", default="yyyy-MM-dd HH:mm:ss")
    ap.add_argument("--threshold", type=float, default=None)
    ap.add_argument("--key-filter", default=None)
    ap.add_argument("--strip-key-prefix", default=None)
    ap.add_argument("--add-key-prefix", default=None)
    ap.add_argument("--shard-count", type=int, default=None)
    ap.add_argument("--shard-index", type=int, default=None)
    ap.add_argument("--merge-mode", default="union",
                    choices=["sum", "union", "pick-one"])
    ap.add_argument("--no-score", action="store_true",
                    help="index inputs are 2-column KEY<TAB>DOCNAME "
                         "(score synthesized as 0.0). Default expects "
                         "the reference's 3-column format with a score "
                         "(ca-load.cc:327-350 errors on a missing one; "
                         "the 2-column schema previously used here "
                         "silently dropped the third column, loading "
                         "every score as 0.0)")
    ap.add_argument("--buckets", type=int, default=32)
    ap.add_argument("--bloom-filter", action="store_true",
                    help="write a parquet bloom filter on keyword "
                         "(third pruning tier for point lookups at "
                         "large key cardinality)")
    args = ap.parse_args()

    spark = get_spark("cantera-load")
    spark.sparkContext.setLogLevel("ERROR")
    key_options = dict(
        key_filter=args.key_filter,
        strip_key_prefix=args.strip_key_prefix,
        add_key_prefix=args.add_key_prefix,
        shard_count=args.shard_count, shard_index=args.shard_index)

    if args.output_type == "summaries":
        # one read over all inputs: doc_id ranking must span the whole
        # key set (per-file ranking would collide ids across files)
        out = read_tsv_summaries(spark, args.inputs, **key_options)
        out.write.mode("overwrite").parquet(args.output)
    elif args.output_type == "index":
        if not args.summaries:
            ap.error("--output-type=index requires --summaries")
        docs = spark.read.parquet(args.summaries)
        dfs = [read_tsv_postings(spark, p, docs,
                                 score_col=not args.no_score,
                                 threshold=args.threshold,
                                 **key_options) for p in args.inputs]
        # merge even for a single input: in-file duplicates must resolve
        # so the unique-postings promise the engine relies on holds
        with CacheScope() as caches:
            merged = merge_tables(dfs, args.merge_mode,
                                  key_cols=("keyword", "doc_id"),
                                  value_col="score", caches=caches)
            write_postings(merged, args.output, n_buckets=args.buckets,
                           bloom_filter=args.bloom_filter)
    else:
        dfs = [read_tsv_timeseries(spark, p, date_format=args.date_format,
                                   threshold=args.threshold, **key_options)
               for p in args.inputs]
        with CacheScope() as caches:
            merged = merge_tables(dfs, args.merge_mode, caches=caches)
            (merged.repartition(args.buckets, "key")
             .sortWithinPartitions("key", "ts")
             .write.mode("overwrite").parquet(args.output))
    print(f"wrote {args.output}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
