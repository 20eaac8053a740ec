"""The workloads: what set-up builds, and the fixed op list one pass runs.

Every op calls the program's public API, returns its collected output
and the number of result rows, and is checked against the DuckDB oracle's
expected output outside the timed region.
"""

from __future__ import annotations

import functools
import glob
import os

from pyspark.sql import functions as F

import data
from oracle import canonical, same_json


class Op:
    def __init__(self, name: str, run, expected, check):
        self.name = name
        self.run = run              # () -> (output, result_rows)
        self.expected = expected    # computed once, in set-up
        self.check = check          # (output, expected) -> bool


def parquet_files(path: str) -> list[str]:
    return glob.glob(os.path.join(path, "**", "*.parquet"), recursive=True)


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(p) for p in parquet_files(path))


class CatalogWorkload:
    """Set-up shared by ``serve`` and ``mine``: the ca-load path builds
    the bucketed Parquet index and the summary table from the generated
    documents (as ``bench.py`` does) and opens a catalog over them.

    ``ctx.expected`` holds the inputs' description and, from the second
    set-up on, every expected output (``oracle.make_inputs``,
    ``oracle.expected_outputs``).
    A workload's ops come in three lists (``op_lists``): ``warm_up``
    runs once before timing, ``timed`` is the timed pass, and
    ``traced`` is the pass the traced run times."""

    def __init__(self, ctx):
        self.ctx = ctx
        self.spark = ctx.spark
        self.tr = ctx.tracer
        self.w = ctx.work
        self.want = ctx.expected
        self.build_stats: dict = {}

    def setup(self) -> None:
        """One set-up: build the index and the summary table, open the
        catalog and the engine over them.  Run several times; each run
        overwrites the tables."""
        from cantera_table_spark.model import (
            derive_documents, derive_label_postings, derive_postings)
        from cantera_table_spark.sources.ingest import write_postings
        spark, sf_dir, tr = self.spark, self.ctx.sf_dir, self.tr
        with tr.op("setup", "build_index"):
            with tr.span("sources.ingest.write_postings"):
                postings = derive_postings(spark, sf_dir).unionByName(
                    derive_label_postings(spark, sf_dir))
                write_postings(postings, f"{self.w}/postings",
                               n_buckets=self.ctx.cpus)
            with tr.span("model.derive_documents"):
                derive_documents(spark, sf_dir).write.mode(
                    "overwrite").parquet(f"{self.w}/documents")
        self.eng = self.engine()

    def outputs(self) -> list[str]:
        return [f"{self.w}/postings", f"{self.w}/documents"]

    def read_back(self) -> list[tuple[str, bool]]:
        """Check the tables the last set-up wrote against the oracle's
        checksums; returns ``(check, ok)`` pairs."""
        spark = self.spark
        idx = spark.read.parquet(f"{self.w}/postings").agg(
            F.count("*"), F.countDistinct("keyword"), F.sum("score"),
            F.sum("doc_id")).collect()[0]
        summary = spark.read.parquet(f"{self.w}/documents").agg(
            F.count("*"), F.sum("doc_id"),
            F.sum(F.length("doc"))).collect()[0]
        self.index_bytes = sum(dir_bytes(p)
                               for p in CatalogWorkload.outputs(self))
        self.build_stats = {
            "files_written": sum(len(parquet_files(p))
                                 for p in self.outputs()),
            "output_bytes": sum(dir_bytes(p) for p in self.outputs()),
        }
        return [("index read-back",
                 tuple(idx) == self.want["index_checksum"]),
                ("summary read-back",
                 tuple(summary) == self.want["summary_checksum"])]

    def engine(self):
        from cantera_table_spark.engine import Engine
        from cantera_table_spark.model import Catalog
        self.catalog = Catalog(
            summaries=[self.spark.read.parquet(f"{self.w}/documents")],
            indexes=[self.spark.read.parquet(f"{self.w}/postings")],
            postings_buckets=self.ctx.cpus)
        return Engine(self.catalog, unique_postings=True)

    def ops(self, traced: bool) -> list[Op]:
        return self.op_lists["traced" if traced else "timed"]

    def warm_up_ops(self, traced: bool) -> list[Op]:
        """The warm-up ops, then (traced) one run of each op only the
        traced pass has."""
        return self.op_lists["warm_up"] + [
            op for op in self.ops(traced) if op not in self.ops(False)]

    def latencies(self, blocks: list[list[dict]]) -> list[float]:
        """Op latencies (s) the percentiles are taken over: every timed
        op."""
        return [r["wall"] for b in blocks for r in b if r["ok"]]

    def index_bytes_per_input_byte(self) -> float:
        return self.index_bytes / self.want["input_bytes"]

    def pair_counts(self) -> tuple[int, int]:
        """(LSH candidate pairs, verified pairs); only ``mine`` has any."""
        return 0, 0

    def between_ops(self) -> None:
        pass

    def block(self) -> int:
        """Ops per timed block (timing stops on a block edge)."""
        return 1


class Serve(CatalogWorkload):
    """Warm ca-shell session: ``QUERY … LIMIT k`` statements parsed and
    executed one at a time with the default exact result count.  Its
    set-up also runs ca-load's TSV path: two postings files resolved
    against the summary table, combined with the ``sum`` merge mode
    and written as Parquet."""

    def setup(self) -> None:
        from cantera_table_spark.sources.ingest import (
            merge_tables, read_tsv_postings)
        super().setup()
        spark = self.spark
        with self.tr.op("setup", "tsv_load"):
            with self.tr.span("sources.ingest.tsv_load"):
                docs = spark.read.parquet(f"{self.w}/documents")
                parts = [read_tsv_postings(spark, p, docs, score_col=True)
                         for p in self.want["tsv_paths"]]
                merge_tables(parts, mode="sum",
                             key_cols=("keyword", "doc_id"),
                             value_col="score").write.mode(
                    "overwrite").parquet(f"{self.w}/tag_index")

    def outputs(self) -> list[str]:
        return super().outputs() + [f"{self.w}/tag_index"]

    def read_back(self) -> list[tuple[str, bool]]:
        got = self.spark.read.parquet(f"{self.w}/tag_index").agg(
            F.count("*"), F.sum("score")).collect()[0]
        return super().read_back() + [
            ("TSV merge read-back",
             tuple(got) == tuple(self.want["tsv_checksum"]))]

    @functools.cached_property
    def op_lists(self) -> dict[str, list[Op]]:
        """The first blocks of statements warm up; the other blocks,
        different statements of the same templates, are timed."""
        from cantera_table_spark.dsl.compiler import QueryCompiler
        from cantera_table_spark.dsl.parser import parse_script
        eng = self.eng
        tr = self.tr

        def make(text):
            def run():
                with tr.span("dsl.parser.parse_script"):
                    stmt = parse_script(text)[0]
                if tr.enabled:
                    with tr.span("dsl.compiler.process_query"):
                        df = QueryCompiler(
                            self.catalog, unique_postings=True
                        ).process_query(stmt.query, use_max=True)
                    with tr.span("catalyst.executed_plan"):
                        df._jdf.queryExecution().executedPlan()
                with tr.span("engine.execute"):
                    out = eng.execute(stmt)
                rows = out["result"] if isinstance(out, dict) else out
                return out, len(rows)
            return run

        ops = [Op(op.template, make(op.text), want, same_json)
               for op, want in zip(data.serve_statements(self.ctx.seed),
                                   self.want["ops"])]
        warm = data.SERVE_WARM_BLOCKS * self.block()
        return {"warm_up": ops[:warm], "timed": ops[warm:],
                "traced": ops[warm:]}

    def block(self) -> int:
        # every block runs each template once
        return len(data.SERVE_TEMPLATES)


class Mine(CatalogWorkload):
    """Corpus mining over the whole index: CORRELATE feature mining,
    and in the traced run also a SELECT feature matrix and
    near-duplicate pairs (MinHash/LSH candidates, then exact Jaccard
    verification)."""

    @functools.cached_property
    def op_lists(self) -> dict[str, list[Op]]:
        """The first CORRELATEs warm up and the others are timed.  The
        traced pass is one CORRELATE, the near-duplicate pairs and the
        SELECT matrix; only the traced run times the last two."""
        from cantera_table_spark.dsl.parser import parse_script
        from cantera_table_spark.functions import dedup
        from cantera_table_spark.model import load_table
        eng = self.eng
        tr, spark, sf_dir = self.tr, self.spark, self.ctx.sf_dir

        def statement(op):
            span = ("operators.correlate.stmt" if op.kind == "correlate"
                    else "engine.select")

            def run():
                with tr.span("dsl.parser.parse_script"):
                    stmt = parse_script(op.text)[0]
                with tr.span(span):
                    rows = eng.execute(stmt).collect()
                    eng.release_caches()
                return rows, len(rows)
            return run

        def docs():
            return load_table(spark, sf_dir, "documents")

        def lsh_jaccard():           # gate dd07
            with tr.span("functions.dedup.lsh_jaccard"):
                arrs = dedup.shingle_arrays(docs())
                cands = dedup.lsh_candidate_pairs_arrays(arrs, k=16,
                                                         bands=4)
                rows = dedup.jaccard_pairs(
                    dedup.exploded_shingles(arrs), min_jaccard=0.12,
                    candidates=cands).collect()
            self._pairs = (cands, len(rows))
            return rows, len(rows)

        def rows_equal(got, want):
            return canonical(got) == want

        *correlates, select = [
            Op(op.kind, statement(op), want, rows_equal)
            for op, want in zip(data.mine_statements(self.ctx.seed),
                                self.want["ops"])]
        warm, timed = (correlates[:data.MINE_WARM],
                       correlates[data.MINE_WARM:])
        pairs = Op("lsh_jaccard", lsh_jaccard, self.want["lsh_jaccard"],
                   rows_equal)
        return {"warm_up": warm, "timed": timed,
                "traced": [timed[0], pairs, select]}

    def pair_counts(self) -> tuple[int, int]:
        """(LSH candidate pairs, Jaccard-verified pairs) of the last
        ``lsh_jaccard`` op; the candidates are counted outside any op
        (one extra job)."""
        cands, verified = self._pairs
        return cands.count(), verified

    def between_ops(self) -> None:
        # batch hygiene outside the timed region, as bench.py does
        # between phases: drop every cached block and let the JVM's
        # ContextCleaner reclaim the finished op's shuffle/broadcast state
        self.spark.catalog.clearCache()
        self.spark.sparkContext._jvm.System.gc()


WORKLOADS = {"serve": Serve, "mine": Mine}

