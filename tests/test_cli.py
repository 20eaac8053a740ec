"""End-to-end tests for the two CLI entry points (cli_load /
cli_dump) — previously the only untested package surface.  Exercises
the real argv paths: TSV -> parquet loads (summaries, index,
time-series), dump round trips (stdout and CSV), score-column parity
with the reference's 3-column index format (ca-load.cc:327-350), and
the loud arg-validation errors.
"""

import sys
from unittest import mock

import pytest

from cantera_table_spark import cli_dump, cli_load


def _write(p, text):
    with open(p, "w") as f:
        f.write(text)


def _run(main, argv):
    """Run a CLI main() as the command line ``prog *argv`` would."""
    with mock.patch.object(sys, "argv", ["prog", *argv]):
        return main()


@pytest.mark.slow
def test_cli_index_roundtrip_keeps_scores(spark, tmp_path):
    docs_tsv = tmp_path / "docs.tsv"
    # a doc name with TSV escapes (literal tab via \t, backslash via \\)
    _write(docs_tsv, 'doc\\ta\t{"title": "A"}\n'
                     'doc\\\\b\t{"title": "B"}\n'
                     'docc\t{"title": "C"}\n')
    sums = tmp_path / "sums.parquet"
    assert _run(cli_load.main, ["--output-type=summaries",
                                "--output", str(sums), str(docs_tsv)]) == 0
    keys = {r.key for r in spark.read.parquet(str(sums)).collect()}
    assert keys == {"doc\ta", "doc\\b", "docc"}

    post_tsv = tmp_path / "post.tsv"
    _write(post_tsv, "kw1\tdoc\\ta\t0.5\n"
                     "kw1\tdoc\\\\b\t1.5\n"
                     "kw2\tdocc\t2.25\n")
    idx = tmp_path / "idx.parquet"
    assert _run(cli_load.main, ["--output-type=index",
                                "--output", str(idx),
                                "--summaries", str(sums),
                                "--buckets", "2",
                                str(post_tsv)]) == 0
    got = spark.read.parquet(str(idx))
    # the scores survive the load: the previous 2-column schema
    # silently dropped the third column and loaded every score as 0.0
    assert sorted((r.keyword, r.score) for r in got.collect()) == [
        ("kw1", 0.5), ("kw1", 1.5), ("kw2", 2.25)]

    out = tmp_path / "dump"
    assert _run(cli_dump.main, ["--format", "raw",
                                "--postings", str(idx),
                                "--output", str(out)]) == 0
    dumped = spark.read.option("sep", "\t") \
        .schema("keyword string, doc_id long, score double") \
        .csv(str(out))
    assert dumped.count() == 3
    assert sorted(r.score for r in dumped.collect()) == [0.5, 1.5, 2.25]


@pytest.mark.slow
def test_cli_load_index_no_score_flag(spark, tmp_path):
    docs_tsv = tmp_path / "docs.tsv"
    _write(docs_tsv, 'd1\t{}\nd2\t{}\n')
    sums = tmp_path / "sums.parquet"
    _run(cli_load.main, ["--output-type=summaries",
                         "--output", str(sums), str(docs_tsv)])
    post_tsv = tmp_path / "post2.tsv"
    _write(post_tsv, "kw\td1\nkw\td2\n")
    idx = tmp_path / "idx2.parquet"
    assert _run(cli_load.main, ["--output-type=index", "--no-score",
                                "--output", str(idx),
                                "--summaries", str(sums),
                                str(post_tsv)]) == 0
    got = spark.read.parquet(str(idx))
    assert [r.score for r in got.collect()] == [0.0, 0.0]
    # threshold composes loudly with --no-score (the synthesized 0.0
    # would silently empty or no-op the load)
    with pytest.raises(ValueError, match="score_col"):
        _run(cli_load.main, ["--output-type=index", "--no-score",
                             "--threshold", "0.5",
                             "--output", str(idx),
                             "--summaries", str(sums), str(post_tsv)])


def test_cli_timeseries_roundtrip_stdout(spark, tmp_path, capsys):
    ts_tsv = tmp_path / "ts.tsv"
    _write(ts_tsv, "cpu\t2024-01-01 00:00:00\t1.25\n"
                   "cpu\t2024-01-02 00:00:00\t2.5\n"
                   "mem\t2024-01-01 12:00:00\t0.75\n")
    out = tmp_path / "ts.parquet"
    assert _run(cli_load.main, ["--output-type=time-series",
                                "--output", str(out), "--buckets", "2",
                                str(ts_tsv)]) == 0
    assert spark.read.parquet(str(out)).count() == 3
    capsys.readouterr()          # drain the load's "wrote ..." line
    assert _run(cli_dump.main, ["--format", "time-series",
                                "--timeseries", str(out),
                                "--time-format", "yyyy-MM-dd"]) == 0
    lines = [ln for ln in capsys.readouterr().out.splitlines() if ln]
    assert sorted(lines) == ["cpu\t2024-01-01\t1.25",
                             "cpu\t2024-01-02\t2.5",
                             "mem\t2024-01-01\t0.75"]


def test_cli_dump_missing_source_is_loud(tmp_path):
    # each format's required source flags fail as an argparse usage
    # error
    # BEFORE a Spark job runs (previously --format time-series without
    # --timeseries surfaced as a py4j traceback from read.parquet(None))
    for argv in (["--format", "time-series"],
                 ["--format", "raw"],
                 ["--format", "index", "--postings", "x.parquet"],
                 ["--format", "summaries"],
                 ["--format", "counts"]):
        with pytest.raises(SystemExit) as ei:
            _run(cli_dump.main, argv)
        assert ei.value.code == 2
