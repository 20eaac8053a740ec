"""CLI formatting tests (S17, ca-shell.cc/output.cc surface): the
statement runner's stdout shapes, driven through run_script."""

import contextlib
import io
import json

import pytest

from cantera_table_spark.dsl.parser import ParseError
from cantera_table_spark.engine import Engine
from cantera_table_spark.model import Catalog
from cantera_table_spark.shell import run_script


@pytest.fixture()
def catalog(spark):
    postings = spark.createDataFrame(
        [("alpha", 0, 2.0), ("alpha", 1, 1.0), ("alpha", 2, 5.0),
         ("beta", 1, 4.0), ("beta", 2, 1.0)],
        "keyword string, doc_id long, score double")
    docs = spark.createDataFrame(
        [(0, "d0", '{"title":"zero"}'), (1, "d1", '{"title":"one"}'),
         (2, "d2", '{"title":"two"}')],
        "doc_id long, key string, doc string")
    return Catalog(summaries=[docs], indexes=[postings])


def lines_of(engine, script):
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        run_script(engine, script)
    return buf.getvalue().splitlines()


def test_query_envelope_and_keys_lines(spark, catalog):
    eng = Engine(catalog, unique_postings=True)
    out = lines_of(eng, "QUERY (alpha) LIMIT 2; "
                        "QUERY KEYS FOR (alpha) LIMIT 2;")
    env = json.loads(out[0])
    assert env["result-count"] == 3
    assert [r["_key"] for r in env["result"]] == ["d2", "d0"]
    # KEYS FOR prints bare keys, one per line (query.cc:908-918)
    assert out[1:] == ["d2", "d0"]


def test_select_csv_and_json_formats(spark, catalog):
    eng = Engine(catalog, unique_postings=True)
    out = lines_of(eng, "SELECT alpha, beta FROM (alpha);")
    # CSV: key, then %.9g floats with nan for missing (select.cc:117-153)
    assert out[0] == "d0,2,nan"
    assert out[1] == "d1,1,4"
    out = lines_of(eng, "SET OUTPUT FORMAT JSON; "
                        "SELECT alpha, beta FROM (alpha);")
    rows = [json.loads(line) for line in out]
    assert rows[0] == {"key": "d0", "f0": 2.0, "f1": None}


def test_parse_and_set_count_mode_lines(spark, catalog):
    eng = Engine(catalog, unique_postings=True)
    out = lines_of(eng, "PARSE alpha OR beta; "
                        "SET OUTPUT FORMAT JSON; "
                        "QUERY (alpha) LIMIT 1;")
    assert out[0] == "(alpha OR beta)"
    # SET emits nothing, and no SET switches the result-count off
    env = json.loads(out[1])
    assert env["result-count"] == 3 and len(env["result"]) == 1
    with pytest.raises(ParseError):
        lines_of(eng, "SET COUNT MODE NONE;")


def test_correlate_tsv_shape(spark, catalog):
    eng = Engine(catalog, unique_postings=True)
    out = lines_of(eng, "CORRELATE QUERY (alpha), (beta);")
    for line in out:
        parts = line.split("\t")
        assert len(parts) == 4
        float(parts[0])            # log_odds
        int(parts[1]); int(parts[2])


def test_r11_shell_review_pins(spark, catalog):
    """r11 operators/shell review findings, pinned: (a) QUERY
    envelopes print COMPACT json (query.cc:933 emits no spaces);
    (b) CORRELATE range bounds on TIMESTAMPED keywords render as
    dates via DayToDate '%Y-%m-%d %H:%M' (correlate.cc:53-62,152-165)
    or as 'N days ago' under event prediction, and plain keywords use
    the lossless FloatToString (X7) instead of %g."""
    from cantera_table_spark.model import Catalog as Cat
    from cantera_table_spark.shell import format_correlate_rows

    eng = Engine(catalog, unique_postings=True)
    out = lines_of(eng, "QUERY (alpha) LIMIT 1;")
    assert '": ' not in out[0] and '", ' not in out[0]
    assert out[0].startswith('{"result-count":3,"result":[{')

    rows_df = spark.createDataFrame(
        [(0.693, 5, 1, "ts:event", 19845.25, None),
         (0.693, 5, 1, "ts:event", None, 12.5),
         (-0.405, 1, 4, "plain", 0.25, 4.0)],
        "log_odds double, match_count_a long, match_count_b long, "
        "keyword string, min_score double, max_score double")
    cat = Cat(summaries=[], indexes=[],
              keyword_meta=[("ts:", "timestamped")])
    got = set(format_correlate_rows(rows_df, cat, do_timestamps=False))
    # 19845.25 days = 2024-05-02 06:00 UTC
    assert "0.693\t5\t1\tts:event≥2024-05-02 06:00" in got
    assert "-0.405\t1\t4\tplain[0.25,4]" in got
    got_ts = set(format_correlate_rows(rows_df, cat, do_timestamps=True))
    assert "0.693\t5\t1\tts:event≤12.5 days ago" in got_ts
    # catalog-less callers keep the plain numeric rendering
    got_plain = set(format_correlate_rows(rows_df))
    assert "0.693\t5\t1\tts:event≥19845.25" in got_plain
