"""Inputs and expected outputs, made in a child process of their own.

    python3 perfbench/oracle.py <workload> <seed> <sf> <traced 0|1> \
        <input dir> <out.pickle>

``make_inputs`` generates the run's input files from the seed;
``expected_outputs`` then computes every expected output with DuckDB
straight from the generated ``documents.parquet`` — never from the
tables the engine wrote.  It runs in a short-lived process so that
neither the generator's rows nor DuckDB count toward the peak memory of
the measured process tree.

The index, class and pair derivations reuse the DuckDB oracle SQL the
correctness gates already pin (``gate.ORACLE_POSTINGS`` and the
``corr01`` and ``dd07`` oracles); only the statement
shapes the gates do not cover are written out here.
"""

from __future__ import annotations

import json
import math
import os
import pickle
import sys

import data
from data import THRESHOLDS, MineOp, ServeOp, doc_key


class Oracle:
    def __init__(self, sf_dir: str, threads: int):
        import duckdb

        from cantera_table_spark import gate
        self.gate = gate
        self.con = duckdb.connect()
        self.con.execute(f"SET threads TO {threads}")
        self.con.execute(
            f"CREATE VIEW documents AS SELECT * FROM "
            f"'{sf_dir}/documents.parquet'")
        self.con.execute("CREATE TABLE idx AS " + gate.ORACLE_POSTINGS +
                         " SELECT * FROM idx")
        self.docs = {r[0]: r[1:] for r in self.con.execute(
            "SELECT doc_id, lang, source, n_chars FROM documents")
            .fetchall()}

    def close(self) -> None:
        self.con.close()

    # -- serve -------------------------------------------------------
    _RESULT_SQL = {
        "and": "SELECT doc_id, score FROM idx WHERE keyword = $a AND "
               "doc_id IN (SELECT doc_id FROM idx WHERE keyword = $b)",
        "label_and": "SELECT doc_id, score FROM idx WHERE keyword = $a AND "
                     "doc_id IN (SELECT doc_id FROM idx WHERE keyword = $b)",
        "keys_for": "SELECT doc_id, score FROM idx WHERE keyword = $a AND "
                    "doc_id IN (SELECT doc_id FROM idx WHERE keyword = $b)",
        "subtract": "SELECT doc_id, score FROM idx WHERE keyword = $a AND "
                    "doc_id NOT IN (SELECT doc_id FROM idx "
                    "WHERE keyword = $b)",
        "or": "SELECT coalesce(a.doc_id, b.doc_id) AS doc_id, "
              "coalesce(b.score, a.score) AS score "
              "FROM (SELECT * FROM idx WHERE keyword = $a) a "
              "FULL OUTER JOIN (SELECT * FROM idx WHERE keyword = $b) b "
              "ON a.doc_id = b.doc_id",
        "theta": "SELECT a.doc_id, a.score "
                 "FROM (SELECT * FROM idx WHERE keyword = $a) a "
                 "JOIN (SELECT * FROM idx WHERE keyword = $b) b "
                 "ON a.doc_id = b.doc_id WHERE a.score > b.score",
        "page": "SELECT a.doc_id, coalesce(l.score, '-inf'::DOUBLE) AS score "
                "FROM (SELECT * FROM idx WHERE keyword = $a) a "
                "LEFT JOIN (SELECT * FROM idx WHERE keyword = 'len:chars') l "
                "ON a.doc_id = l.doc_id",
        "thresholds": "SELECT l.doc_id, l.score "
                      "FROM (SELECT DISTINCT doc_id FROM idx "
                      "WHERE keyword = $a) r "
                      "JOIN (SELECT * FROM idx WHERE keyword = 'len:chars') l "
                      "ON l.doc_id = r.doc_id "
                      f"WHERE l.score >= {min(THRESHOLDS)} "
                      f"AND l.score < {max(THRESHOLDS)}",
    }

    def envelope(self, op: ServeOp):
        """The QUERY result ``Engine.execute`` must return for ``op``:
        the ``result-count``/``result`` envelope, the bare ``[]`` of an
        offset past the end, or the key list of ``KEYS FOR``."""
        sql = self._RESULT_SQL[op.template]
        params = {"a": op.a}
        if "$b" in sql:
            params["b"] = op.b
        rows = self.con.execute(
            f"SELECT doc_id, score FROM ({sql}) ORDER BY score DESC, doc_id",
            params).fetchall()
        page = rows[op.offset:op.offset + op.limit]
        if op.template == "keys_for":
            return [doc_key(d) for d, _ in page] if page else []
        if op.offset >= len(rows):
            return []
        result = []
        for doc_id, score in page:
            lang, source, n_chars = self.docs[doc_id]
            obj = {"_key": doc_key(doc_id), "lang": lang, "source": source,
                   "n_chars": n_chars}
            if op.template == "thresholds":
                i = 1
                while i + 1 < len(THRESHOLDS) and score >= THRESHOLDS[i]:
                    i += 1
                obj["_header"] = f"{THRESHOLDS[i - 1]}–{THRESHOLDS[i]}"
                obj["_header_key"] = "AAAA" + "ABCDEFGH"[i]
            result.append(obj)
        return {"result-count": len(rows), "result": result}

    # -- mine --------------------------------------------------------
    def _rows(self, sql: str) -> list[tuple]:
        return canonical(self.con.execute(sql).fetchall())

    def mine(self, op: MineOp) -> list[tuple]:
        if op.kind == "correlate":
            sql = self.gate.oracle_sql()["corr01_feature_mining"]
            for fixed, pred in zip(("lang = 'en'", "lang = 'es'"), op.args):
                if sql.count(f"WHERE {fixed}") != 1:
                    raise RuntimeError(
                        "corr01 oracle no longer has the class shape "
                        f"WHERE {fixed}")
                sql = sql.replace(f"WHERE {fixed}", f"WHERE {pred}")
            return self._rows(sql)
        w0, lang, w1, w2 = op.args
        return self._rows(f"""
            SELECT sel.doc_id, d.key,
                   coalesce(f.score, 'NaN'::DOUBLE) AS f0,
                   CASE WHEN d.lang = '{lang}' THEN 1.0
                        ELSE 'NaN'::DOUBLE END AS f1,
                   d.n_chars::DOUBLE AS f2
            FROM (SELECT DISTINCT doc_id FROM idx
                  WHERE keyword IN ('{w1}', '{w2}')) sel
            JOIN (SELECT doc_id, lang, n_chars, 'doc' ||
                    (CASE WHEN length(doc_id::VARCHAR) > 6
                     THEN doc_id::VARCHAR
                     ELSE lpad(doc_id::VARCHAR, 6, '0') END)
                    || '.example.com' AS key FROM documents) d
              ON d.doc_id = sel.doc_id
            LEFT JOIN (SELECT doc_id, score FROM idx
                       WHERE keyword = '{w0}') f ON f.doc_id = sel.doc_id
            ORDER BY sel.doc_id""")

    def lsh_jaccard(self) -> list[tuple]:
        """dd07's (doc_a, doc_b, jaccard) pairs."""
        return self._rows(self.gate.oracle_sql()["dd07_lsh_jaccard"])

    # -- load --------------------------------------------------------
    def index_checksum(self) -> tuple:
        """(rows, keywords, sum(score), sum(doc_id)) of the derived
        index, label postings included."""
        return tuple(self.con.execute(
            "SELECT count(*), count(DISTINCT keyword), sum(score), "
            "sum(doc_id) FROM idx").fetchone())

    def summary_checksum(self) -> tuple:
        """(rows, sum(doc_id), sum(length(doc))) of the summary table
        ``model.derive_documents`` writes."""
        return tuple(self.con.execute(
            "SELECT count(*), sum(doc_id), sum(length('{\"lang\":\"' || "
            "lang || '\",\"source\":\"' || source || '\",\"n_chars\":' || "
            "n_chars || '}')) FROM documents").fetchone())


def make_inputs(workload: str, seed: int, sf: float, sf_dir: str) -> dict:
    """Write the inputs under ``sf_dir``; return what the set-up needs
    of them: the input size, the TSV paths and the TSV merge checksum."""
    rows = data.documents(seed, sf)
    out = {"input_bytes": data.write_documents(rows, sf_dir),
           "tsv_paths": [], "tsv_checksum": None}
    if workload == "serve":
        sums: dict = {}
        for i in range(2):
            path = os.path.join(sf_dir, f"tags{i}.tsv")
            out["tsv_paths"].append(path)
            for tag, doc_id, score in data.postings_tsv(seed, i, rows, path):
                sums[(tag, doc_id)] = sums.get((tag, doc_id), 0.0) + score
        out["tsv_checksum"] = (len(sums), sum(sums.values()))
    return out


def expected_outputs(workload: str, seed: int, sf_dir: str,
                     traced: bool) -> dict:
    """Every expected output: the read-back checksums and the op
    outputs, in the order of ``data.*_statements(seed)``.  The ops only
    a traced ``mine`` run times (SELECT, near-duplicate pairs) get
    ``None`` in an untraced one."""
    # half the CPUs: the JVM is starting alongside
    oracle = Oracle(sf_dir, max(1, len(os.sched_getaffinity(0)) // 2))
    out = {"index_checksum": oracle.index_checksum(),
           "summary_checksum": oracle.summary_checksum()}
    if workload == "serve":
        out["ops"] = [oracle.envelope(op)
                      for op in data.serve_statements(seed)]
    else:
        out["ops"] = [oracle.mine(op) if traced or op.kind == "correlate"
                      else None for op in data.mine_statements(seed)]
        out["lsh_jaccard"] = oracle.lsh_jaccard() if traced else None
    oracle.close()
    return out


def canonical(rows) -> list[tuple]:
    """Order-insensitive, float-stable form of a result: floats rounded
    to 6 places (NaN kept comparable), rows sorted."""
    def norm(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else round(v, 6)
        return v
    return sorted((tuple(norm(v) for v in r) for r in rows), key=repr)


def same_json(got, want) -> bool:
    return json.dumps(got, sort_keys=True) == json.dumps(want,
                                                         sort_keys=True)


if __name__ == "__main__":
    sys.path.insert(0, os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    workload, seed, sf, traced, sf_dir, dest = sys.argv[1:]
    # the inputs first, announced as one JSON line on stdout, so that
    # the first set-up can start while the expected outputs are made
    print(json.dumps(make_inputs(workload, int(seed), float(sf), sf_dir)),
          flush=True)
    result = expected_outputs(workload, int(seed), sf_dir, traced == "1")
    with open(dest, "wb") as f:
        pickle.dump(result, f)
