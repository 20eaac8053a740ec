"""Seeded input generators: the documents table, a ca-load TSV file and
the workloads' statement lists.

The documents table has the shape of the ``documents.parquet`` of the
sf testdata (TESTDATA.md): ``sf`` scales the row count (sf0.1 = 5,000
documents, ~1.5 MB of text), every text draws 10-99 words uniformly from
a 30-word vocabulary, 5% of documents are near-duplicates (an earlier
original's text plus ``" dup"``) and a few are exact copies.  The same
seed always gives the same bytes.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window").split()
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (0.41, 0.14, 0.15, 0.15, 0.15)
N_SOURCES = 20


def n_docs(sf: float) -> int:
    return max(50, int(round(50_000 * sf)))


def documents(seed: int, sf: float) -> list[tuple]:
    """Rows ``(doc_id, text, lang, source, n_chars)``."""
    rng = random.Random(f"docs:{seed}")
    n = n_docs(sf)
    rows, originals = [], []
    for doc_id in range(n):
        # copies are made of originals only, so every duplicate cluster
        # is a star and clustering takes the same work on every seed
        if doc_id > 20 and rng.random() < 0.05:
            text = rng.choice(originals) + " dup"
        elif doc_id > 20 and rng.random() < 0.002:
            text = rng.choice(originals)
        else:
            text = " ".join(rng.choice(WORDS)
                            for _ in range(rng.randint(10, 99)))
            originals.append(text)
        lang = rng.choices(LANGS, LANG_WEIGHTS)[0]
        rows.append((doc_id, text, lang, f"src{doc_id % N_SOURCES}",
                     len(text)))
    return rows


def write_documents(rows: list[tuple], path: str) -> int:
    """Write ``rows`` as ``documents.parquet`` under ``path``; returns
    the input size in bytes (the UTF-8 text)."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(path, exist_ok=True)
    cols = list(zip(*rows))
    table = pa.table({
        "doc_id": pa.array(cols[0], pa.int64()),
        "text": pa.array(cols[1], pa.string()),
        "lang": pa.array(cols[2], pa.string()),
        "source": pa.array(cols[3], pa.string()),
        "n_chars": pa.array(cols[4], pa.int64()),
    })
    pq.write_table(table, os.path.join(path, "documents.parquet"))
    return sum(len(t.encode()) for t in cols[1])


def doc_key(doc_id: int) -> str:
    """The summary key ``model.derive_documents`` assigns."""
    s = str(doc_id)
    return f"doc{s if len(s) > 6 else s.zfill(6)}.example.com"


def postings_tsv(seed: int, part: int, rows: list[tuple],
                 path: str) -> list[tuple]:
    """Part ``part`` of a ca-load ``KEY<TAB>DOCNAME<TAB>SCORE`` input:
    ``tag:<n>`` postings over the documents, with repeats inside and
    across parts so the merge has collisions.  Returns the rows
    written, as ``(tag, doc_id, score)``."""
    rng = random.Random(f"tsv:{seed}:{part}")
    out = []
    for doc_id, *_ in rows:
        for _ in range(rng.randint(0, 3)):
            out.append((f"tag:{rng.randrange(40)}", doc_id,
                        float(rng.randint(1, 9))))
    with open(path, "w") as f:
        for tag, doc_id, score in out:
            f.write(f"{tag}\t{doc_key(doc_id)}\t{score:g}\n")
    return out


def quote(word: str) -> str:
    """DSL identifier for a keyword: vocabulary words such as ``order``,
    ``key`` and ``query`` are reserved, so every word is quoted."""
    return f'"{word}"'


SERVE_TEMPLATES = ("and", "or", "subtract", "theta", "page",
                   "thresholds", "keys_for", "label_and")
THRESHOLDS = (100, 300, 500)


@dataclass(frozen=True)
class ServeOp:
    """One QUERY statement of the serving mix; the fields besides
    ``text`` let the oracle rebuild its result set independently."""
    template: str
    a: str
    b: str          # second keyword (a ``lang:`` label for label_and)
    limit: int
    offset: int
    text: str


def _serve_text(t: str, a: str, b: str, limit: int, offset: int) -> str:
    qa, qb = quote(a), quote(b)
    page = f"LIMIT {limit}" + (f" OFFSET {offset}" if offset else "")
    body = {
        "and": f"({qa} AND {qb})",
        "or": f"({qa} OR {qb})",
        "subtract": f"({qa} - {qb})",
        "theta": f"({qa} > {qb})",
        "page": f"({qa} ORDER BY len:chars)",
        "thresholds": f"({qa}) THRESHOLDS "
                      + ",".join(map(str, THRESHOLDS))
                      + " FOR KEY 'len:chars'",
        "keys_for": f"KEYS FOR ({qa} AND {qb})",
        "label_and": f"({qa} AND {b})",
    }[t]
    return f"QUERY {body} {page};"


# blocks of the serving mix a run uses: the first SERVE_WARM_BLOCKS
# warm up, the rest are the timed pass
SERVE_BLOCKS = 3
SERVE_WARM_BLOCKS = 1


def serve_statements(seed: int,
                     per_template: int = SERVE_BLOCKS) -> list[ServeOp]:
    """The serving mix: ``per_template`` statements of each template,
    keywords drawn from the vocabulary (labels from the four equally
    sized non-``en`` languages), interleaved so that every block of
    ``len(SERVE_TEMPLATES)`` ops runs each template once in a seeded
    order."""
    rng = random.Random(f"serve:{seed}")
    words = WORDS[1:]          # "a" is too short to read as a term
    by_t = {}
    for t in SERVE_TEMPLATES:
        by_t[t] = []
        for _ in range(per_template):
            a, b = rng.sample(words, 2)
            if t == "label_and":
                b = f"lang:{rng.choice(LANGS[1:])}"
            limit = rng.choice((5, 10, 20))
            offset = rng.choice((0, 10, 50)) if t == "page" else 0
            by_t[t].append(ServeOp(t, a, b, limit, offset,
                                   _serve_text(t, a, b, limit, offset)))
    ops = []
    for i in range(per_template):
        order = list(SERVE_TEMPLATES)
        rng.shuffle(order)
        ops.extend(by_t[t][i] for t in order)
    return ops


@dataclass(frozen=True)
class MineOp:
    """One statement of the mining mix.  For ``correlate``, ``args`` are
    the SQL predicates over ``documents`` that define classes A and B;
    for ``select``, the field keyword, the field language and the two
    selecting keywords."""
    kind: str
    text: str
    args: tuple


# CORRELATE statements of a mine run: the first MINE_WARM warm up, the
# rest are the timed pass
MINE_CORRELATES = 3
MINE_WARM = 1


def mine_statements(seed: int) -> list[MineOp]:
    """``MINE_CORRELATES`` different CORRELATE statements between two
    label classes (a language, or-ed with a source, against another
    language), then one SELECT feature matrix, drawn from the seed.  The languages exclude ``en`` and the words are equally
    frequent, so every seed does about the same amount of work."""
    rng = random.Random(f"mine:{seed}")
    ops = []
    while len(ops) < MINE_CORRELATES:
        l0, l1 = rng.sample(LANGS[1:], 2)
        src = f"src{rng.randrange(N_SOURCES)}"
        op = MineOp("correlate",
                    f"CORRELATE QUERY (lang:{l0} OR src:{src}), "
                    f"(lang:{l1});",
                    (f"(lang = '{l0}' OR source = '{src}')",
                     f"lang = '{l1}'"))
        if op not in ops:
            ops.append(op)
    lang = rng.choice(LANGS[1:])
    w0, w1, w2 = rng.sample(WORDS[1:], 3)
    ops.append(MineOp("select",
                      f"SELECT {quote(w0)}, lang:{lang}, len:chars FROM "
                      f"({quote(w1)} OR {quote(w2)});",
                      (w0, lang, w1, w2)))
    return ops
