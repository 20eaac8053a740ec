"""One-time ANSI plain-``.cast(`` audit, pinned (r11 verdict item 2).

Under Spark 4's default ANSI mode, a plain ``cast`` from a string to a
numeric/timestamp type THROWS at execution on unparseable input instead
of yielding NULL — so any plain ``.cast(`` applied to a user-supplied
string column is a poison pill: one bad row crashes the whole job
(the ml.py:58 / streaming-ingest class, both now ``try_cast``).

Every file below was audited line-by-line (round 12); each entry's
comment records why its plain casts are ANSI-safe.  The test fails when
a NEW file starts using plain ``.cast(`` — forcing a conscious audit of
the new site (use ``try_cast``/``try_to_timestamp`` for anything that
can carry user strings, then extend the allowlist with a justification).

It deliberately keys on files, not line numbers or counts: the goal is
to catch new *surfaces*, not to break on refactors inside audited files
(an audited file growing a new unsafe cast is the residual risk; the
per-file justifications below say which value classes each file casts,
so review diffs against them).
"""
from __future__ import annotations

import re
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "cantera_table_spark"

# file (relative to the package) -> why its plain .cast( calls are
# ANSI-safe.  Audited 2026-08-16 against the grep below.
AUDITED = {
    # numeric score -> float -> double round-trip (f32 leaf quantization)
    "dsl/compiler.py": "numeric->numeric only",
    # md5-hex conv() digits -> long; int literals -> long bitmasks;
    # h_idx/rows ints -> int band id; array<...struct> empty-array types
    "functions/dedup.py": "hex-conv digits / int literals / array types",
    # size() int -> long
    "functions/packing.py": "numeric->numeric only",
    # count(*) long -> double
    "functions/retrieval.py": "numeric->numeric only",
    # id -> string (always safe); md5-derived conv digits -> double;
    # internal quota map values (numeric) -> double; size() -> long
    "functions/sampling.py": "->string / hash digits / internal numerics",
    # array<float> elements -> double/int; booleans -> long bitmasks;
    # int8 codes -> int; counts -> double; ->string renders
    "functions/similarity.py": "numeric vector contract / ->string",
    # value -> string (safe); md5-derived -> double; group-key
    # round-trip string->original-type is identity by construction
    # (Spark renders NaN/Infinity doubles in the form cast() re-reads)
    "functions/sketches.py": "->string / hash digits / round-trip",
    # lit(0) -> long fold seed; count(*) -> double
    "functions/text.py": "literals and counts only",
    # lit(None) typed NULLs; unix_micros arithmetic -> long
    "functions/timeseries.py": "typed NULL literals / numeric",
    # gate fixtures cast values THE GATE ITSELF constructed (doc_id /
    # event_id digits, timestamp literals, boolean->int labels)
    "gate.py": "self-constructed fixture values only",
    # TimestampNTZ->timestamp identity under pinned UTC session zone;
    # counts -> double; id -> string
    "model.py": "NTZ->TZ identity / counts / ->string",
    # lit(None) typed NULL columns for the empty-result frames
    "operators/correlate.py": "typed NULL literals only",
    # NULL-sentinel concat is ->string; the date/value parses are
    # try_to_timestamp/try_cast
    "streaming/ingest.py": "->string only",
    # boolean session-boundary flag -> int
    "streaming/sessionize.py": "boolean->int only",
}

# Known-dangerous target types when the source can be a string column.
_CAST_RE = re.compile(r"\.cast\(")


def test_plain_cast_surface_is_audited():
    found = set()
    for path in sorted(PKG.rglob("*.py")):
        text = path.read_text()
        if _CAST_RE.search(text):
            found.add(str(path.relative_to(PKG)))
    new = found - set(AUDITED)
    assert not new, (
        f"NEW files use plain .cast(): {sorted(new)} — audit each site "
        "for the ANSI string->numeric poison-pill class (use try_cast / "
        "try_to_timestamp for user-supplied strings), then add the file "
        "to AUDITED with a justification.")
    stale = set(AUDITED) - found
    assert not stale, (
        f"AUDITED entries no longer use .cast(): {sorted(stale)} — "
        "drop them so the allowlist stays tight.")
