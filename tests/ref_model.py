"""Pure-Python transcription of the reference's set-algebra merge loops
(query.cc:68-196, 137-156) — the oracle for operator property tests.

Postings are lists of (offset:int, score:float) sorted by offset.  Where
run order matters, inputs must be pre-sorted by (offset, score) — the
engine's canonical intra-run order (see operators/set_algebra.py).
"""

from __future__ import annotations

NEG_INF = float("-inf")
# the one NaN object the CORRELATE model emits: tuples holding the same
# object compare equal, so callers map the engine's NaNs onto it
NAN = float("nan")
# spark_order's key for a null score: below every double's key
NULL = (-1, 0.0)


def spark_order(s: float | None) -> tuple:
    """Sort key of a nullable double in Spark's ascending order: null
    sorts first, and NaN equals NaN and sorts above every other value,
    +inf included."""
    if s is None:
        return NULL
    return (1, 0.0) if s != s else (0, s)


def spark_value(key: tuple) -> float:
    """The double behind a spark_order key (NaN as ``NAN``)."""
    return NAN if key[0] else key[1]


def union(lhs, rhs):
    """UnionOffsets (query.cc:68-94): each rhs element displaces one lhs
    element at the same offset."""
    result = []
    i, j = 0, 0
    while i < len(lhs) and j < len(rhs):
        if lhs[i][0] < rhs[j][0]:
            result.append(lhs[i]); i += 1
        else:
            if lhs[i][0] == rhs[j][0]:
                i += 1
            result.append(rhs[j]); j += 1
    result.extend(lhs[i:])
    result.extend(rhs[j:])
    return result


def intersect(lhs, rhs):
    """IntersectOffsets (query.cc:96-125): keep lhs runs whose offset
    appears in rhs."""
    out = []
    i, j = 0, 0
    while i < len(lhs) and j < len(rhs):
        if lhs[i][0] == rhs[j][0]:
            off = lhs[i][0]
            while i < len(lhs) and lhs[i][0] == off:
                out.append(lhs[i]); i += 1
            j += 1
            continue
        if lhs[i][0] < rhs[j][0]:
            i += 1
        else:
            j += 1
    return out


def subtract(lhs, rhs):
    """SubtractOffsets (query.cc:358-392)."""
    rhs_offsets = {o for o, _ in rhs}
    return [p for p in lhs if p[0] not in rhs_offsets]


def theta(lhs, rhs, op):
    """Join template (query.cc:139-164): element-wise advance of both
    cursors; keep lhs element when filter holds."""
    out = []
    i, j = 0, 0
    while i < len(lhs) and j < len(rhs):
        if lhs[i][0] < rhs[j][0]:
            i += 1
            continue
        if rhs[j][0] < lhs[i][0]:
            j += 1
            continue
        if (op == "gt" and lhs[i][1] > rhs[j][1]) or \
           (op == "lt" and lhs[i][1] < rhs[j][1]):
            out.append(lhs[i])
        i += 1
        j += 1
    return out


def order_by(lhs, rhs):
    """kOperatorOrderBy (query.cc:519-547)."""
    out = []
    i, j = 0, 0
    while i < len(lhs) and j < len(rhs):
        if lhs[i][0] < rhs[j][0]:
            out.append((lhs[i][0], NEG_INF)); i += 1
            continue
        if rhs[j][0] < lhs[i][0]:
            j += 1
            continue
        out.append((lhs[i][0], rhs[j][1]))
        i += 1
        j += 1
    while i < len(lhs):
        out.append((lhs[i][0], NEG_INF)); i += 1
    return out


def dedup(v, use_max=True):
    """RemoveDuplicates (query.cc:137-156)."""
    out = []
    for off, sc in v:
        if out and out[-1][0] == off:
            if use_max == (sc > out[-1][1]):
                out[-1] = (off, sc)
        else:
            out.append((off, sc))
    return out


def correlate(postings, set_a, set_b, raw=False):
    """Pure-Python transcription of the full CORRELATE mining pipeline
    (correlate.cc:84-358 via operators/correlate.py::correlate_sets):
    keyword support pre-filter, class tagging, boolean-vs-continuous
    kind detection, single-best-split search by |logit gain| over the
    cumulative class distribution of DISTINCT scores, range re-count
    with distinct-doc contingency, and the support + logit-cutoff
    output filter.

    postings: iterable of (keyword, doc_id, score); duplicate
    (keyword, doc_id) rows allowed (the countDistinct path).  Scores
    compare in Spark's order (spark_order): a NaN score makes its
    keyword continuous, lies in a range [next, +inf) and in no range
    (-inf, mid] below NaN, and a NaN range end is emitted as ``NAN``.
    A null score (None) sorts first in the split scan, lies only in the
    whole range (a bounded range's comparison with it is null), and
    does not make its keyword continuous (``max`` skips nulls).
    set_a / set_b: iterables of doc ids; B is made disjoint from A.

    Returns sorted rows (log_odds_rounded3, match_count_a,
    match_count_b, keyword, min_score, max_score) with None for
    unbounded range ends — the engine's output schema.

    The cutoff filter compares the ROUNDED 3-decimal log-odds against
    the rounded cutoff (0.201), in lockstep with
    operators/correlate.py::LOGIT_CUTOFF_R3 — the unrounded comparison
    was a libm knife edge (a value mathematically equal to ln(11/9)
    lands 1 ulp apart under glibc vs JVM Math.log and the engines
    disagreed on emission).

    ``raw=True`` emits the UNROUNDED log-odds and SKIPS the cutoff
    filter — the boundary-guard hook: round3_half_up is binary
    floor(x*1000+0.5) while Spark's ROUND is decimal HALF_UP via
    BigDecimal on the double's shortest repr, so a value within ~1 ulp
    of a .0005 boundary can round differently on the two engines; the
    guard must see every support-passing candidate pre-rounding —
    INCLUDING rows the cutoff drops, since a near-boundary rounding
    flip changes the emission decision itself (the r9 one-sided hole:
    the guard scanned only emitted rows, so a model-dropped near-miss
    slipped through; tests/test_correlate.py::_boundary_safe).
    """
    import math
    from collections import defaultdict

    logit_cutoff = math.log(0.55 / 0.45)
    # rounded-boundary lockstep with the engine (LOGIT_CUTOFF_R3)
    cutoff_r3 = math.floor(logit_cutoff * 1000.0 + 0.5) / 1000.0
    min_gain = math.log(1.05)
    a = set(set_a)
    b = set(set_b) - a
    if not a or not b:
        # correlate.cc:501 short-circuits to NO output when either
        # class is empty (B judged after the disjoint subtraction);
        # the engine mirrors it in correlate_sets (r11 review finding)
        return []
    prior = math.log((len(a) + 1.0) / (len(b) + 1.0))
    lim_a = max(len(a) // 20, 1)
    lim_b = max(len(b) // 20, 1)
    min_limit = min(lim_a, lim_b)

    def round3_half_up(x):
        # Spark's ROUND is HALF_UP (away from zero); Python's round is
        # banker's — match the engine.
        s = -1.0 if x < 0 else 1.0
        return s * math.floor(abs(x) * 1000.0 + 0.5) / 1000.0

    by_kw = defaultdict(list)
    for kw, d, s in postings:
        by_kw[kw].append((d, None if s is None else float(s)))

    out = []
    for kw, rows in by_kw.items():
        if len(rows) < min_limit:            # kw_ok: raw posting count
            continue
        krows = [(d, spark_order(s),
                  1 if d in a else (-1 if d in b else None))
                 for d, s in rows]
        # Spark's max(abs(score)) > 0: any nonzero score, or any NaN;
        # nulls are skipped
        continuous = any(k not in ((0, 0.0), NULL) for _, k, _ in krows)
        n_classes = sum(1 for _, _, c in krows if c is not None)

        tasks = []
        if not continuous:
            tasks.append((None, None))       # boolean: whole range
        elif n_classes < min_limit:
            continue                         # correlate.cc:271 drop
        else:
            per = {}                         # distinct score -> counts
            for _, k, c in krows:
                if c is None:
                    continue
                na, nb, nab = per.get(k, (0, 0, 0))
                per[k] = (na + (c == 1), nb + (c == -1), nab + 1)
            scores = sorted(per)
            npos = len(scores)
            tot_a = sum(v[0] for v in per.values())
            tot_b = sum(v[1] for v in per.values())
            tot_ab = sum(v[2] for v in per.values())
            cum_a = cum_b = cum_ab = 0
            best = None                      # (gain, pos, mid, next)
            for pos, k in enumerate(scores, start=1):
                cum_a += per[k][0]
                cum_b += per[k][1]
                cum_ab += per[k][2]
                left = (abs(math.log((cum_a + 1.0) /
                                     (cum_ab - cum_a + 1.0)) - prior)
                        if (cum_a >= lim_a or cum_b >= lim_b) else 0.0)
                ra, rb = tot_a - cum_a, tot_b - cum_b
                rab = tot_ab - cum_ab
                right = (abs(math.log((ra + 1.0) / (rab - ra + 1.0)) -
                             prior)
                         if (ra >= lim_a or rb >= lim_b) else 0.0)
                gain = max(left, right)
                if best is None or gain > best[0]:   # tie -> low score
                    best = (gain, pos,
                            k, scores[pos] if pos < npos else None)
            gain, pos, mid, nxt = best
            if 1 < pos < npos and gain >= min_gain:
                tasks.append((None, mid))
                tasks.append((nxt, None))
            else:
                tasks.append((None, None))

        for lo, hi in tasks:
            bounded = lo is not None or hi is not None
            in_rng = [(d, c) for d, k, c in krows
                      if not (bounded and k == NULL)
                      and (lo is None or k >= lo)
                      and (hi is None or k <= hi)]
            ma = len({d for d, c in in_rng if c == 1})
            mb = len({d for d, c in in_rng if c == -1})
            if not (ma >= lim_a or mb >= lim_b):
                continue
            ends = tuple(None if e is None else spark_value(e)
                         for e in (lo, hi))
            lo_odds = math.log((ma + 1.0) / (mb + 1.0)) - prior
            if raw:                      # guard hook: cutoff-unfiltered
                out.append((lo_odds, ma, mb, kw) + ends)
                continue
            r3 = round3_half_up(lo_odds)
            if abs(r3) < cutoff_r3:      # exact 3-decimal comparison
                continue
            out.append((r3, ma, mb, kw) + ends)
    return sorted(out, key=lambda r: (r[3], repr(r[4]), repr(r[5])))
