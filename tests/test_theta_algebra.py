"""The batch theta family (intersection, AnotB, union, Jaccard) against
a plain-Python set reference, on sets that bracket THETA_K: every
column of every pair, estimators and exact audits alike."""

from __future__ import annotations

import hashlib
import random

import pyarrow as pa
import pyarrow.parquet as pq

from otel_arrow_collector_spark.operators import sketches as sk
from otel_arrow_collector_spark.operators.sketches import (THETA_K,
                                                           THETA_RANGE)

K, R = THETA_K, THETA_RANGE


def _hash48(u: int) -> int:
    return int(hashlib.md5(str(u).encode()).hexdigest()[:12], 16)


def _sets() -> dict[str, set[int]]:
    """Sub-K, exactly K, 2K and 8K sets: nested (sub_k, mid in big),
    identical (mid, mid_twin), disjoint (exact_k from the rest), and
    ``far``, whose few hashes all lie above big's threshold, so the
    (big, far) pair retains no ``far`` hash below th."""
    big = set(range(8 * K))
    th_big = sorted(map(_hash48, big))[K - 1]
    far = [u for u in range(5000, 6000) if _hash48(u) > th_big][:3]
    return {"big": big, "mid": set(range(2 * K)),
            "mid_twin": set(range(2 * K)),
            "exact_k": set(range(1000, 1000 + K)),
            "sub_k": set(range(K - 7)), "far": set(far)}


def _write_events(d, sets) -> None:
    """Each (set, user) 1-3 times, shuffled: a user held twice in a set
    counts once."""
    rng = random.Random(13)
    rows = [(et, u) for et, users in sets.items() for u in sorted(users)
            for _ in range(rng.randrange(1, 4))]
    rng.shuffle(rows)
    pq.write_table(pa.table({
        "ts": pa.array([0] * len(rows), pa.timestamp("us")),
        "user_id": pa.array([u for _, u in rows], pa.int64()),
        "event_type": [et for et, _ in rows]}),
        str(d / "events.parquet"))


def _sketch(users):
    kept = sorted({_hash48(u) for u in users})[:K]
    th = kept[K - 1] if len(kept) >= K else R
    return set(kept), th


def _est(kept, th, n):
    return (K - 1) * R // th if len(kept) >= K else n


def _reference(sets):
    sketch = {et: _sketch(us) for et, us in sets.items()}
    out = {"inter": [], "diff": [], "union": [], "jaccard": []}
    for a in sorted(sets):
        for b in sorted(sets):
            if a == b:
                continue
            (ka, tha), (kb, thb) = sketch[a], sketch[b]
            th = min(tha, thb)
            na, nb = len(sets[a]), len(sets[b])
            exact = len(sets[a] & sets[b])
            n_diff = len({h for h in ka - kb if h < th})
            out["diff"].append((a, b, n_diff, n_diff * R // th, na - exact))
            if a > b:
                continue
            common = len({h for h in ka & kb if h < th})
            u = sorted(h for h in ka | kb if h < th)
            est_u = ((K - 1) * R // u[K - 1] if len(u) >= K
                     else len(u) * R // th)
            out["inter"].append((a, b, _est(ka, tha, na), _est(kb, thb, nb),
                                 common, common * R // th, exact))
            out["union"].append((a, b, len(u), est_u, na + nb - exact))
            out["jaccard"].append(
                (a, b, common, len(u), 1000 * common // len(u) if u else 0,
                 1000 * exact // (na + nb - exact)))
    return out


def test_theta_queries_match_python_set_reference(spark, tmp_path):
    sets = _sets()
    _write_events(tmp_path, sets)
    want = _reference(sets)
    d = str(tmp_path)
    for key, fn in (("inter", sk.sketch_theta_intersection),
                    ("diff", sk.sketch_theta_difference),
                    ("union", sk.sketch_theta_union),
                    ("jaccard", sk.sketch_theta_jaccard)):
        got = [tuple(r) for r in fn(spark, d).collect()]
        assert got == want[key], key
    # the regimes the cases claim
    rows = {(r[0], r[1]): r for r in want["union"]}
    assert rows[("big", "far")][2] == K - 1           # no far hash < th
    assert _sketch(sets["exact_k"])[1] < R            # K is saturated
    assert _sketch(sets["sub_k"])[1] == R


def test_sketch_row_holds_a_hash_once(spark):
    """A hash held twice takes one of the K slots: the threshold is the
    K-th smallest DISTINCT hash (the streaming twin's state), while
    ``n`` counts the set's rows."""
    users = list(range(K)) + [min(range(K), key=_hash48)]
    dist = spark.createDataFrame([("x", u) for u in users],
                                 "event_type string, user_id long")
    [row] = sk._build_theta_sketches(dist).collect()
    hs = sorted(map(_hash48, range(K)))
    assert (row.n, row.th, row.hvs) == (K + 1, hs[K - 1], hs)
