"""Independent answers and order-free digests for the output checks."""

from __future__ import annotations

import hashlib

import numpy as np


def knn1(a: dict, b: dict, radius_deg: float, chunk: int = 4096):
    """Nearest B point within ``radius_deg`` of every A point, by a
    numpy grid-bucketed search that shares no code with the engine.

    Distances use the engine's ops in the engine's order,
    ``sqrt((ax-bx)*(ax-bx) + (ay-by)*(ay-by))``, so they are
    bit-identical; ties go to the smaller ``(dist, b_subject)``.
    Returns sorted ``(a_subject, b_subject, dist_deg)`` tuples."""
    g = radius_deg  # bucket side: every hit lies in the 3x3 neighbourhood
    bx = np.floor(b["cx"] / g).astype(np.int64)
    by = np.floor(b["cy"] / g).astype(np.int64)
    span = np.int64(1 << 31)
    bkey = bx * span + by
    order = np.argsort(bkey, kind="stable")
    skey = bkey[order]
    # B subjects ranked in string order: the tie-break compares names
    b_rank = np.empty(len(order), dtype=np.int64)
    b_rank[np.argsort(b["subject"].astype(str), kind="stable")] = np.arange(len(order))

    out = []
    na = len(a["cx"])
    for lo_a in range(0, na, chunk):
        sl = slice(lo_a, min(na, lo_a + chunk))
        acx, acy = a["cx"][sl], a["cy"][sl]
        ax = np.floor(acx / g).astype(np.int64)
        ay = np.floor(acy / g).astype(np.int64)
        ai_all, bj_all, d_all = [], [], []
        for dx in (-1, 0, 1):
            for dy in (-1, 0, 1):
                key = (ax + dx) * span + (ay + dy)
                lo = np.searchsorted(skey, key, "left")
                hi = np.searchsorted(skey, key, "right")
                cnt = hi - lo
                total = int(cnt.sum())
                if total == 0:
                    continue
                ai = np.repeat(np.arange(len(acx)), cnt)
                starts = np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
                bj = order[np.arange(total) + starts]
                ddx = acx[ai] - b["cx"][bj]
                ddy = acy[ai] - b["cy"][bj]
                d = np.sqrt(ddx * ddx + ddy * ddy)
                keep = d <= radius_deg
                ai_all.append(ai[keep])
                bj_all.append(bj[keep])
                d_all.append(d[keep])
        if not ai_all:
            continue
        ai, bj, d = (np.concatenate(x) for x in (ai_all, bj_all, d_all))
        srt = np.lexsort((b_rank[bj], d, ai))
        ai, bj, d = ai[srt], bj[srt], d[srt]
        first = np.ones(len(ai), dtype=bool)
        first[1:] = ai[1:] != ai[:-1]
        for i, j, dist in zip(ai[first], bj[first], d[first]):
            out.append((a["subject"][lo_a + i], b["subject"][j], float(dist)))
    out.sort()
    return out


def rows_of(table, columns) -> list[tuple]:
    """Rows of a pyarrow table as sorted tuples of ``columns``."""
    cols = [table.column(c).to_pylist() for c in columns]
    return sorted(zip(*cols))


def digest(rows: list[tuple]) -> str:
    """Order-free digest of a row multiset (``rows`` must be sorted)."""
    h = hashlib.sha256()
    for r in rows:
        h.update(repr(r).encode())
        h.update(b"\n")
    return h.hexdigest()[:16]
