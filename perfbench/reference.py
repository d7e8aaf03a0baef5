"""Expected join results computed without the engine.

Each join op's output is checked against a reference computed here in
plain numpy/Python from the op's inputs: a brute-force centroid-distance
test for ``radius_join`` and an envelope filter plus a textbook
segment/ring intersection test for ``intersects_join``. The comparison
key is a pair digest, ``(rows, sum a_id, sum b_id, sum a_id*b_id)``
over the trailing integer of each side's subject, which Spark computes
in the same aggregate as the op's row digest (``workloads.digest``).
"""

from __future__ import annotations

import re

import numpy as np

_ID = re.compile(r"(\d+)$")
_GROUP = re.compile(r"\(([^()]+)\)")


def subject_ids(subjects) -> np.ndarray:
    return np.array([int(_ID.search(s).group(1)) for s in subjects], dtype=np.int64)


def pair_digest(a_ids: np.ndarray, b_ids: np.ndarray) -> tuple[int, int, int, int]:
    a, b = a_ids.astype(np.int64), b_ids.astype(np.int64)
    return len(a), int(a.sum()), int(b.sum()), int((a * b).sum())


# ---------------------------------------------------------------------------
# radius_join: centroid distance <= radius (degree space)
# ---------------------------------------------------------------------------

def radius_pairs(ax, ay, bx, by, radius_deg: float) -> tuple[np.ndarray, np.ndarray]:
    """Indices (i, j) of every pair with sqrt(dx*dx + dy*dy) <= radius_deg.
    B is swept in x order, so each A point only tests the B points whose
    x lies within the radius; the distance uses the same IEEE operations
    as the engine's refine, so boundary pairs agree bit for bit."""
    order = np.argsort(bx, kind="stable")
    sbx, sby = bx[order], by[order]
    lo = np.searchsorted(sbx, ax - radius_deg, side="left")
    hi = np.searchsorted(sbx, ax + radius_deg, side="right")
    out_i, out_j = [], []
    for i in np.nonzero(hi > lo)[0]:
        s = slice(lo[i], hi[i])
        dx, dy = ax[i] - sbx[s], ay[i] - sby[s]
        hit = np.nonzero(np.sqrt(dx * dx + dy * dy) <= radius_deg)[0]
        if len(hit):
            out_i.append(np.full(len(hit), i))
            out_j.append(order[lo[i] + hit])
    if not out_i:
        return np.zeros(0, np.int64), np.zeros(0, np.int64)
    return np.concatenate(out_i), np.concatenate(out_j)


def ring_candidates(ax, ay, bx, by, res: int, kx: int, ky: int) -> int:
    """Pairs whose grid cells at ``res`` are within Chebyshev distance
    (kx, ky): the candidate pairs of a cell-ring join before its
    distance refine."""
    n = 1 << res

    def cell(v, off, span):
        return np.clip(np.floor((v + off) / span * float(n)), 0, n - 1).astype(np.int64)

    aix, aiy = cell(ax, 180.0, 360.0), cell(ay, 90.0, 180.0)
    b_cells: dict[tuple[int, int], int] = {}
    for key in zip(cell(bx, 180.0, 360.0).tolist(), cell(by, 90.0, 180.0).tolist()):
        b_cells[key] = b_cells.get(key, 0) + 1
    a_cells: dict[tuple[int, int], int] = {}
    for key in zip(aix.tolist(), aiy.tolist()):
        a_cells[key] = a_cells.get(key, 0) + 1
    total = 0
    for (x, y), na in a_cells.items():
        for dx in range(-kx, kx + 1):
            for dy in range(-ky, ky + 1):
                total += na * b_cells.get((x + dx, y + dy), 0)
    return total


# ---------------------------------------------------------------------------
# intersects_join: exact boundary-inclusive intersection of WKT shapes
# ---------------------------------------------------------------------------

class Shape:
    """A parsed WKT geometry: its vertex paths, and whether the paths
    are rings bounding an area (POLYGON, MULTIPOLYGON)."""

    __slots__ = ("paths", "areal", "env")

    def __init__(self, wkt: str):
        self.paths = [[tuple(float(v) for v in pt.split()) for pt in grp.split(",")]
                      for grp in _GROUP.findall(wkt)]
        self.areal = wkt.lstrip().upper().startswith(("POLYGON", "MULTIPOLYGON"))
        xs = [p[0] for path in self.paths for p in path]
        ys = [p[1] for path in self.paths for p in path]
        self.env = (min(xs), min(ys), max(xs), max(ys))

    def segments(self):
        for path in self.paths:
            if len(path) == 1:
                yield path[0], path[0]
            for p, q in zip(path, path[1:]):
                yield p, q

    def vertices(self):
        for path in self.paths:
            yield from path

    def contains(self, pt) -> bool:
        """Even-odd ray cast over every ring (interior only; the
        boundary is found by the segment test)."""
        x, y = pt
        inside = False
        for ring in self.paths:
            for (x0, y0), (x1, y1) in zip(ring, ring[1:]):
                if (y0 > y) != (y1 > y) and x < x0 + (y - y0) * (x1 - x0) / (y1 - y0):
                    inside = not inside
        return inside


def _orient(o, a, b) -> float:
    return (a[0] - o[0]) * (b[1] - o[1]) - (a[1] - o[1]) * (b[0] - o[0])


def _on_segment(p, q, r) -> bool:
    """r lies within the bounding box of segment pq (r collinear)."""
    return (min(p[0], q[0]) <= r[0] <= max(p[0], q[0])
            and min(p[1], q[1]) <= r[1] <= max(p[1], q[1]))


def segments_meet(p1, q1, p2, q2) -> bool:
    o1, o2 = _orient(p1, q1, p2), _orient(p1, q1, q2)
    o3, o4 = _orient(p2, q2, p1), _orient(p2, q2, q1)
    if ((o1 > 0 and o2 < 0) or (o1 < 0 and o2 > 0)) and \
            ((o3 > 0 and o4 < 0) or (o3 < 0 and o4 > 0)):
        return True
    return ((o1 == 0 and _on_segment(p1, q1, p2)) or (o2 == 0 and _on_segment(p1, q1, q2))
            or (o3 == 0 and _on_segment(p2, q2, p1)) or (o4 == 0 and _on_segment(p2, q2, q1)))


def shapes_intersect(a: Shape, b: Shape) -> bool:
    if b.areal and any(b.contains(v) for v in a.vertices()):
        return True
    if a.areal and any(a.contains(v) for v in b.vertices()):
        return True
    return any(segments_meet(p1, q1, p2, q2)
               for p1, q1 in a.segments() for p2, q2 in b.segments())


def intersects_pairs(a_wkt, b_wkt) -> tuple[np.ndarray, np.ndarray]:
    """Indices (i, j) of every intersecting pair: closed-envelope
    overlap (swept in x order), then the exact test."""
    sa, sb = [Shape(w) for w in a_wkt], [Shape(w) for w in b_wkt]
    b_order = sorted(range(len(sb)), key=lambda j: sb[j].env[0])
    b_x0 = np.array([sb[j].env[0] for j in b_order])
    b_width = max((s.env[2] - s.env[0] for s in sb), default=0.0)
    out_i, out_j = [], []
    for i, s in enumerate(sa):
        ax0, ay0, ax1, ay1 = s.env
        lo = int(np.searchsorted(b_x0, ax0 - b_width, side="left"))
        for k in range(lo, int(np.searchsorted(b_x0, ax1, side="right"))):
            j = b_order[k]
            bx0, by0, bx1, by1 = sb[j].env
            if bx1 >= ax0 and by0 <= ay1 and by1 >= ay0 and shapes_intersect(s, sb[j]):
                out_i.append(i)
                out_j.append(j)
    return np.array(out_i, np.int64), np.array(out_j, np.int64)
