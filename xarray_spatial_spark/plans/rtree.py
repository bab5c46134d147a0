"""STR-packed R-tree over polygon bounding boxes — from scratch.

The north-star PIP join broadcasts "polygon R-trees"; this is that
structure, array-packed so a whole Arrow batch of points descends the
tree in vectorized numpy (no per-point recursion):

- **Bulk load** (Sort-Tile-Recursive, Leutenegger et al. 1997): sort
  entries by x-center, cut into ~sqrt(P) vertical slabs, sort each
  slab by y-center, pack runs of ``fanout`` into leaf nodes; repeat on
  the node bboxes until one root remains.  Every level is a flat
  (x0, y0, x1, y1, child_start, child_count) record batch — the tree
  broadcasts as a handful of numpy arrays.
- **Batch query**: maintain (point, node) candidate pairs level by
  level; containment filters are single numpy comparisons over the
  pair arrays, expansion is an np.repeat on child ranges.  Returns
  (point, entry) pairs sorted by (point, entry) so consumers keep
  deterministic ascending-id semantics.
- **Batch nearest** (branch and bound, the bound-pruned candidate
  filtering of distributed kNN joins): the same level-by-level pairs,
  pruned by a caller's box lower bound against each point's best
  distance so far.  The tree knows no metric; the caller passes the
  exact distance and the lower bound as elementwise functions.

operators/pip.py builds one over every polygon set it assigns from:
the query's cost does not depend on the polygons' shapes (a
dateline-spanning sliver is one box), and its (point, entry) pairs
are exactly the candidates its vectorized ray-cast tests.
operators/proximity.py builds one over the target points of its
broadcast nearest-target join.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

__all__ = ["STRtree"]


class STRtree:
    """Immutable packed R-tree over ``boxes`` ((n, 4) float64 rows of
    (x0, y0, x1, y1)).  ``levels`` lists (bboxes (k, 4), child_start
    (k,), child_count (k,)) from leaves upward; level 0's children
    index the input boxes."""

    def __init__(self, boxes: np.ndarray, fanout: int = 16):
        boxes = np.asarray(boxes, dtype=np.float64).reshape(-1, 4)
        if not len(boxes):
            raise ValueError("STRtree needs at least one box")
        if fanout < 2:
            raise ValueError("fanout must be >= 2")
        self.n_entries = len(boxes)
        self.fanout = fanout
        self.entry_boxes = boxes
        self.entry_order, level = _str_pack(boxes, fanout)
        self.levels = [level]
        while len(self.levels[-1][0]) > 1:
            order, up = _str_pack(self.levels[-1][0], fanout)
            # permute the lower level so the upper level's child
            # ranges are contiguous runs
            lb, ls, lc = self.levels[-1]
            self.levels[-1] = (lb[order], ls[order], lc[order])
            self.levels.append(up)
        # child_start of level 0 indexes entry_order (not raw boxes);
        # reps[l][i] = the first entry of level l node i's subtree
        self.reps = [self.entry_order[self.levels[0][1]]]
        for _, cs, _ in self.levels[1:]:
            self.reps.append(self.reps[-1][cs])

    def query_pairs(self, px: np.ndarray, py: np.ndarray
                    ) -> tuple[np.ndarray, np.ndarray]:
        """All (point_index, entry_index) pairs whose entry bbox
        contains the point, sorted by (point, entry)."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        pts, nodes = self._roots(len(px))
        for bb, cs, cc in reversed(self.levels):
            keep = (
                (px[pts] >= bb[nodes, 0]) & (px[pts] <= bb[nodes, 2])
                & (py[pts] >= bb[nodes, 1]) & (py[pts] <= bb[nodes, 3])
            )
            pts, nodes = _children(pts[keep], nodes[keep], cs, cc)
        # nodes now index entry_order slots -> raw entry ids; leaf-node
        # bboxes are UNIONS, so finish with each entry's own bbox
        entries = self.entry_order[nodes]
        eb = self.entry_boxes
        keep = (
            (px[pts] >= eb[entries, 0]) & (px[pts] <= eb[entries, 2])
            & (py[pts] >= eb[entries, 1]) & (py[pts] <= eb[entries, 3])
        )
        pts, entries = pts[keep], entries[keep]
        order = np.lexsort((entries, pts))
        return pts[order], entries[order]

    def nearest(
        self,
        n_points: int,
        exact: Callable[[np.ndarray, np.ndarray], np.ndarray],
        lower: Callable[[np.ndarray, np.ndarray], np.ndarray],
        bound: float = np.inf,
    ) -> tuple[np.ndarray, np.ndarray]:
        """Nearest entry of each of ``n_points`` points, by vectorized
        branch and bound.  ``exact(pts, entries)`` is the distance of
        each (point, entry) pair and ``lower(pts, level, nodes)`` a
        lower bound of it over every entry inside each node of tree
        level ``level`` (an index into ``levels``), so that the caller
        can compute its node terms once per level.

        Level by level, each node's first entry gives an exact
        distance that bounds its point's best (``np.minimum.reduceat``
        over the pairs, which stay grouped by point), starting from
        ``bound``; a pair whose lower bound exceeds ``best * (1 +
        1e-9)`` is dropped, the slack keeping rounding from dropping
        the true winner.  At the leaves the smallest distance wins,
        then the smallest entry index.  Returns (distance, entry) per
        point, (nan, -1) where no entry lies within ``bound``."""
        dist = np.full(n_points, np.nan)
        ent = np.full(n_points, -1, dtype=np.int64)
        best = np.full(n_points, bound, dtype=np.float64)
        pts, nodes = self._roots(n_points)
        for li in range(len(self.levels) - 1, -1, -1):
            if not len(pts):
                return dist, ent
            _, cs, cc = self.levels[li]
            starts = _starts(pts)
            first = pts[starts]
            rep = np.minimum.reduceat(exact(pts, self.reps[li][nodes]), starts)
            best[first] = np.minimum(best[first], rep)
            keep = lower(pts, li, nodes) <= best[pts] * (1.0 + 1e-9)
            pts, nodes = _children(pts[keep], nodes[keep], cs, cc)
        if not len(pts):
            return dist, ent
        entries = self.entry_order[nodes]
        d = exact(pts, entries)
        starts = _starts(pts)
        dmin = np.minimum.reduceat(d, starts)
        tied = d == np.repeat(dmin, np.diff(np.append(starts, len(d))))
        win = np.minimum.reduceat(np.where(tied, entries, self.n_entries), starts)
        ok = dmin <= bound
        first = pts[starts][ok]
        dist[first], ent[first] = dmin[ok], win[ok]
        return dist, ent

    def _roots(self, n_points: int) -> tuple[np.ndarray, np.ndarray]:
        """(point, node) pairs of every point against every root node."""
        n_top = len(self.levels[-1][0])
        return (np.repeat(np.arange(n_points, dtype=np.int64), n_top),
                np.tile(np.arange(n_top, dtype=np.int64), n_points))


def _children(pts: np.ndarray, nodes: np.ndarray, cs: np.ndarray,
              cc: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Expand (point, node) pairs to (point, child) pairs, in order:
    the children of node i are ``cs[i] .. cs[i] + cc[i] - 1``."""
    counts = cc[nodes]
    offs = np.arange(int(counts.sum()), dtype=np.int64) - np.repeat(
        np.cumsum(counts) - counts, counts)
    return np.repeat(pts, counts), np.repeat(cs[nodes], counts) + offs


def _starts(pts: np.ndarray) -> np.ndarray:
    """First index of each run of equal values in the grouped ``pts``."""
    return np.flatnonzero(np.r_[True, pts[1:] != pts[:-1]])


def _str_pack(boxes: np.ndarray, fanout: int
              ) -> tuple[np.ndarray, tuple[np.ndarray, np.ndarray, np.ndarray]]:
    """One STR packing pass: returns (order of the input rows, level
    record (node bboxes, child_start into the ORDERED rows,
    child_count))."""
    n = len(boxes)
    n_nodes = -(-n // fanout)
    n_slabs = max(1, int(np.ceil(np.sqrt(n_nodes))))
    slab_cap = n_slabs * fanout
    cx = (boxes[:, 0] + boxes[:, 2]) * 0.5
    cy = (boxes[:, 1] + boxes[:, 3]) * 0.5
    by_x = np.argsort(cx, kind="stable")
    order = np.empty(n, dtype=np.int64)
    pos = 0
    for s in range(0, n, slab_cap):
        slab = by_x[s: s + slab_cap]
        slab = slab[np.argsort(cy[slab], kind="stable")]
        order[pos: pos + len(slab)] = slab
        pos += len(slab)
    starts = np.arange(0, n, fanout, dtype=np.int64)
    counts = np.minimum(fanout, n - starts)
    nb = np.empty((len(starts), 4), np.float64)
    ob = boxes[order]
    for i, (st, c) in enumerate(zip(starts, counts)):
        chunk = ob[st: st + c]
        nb[i] = (chunk[:, 0].min(), chunk[:, 1].min(),
                 chunk[:, 2].max(), chunk[:, 3].max())
    return order, (nb, starts, counts)
