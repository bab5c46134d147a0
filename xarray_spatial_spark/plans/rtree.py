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

operators/pip.py builds one over every polygon set it assigns from:
the query's cost does not depend on the polygons' shapes (a
dateline-spanning sliver is one box), and its (point, entry) pairs
are exactly the candidates its vectorized ray-cast tests.
"""

from __future__ import annotations

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
        # child_start of level 0 indexes entry_order (not raw boxes)

    def query_pairs(self, px: np.ndarray, py: np.ndarray
                    ) -> tuple[np.ndarray, np.ndarray]:
        """All (point_index, entry_index) pairs whose entry bbox
        contains the point, sorted by (point, entry)."""
        px = np.asarray(px, dtype=np.float64)
        py = np.asarray(py, dtype=np.float64)
        if not len(px):
            empty = np.empty(0, np.int64)
            return empty, empty
        # root level: every point against the root node(s)
        top = self.levels[-1]
        pts = np.repeat(np.arange(len(px), dtype=np.int64), len(top[0]))
        nodes = np.tile(np.arange(len(top[0]), dtype=np.int64), len(px))
        for li in range(len(self.levels) - 1, -1, -1):
            bb, cs, cc = self.levels[li]
            keep = (
                (px[pts] >= bb[nodes, 0]) & (px[pts] <= bb[nodes, 2])
                & (py[pts] >= bb[nodes, 1]) & (py[pts] <= bb[nodes, 3])
            )
            pts, nodes = pts[keep], nodes[keep]
            if not len(pts):
                return pts, nodes
            counts = cc[nodes]
            child0 = cs[nodes]
            pts = np.repeat(pts, counts)
            # children of node i are child0[i] .. child0[i]+count[i]-1
            offs = np.arange(int(counts.sum()), dtype=np.int64) - np.repeat(
                np.cumsum(counts) - counts, counts)
            nodes = np.repeat(child0, counts) + offs
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
