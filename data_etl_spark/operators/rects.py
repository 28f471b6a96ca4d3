"""Rectangle overlap-merge — the reference's figure-fusion operator
(J3/J4/A5, `/root/reference/src/managers/image_manager.py:82-142`):
iteratively union overlapping/touching bboxes (tolerance ``tol``) until
fixpoint, i.e. connected components over the overlap graph followed by a
bbox-union per component.

Spark shape: per-(filename, page) ``applyInPandas`` — page groups are
intrinsically small (a page holds tens of figures, not millions), so a
union-find inside one pandas group is both exact and fast, while the
groupBy key spreads pages across the cluster. A cross-partition variant
(GraphFrames connectedComponents) is only needed if components could
span groups — they cannot here (overlap is defined within a page).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame


def overlap_components(x0, y0, x1, y1, tol: float) -> list[list[int]]:
    """Member indices of each component of the overlap-or-touch graph of
    n boxes (four coordinate sequences), in order of first member: one
    union-find round — q_rect_components' components and each round of
    :func:`merge_rects_pandas`. Mirrors rects_overlap_or_touch
    (image_manager.py:82-101): intervals overlap with tolerance ``tol``
    in both axes."""
    n = len(x0)
    parent = list(range(n))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for i in range(n):
        for j in range(i + 1, n):
            if (
                x0[i] <= x1[j] + tol
                and x0[j] <= x1[i] + tol
                and y0[i] <= y1[j] + tol
                and y0[j] <= y1[i] + tol
            ):
                ri, rj = find(i), find(j)
                if ri != rj:
                    parent[rj] = ri
    comp: dict[int, list[int]] = {}
    for i in range(n):
        comp.setdefault(find(i), []).append(i)
    return list(comp.values())


def merge_rects_pandas(pdf: pd.DataFrame, tol: float) -> pd.DataFrame:
    """Union-find merge of overlapping-or-touching rects in one page group.

    Output: one row per component with the union bbox (A5) and member
    count, ordered (y0, x0) with 1-based idx (W1 enumeration).
    """
    # Fixpoint, not single-pass: fusing two rects grows the bbox, which can
    # newly overlap a third rect (image_manager.py:119-142 loops until no
    # change). Each round = union-find over the *current* boxes, then
    # bbox-union per component; converges in <= n rounds.
    boxes = [
        [float(a), float(b), float(c), float(d), 1]
        for a, b, c, d in zip(pdf["x0"], pdf["y0"], pdf["x1"], pdf["y1"])
    ]
    while True:
        comps = overlap_components(*([b[k] for b in boxes] for k in range(4)), tol)
        merged = [
            [
                min(boxes[m][0] for m in members),
                min(boxes[m][1] for m in members),
                max(boxes[m][2] for m in members),
                max(boxes[m][3] for m in members),
                sum(boxes[m][4] for m in members),
            ]
            for members in comps
        ]
        if len(merged) == len(boxes):
            boxes = merged
            break
        boxes = merged

    rows = []
    for b in boxes:
        rows.append(
            {
                "filename": pdf["filename"].iloc[0],
                "page": pdf["page"].iloc[0],
                "x0": b[0],
                "y0": b[1],
                "x1": b[2],
                "y1": b[3],
                "n_members": b[4],
            }
        )
    out = pd.DataFrame(rows).sort_values(["y0", "x0"]).reset_index(drop=True)
    out["idx"] = range(1, len(out) + 1)
    return out


MERGED_SCHEMA = (
    "filename string, page int, x0 double, y0 double, x1 double, y1 double, "
    "n_members long, idx int"
)


def merge_rects(figures: DataFrame, tol: float = 40.0) -> DataFrame:
    """Distributed fixpoint rect merge: one pandas group per (filename, page)."""
    return figures.groupBy("filename", "page").applyInPandas(
        lambda pdf: merge_rects_pandas(pdf, tol), schema=MERGED_SCHEMA
    )
