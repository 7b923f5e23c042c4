"""A1 — per-tile bounding-box merge as connected components
(SURVEY.md §2.5 A1; ref: src/form_calcs.py:753-792 merge_algo +
driver 812-985).

The reference runs a greedy single pass with in-loop deletes, which is
order-dependent and not a fixpoint. Per SURVEY §7 the engine computes
the deterministic fixpoint instead: connected components over the P14
adjacency graph (J7 edges), then one aggregate per component — a
superset of every greedy result and idempotent (property-tested).

Class conflicts inside a component yield ``undefined_object`` — the
reference *intends* this (src/form_calcs.py:782-783) but immediately
overwrites it with the first box's class (latent bug, :784); we
implement the intended rule.

Execution shape: ``repartition(tile_key).mapInPandas`` over the merge
candidates only — one shuffle on tile_key, then one labelling pass per
partition (``_component_labels``). Its unit of work is a *group* of
row indices that get the all-pairs P14 test: a tile is one group, so
the O(n^2) test is per-tile local work and at 100 TB scales linearly
with tiles across executors. A mega-tile (one tile with far more
candidates than its peers) gets no automatic AQE skew split inside a
hash repartition, so past SPLIT_THRESHOLD it contributes one group per
PBSM grid cell instead (``_grid_cells``): memory linear in cell
occupancy instead of quadratic in tile size. Every group goes through
the same size-sorted chunks of one batched evaluator
(``_adjacency_batched``) and one union-find, which stitches components
across cell borders — the same fixpoint either way. Only a genuinely
dense single-cell clique still errors (MAX_GROUP).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

MERGE_SCHEMA = (
    "tile_key long, tile_name string, component_id long, object_class string, "
    "image_names array<string>, gxmin int, gymin int, gxmax int, gymax int, "
    "n_members long, merged_bbox boolean"
)

MAX_GROUP = 100_000  # defensive bound for one grid cell's candidate count
# Above this many candidates, a tile is split into PBSM grid-cell groups
# (_grid_cells) instead of one n^2 adjacency group: same components,
# memory bounded per cell.
SPLIT_THRESHOLD = 4096
GRID_CELL_PX = 1024

_OUT_COLS = (
    "tile_key", "tile_name", "component_id", "object_class", "image_names",
    "gxmin", "gymin", "gxmax", "gymax", "n_members", "merged_bbox",
)

# Max padded (group, i, j) cells per batched-adjacency chunk: bounds the
# chunk's numpy allocations (~1 MB per int32 intermediate) regardless
# of how many groups a partition holds.
_CELL_BUDGET = 1 << 18


def _adjacency_batched(p: np.ndarray, dist_limit: int) -> np.ndarray:
    """Vectorized P14 over all pairs within each group: ``p`` is
    (T, m, 4) padded [xmin, ymin, xmax, ymax] boxes; returns (T, m, m).
    Axis -2 is box a (rows), axis -1 is box b (cols); the six arms are
    the reference's calc_sim (src/form_calcs.py:716-750) and
    ``spatial.adjacency_predicate`` term for term. One group is
    ``p[None]``; tests/test_merge_properties.py pins that form against
    a scalar calc_sim."""
    x0, y0, x1, y1 = p[..., 0], p[..., 1], p[..., 2], p[..., 3]
    x_dist = np.minimum(
        np.abs(x0[:, None, :] - x1[:, :, None]), np.abs(x1[:, None, :] - x0[:, :, None])
    )
    y_dist = np.minimum(
        np.abs(y0[:, None, :] - y1[:, :, None]), np.abs(y1[:, None, :] - y0[:, :, None])
    )
    a_in_b = (
        (x0[:, None, :] <= x0[:, :, None]) & (y0[:, None, :] <= y0[:, :, None])
        & (x1[:, None, :] >= x1[:, :, None]) & (y1[:, None, :] >= y1[:, :, None])
    )
    b_in_a = a_in_b.transpose(0, 2, 1)
    x_close_a_covers = (x_dist <= dist_limit) & (
        (y0[:, :, None] <= y0[:, None, :]) & (y1[:, :, None] >= y1[:, None, :])
    )
    y_close_a_covers = (y_dist <= dist_limit) & (
        (x0[:, :, None] <= x0[:, None, :]) & (x1[:, :, None] >= x1[:, None, :])
    )
    return (
        a_in_b | b_in_a
        | x_close_a_covers | x_close_a_covers.transpose(0, 2, 1)
        | y_close_a_covers | y_close_a_covers.transpose(0, 2, 1)
    )


def _grid_cells(b: np.ndarray, dist_limit: int) -> tuple[np.ndarray, np.ndarray]:
    """Mega-tile groups: ``(members, bounds)`` with grid cell g's row
    indices into ``b`` (ascending) at ``members[bounds[g]:bounds[g+1]]``
    — the same layout as a partition's tile bounds.

    PBSM-style (like operators/spatial.grid_cell_intersect_join, the
    J8 non-broadcast path): every P14-adjacent pair either intersects
    (containment arm) or sits within ``dist_limit`` on one axis and
    overlaps on the other (closeness arms), so the two boxes' bboxes
    expanded by ``dist_limit`` always intersect — meaning the pair
    co-occurs in at least one grid cell when each box registers in
    every cell its expanded bbox overlaps. Adjacency per cell then
    finds every edge of the tile with bounded memory, and the caller's
    one union-find stitches components across cell borders.

    A cell that still exceeds MAX_GROUP is a genuine ~dense clique in
    one 1024-px neighborhood — that is an input pathology, not a
    partitioning failure, and raises.
    """
    cell = GRID_CELL_PX
    cx0 = (b[:, 0] - dist_limit) // cell
    cy0 = (b[:, 1] - dist_limit) // cell
    ny = (b[:, 3] + dist_limit) // cell - cy0 + 1
    per_box = ((b[:, 2] + dist_limit) // cell - cx0 + 1) * ny
    # one registration per (box, overlapped cell): box rows[r] takes the
    # k-th cell of its expanded-bbox cell range, row-major
    rows = np.repeat(np.arange(len(b)), per_box)
    k = np.arange(len(rows)) - np.repeat(np.cumsum(per_box) - per_box, per_box)
    gx = cx0[rows] + k // ny[rows]
    gy = cy0[rows] + k % ny[rows]
    order = np.lexsort((rows, gy, gx))
    gx, gy = gx[order], gy[order]
    bounds = np.flatnonzero(np.r_[True, (gx[1:] != gx[:-1]) | (gy[1:] != gy[:-1]), True])
    m = int(np.diff(bounds).max())
    if m > MAX_GROUP:
        raise ValueError(
            f"grid cell holds {m} merge candidates (> {MAX_GROUP}); "
            "input is a dense clique — pre-aggregate this tile"
        )
    return rows[order], bounds


def _component_labels(boxes_all: np.ndarray, bounds: np.ndarray, dist_limit: int) -> np.ndarray:
    """Component label (min member row index) for every row of a
    tile-sorted partition (tile t is rows ``bounds[t]:bounds[t+1]``),
    all tiles at once.

    The unit of work is a group of row indices whose every pair gets
    the P14 test. Each tile of 2..SPLIT_THRESHOLD rows is one group, a
    run of ``arange(n)``; a larger tile contributes one group per PBSM
    grid cell (``_grid_cells``), so its memory stays bounded by cell
    occupancy. Groups are sorted by size and cut into chunks, each one
    padded (T, m, m) ``_adjacency_batched`` evaluation — per-group
    numpy calls at ~10 rows per tile cost far more than the arithmetic.
    A single union-find consumes every chunk's sparse edge list, and
    labels come from vectorized pointer-jumping. The union rule (larger
    root under smaller) makes every component's root its minimum member
    row index regardless of edge order, so labels depend neither on the
    chunking nor on whether a tile was split into cells.
    """
    n = len(boxes_all)
    tile_sizes = np.diff(bounds)
    mega = tile_sizes > SPLIT_THRESHOLD
    # groups: members[starts[g] : starts[g] + sizes[g]]; mega-tiles are
    # zero-size tile groups plus their cells, appended after arange(n)
    members, starts, sizes = [np.arange(n)], [bounds[:-1]], [np.where(mega, 0, tile_sizes)]
    offset = n
    for t in np.flatnonzero(mega).tolist():
        s, e = int(bounds[t]), int(bounds[t + 1])
        cell_rows, cell_bounds = _grid_cells(boxes_all[s:e], dist_limit)
        members.append(s + cell_rows)
        starts.append(offset + cell_bounds[:-1])
        sizes.append(np.diff(cell_bounds))
        offset += len(cell_rows)
    members, starts, sizes = map(np.concatenate, (members, starts, sizes))

    parent = np.arange(n)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    multi = np.flatnonzero(sizes > 1)
    # ascending size order: each chunk pads to ITS max group size, so a
    # lone big group cannot inflate every small group's padding
    order = multi[np.argsort(sizes[multi], kind="stable")]
    pos = 0
    while pos < len(order):
        end = pos + 1
        m_first = int(sizes[order[pos]])
        while end < len(order):
            m_next = int(sizes[order[end]])
            # cap chunk cells AND keep sizes within 2x of the chunk's
            # smallest so padding waste stays bounded
            if (end - pos + 1) * m_next * m_next > _CELL_BUDGET or m_next > 2 * m_first:
                break
            end += 1
        chunk = order[pos:end]
        pos = end
        m = int(sizes[chunk[-1]])
        k = np.arange(m)
        valid = k[None, :] < sizes[chunk][:, None]
        idx = members[np.where(valid, starts[chunk][:, None] + k[None, :], 0)]
        adj = _adjacency_batched(boxes_all[idx], dist_limit)
        # valid is a prefix per group, so a valid j > i implies a valid i
        t, i, j = np.nonzero(adj & valid[:, None, :] & (k[:, None] < k[None, :]))
        for a, b in zip(idx[t, i].tolist(), idx[t, j].tolist()):
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    # vectorized find: pointer-jump every row to its root (acyclic,
    # parents always point to smaller indices -> converges in O(log))
    while True:
        hop = parent[parent]
        if np.array_equal(hop, parent):
            break
        parent = hop
    return parent


def _merge_partition(batches, dist_limit: int):
    """mapInPandas body: all tiles hash-assigned to this partition.

    One Python/Arrow round trip per partition (not per tile) — the
    partition's tiles are labelled together by ``_component_labels``.
    Memory bound: one shuffle partition of candidate rows.

    Output is assembled in two paths: singleton components (the vast
    majority — a candidate box that touches nothing merges with
    nothing) are emitted as vectorized column copies, and only genuine
    multi-member components walk the per-component aggregation loop.
    Without the split, the loop's ~10 small numpy/set ops per component
    ran once per *input row* and dominated the stage's wall-clock.
    """
    pdfs = [p for p in batches if len(p)]
    if not pdfs:
        return
    pdf = pd.concat(pdfs, ignore_index=True)
    pdf = pdf.sort_values(["tile_key", "annot_id"], kind="mergesort").reset_index(drop=True)
    tk = pdf["tile_key"].to_numpy()
    bounds = np.flatnonzero(np.r_[True, tk[1:] != tk[:-1], True])
    # int32: tile-global px coords are < 2^15, and halving the element
    # width halves the batched-adjacency memory traffic (its cost is
    # allocation/bandwidth-bound, not ALU-bound)
    boxes_all = pdf[["gxmin", "gymin", "gxmax", "gymax"]].to_numpy(np.int32)
    ids = pdf["annot_id"].to_numpy()
    names = pdf["image_name"].to_numpy()
    classes = pdf["object_class"].to_numpy()
    tnames = pdf["tile_name"].to_numpy()

    # Component labels, globally unique across tiles (= min member row
    # index): batched adjacency over size-sorted group chunks + one
    # union-find, see _component_labels.
    comp_global = _component_labels(boxes_all, bounds, dist_limit)

    _, inverse, counts = np.unique(comp_global, return_inverse=True, return_counts=True)
    single = counts[inverse] == 1

    frames = []
    if single.any():
        frames.append(pd.DataFrame({
            "tile_key": tk[single],
            "tile_name": tnames[single],
            "component_id": ids[single],
            "object_class": classes[single],
            # reshape->tolist builds the 1-element lists in C, ~6x the
            # per-row python listcomp
            "image_names": names[single].reshape(-1, 1).tolist(),
            "gxmin": boxes_all[single, 0],
            "gymin": boxes_all[single, 1],
            "gxmax": boxes_all[single, 2],
            "gymax": boxes_all[single, 3],
            "n_members": np.ones(int(single.sum()), dtype=np.int64),
            "merged_bbox": np.zeros(int(single.sum()), dtype=bool),
        }))

    multi_idx = np.flatnonzero(~single)
    if len(multi_idx):
        multi_idx = multi_idx[np.argsort(comp_global[multi_idx], kind="stable")]
        cg = comp_global[multi_idx]
        cbounds = np.flatnonzero(np.r_[True, cg[1:] != cg[:-1], True])
        out: dict[str, list] = {c: [] for c in _OUT_COLS}
        for s, e in zip(cbounds[:-1], cbounds[1:]):
            m = multi_idx[s:e]
            cls = set(classes[m])
            out["tile_key"].append(int(tk[m[0]]))
            out["tile_name"].append(tnames[m[0]])
            out["component_id"].append(int(ids[m].min()))
            out["object_class"].append(cls.pop() if len(cls) == 1 else "undefined_object")
            out["image_names"].append(sorted(set(names[m])))
            out["gxmin"].append(int(boxes_all[m, 0].min()))
            out["gymin"].append(int(boxes_all[m, 1].min()))
            out["gxmax"].append(int(boxes_all[m, 2].max()))
            out["gymax"].append(int(boxes_all[m, 3].max()))
            out["n_members"].append(int(len(m)))
            out["merged_bbox"].append(bool(len(m) > 1))
        frames.append(pd.DataFrame(out))

    res = pd.concat(frames, ignore_index=True)
    # Deterministic per-partition order regardless of which path
    # emitted a row (stable output files; positional test compares).
    yield res.sort_values(["tile_key", "component_id"], kind="mergesort", ignore_index=True)


def merge_tile_annotations(gann: DataFrame, dist_limit: int = 5) -> DataFrame:
    """Merge trunc/difficult candidate boxes per tile (A1); pass clean
    boxes through unmerged (F5 partition).

    Physical shape: two pushed-filter scans of the source (candidates /
    clean) — only the candidate subset shuffles (repartition on
    tile_key); the clean majority streams through narrow ops. Cheaper
    at scale than one scan + shuffling every row through the grouped map.

    Input needs: annot_id, tile_key, tile_name, image_name,
    object_class, truncated, difficult, gxmin/gymin/gxmax/gymax.
    """
    is_candidate = (F.col("truncated") == 1) | (F.col("difficult") == 1)
    base = gann.select(
        "annot_id", "tile_key", "tile_name", "image_name", "object_class",
        "truncated", "difficult", "gxmin", "gymin", "gxmax", "gymax",
    )
    cand = base.filter(is_candidate)
    clean = base.filter(~is_candidate)

    # Explicit partition count: bare repartition(col) lets AQE coalesce
    # by shuffle bytes, which serializes the CPU-bound per-tile merge
    # onto one task when candidate rows are few-but-expensive.
    n_part = int(cand.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    merged = cand.repartition(n_part, "tile_key").mapInPandas(
        lambda it: _merge_partition(it, dist_limit), schema=MERGE_SCHEMA
    )
    passthrough = clean.select(
        "tile_key",
        "tile_name",
        F.col("annot_id").alias("component_id"),
        "object_class",
        F.array("image_name").alias("image_names"),
        "gxmin", "gymin", "gxmax", "gymax",
        F.lit(1).cast("long").alias("n_members"),
        F.lit(False).alias("merged_bbox"),
    )
    return merged.unionByName(passthrough)


# DuckDB oracle for the merge: recursive-CTE connected components over
# the same P14 edges, aggregated identically. ``cand_sql`` must select
# annot_id, tile_key, tile_name, image_name, object_class,
# gxmin/gymin/gxmax/gymax. ``merge_oracle_ctes`` returns the CTE list
# (ending with ``merged_all``) so callers can extend the same
# WITH RECURSIVE scope; ``merge_oracle_sql`` is the standalone query.
def merge_oracle_ctes(cand_sql: str, clean_sql: str, adjacency_sql: str) -> str:
    return f"""
cand AS ({cand_sql}),
edges(src, dst) AS (
  SELECT a.annot_id, b.annot_id
  FROM cand a JOIN cand b
    ON a.tile_key = b.tile_key AND a.annot_id <> b.annot_id
  WHERE {adjacency_sql}
),
cc(id, comp) AS (
  SELECT annot_id, annot_id FROM cand
  UNION
  SELECT e.dst, cc.comp FROM cc JOIN edges e ON cc.id = e.src WHERE cc.comp < e.dst
),
lbl AS (SELECT id, min(comp) AS comp FROM cc GROUP BY id),
merged AS (
  SELECT c.tile_key AS tile_key,
         min(c.tile_name) AS tile_name,
         min(c.annot_id)::BIGINT AS component_id,
         (CASE WHEN count(DISTINCT c.object_class) = 1 THEN min(c.object_class)
               ELSE 'undefined_object' END) AS object_class,
         list_sort(list(DISTINCT c.image_name)) AS image_names,
         min(c.gxmin)::INT AS gxmin, min(c.gymin)::INT AS gymin,
         max(c.gxmax)::INT AS gxmax, max(c.gymax)::INT AS gymax,
         count(*)::BIGINT AS n_members,
         (count(*) > 1) AS merged_bbox
  FROM cand c JOIN lbl ON c.annot_id = lbl.id
  GROUP BY c.tile_key, lbl.comp
),
clean AS ({clean_sql}),
merged_all AS (
  SELECT * FROM merged
  UNION ALL
  SELECT tile_key, tile_name, annot_id::BIGINT AS component_id, object_class,
         [image_name] AS image_names,
         gxmin::INT, gymin::INT, gxmax::INT, gymax::INT,
         1::BIGINT AS n_members, false AS merged_bbox
  FROM clean
)
"""


def merge_oracle_sql(
    cand_sql: str, clean_sql: str, adjacency_sql: str, extra_ctes: str = ""
) -> str:
    prefix = f"{extra_ctes}," if extra_ctes else ""
    return (
        "WITH RECURSIVE\n"
        + prefix
        + merge_oracle_ctes(cand_sql, clean_sql, adjacency_sql)
        + "\nSELECT * FROM merged_all"
    )
