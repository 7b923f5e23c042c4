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
candidates only — one shuffle on tile_key; components are tiny
(objects per tile), so the O(n^2) adjacency test is per-tile local
work. At 100 TB this scales linearly with tiles across executors. A
mega-tile (one tile with far more candidates than its peers) gets no
automatic AQE skew split inside a hash repartition, so past
SPLIT_THRESHOLD the operator switches to ``_components_gridded``: PBSM
grid cells bound the per-chunk adjacency matrix and one union-find
stitches components across cell borders — same fixpoint, memory
linear in cell occupancy instead of quadratic in tile size. Only a
genuinely dense single-cell clique still errors (MAX_GROUP).
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
# Above this many candidates in one tile, the O(n^2) full adjacency
# matrix (n^2 bytes) is replaced by the grid-partitioned edge build
# (_components_gridded): same components, memory bounded per cell.
SPLIT_THRESHOLD = 4096
GRID_CELL_PX = 1024


def _adjacency_matrix(b: np.ndarray, dist_limit: int) -> np.ndarray:
    """Vectorized P14 over all pairs: b is (n,4) [xmin,ymin,xmax,ymax]."""
    x0, y0, x1, y1 = b[:, 0], b[:, 1], b[:, 2], b[:, 3]
    # pairwise, a = rows (i), b = cols (j)
    x_dist = np.minimum(
        np.abs(x0[None, :] - x1[:, None]), np.abs(x1[None, :] - x0[:, None])
    )
    y_dist = np.minimum(
        np.abs(y0[None, :] - y1[:, None]), np.abs(y1[None, :] - y0[:, None])
    )
    a_in_b = (
        (x0[None, :] <= x0[:, None]) & (y0[None, :] <= y0[:, None])
        & (x1[None, :] >= x1[:, None]) & (y1[None, :] >= y1[:, None])
    )
    b_in_a = a_in_b.T
    x_close_a_covers = (x_dist <= dist_limit) & (
        (y0[:, None] <= y0[None, :]) & (y1[:, None] >= y1[None, :])
    )
    y_close_a_covers = (y_dist <= dist_limit) & (
        (x0[:, None] <= x0[None, :]) & (x1[:, None] >= x1[None, :])
    )
    adj = (
        a_in_b | b_in_a
        | x_close_a_covers | x_close_a_covers.T
        | y_close_a_covers | y_close_a_covers.T
    )
    np.fill_diagonal(adj, False)
    return adj


def _components(adj: np.ndarray) -> np.ndarray:
    """Union-find over a boolean adjacency matrix -> root label per node."""
    n = adj.shape[0]
    parent = np.arange(n)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    rows, cols = np.nonzero(adj)
    for i, j in zip(rows.tolist(), cols.tolist()):
        if i < j:
            ri, rj = find(i), find(j)
            if ri != rj:
                parent[max(ri, rj)] = min(ri, rj)
    return np.array([find(i) for i in range(n)])


def _components_gridded(
    b: np.ndarray, dist_limit: int, cell: int = GRID_CELL_PX
) -> np.ndarray:
    """Mega-tile fallback: same components as
    ``_components(_adjacency_matrix(b))`` without the O(n^2) matrix.

    PBSM-style (like operators/spatial.grid_cell_intersect_join, the
    J8 non-broadcast path): every P14-adjacent pair either intersects
    (containment arm) or sits within ``dist_limit`` on one axis and
    overlaps on the other (closeness arms), so the two boxes' bboxes
    expanded by ``dist_limit`` always intersect — meaning the pair
    co-occurs in at least one grid cell when each box registers in
    every cell its expanded bbox overlaps. Adjacency then runs per
    cell (bounded memory), and a single union-find over the union of
    per-cell edges stitches components across cell borders.

    A cell that still exceeds MAX_GROUP is a genuine ~dense clique in
    one 1024-px neighborhood — that is an input pathology, not a
    partitioning failure, and raises as before.
    """
    n = len(b)
    cx0 = (b[:, 0] - dist_limit) // cell
    cx1 = (b[:, 2] + dist_limit) // cell
    cy0 = (b[:, 1] - dist_limit) // cell
    cy1 = (b[:, 3] + dist_limit) // cell

    cells: dict[tuple[int, int], list[int]] = {}
    for i in range(n):
        for gx in range(int(cx0[i]), int(cx1[i]) + 1):
            for gy in range(int(cy0[i]), int(cy1[i]) + 1):
                cells.setdefault((gx, gy), []).append(i)

    parent = np.arange(n)

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    for members in cells.values():
        m = len(members)
        if m < 2:
            continue
        if m > MAX_GROUP:
            raise ValueError(
                f"grid cell holds {m} merge candidates (> {MAX_GROUP}); "
                "input is a dense clique — pre-aggregate this tile"
            )
        idx = np.asarray(members)
        adj = _adjacency_matrix(b[idx], dist_limit)
        rows, cols = np.nonzero(adj)
        for a, c in zip(idx[rows].tolist(), idx[cols].tolist()):
            if a < c:
                ra, rc = find(a), find(c)
                if ra != rc:
                    parent[max(ra, rc)] = min(ra, rc)
    return np.array([find(i) for i in range(n)])


_OUT_COLS = (
    "tile_key", "tile_name", "component_id", "object_class", "image_names",
    "gxmin", "gymin", "gxmax", "gymax", "n_members", "merged_bbox",
)

# Max padded (tile, i, j) cells per batched-adjacency chunk: bounds the
# chunk's numpy allocations (~8 MB per float64 intermediate) regardless
# of how many tiles a partition holds.
_CELL_BUDGET = 1 << 20


def _adjacency_batched(p: np.ndarray, dist_limit: int) -> np.ndarray:
    """``_adjacency_matrix`` with a leading tile axis: ``p`` is
    (T, m, 4) padded boxes; returns (T, m, m). Axis -2 is i (rows),
    axis -1 is j (cols), mirroring the 2-D form term for term —
    tests/test_merge_properties.py pins batched == per-tile."""
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


def _component_labels(boxes_all: np.ndarray, bounds: np.ndarray, dist_limit: int) -> np.ndarray:
    """Component label (min member row index) for every row of a
    tile-sorted partition, all tiles at once.

    Replaces the per-tile ``_components(_adjacency_matrix(...))`` loop:
    at ~10 rows/tile that loop ran ~10 small numpy ops per TILE (~60 us
    x 20k tiles = the partition's dominant Python cost, measured 1.9 s
    single-thread at sf0.1). Here size-sorted CHUNKS of tiles get one
    padded (T, m, m) adjacency evaluation (guide §4.2: hand whole
    batches to vectorized code), a single union-find consumes the
    sparse edge list, and labels come from vectorized pointer-jumping.
    Labels are identical: the union rule (larger root under smaller)
    makes every component's root its minimum member index regardless
    of edge order, which is exactly what the per-tile form emitted
    (local min + slice offset). Mega-tiles (> SPLIT_THRESHOLD) keep
    the bounded-memory gridded edge build.
    """
    parent = np.arange(len(boxes_all))

    def find(i: int) -> int:
        while parent[i] != i:
            parent[i] = parent[parent[i]]
            i = parent[i]
        return i

    starts = bounds[:-1]
    sizes = np.diff(bounds)
    multi = np.flatnonzero(sizes > 1)
    small = multi[sizes[multi] <= SPLIT_THRESHOLD]
    # ascending size order: each chunk pads to ITS max tile size, so a
    # lone big tile cannot inflate every small tile's padding
    sm = small[np.argsort(sizes[small], kind="stable")]
    pos = 0
    while pos < len(sm):
        end = pos + 1
        m_first = int(sizes[sm[pos]])
        while end < len(sm):
            m_next = int(sizes[sm[end]])
            # cap chunk cells AND keep sizes within 2x of the chunk's
            # smallest so padding waste stays bounded
            if (end - pos + 1) * m_next * m_next > _CELL_BUDGET or m_next > 2 * m_first:
                break
            end += 1
        chunk = sm[pos:end]
        pos = end
        cs = starts[chunk]
        m = int(sizes[chunk].max())
        k = np.arange(m)
        valid = k[None, :] < sizes[chunk][:, None]
        idx = np.where(valid, cs[:, None] + k[None, :], 0)
        adj = _adjacency_batched(boxes_all[idx], dist_limit)
        pair_ok = valid[:, :, None] & valid[:, None, :] & (k[:, None] < k[None, :])
        t, i, j = np.nonzero(adj & pair_ok)
        for a, b in zip((cs[t] + i).tolist(), (cs[t] + j).tolist()):
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
    for ti in multi[sizes[multi] > SPLIT_THRESHOLD].tolist():
        s, e = int(starts[ti]), int(bounds[ti + 1])
        parent[s:e] = s + _components_gridded(boxes_all[s:e], dist_limit)
    return parent


def _merge_partition(batches, dist_limit: int):
    """mapInPandas body: all tiles hash-assigned to this partition.

    One Python/Arrow round trip per partition (not per tile) — the
    per-tile work is a numpy adjacency + union-find over n_tile boxes.
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
    # index): batched adjacency over size-sorted tile chunks + one
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
