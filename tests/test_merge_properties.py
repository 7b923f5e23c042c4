"""Property tests for the A1 merge (SURVEY §5.3): guarantees the
reference's greedy algorithm does NOT have, established for ours.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import ast_data_pipeline_spark.operators.merge as M
from ast_data_pipeline_spark.operators.merge import (
    _adjacency_batched,
    _component_labels,
    _merge_partition,
    merge_oracle_sql,
)
from ast_data_pipeline_spark.operators.spatial import adjacency_predicate_sql

DIST = 5


def _boxes(draw_n, seed):
    rng = np.random.RandomState(seed)
    x0 = rng.randint(0, 500, draw_n)
    y0 = rng.randint(0, 500, draw_n)
    w = rng.randint(1, 60, draw_n)
    h = rng.randint(1, 60, draw_n)
    return np.stack([x0, y0, x0 + w, y0 + h], axis=1).astype(np.int64)


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 10_000), st.integers(1, 60))
def test_components_are_fixpoint(seed, n):
    b = _boxes(n, seed)
    comp = _component_labels(b, np.array([0, n]), DIST)
    # merge each component to its union bbox, then re-run: no further merges
    merged = []
    for c in np.unique(comp):
        m = b[comp == c]
        merged.append([m[:, 0].min(), m[:, 1].min(), m[:, 2].max(), m[:, 3].max()])
    merged = np.array(merged, dtype=np.int64)
    # every member is contained in its component bbox
    for i, c in enumerate(np.unique(comp)):
        m = b[comp == c]
        u = merged[i]
        assert (m[:, 0] >= u[0]).all() and (m[:, 1] >= u[1]).all()
        assert (m[:, 2] <= u[2]).all() and (m[:, 3] <= u[3]).all()
    # component count never exceeds box count
    assert len(merged) <= len(b)


@settings(max_examples=20, deadline=None)
@given(st.integers(0, 10_000))
def test_adjacency_symmetric_and_matches_scalar(seed):
    b = _boxes(25, seed)
    adj = _adjacency_batched(b[None], DIST)[0]
    assert (adj == adj.T).all()
    # scalar re-implementation of the reference's calc_sim
    # (src/form_calcs.py:716-750) as ground truth
    def calc_sim(b1, b2):
        x_dist = min(abs(b2[0] - b1[2]), abs(b2[2] - b1[0]))
        y_dist = min(abs(b2[1] - b1[3]), abs(b2[3] - b1[1]))
        if b2[0] <= b1[0] and b2[1] <= b1[1] and b2[2] >= b1[2] and b2[3] >= b1[3]:
            return True
        if b1[0] <= b2[0] and b1[1] <= b2[1] and b1[2] >= b2[2] and b1[3] >= b2[3]:
            return True
        if x_dist <= DIST and b1[1] <= b2[1] and b1[3] >= b2[3]:
            return True
        if x_dist <= DIST and b2[1] <= b1[1] and b2[3] >= b1[3]:
            return True
        if y_dist <= DIST and b1[0] <= b2[0] and b1[2] >= b2[2]:
            return True
        if y_dist <= DIST and b2[0] <= b1[0] and b2[2] >= b1[2]:
            return True
        return False

    for i in range(len(b)):
        for j in range(len(b)):
            if i != j:
                assert adj[i, j] == calc_sim(b[i], b[j]), (i, j, b[i], b[j])


def test_merge_partition_idempotent():
    # feeding the merge output back in (as singleton candidates) is a no-op
    pdf = pd.DataFrame(
        {
            "annot_id": [1, 2, 3, 4],
            "tile_key": [10, 10, 10, 10],
            "tile_name": ["t"] * 4,
            "image_name": ["t_00_00", "t_00_01", "t_00_00", "t_05_05"],
            "object_class": ["closed_roof_tank"] * 2 + ["water_tower", "spherical_tank"],
            "gxmin": [0, 104, 0, 4000],
            "gymin": [0, 0, 50, 4000],
            "gxmax": [100, 200, 60, 4100],
            "gymax": [100, 90, 60, 4100],
        }
    )
    out1 = pd.concat(list(_merge_partition([pdf], DIST)), ignore_index=True)
    back = out1.rename(columns={"component_id": "annot_id"}).assign(
        image_name=[n[0] for n in out1["image_names"]]
    )[pdf.columns]
    out2 = pd.concat(list(_merge_partition([back], DIST)), ignore_index=True)
    assert len(out2) == len(out1)
    assert (
        out2[["gxmin", "gymin", "gxmax", "gymax"]].to_numpy()
        == out1[["gxmin", "gymin", "gxmax", "gymax"]].to_numpy()
    ).all()


def test_class_conflict_yields_undefined():
    pdf = pd.DataFrame(
        {
            "annot_id": [1, 2],
            "tile_key": [10, 10],
            "tile_name": ["t", "t"],
            "image_name": ["t_00_00", "t_00_01"],
            "object_class": ["closed_roof_tank", "water_tower"],
            "gxmin": [0, 104],
            "gymin": [0, 0],
            "gxmax": [100, 200],
            "gymax": [100, 100],
        }
    )
    out = pd.concat(list(_merge_partition([pdf], DIST)), ignore_index=True)
    assert len(out) == 1
    assert out["object_class"].iat[0] == "undefined_object"
    assert out["merged_bbox"].iat[0]
    assert out["image_names"].iat[0] == ["t_00_00", "t_00_01"]


def _ref_labels(b: np.ndarray, bounds: np.ndarray) -> np.ndarray:
    """Reference labelling: per tile, the full O(n^2) calc_sim matrix
    (one broadcast, no grid cells, no chunking) and a breadth-first
    search from each tile's lowest unvisited row, so every component
    is labelled with its minimum member row index."""
    ref = np.empty(len(b), dtype=np.int64)
    for s, e in zip(bounds[:-1].tolist(), bounds[1:].tolist()):
        t = b[s:e].astype(np.int64)
        b1, b2 = t[:, None, :], t[None, :, :]
        x_dist = np.minimum(abs(b2[..., 0] - b1[..., 2]), abs(b2[..., 2] - b1[..., 0]))
        y_dist = np.minimum(abs(b2[..., 1] - b1[..., 3]), abs(b2[..., 3] - b1[..., 1]))
        inside = (b2 <= b1)[..., :2].all(-1) & (b2 >= b1)[..., 2:].all(-1)
        span_y = (b1[..., 1] <= b2[..., 1]) & (b1[..., 3] >= b2[..., 3])
        span_x = (b1[..., 0] <= b2[..., 0]) & (b1[..., 2] >= b2[..., 2])
        adj = inside | (x_dist <= DIST) & span_y | (y_dist <= DIST) & span_x
        adj = adj | adj.T
        seen = np.zeros(e - s, dtype=bool)
        for root in range(e - s):
            if seen[root]:
                continue
            seen[root] = True
            stack = [root]
            while stack:
                i = stack.pop()
                ref[s + i] = s + root
                nxt = np.flatnonzero(adj[i] & ~seen)
                seen[nxt] = True
                stack.extend(nxt.tolist())
    return ref


@settings(max_examples=30, deadline=None)
@given(st.integers(0, 10_000), st.integers(2, 200))
def test_gridded_components_match_full_matrix(seed, n):
    # grid-cell split of one tile must produce the exact partition of
    # the full matrix, including boxes straddling grid-cell borders
    # spread over several 1024-px grid cells, with chip pairs a few px
    # apart across the cell borders at 1024, 2048, 3072, so
    # cross-border stitching is actually exercised
    pdf = _candidates(np.random.RandomState(seed), np.array([n]), 4000)
    b = pdf[["gxmin", "gymin", "gxmax", "gymax"]].to_numpy(np.int64)
    bounds = np.array([0, n])
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(M, "SPLIT_THRESHOLD", 1)            # every tile splits
        grid = _component_labels(b, bounds, DIST)
    assert np.array_equal(_ref_labels(b, bounds), grid)


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 10_000), st.integers(1, 400))
def test_component_labels_match_per_tile_loop(seed, n_tiles):
    # the batched (chunk-padded) adjacency + single union-find must
    # emit EXACTLY the labels of a per-tile full-matrix loop: min
    # member row index per component
    rng = np.random.RandomState(seed)
    sizes = rng.randint(1, 30, n_tiles)
    bounds = np.r_[0, np.cumsum(sizes)]
    n = bounds[-1]
    x0 = rng.randint(0, 2000, n)
    y0 = rng.randint(0, 2000, n)
    b = np.stack(
        [x0, y0, x0 + rng.randint(1, 80, n), y0 + rng.randint(1, 80, n)], axis=1
    ).astype(np.int32)
    assert np.array_equal(_ref_labels(b, bounds), _component_labels(b, bounds, DIST))


def test_component_labels_mega_tile_routes_gridded(monkeypatch):
    # mixed partition with one tile over SPLIT_THRESHOLD: labels still
    # equal the per-tile full-matrix reference (grid cells for the big
    # tile, one group for each small one)
    monkeypatch.setattr(M, "SPLIT_THRESHOLD", 50)
    rng = np.random.RandomState(3)
    sizes = np.r_[rng.randint(1, 20, 40), 120, rng.randint(1, 20, 40)]
    bounds = np.r_[0, np.cumsum(sizes)]
    n = bounds[-1]
    x0 = rng.randint(0, 3000, n)
    y0 = rng.randint(0, 3000, n)
    b = np.stack(
        [x0, y0, x0 + rng.randint(1, 60, n), y0 + rng.randint(1, 60, n)], axis=1
    ).astype(np.int32)
    assert np.array_equal(_ref_labels(b, bounds), _component_labels(b, bounds, DIST))


def _candidates(rng, sizes, span):
    """Merge candidates for tiles of ``sizes`` boxes over ``span`` px,
    annot_ids shuffled so the partition's sort is exercised. Every
    third box and the next one are a truncated chip pair: split at a
    512-px chip border on x or y, 0..6 px apart, same extent on the
    other axis. Every other chip border is a GRID_CELL_PX cell border,
    so mega-tiles get pairs whose bboxes straddle two cells."""
    n = int(np.sum(sizes))
    lo = rng.randint(0, span, (n, 2))
    hi = lo + rng.randint(1, 80, (n, 2))
    a = np.arange(0, n - 1, 3)
    b = a + 1
    ax = rng.randint(0, 2, len(a))
    other = 1 - ax
    edge = 512 * rng.randint(1, span // 512 + 1, len(a))
    w_a, w_b = hi[a, ax] - lo[a, ax], hi[b, ax] - lo[b, ax]
    hi[a, ax] = edge - rng.randint(0, 4, len(a))
    lo[a, ax] = hi[a, ax] - w_a
    lo[b, ax] = edge + rng.randint(0, 4, len(a))
    hi[b, ax] = lo[b, ax] + w_b
    lo[b, other], hi[b, other] = lo[a, other], hi[a, other]
    tiles = np.repeat(np.arange(len(sizes)), sizes)
    return pd.DataFrame({
        "annot_id": rng.permutation(n) + 1000,
        "tile_key": tiles,
        "tile_name": [f"t{t}" for t in tiles],
        "image_name": [f"img{i}" for i in rng.randint(0, 9, n)],
        "object_class": rng.choice(["closed_roof_tank", "water_tower"], n, p=[0.9, 0.1]),
        "gxmin": lo[:, 0],
        "gymin": lo[:, 1],
        "gxmax": hi[:, 0],
        "gymax": hi[:, 1],
    })


def _rows(df: pd.DataFrame) -> list[tuple]:
    return [
        tuple(list(v) if c == "image_names" else v for c, v in zip(df.columns, r))
        for r in df.itertuples(index=False)
    ]


def _assert_matches_oracle(pdf: pd.DataFrame) -> None:
    """_merge_partition row for row against the DuckDB recursive-CTE
    oracle (operators.merge.merge_oracle_sql) on the same frame."""
    got = pd.concat(list(_merge_partition(iter([pdf]), DIST)), ignore_index=True)
    con = duckdb.connect()
    try:
        con.register("boxes", pdf)
        want = con.execute(
            merge_oracle_sql(
                "SELECT * FROM boxes",
                "SELECT * FROM boxes WHERE false",
                adjacency_predicate_sql("a", "b", DIST),
            )
            + " ORDER BY tile_key, component_id"
        ).fetch_df()
    finally:
        con.close()
    assert list(got.columns) == list(want.columns)
    assert _rows(got) == _rows(want)


@settings(max_examples=25, deadline=None)
@given(st.integers(0, 10_000), st.integers(1, 120))
def test_merge_partition_matches_duckdb_oracle(seed, n_tiles):
    # mixed partition: small tiles are one adjacency group each, tiles
    # past the (lowered) SPLIT_THRESHOLD split into grid-cell groups
    # with boxes straddling the 1024-px cell borders; one union-find
    # must give exactly the oracle's per-tile connected components
    rng = np.random.RandomState(seed)
    sizes = rng.randint(1, 40, n_tiles)
    sizes[rng.randint(0, n_tiles, 1 + n_tiles // 40)] = rng.randint(51, 400)
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(M, "SPLIT_THRESHOLD", 50)
        _assert_matches_oracle(_candidates(rng, sizes, 4000))


def test_mega_tile_past_split_threshold_matches_oracle():
    # hostile input: one tile past the shipped SPLIT_THRESHOLD beside
    # three small tiles, unpatched
    rng = np.random.RandomState(11)
    sizes = np.array([5000, 3, 12, 1])
    assert sizes[0] > M.SPLIT_THRESHOLD
    _assert_matches_oracle(_candidates(rng, sizes, 6000))


def test_dense_clique_raises_max_group(monkeypatch):
    # a tile past SPLIT_THRESHOLD whose boxes all crowd one grid cell
    # is an input pathology: named error, not an n^2 allocation
    monkeypatch.setattr(M, "MAX_GROUP", 100)
    n = M.SPLIT_THRESHOLD + 1
    pdf = _candidates(np.random.RandomState(5), np.array([n]), 600)
    with pytest.raises(ValueError, match="dense clique"):
        list(_merge_partition(iter([pdf]), DIST))


def test_mega_tile_does_not_trip_max_group(monkeypatch):
    # one tile far bigger than its peers: the grid-cell split must
    # engage (SPLIT_THRESHOLD lowered) and return the same merge as the
    # tile as one group, with no MAX_GROUP error
    rng = np.random.RandomState(7)
    n = 600
    x0 = rng.randint(0, 3000, n)
    y0 = rng.randint(0, 3000, n)
    b = np.stack([x0, y0, x0 + rng.randint(1, 60, n), y0 + rng.randint(1, 60, n)], axis=1)

    def run():
        pdf = pd.DataFrame({
            "annot_id": np.arange(n),
            "tile_key": np.r_[np.zeros(n - 3, dtype=int), [1, 1, 2]],
            "tile_name": ["mega"] * (n - 3) + ["small", "small", "tiny"],
            "image_name": [f"img{i % 9}" for i in range(n)],
            "object_class": ["closed_roof_tank"] * n,
            "gxmin": b[:, 0], "gymin": b[:, 1], "gxmax": b[:, 2], "gymax": b[:, 3],
        })
        out = list(_merge_partition(iter([pdf]), DIST))[0]
        return sorted(map(tuple, out[["tile_key", "component_id", "n_members"]].values))

    baseline = run()                                   # one group per tile
    monkeypatch.setattr(M, "SPLIT_THRESHOLD", 50)      # force grid cells
    assert run() == baseline
