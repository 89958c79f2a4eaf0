"""t3/t4 Spark tests for rasterize + halo exchange + focal apply:
results must equal the single-array NumPy kernels (themselves golden-
tested against brute force) regardless of tile size — halo seams and
wrap handled correctly."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from engine import fixtures, grid, kernels, tiling, udfs


def tiles_df(spark, arr, T, level=10, band="class"):
    rows = fixtures.tiles_rows_from_array(arr, T, level, band)
    rows["data"] = rows["data"].map(list)
    return spark.createDataFrame(rows)


def collect_band(df, band, T):
    pdf = df.filter(F.col("band") == band).toPandas()
    return fixtures.array_from_tiles_rows(pdf, T)


@pytest.mark.parametrize("T", [16, 32])
@pytest.mark.parametrize("shape,r", [("square", 3), ("circle", 7)])
def test_focal_matches_full_array(spark, T, shape, r):
    arr = fixtures.raster_fixture()
    out = tiling.apply_focal(
        tiles_df(spark, arr, T), r, shape, ["mean", "count"], T, level=10
    )
    got_mean = collect_band(out, "mean", T)
    got_count = collect_band(out, "count", T)
    np.testing.assert_allclose(got_mean, kernels.focal_mean(arr, r, shape), rtol=1e-12, atol=1e-12)
    np.testing.assert_array_equal(got_count, kernels.focal_count(arr, r, shape))


def test_tile_size_invariance(spark):
    """t4: identical results for T ∈ {8, 16, 64} (seam correctness)."""
    arr = fixtures.raster_fixture(seed=5)
    ref = None
    for T in (8, 16, 64):
        out = tiling.apply_focal(tiles_df(spark, arr, T), 3, "circle", ["shannon"], T, level=10)
        got = collect_band(out, "shannon", T)
        if ref is None:
            ref = got
        else:
            np.testing.assert_allclose(got, ref, rtol=1e-12, atol=1e-12)
    np.testing.assert_allclose(ref, kernels.focal_shannon(arr, 3, "circle"), rtol=1e-12, atol=1e-12)


def test_rasterize_rejects_unknown_stat_every_strategy(spark):
    """Every strategy validates stat/value_col up front — the packed
    and salted merge kernels used to fall through to 'mean' on a typo'd
    stat and return silently-zero rasters."""
    docs = fixtures.documents_geo(spark, 50, seed=2)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), 7, 16)
    for strategy in ("packed", "agg", "salted"):
        with pytest.raises(ValueError, match="unknown stat"):
            tiling.rasterize(pts, 16, 7, stat="max", strategy=strategy)
        with pytest.raises(ValueError, match="needs value_col"):
            tiling.rasterize(pts, 16, 7, stat="sum", strategy=strategy)


def test_interspersion_registry_requires_class_domain(spark):
    """W10 is not absent-class-invariant per tile block: the string
    stat must refuse to run without the raster-wide domain, and with it
    the tiled result must match the full-array kernel even when single
    tile+halo blocks miss classes."""
    rng = np.random.default_rng(7)
    arr = rng.integers(0, 4, size=(32, 32)).astype(np.float64)
    arr[:16, :16] = 0.0  # a whole quadrant missing classes 1-3
    T = 8
    with pytest.raises(ValueError, match="class_domain"):
        tiling.apply_focal(tiles_df(spark, arr, T), 2, "square",
                           ["interspersion"], T, level=10)
    dom = np.unique(arr)
    out = tiling.apply_focal(tiles_df(spark, arr, T), 2, "square",
                             ["interspersion"], T, level=10, class_domain=dom)
    got = collect_band(out, "interspersion", T)
    want = kernels.focal_interspersion(arr, 2, "square", classes=dom)
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12, equal_nan=True)


def test_focal_proportion_registry(spark):
    """W5 via the stats registry: 'proportion:<class>' names resolve."""
    arr = fixtures.raster_fixture(seed=4)
    T = 16
    out = tiling.apply_focal(
        tiles_df(spark, arr, T), 3, "circle", ["proportion:2"], T, level=10
    )
    got = collect_band(out, "proportion:2", T)
    np.testing.assert_allclose(
        got, kernels.focal_proportion(arr, 3, 2.0, "circle"), rtol=1e-12, atol=1e-12
    )


def test_focal_multi_stat_single_exchange(spark):
    arr = fixtures.raster_fixture(seed=9)
    T = 16
    stats = ["mean", "min", "max", "richness", "majority", "edge_density"]
    out = tiling.apply_focal(tiles_df(spark, arr, T), 2, "square", stats, T, level=10)
    for s in stats:
        got = collect_band(out, s, T)
        want = tiling.KERNELS[s](arr, 2, "square")
        np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)


def test_halo_wrap_lon_seam(spark):
    """wrap=True: window crossing the x seam sees the far side's cells."""
    arr = fixtures.raster_fixture(seed=11, wrap=True)
    T, r = 16, 3
    nx = arr.shape[1] // T
    out = tiling.apply_focal(
        tiles_df(spark, arr, T), r, "square", ["mean"], T, level=10, wrap_nx=nx
    )
    got = collect_band(out, "mean", T)
    # reference: pad the array by horizontal wrap then compute
    wrapped = np.concatenate([arr[:, -r:], arr, arr[:, :r]], axis=1)
    want = kernels.focal_mean(wrapped, r, "square")[:, r:-r]
    np.testing.assert_allclose(got, want, rtol=1e-12, atol=1e-12)
    # and differs from the non-wrapped result at the seam
    plain = collect_band(
        tiling.apply_focal(tiles_df(spark, arr, T), r, "square", ["mean"], T, level=10),
        "mean", T,
    )
    assert not np.allclose(np.nan_to_num(plain[:, 0]), np.nan_to_num(got[:, 0]))


def numpy_halo_rows(tiles_pdf, T, g, wrap_nx):
    """Reference halo emit: slice every tile's center payload and the
    g-deep strips its 8 neighbors need straight out of the NumPy array."""
    out = []
    for row in tiles_pdf.itertuples(index=False):
        arr = np.asarray(row.data, dtype=np.float64).reshape(row.nrows, row.ncols)
        for dy in (-1, 0, 1):
            y0, y1 = max(0, dy * T - g), min(row.nrows, dy * T + T + g)
            for dx in (-1, 0, 1):
                x0, x1 = max(0, dx * T - g), min(row.ncols, dx * T + T + g)
                dst_x, dst_y = row.tile_x + dx, row.tile_y + dy
                if wrap_nx is not None:
                    dst_x %= wrap_nx
                if y0 >= y1 or x0 >= x1 or dst_x < 0 or dst_y < 0:
                    continue
                sub = arr[y0:y1, x0:x1]
                out.append(
                    {"dst_tx": dst_x, "dst_ty": dst_y, "band": row.band,
                     "is_center": dx == 0 and dy == 0,
                     "oy": y0 - dy * T + g, "ox": x0 - dx * T + g,
                     "nrows": sub.shape[0], "ncols": sub.shape[1],
                     "data": sub.ravel()}
                )
    return pd.DataFrame(out)


@pytest.mark.parametrize("wrap_nx", [None, 4])
def test_halo_jvm_matches_python(spark, wrap_nx):
    """The codegen'd (slice/transform) halo emitter is row-for-row,
    byte-for-byte equal to a NumPy slicing reference — including ragged
    bottom-edge tiles (nrows < T) and lon wrap."""
    T, g = 16, 5
    rng = np.random.default_rng(1)
    rows = []
    for ty in range(3):
        for tx in range(4):
            nr = T if ty < 2 else 11
            # one oversized-payload tile (ncols > T+g) exercises the
            # w != ncols guard in the dx==0 branch
            nc = T + g + 3 if (tx, ty) == (1, 1) else T
            arr = rng.random(nr * nc)
            arr[rng.random(nr * nc) < 0.1] = np.nan
            rows.append(
                {"tile_x": tx, "tile_y": ty, "level": 8, "band": "b",
                 "nrows": nr, "ncols": nc, "data": arr}
            )
    tiles_pdf = pd.DataFrame(rows)
    tiles = spark.createDataFrame(tiles_pdf, schema=tiling.TILES_SCHEMA)
    key = ["dst_tx", "dst_ty", "band", "is_center", "oy", "ox"]
    exchanged = tiling.halo_exchange(tiles, T, g, wrap_nx=wrap_nx)
    assert exchanged.dtypes == [
        ("dst_tx", "int"), ("dst_ty", "int"), ("band", "string"),
        ("is_center", "boolean"), ("oy", "int"), ("ox", "int"),
        ("nrows", "int"), ("ncols", "int"), ("data", "array<double>"),
    ]
    a = exchanged.toPandas().sort_values(key).reset_index(drop=True)
    b = numpy_halo_rows(tiles_pdf, T, g, wrap_nx).sort_values(key).reset_index(drop=True)
    assert len(a) == len(b)
    assert (a[key + ["nrows", "ncols"]].values == b[key + ["nrows", "ncols"]].values).all()
    for x, y in zip(a["data"], b["data"]):
        assert np.asarray(x, dtype=np.float64).tobytes() == y.tobytes()


def brute_rasterize_count(pdf, level, T):
    ids = grid.cell_encode(pdf.lat.to_numpy(), pdf.lon.to_numpy(), level)
    tx, ty, ti, tj = grid.cell_to_tile(ids, T)
    out = {}
    for a, b, c, d in zip(tx, ty, ti, tj):
        key = (a, b)
        g = out.setdefault(key, np.zeros((T, T)))
        g[d, c] += 1
    return out


@pytest.mark.parametrize("strategy", ["agg", "salted", "packed"])
def test_rasterize_matches_brute(spark, strategy):
    level, T = 8, 16
    docs = fixtures.documents_geo(spark, 2000, seed=42)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), level, T)
    tiles = tiling.rasterize(pts, T, level, stat="count", strategy=strategy, n_salts=4)
    got = {
        (r.tile_x, r.tile_y): np.asarray(r.data, dtype=np.float64).reshape(T, T)
        for r in tiles.collect()
    }
    pts_pdf = pts.select("lat", "lon").toPandas()
    want = brute_rasterize_count(pts_pdf, level, T)
    assert set(got) == set(want)
    for k in want:
        g = got[k]
        w = want[k].copy()
        w[w == 0] = np.nan
        np.testing.assert_array_equal(np.isnan(g), np.isnan(w))
        np.testing.assert_array_equal(g[~np.isnan(g)], w[~np.isnan(w)])


def test_rasterize_strategies_agree_and_spans_survive(spark):
    """t4 salted == unsalted; and the points df still carries spans
    untouched through encode (span invariant on the operator chain)."""
    level, T = 8, 16
    docs = fixtures.documents_geo(spark, 1000, seed=1)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), level, T)
    # span invariant: encode did not touch spans
    orig = {r.doc_id: r.spans for r in docs.collect()}
    after = {r.doc_id: r.spans for r in pts.collect()}
    assert orig == after
    a = tiling.rasterize(pts, T, level, strategy="agg").collect()
    b = tiling.rasterize(pts, T, level, strategy="salted", n_salts=3).collect()
    c = tiling.rasterize(pts, T, level, strategy="packed").collect()
    ka = {(r.tile_x, r.tile_y): np.asarray(r.data, dtype=np.float64) for r in a}
    kb = {(r.tile_x, r.tile_y): np.asarray(r.data, dtype=np.float64) for r in b}
    kc = {(r.tile_x, r.tile_y): np.asarray(r.data, dtype=np.float64) for r in c}
    assert set(ka) == set(kb) == set(kc)
    for k in ka:
        np.testing.assert_array_equal(
            np.nan_to_num(ka[k], nan=-1), np.nan_to_num(kb[k], nan=-1)
        )
        np.testing.assert_array_equal(
            np.nan_to_num(ka[k], nan=-1), np.nan_to_num(kc[k], nan=-1)
        )


def test_rasterize_packed_sum_mean_match_agg(spark):
    """packed == agg for the value-carrying stats too (sum/mean; the
    packed partials carry a second float64 plane for value sums)."""
    level, T = 8, 16
    docs = fixtures.documents_geo(spark, 1500, seed=3)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), level, T)
    pts = pts.withColumn(
        "w", (F.abs(F.xxhash64("doc_id")) % 7).cast("double") + 0.5
    )
    for stat in ("sum", "mean"):
        a = tiling.rasterize(pts, T, level, stat=stat, value_col="w",
                             strategy="agg").collect()
        b = tiling.rasterize(pts, T, level, stat=stat, value_col="w",
                             strategy="packed").collect()
        ka = {(r.tile_x, r.tile_y): np.asarray(r.data, dtype=np.float64) for r in a}
        kb = {(r.tile_x, r.tile_y): np.asarray(r.data, dtype=np.float64) for r in b}
        assert set(ka) == set(kb)
        for k in ka:
            np.testing.assert_allclose(
                np.nan_to_num(ka[k], nan=-1), np.nan_to_num(kb[k], nan=-1),
                rtol=1e-12, atol=1e-12,
            )


def test_flagship_end_to_end(spark):
    """M1: documents → geocode → cell/tile encode → rasterize → circular
    r=7 focal mean of document density. The full hot path."""
    level, T = 9, 32
    docs = fixtures.documents_geo(spark, 5000, seed=42)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), level, T)
    tiles = tiling.rasterize(pts, T, level, stat="count")
    out = tiling.apply_focal(tiles, 7, "circle", ["mean"], T, level=level,
                             wrap_nx=(2 ** level) // T)
    res = out.collect()
    assert len(res) > 0
    total_pts = sum(np.nansum(np.asarray(r.data, dtype=np.float64)) for r in tiles.collect())
    assert total_pts == 5000


def test_rasterize_packed_plan_one_exchange(spark):
    """The packed strategy's physical plan: exactly ONE exchange (the
    tile-key merge of packed partials) — the map-side partial pass is
    shuffle-free — and the pre-UDF projection keeps every non-essential
    column (spans!) out of the Arrow crossing."""
    level, T = 8, 16
    docs = fixtures.documents_geo(spark, 200, seed=2)
    pts = udfs.with_cell_and_tile(udfs.geocode_cols(docs), level, T)
    df = tiling.rasterize(pts, T, level, strategy="packed")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange hashpartitioning") == 1, plan
    # the mapInPandas input carries only the coordinate cols (no spans)
    import re

    m = re.search(r"MapInPandas.*?\[([^\]]*)\]", plan)
    assert m is not None
    assert "spans" not in m.group(0)
