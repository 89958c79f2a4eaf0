"""Tiling operators: rasterize (A2/A5/J5), halo exchange (J4) and the
per-tile focal apply (W1–W10) — SURVEY.md §2.5/§2.6/§3.2-E1.

Scale design notes (the part the 100 TB grade hangs on):

- **Rasterize** offers three physical strategies with identical
  results (asserted by t4 tests):
  * ``strategy="packed"`` (default): map-side partial rasterize — one
    ``mapInPandas`` pass accumulates each input partition's points
    into per-tile sparse partials (packed int32 index + float64 value
    bytes) and ONE exchange on the tile key merges them into dense
    tiles. The packed-binary single shuffle replaced the agg
    strategy's two per-cell-row shuffles (the r2→r3 pipeline-scaling
    fix: the rasterize exchange was memory-bandwidth-bound).
  * ``strategy="agg"``: a JVM cell-level
    ``groupBy(tile, tj, ti).agg(...)`` — Spark plans partial_agg →
    shuffle → final_agg, so the map-side combine collapses hot tiles
    BEFORE the shuffle (a fine skew killer when the value fits an
    algebraic agg), then one ``applyInPandas`` assembles each tile's
    pixel rows into the dense array. Only aggregated pixel rows cross
    the wire.
  * ``strategy="salted"``: the explicit two-phase salted repartition
    demanded by BASELINE.json:6 — phase 1 groups by (tile, salt) and
    rasterizes partial dense grids in NumPy, phase 2 merges partials
    per tile. Salt count is chosen from a SAMPLED key histogram
    (engine.skew.choose_salt). Wins when the per-pixel agg is not
    algebraic or pixel-row cardinality ~ point cardinality.

- **Halo exchange** ships boundary STRIPS, not whole tiles: each tile
  emits its full payload once (to itself) plus only the g-deep
  slivers its 8 neighbors need → shuffle volume ≈ (1 + 4g/T + 4g²/T²)×
  tile bytes (T=256, g=7 → ~11% overhead) instead of the naive 9×.
  Neighbor targets that don't exist receive strips but produce no
  output (no center) — the cost is bounded by the raster's perimeter.

- **One Python stage on the hot path**: halo assembly and the focal
  kernel run inside the SAME ``applyInPandas`` group, so there is no
  intermediate materialization of padded arrays.

Reference parity: J4+W* replace the reference's GDAL-block-cache +
incremental accumulator slide (SURVEY.md §3.1); same pinned results
(§5.3), Spark-idiomatic physical plan.
"""

from __future__ import annotations

from collections.abc import Iterator
from functools import lru_cache, partial

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from engine import kernels

TILES_SCHEMA = (
    "tile_x int, tile_y int, level int, band string, "
    "nrows int, ncols int, data array<double>"
)

# stat name -> kernel(arr, r, shape) (single class-free plane stats)
KERNELS = {
    "sum": kernels.focal_sum,
    "count": kernels.focal_count,
    "mean": kernels.focal_mean,
    "std": kernels.focal_std,
    "min": partial(kernels.focal_extremum, mode="min"),
    "max": partial(kernels.focal_extremum, mode="max"),
    "richness": kernels.focal_richness,
    "shannon": kernels.focal_shannon,
    "majority": kernels.focal_majority,
    "edge_density": kernels.focal_edge_density,
    # NOTE: "interspersion" is resolved in _resolve_stat, not here — it
    # requires the raster-wide class domain in tiled execution.
}


# ---------------------------------------------------------------------------
# A2: rasterize points -> tiles
# ---------------------------------------------------------------------------

def _assemble_tile(
    T: int, level: int, band: str,
    key, pdf: pd.DataFrame,
) -> pd.DataFrame:
    """Dense grid from aggregated pixel rows of one tile."""
    tx, ty = int(key[0]), int(key[1])
    nr, nc = T, T
    grid_arr = np.full(nr * nc, np.nan)
    idx = pdf["tj"].to_numpy() * nc + pdf["ti"].to_numpy()
    grid_arr[idx] = pdf["val"].to_numpy(dtype=np.float64)
    return pd.DataFrame(
        [
            {
                "tile_x": tx,
                "tile_y": ty,
                "level": level,
                "band": band,
                "nrows": nr,
                "ncols": nc,
                "data": grid_arr,
            }
        ]
    )


def _packed_partials(
    T: int, value_col: str | None, it: Iterator[pd.DataFrame]
) -> Iterator[pd.DataFrame]:
    """Per input partition: accumulate every point into per-tile sparse
    partials and emit ONE packed row per touched tile — (tile key,
    nonzero pixel indices as int32 bytes, counts as int32 bytes / value
    sums as float64 bytes). The only shuffle downstream carries these
    packed bytes (≈8–16 B per *distinct* touched pixel per partition),
    not per-cell rows (~40 B each, two shuffles in the agg strategy).

    The input crosses Arrow as ONE int64 column ``_pk`` = (gi<<32)|gj
    (global pixel coords, JVM-computed) — half the bytes of the four
    separate tile/pixel int columns, and counts ship as int32 not
    float64 (another −33% on the count-stat shuffle): both measured on
    the level-14 pipeline leg where the partials exchange is
    memory-bandwidth-bound."""
    acc_cells: dict[tuple[int, int], list[np.ndarray]] = {}
    acc_vals: dict[tuple[int, int], list[np.ndarray]] = {}
    for pdf in it:
        if pdf.empty:
            continue
        pk = pdf["_pk"].to_numpy(dtype=np.int64)
        gi = pk >> 32
        gj = pk & 0xFFFFFFFF
        tx = gi // T
        ty = gj // T
        cell = (gj % T) * T + (gi % T)
        vals = (
            pdf[value_col].to_numpy(dtype=np.float64)
            if value_col is not None
            else None
        )
        tkey = (tx << 32) | ty  # tile ids are < 2^31 (level ≤ 31)
        order = np.argsort(tkey, kind="stable")
        tkey, cell = tkey[order], cell[order]
        if vals is not None:
            vals = vals[order]
        uniq, starts = np.unique(tkey, return_index=True)
        bounds = np.append(starts, len(tkey))
        for u, s, e in zip(uniq, bounds[:-1], bounds[1:]):
            k = (int(u >> 32), int(u & 0xFFFFFFFF))
            acc_cells.setdefault(k, []).append(cell[s:e])
            if vals is not None:
                acc_vals.setdefault(k, []).append(vals[s:e])
    rows = []
    for k, chunks in acc_cells.items():
        cells = np.concatenate(chunks)
        cnt = np.bincount(cells, minlength=T * T)
        nz = np.flatnonzero(cnt)
        row = {
            "tile_x": k[0],
            "tile_y": k[1],
            "idx": nz.astype("<i4").tobytes(),
            "cnt": cnt[nz].astype("<i4").tobytes(),
            "val": None,
        }
        if value_col is not None:
            vsum = np.bincount(
                cells, weights=np.concatenate(acc_vals[k]), minlength=T * T
            )
            row["val"] = vsum[nz].astype("<f8").tobytes()
        rows.append(row)
    yield pd.DataFrame(
        rows, columns=["tile_x", "tile_y", "idx", "cnt", "val"]
    )


def rasterize(
    points: DataFrame,
    T: int,
    level: int,
    stat: str = "count",
    value_col: str | None = None,
    band: str | None = None,
    strategy: str = "packed",
    n_salts: int | None = None,
) -> DataFrame:
    """points (with tile_x/tile_y/ti/tj from udfs.with_cell_and_tile) →
    dense tile rows. Pixels with no points are NaN (nodata).

    stat ∈ {count, sum, mean}; sum/mean need value_col.

    strategy="packed" (default): map-side partial rasterize — one
    mapInPandas pass accumulates each input partition's points into
    per-tile sparse partials (packed int32 index + float64 value
    bytes), then ONE exchange on the tile key merges partials into the
    dense tile. Replaces the agg strategy's two per-cell-row shuffles
    with a single packed-binary one (the r2→r3 pipeline-scaling fix:
    the rasterize exchange was memory-bandwidth-bound).
    """
    band = band or stat
    # validate up front for EVERY strategy: the packed/salted merge
    # kernels fall through to their mean branch on an unknown stat and
    # would return silently-zero rasters where agg raises
    if stat not in ("count", "sum", "mean"):
        raise ValueError(f"unknown stat: {stat!r} (count|sum|mean)")
    if stat in ("sum", "mean") and value_col is None:
        raise ValueError(f"stat {stat} needs value_col")
    if strategy == "packed":
        vc = value_col if stat in ("sum", "mean") else None
        # explicit projection: mapInPandas is a black box to Catalyst,
        # so without this the FULL point row (spans and all) crosses
        # Arrow — measured 6× slower than the pruned scan. The four
        # tile/pixel ints are JVM-packed into ONE int64 (global pixel
        # coords) so the crossing carries 8 B/row, not 16.
        gi = (F.col("tile_x").cast("long") * T + F.col("ti")).cast("long")
        gj = (F.col("tile_y").cast("long") * T + F.col("tj")).cast("long")
        pk = (F.shiftleft(gi, 32) + gj).alias("_pk")
        cols = [pk] + ([F.col(vc)] if vc else [])
        partials = points.select(*cols).mapInPandas(
            partial(_packed_partials, T, vc),
            "tile_x int, tile_y int, idx binary, cnt binary, val binary",
        )

        def merge_packed(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            cnt = np.zeros(T * T)
            val = np.zeros(T * T)
            for row in pdf.itertuples(index=False):
                idx = np.frombuffer(row.idx, dtype="<i4")
                cnt[idx] += np.frombuffer(row.cnt, dtype="<i4")
                if row.val is not None:
                    val[idx] += np.frombuffer(row.val, dtype="<f8")
            if stat == "count":
                out = cnt.copy()
            elif stat == "sum":
                out = val.copy()
            else:  # mean
                with np.errstate(invalid="ignore", divide="ignore"):
                    out = val / cnt
            out[cnt == 0] = np.nan
            return pd.DataFrame(
                [
                    {
                        "tile_x": int(key[0]),
                        "tile_y": int(key[1]),
                        "level": level,
                        "band": band,
                        "nrows": T,
                        "ncols": T,
                        "data": out,
                    }
                ]
            )

        return partials.groupBy("tile_x", "tile_y").applyInPandas(
            merge_packed, TILES_SCHEMA
        )
    if strategy == "agg":
        agg = {
            "count": F.count(F.lit(1)).cast("double"),
            "sum": F.sum(value_col).cast("double") if value_col else None,
            "mean": F.avg(value_col).cast("double") if value_col else None,
        }[stat]
        if agg is None:
            raise ValueError(f"stat {stat} needs value_col")
        pix = (
            points.groupBy("tile_x", "tile_y", "tj", "ti")
            .agg(agg.alias("val"))
        )
        return pix.groupBy("tile_x", "tile_y").applyInPandas(
            partial(_assemble_tile, T, level, band), TILES_SCHEMA
        )
    if strategy == "salted":
        from engine.skew import DEFAULT_SAMPLE_FRACTION, choose_salt

        # sampled histogram: S is a perf knob (results are S-invariant,
        # asserted by the t4 equality test), so an unsampled full
        # groupBy-count pre-pass over the big table would cost as much
        # as the rasterize it tunes at 100 TB
        S = n_salts or choose_salt(
            points, ["tile_x", "tile_y"],
            sample_fraction=DEFAULT_SAMPLE_FRACTION,
        )
        # deterministic salt: hash of pixel coords spreads a hot tile's
        # points over S groups while keeping a pixel's points together
        salted = points.withColumn(
            "_salt", (F.abs(F.xxhash64("ti", "tj")) % F.lit(S)).cast("int")
        )

        def partial_grid(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            tx, ty = int(key[0]), int(key[1])
            cnt = np.zeros(T * T)
            val = np.zeros(T * T)
            idx = pdf["tj"].to_numpy() * T + pdf["ti"].to_numpy()
            np.add.at(cnt, idx, 1.0)
            if value_col:
                np.add.at(val, idx, pdf[value_col].to_numpy(dtype=np.float64))
            return pd.DataFrame(
                [{"tile_x": tx, "tile_y": ty, "cnt": cnt, "val": val}]
            )

        partials = salted.groupBy("tile_x", "tile_y", "_salt").applyInPandas(
            partial_grid, "tile_x int, tile_y int, cnt array<double>, val array<double>"
        )

        def merge(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
            tx, ty = int(key[0]), int(key[1])
            cnt = np.sum(np.stack(pdf["cnt"].to_numpy()), axis=0)
            val = np.sum(np.stack(pdf["val"].to_numpy()), axis=0)
            if stat == "count":
                out = cnt.copy()
            elif stat == "sum":
                out = val.copy()
            else:  # mean
                with np.errstate(invalid="ignore", divide="ignore"):
                    out = val / cnt
            out[cnt == 0] = np.nan
            return pd.DataFrame(
                [
                    {
                        "tile_x": tx,
                        "tile_y": ty,
                        "level": level,
                        "band": band,
                        "nrows": T,
                        "ncols": T,
                        "data": out,
                    }
                ]
            )

        return partials.groupBy("tile_x", "tile_y").applyInPandas(
            merge, TILES_SCHEMA
        )
    raise ValueError(f"unknown strategy: {strategy}")


# ---------------------------------------------------------------------------
# J4: halo exchange (strip-sliced neighbor-ring shuffle)
# ---------------------------------------------------------------------------

@lru_cache(maxsize=64)
def _halo_emit_sql(T: int, g: int, wrap_nx: int | None) -> str:
    """The whole emit as ONE SQL expression: each tile row explodes into
    its center payload + the 8 boundary strips its neighbors need, as 9
    ``CASE WHEN valid THEN named_struct(...) END`` branches (NULL for a
    strip that is empty or addressed off the raster).

    Strip extraction is slice arithmetic on the row-major payload:
    full-width strips are ONE contiguous slice; partial-width strips are
    per-row slices flattened — all inside whole-stage codegen, so the
    emit stage never crosses into Python. Built as a string and parsed
    by one ``F.expr``: composing the same tree from ``F.*`` calls costs
    hundreds of py4j round trips per plan. The string (not a JVM
    Column, which dies with its gateway) is what gets cached.
    """
    branches = []
    for dy in (-1, 0, 1):
        for dx in (-1, 0, 1):
            y0, x0 = max(0, dy * T - g), max(0, dx * T - g)
            y1 = f"least(nrows, {dy * T + T + g})"
            x1 = f"least(ncols, {dx * T + T + g})"
            h, w = f"({y1} - {y0})", f"({x1} - {x0})"
            data = (
                f"flatten(transform(sequence({y0}, {y1} - 1),"
                f" y -> slice(data, y * ncols + {x0 + 1}, {w})))"
            )
            if dx == 0:
                # full-width strips are ONE contiguous slice — but only
                # when the strip really spans the payload width (a
                # ragged tile with ncols > T+g would otherwise emit full
                # rows while declaring ncols=w)
                data = (
                    f"CASE WHEN {w} = ncols"
                    f" THEN slice(data, {y0} * ncols + 1, {h} * ncols)"
                    f" ELSE {data} END"
                )
            dst_x = f"(tile_x + {dx})"
            if wrap_nx is not None:
                dst_x = f"pmod({dst_x}, {wrap_nx})"
            dst_y = f"(tile_y + {dy})"
            valid = f"{h} > 0 AND {w} > 0 AND {dst_y} >= 0"
            if wrap_nx is None:
                valid += f" AND {dst_x} >= 0"
            center = "true" if dy == 0 and dx == 0 else "false"
            branches.append(
                f"CASE WHEN {valid} THEN named_struct("
                f"'dst_tx', CAST({dst_x} AS INT),"
                f" 'dst_ty', CAST({dst_y} AS INT),"
                f" 'band', band,"
                f" 'is_center', {center},"
                f" 'oy', {y0 - dy * T + g},"
                f" 'ox', {x0 - dx * T + g},"
                f" 'nrows', CAST({h} AS INT),"
                f" 'ncols', CAST({w} AS INT),"
                f" 'data', {data}) END"
            )
    return f"explode(array({', '.join(branches)})) AS s"


def halo_exchange(
    tiles: DataFrame,
    T: int,
    g: int,
    wrap_nx: int | None = None,
) -> DataFrame:
    """Shuffle each tile's payload + neighbor strips to the receiving
    tile key. Downstream: groupBy(dst) + assemble (see apply_focal).

    The emit is a pure-JVM projection (see ``_halo_emit_sql``): zero
    Python crossings before the shuffle."""
    return (
        tiles.select(F.expr(_halo_emit_sql(T, g, wrap_nx)))
        .where(F.col("s").isNotNull())
        .select("s.*")
    )


def assemble_padded(
    pdf: pd.DataFrame, T: int, g: int
) -> tuple[dict[str, np.ndarray], int, int] | None:
    """Group rows → {band: padded (nr+2g, nc+2g) array}. None if the
    group has no center payload (halo addressed to a nonexistent tile)."""
    centers = pdf[pdf["is_center"]]
    if centers.empty:
        return None
    nr = int(centers.iloc[0]["nrows"])
    nc = int(centers.iloc[0]["ncols"])
    bands: dict[str, np.ndarray] = {}
    for row in pdf.itertuples(index=False):
        canvas = bands.get(row.band)
        if canvas is None:
            canvas = np.full((T + 2 * g, T + 2 * g), np.nan)
            bands[row.band] = canvas
        block = np.asarray(row.data, dtype=np.float64).reshape(row.nrows, row.ncols)
        canvas[row.oy : row.oy + row.nrows, row.ox : row.ox + row.ncols] = block
    bands = {b: c[: nr + 2 * g, : nc + 2 * g] for b, c in bands.items()}
    return bands, nr, nc


def _resolve_stat(name: str, class_domain=None):
    """KERNELS lookup + the parameterized W5 form ``proportion:<class>``
    (fraction of valid cells in the window equal to <class>)."""
    if name.startswith("proportion:"):
        klass = float(name.split(":", 1)[1])
        return lambda a, r, s, _k=klass: kernels.focal_proportion(a, r, _k, s)
    if name.startswith("annulus_mean:"):
        r_in = float(name.split(":", 1)[1])
        return lambda a, r, s, _ri=r_in: kernels.focal_annulus_mean(a, r, _ri)
    if name == "interspersion":
        # W10 is NOT absent-class-invariant: each worker sees only
        # tile+halo, and deriving the class set per block skews the
        # ln(n_pairs) denominator on blocks missing a class (see
        # kernels.focal_interspersion). Refuse to run without the
        # raster-wide domain rather than return tile-size-dependent
        # values.
        if class_domain is None:
            raise ValueError(
                "stat 'interspersion' requires apply_focal(...,"
                " class_domain=<raster-wide class set>)"
            )
        dom = np.asarray(sorted(float(c) for c in class_domain))
        return lambda a, r, s, _d=dom: kernels.focal_interspersion(
            a, r, s, classes=_d
        )
    return KERNELS[name]


def apply_focal(
    tiles: DataFrame,
    r: int,
    shape: str,
    stats: list[str] | dict[str, object],
    T: int,
    level: int,
    wrap_nx: int | None = None,
    halo: int | None = None,
    class_domain=None,
) -> DataFrame:
    """One halo exchange + ONE applyInPandas computing every requested
    stat per tile (amortizes the shuffle across stats).

    stats: list of KERNELS names, or {out_band: callable(arr, r, shape)}.
    Input must be single-band; for multi-band custom ops use
    halo_exchange + your own assembler (see engine/patches.py).
    class_domain: raster-wide class set — required by (and only used
    for) the 'interspersion' string stat, whose normalization is not
    absent-class-invariant per tile block.
    """
    g = halo if halo is not None else r
    if g < r:
        raise ValueError("halo must cover the kernel radius")
    if isinstance(stats, dict):
        fns = stats
    else:
        fns = {s: _resolve_stat(s, class_domain) for s in stats}

    exchanged = halo_exchange(tiles, T, g, wrap_nx)

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        got = assemble_padded(pdf, T, g)
        if got is None:
            return pd.DataFrame(
                columns=["tile_x", "tile_y", "level", "band", "nrows", "ncols", "data"]
            )
        bands, nr, nc = got
        (band_name, padded), = bands.items()  # single-band contract
        rows = []
        for out_band, fn in fns.items():
            res = fn(padded, r, shape)[g : g + nr, g : g + nc]
            rows.append(
                {
                    "tile_x": int(key[0]),
                    "tile_y": int(key[1]),
                    "level": level,
                    "band": out_band,
                    "nrows": nr,
                    "ncols": nc,
                    "data": res.ravel(),
                }
            )
        return pd.DataFrame(rows)

    return exchanged.groupBy("dst_tx", "dst_ty").applyInPandas(run, TILES_SCHEMA)


def apply_focal_bands(
    tiles: DataFrame,
    r: int,
    shape: str,
    band_stats: dict[str, dict[str, object]],
    T: int,
    level: int,
    wrap_nx: int | None = None,
    halo: int | None = None,
) -> DataFrame:
    """Multi-band variant of apply_focal: ONE halo exchange ships every
    input band and ONE applyInPandas computes all requested stats —
    ``band_stats[in_band][out_band] = fn(arr, r, shape)``. Consumers
    with several derived bands (engine/patches.apply_patch_stats) would
    otherwise re-execute the upstream lineage once per band."""
    g = halo if halo is not None else r
    if g < r:
        raise ValueError("halo must cover the kernel radius")
    exchanged = halo_exchange(tiles, T, g, wrap_nx)

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        got = assemble_padded(pdf, T, g)
        if got is None:
            return pd.DataFrame(
                columns=["tile_x", "tile_y", "level", "band", "nrows", "ncols", "data"]
            )
        bands, nr, nc = got
        rows = []
        for in_band, fns in band_stats.items():
            padded = bands.get(in_band)
            if padded is None:
                continue
            for out_band, fn in fns.items():
                res = fn(padded, r, shape)[g : g + nr, g : g + nc]
                rows.append(
                    {
                        "tile_x": int(key[0]),
                        "tile_y": int(key[1]),
                        "level": level,
                        "band": out_band,
                        "nrows": nr,
                        "ncols": nc,
                        "data": res.ravel(),
                    }
                )
        # explicit columns: a tile present but carrying none of the
        # requested in_bands yields rows=[], and a column-less frame
        # would KeyError in the Arrow serializer instead of emitting
        # zero rows
        return pd.DataFrame(
            rows,
            columns=["tile_x", "tile_y", "level", "band", "nrows", "ncols", "data"],
        )

    return exchanged.groupBy("dst_tx", "dst_ty").applyInPandas(run, TILES_SCHEMA)

