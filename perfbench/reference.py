"""Independent NumPy references for the benchmark's output checks.

Nothing here calls into ``engine``: the focal reference enumerates every
window cell by brute force, the point-in-polygon reference is its own
even-odd ray cast, and the pipeline reference parses the geo spans and
quantizes them with the grid formula written out from its spec
(plate-carrée, ``2**level`` lon columns × ``2**(level-1)`` lat rows).
"""

from __future__ import annotations

import math

import numpy as np

# --- focal ----------------------------------------------------------------


def window_offsets(r: int, shape: str) -> tuple[np.ndarray, np.ndarray]:
    """(dy, dx) of every cell in the window: square = Chebyshev ≤ r,
    circle = Euclidean ≤ r (closed)."""
    dy, dx = np.mgrid[-r : r + 1, -r : r + 1]
    dy, dx = dy.ravel(), dx.ravel()
    if shape == "circle":
        keep = dy * dy + dx * dx <= r * r
        dy, dx = dy[keep], dx[keep]
    elif shape != "square":
        raise ValueError(f"unknown window shape {shape!r}")
    return dy, dx


def focal_mean_at(
    raster: np.ndarray, ys: np.ndarray, xs: np.ndarray, r: int, shape: str,
) -> np.ndarray:
    """Brute-force focal mean at cells (ys, xs) of the global raster.

    Columns wrap (the raster spans the full longitude circle), rows
    shrink at the top and bottom edge; NaN cells are nodata and a window
    with no valid cell yields NaN."""
    H, W = raster.shape
    dy, dx = window_offsets(r, shape)
    yy = ys[:, None] + dy[None, :]
    xx = (xs[:, None] + dx[None, :]) % W
    vals = raster[np.clip(yy, 0, H - 1), xx]
    valid = (yy >= 0) & (yy < H) & np.isfinite(vals)
    n = valid.sum(axis=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        out = np.where(valid, vals, 0.0).sum(axis=1) / n
    out[n == 0] = np.nan
    return out


def sample_cells(T: int, seed: int) -> np.ndarray:
    """In-tile (row, col) probes: the four corners and edge midpoints
    (where halo strips and the wrap seam are read), the centre and one
    seeded cell."""
    rng = np.random.default_rng([seed, T])
    m = T // 2
    fixed = [(0, 0), (0, T - 1), (T - 1, 0), (T - 1, T - 1),
             (0, m), (m, 0), (T - 1, m), (m, T - 1), (m, m)]
    rand = [tuple(int(v) for v in rng.integers(0, T, 2))]
    return np.array(fixed + rand, dtype=np.int64)


def check_focal(
    rows, expected: dict[tuple[int, int, str], np.ndarray],
    rtol: float = 1e-9, atol: float = 1e-12,
) -> list[str]:
    """Compare sampled output values ``rows`` — (tile_x, tile_y, band,
    values) — with the brute-force ``expected`` values per tile and
    band. Returns the list of problems (empty when correct)."""
    problems = []
    got = {}
    for tx, ty, band, vals in rows:
        key = (int(tx), int(ty), str(band))
        if key in got:
            problems.append(f"duplicate output tile {key}")
        got[key] = np.asarray(vals, dtype=np.float64)
    missing = sorted(set(expected) - set(got))
    extra = sorted(set(got) - set(expected))
    if missing:
        problems.append(f"{len(missing)} output tiles missing, e.g. {missing[0]}")
    if extra:
        problems.append(f"{len(extra)} unexpected output tiles, e.g. {extra[0]}")
    for key in sorted(set(got) & set(expected)):
        a, b = got[key], expected[key]
        same = (np.isnan(a) & np.isnan(b)) | np.isclose(a, b, rtol=rtol, atol=atol)
        if not same.all():
            k = int(np.flatnonzero(~same)[0])
            problems.append(f"tile {key} probe {k}: got {a[k]!r}, want {b[k]!r}")
    return problems


# --- point in polygon ---------------------------------------------------------


def _on_segment(px, py, x1, y1, x2, y2):
    cross = (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)
    return (
        (cross == 0)
        & (px >= min(x1, x2)) & (px <= max(x1, x2))
        & (py >= min(y1, y2)) & (py <= max(y1, y2))
    )


def points_in_ring(lat: np.ndarray, lon: np.ndarray, ring: list[dict]) -> np.ndarray:
    """Even-odd ray cast toward +lon; points on an edge count as inside.
    A ring stored with longitudes past 180 (antimeridian crossing) is
    tested against the point longitudes shifted by +360 as well."""
    rx = np.array([p["lon"] for p in ring], dtype=np.float64)
    ry = np.array([p["lat"] for p in ring], dtype=np.float64)
    inside = np.zeros(len(lat), dtype=bool)
    for shift in (0.0, 360.0) if rx.max() > 180.0 else (0.0,):
        x = lon + shift
        box = (x >= rx.min()) & (x <= rx.max()) & (lat >= ry.min()) & (lat <= ry.max())
        idx = np.flatnonzero(box)
        px, py = x[idx], lat[idx]
        odd = np.zeros(len(idx), dtype=bool)
        edge = np.zeros(len(idx), dtype=bool)
        for k in range(len(rx) - 1):
            x1, y1, x2, y2 = rx[k], ry[k], rx[k + 1], ry[k + 1]
            edge |= _on_segment(px, py, x1, y1, x2, y2)
            if y1 == y2:
                continue
            straddles = (y1 > py) != (y2 > py)
            xc = x1 + (py - y1) * (x2 - x1) / (y2 - y1)
            odd ^= straddles & (px < xc)
        inside[idx] |= odd | edge
    return inside


def pip_summary(q_id: np.ndarray, lat: np.ndarray, lon: np.ndarray, polys: list[dict]) -> dict[int, tuple[int, int]]:
    """{poly_id: (matched points, sum of matched q_id)} — the join's
    order-insensitive fingerprint. Single-ring polygons only."""
    out = {}
    for p in polys:
        if p.get("holes"):
            raise ValueError("the reference ray cast handles single rings only")
        hit = points_in_ring(lat, lon, p["ring"])
        out[int(p["poly_id"])] = (int(hit.sum()), int(q_id[hit].sum()))
    return out


def check_pip(rows, expected: dict[int, tuple[int, int]]) -> list[str]:
    """``rows``: (poly_id, count, sum of q_id) per polygon from the join."""
    got = {int(p): (int(n), int(s)) for p, n, s in rows}
    problems = []
    for pid in sorted(set(got) | set(expected)):
        g, e = got.get(pid, (0, 0)), expected.get(pid, (0, 0))
        if g != e:
            problems.append(f"poly {pid}: got (rows, sum q_id) {g}, want {e}")
    return problems


# --- pipeline -----------------------------------------------------------------


def parse_geo(spans_col) -> tuple[np.ndarray, np.ndarray]:
    """lat/lon of each document's first ``geo:<lat>,<lon>`` span."""
    lat = np.full(len(spans_col), np.nan)
    lon = np.full(len(spans_col), np.nan)
    for k, spans in enumerate(spans_col):
        for s in spans:
            if s["kind"] == "geo":
                a, b = s["media_ref"].split(":", 1)[1].split(",")
                lat[k], lon[k] = float(a), float(b)
                break
    return lat, lon


def tile_keys(lat: np.ndarray, lon: np.ndarray, level: int, T: int) -> set[tuple[int, int]]:
    """Tiles holding at least one point: quantize to the level grid
    (lon wraps, lat clamps) and divide by the tile size."""
    nc, nr = 2**level, 2 ** (level - 1)
    ok = np.isfinite(lat) & np.isfinite(lon)
    i = np.mod(np.floor((lon[ok] + 180.0) / 360.0 * nc).astype(np.int64), nc)
    j = np.clip(np.floor((lat[ok] + 90.0) / 180.0 * nr).astype(np.int64), 0, nr - 1)
    return set(zip((i // T).tolist(), (j // T).tolist()))


def check_pipeline(
    verified: dict[str, dict], totals: dict[str, int], stats_tiles: set,
    tile_count_sum: float, n_docs: int, expected_tiles: set, n_stats: int,
) -> list[str]:
    """``verified``: per stage, the {part: ok} map of
    ``LakeTable.verify_snapshot``; ``totals``: per stage, the committed
    row count; ``stats_tiles``: (tile_x, tile_y) keys read from the
    stats snapshot's files; ``tile_count_sum``: sum of every count pixel
    in the tiles snapshot."""
    problems = []
    for stage, parts in verified.items():
        bad = [p for p, ok in parts.items() if not ok]
        if not parts or bad:
            problems.append(f"stage {stage}: snapshot does not verify ({len(bad)} bad parts)")
    want = {"ingest": n_docs, "points": n_docs, "tiles": len(expected_tiles),
            "stats": len(expected_tiles) * n_stats}
    for stage, n in want.items():
        if totals.get(stage) != n:
            problems.append(f"stage {stage}: {totals.get(stage)} rows, want {n}")
    if stats_tiles != expected_tiles:
        diff = sorted(stats_tiles ^ expected_tiles)
        problems.append(f"stats tile set differs from the reference at {len(diff)} tiles, e.g. {diff[0]}")
    if not math.isclose(tile_count_sum, n_docs, rel_tol=0, abs_tol=0.5):
        problems.append(f"count tiles sum to {tile_count_sum}, want {n_docs} points")
    return problems
