"""The workloads. Each makes its inputs from the seed (NumPy / pandas,
never the engine), sets them up for the engine, runs one timed job
through the engine's public API, checks the job's output against
``reference``, and in a traced run splits the job into layers.

Why these (see README.md for the full table):
  focal_r7       framework-bound focal: halo shuffle, Arrow crossings,
                 assemble dominate; the kernel is a small share. Its
                 traced run also times the r=31 square kernels on a real
                 block, so the radius cost shows per layer, and runs
                 lake_pipeline as a side job for the layers it alone has
  pip_join       no shuffle, no tiling: two columns across Arrow plus
                 cell encode and ray cast
  lake_pipeline  (side job only) the only writer: parquet, WAL,
                 manifests, checksums, span parsing, rasterize, focal on
                 many small tiles
"""

from __future__ import annotations

import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from perfbench import reference
from perfbench.harness import median, noop, timed

N_FILES = 4  # input files per dataset: one scan split per core


def _write_parquet(table: pa.Table, path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    step = -(-table.num_rows // N_FILES)
    for k in range(N_FILES):
        pq.write_table(table.slice(k * step, step), os.path.join(path, f"part-{k}.parquet"))


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _kernel_ms(padded: np.ndarray, r: int, shape: str, stat: str, reps: int = 5) -> float:
    from engine import kernels

    fn = getattr(kernels, f"focal_{stat}")
    return 1e3 * timed(lambda: fn(padded, r, shape), reps)


def _assemble(spark, tiles, T: int, g: int, wrap_nx: int | None, key: tuple[int, int]):
    """One real tile's halo rows, and the median ms of
    ``tiling.assemble_padded`` on them with the padded block it builds."""
    from pyspark.sql import functions as F

    from engine import tiling

    pdf = (
        tiling.halo_exchange(tiles, T, g, wrap_nx)
        .where((F.col("dst_tx") == key[0]) & (F.col("dst_ty") == key[1]))
        .toPandas()
    )
    ms = 1e3 * timed(lambda: tiling.assemble_padded(pdf, T, g), reps=20)
    bands, _, _ = tiling.assemble_padded(pdf, T, g)
    (padded,) = bands.values()
    return ms, padded


class Workload:
    """Interface: ``set_up`` (timed as part of setup_s), ``prepare``
    (untimed, before each job), ``run`` (the timed job), ``check``
    (list of problems with the job's result), ``layers`` (traced run)."""

    name = ""
    item = ""  # what items_per_s counts
    items = 0
    # workloads whose layers a traced run of this one also measures, on
    # a warm-up and one traced job of their own
    side: tuple[str, ...] = ()

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def set_up(self, spark) -> None:
        raise NotImplementedError

    def prepare(self) -> None:
        pass

    def run(self, spark, tracer=None):
        raise NotImplementedError

    def check(self, result) -> list[str]:
        raise NotImplementedError

    def layers(self, spark, k: int, job_s: float, jobs: list[dict]) -> dict:
        raise NotImplementedError


# --- focal ------------------------------------------------------------------


class FocalR7(Workload):
    """A dense 6-class raster with 3% NaN in T=256 tiles, committed as a
    LakeTable snapshot; the job is LakeTable.read →
    apply_focal(r=7, circle, [mean])."""

    name = "focal_r7"
    item = "tiles"
    side = ("lake_pipeline",)
    LEVEL = 14
    r, shape, stats = 7, "circle", ["mean"]
    # kernels timed on a real block in the traced run besides the job's
    # own: the radius cost of the square path at r=31
    SWEEP = (31, "square", ("mean", "shannon"))

    def __init__(self, seed, work, nx, ny, T=256):
        super().__init__(seed, work)
        self.nx, self.ny, self.T = nx, ny, T
        self.items = nx * ny
        T = self.T
        self.raster = np.empty((ny * T, nx * T))
        for t in range(nx * ny):
            rng = np.random.default_rng([seed, t])
            a = rng.integers(0, 6, (T, T)).astype(np.float64)
            a[rng.random((T, T)) < 0.03] = np.nan
            ty, tx = divmod(t, nx)
            self.raster[ty * T : (ty + 1) * T, tx * T : (tx + 1) * T] = a
        self.probes = reference.sample_cells(T, seed)
        self.expected = self._expected()
        self.lake = os.path.join(work, "lake")

    def _expected(self) -> dict:
        T, out = self.T, {}
        py, px = self.probes[:, 0], self.probes[:, 1]
        for ty in range(self.ny):
            for tx in range(self.nx):
                out[(tx, ty, "mean")] = reference.focal_mean_at(
                    self.raster, ty * T + py, tx * T + px, self.r, self.shape
                )
        return out

    def tiles_table(self) -> pa.Table:
        T, n = self.T, self.nx * self.ny
        ids = np.arange(n)
        data = [
            self.raster[(t // self.nx) * T : (t // self.nx + 1) * T,
                        (t % self.nx) * T : (t % self.nx + 1) * T].ravel()
            for t in ids
        ]
        i32 = pa.int32()
        return pa.table({
            "tile_x": pa.array(ids % self.nx, i32),
            "tile_y": pa.array(ids // self.nx, i32),
            "level": pa.array(np.full(n, self.LEVEL), i32),
            "band": pa.array(["class"] * n),
            "nrows": pa.array(np.full(n, T), i32),
            "ncols": pa.array(np.full(n, T), i32),
            "data": pa.array(data, pa.list_(pa.float64())),
        })

    def set_up(self, spark) -> None:
        from engine.lakehouse import LakeTable

        raw = os.path.join(self.work, "raw_tiles")
        _write_parquet(self.tiles_table(), raw)
        shutil.rmtree(self.lake, ignore_errors=True)
        LakeTable(self.lake, "raster").write_stage(
            spark, spark.read.parquet(raw), "tile_y", "raster",
            {"inputs": [f"seed:{self.seed}"]},
        )

    def _tiles(self, spark):
        from engine.lakehouse import LakeTable

        return LakeTable(self.lake, "raster").read(spark)

    def _focal(self, spark):
        from engine import tiling

        return tiling.apply_focal(
            self._tiles(spark), self.r, self.shape, self.stats, self.T,
            level=self.LEVEL, wrap_nx=self.nx,
        )

    def run(self, spark, tracer=None):
        from pyspark.sql import functions as F

        # Collect the probe cells of every output tile: the projection
        # reads each row the focal stage returns (the Python stage is
        # opaque to the optimizer, so nothing is pruned), but only a few
        # values per tile reach the driver.
        probes = F.array(*[
            F.element_at("data", int(y * self.T + x + 1)) for y, x in self.probes
        ])
        return self._focal(spark).select("tile_x", "tile_y", "band", probes).collect()

    def check(self, result) -> list[str]:
        return reference.check_focal([tuple(r) for r in result], self.expected)

    def layers(self, spark, k, job_s, jobs) -> dict:
        key = (self.nx // 2, self.ny // 2)
        out = _focal_layers(
            spark, lambda: self._tiles(spark), self.T, self.r, self.shape, self.stats,
            self.LEVEL, self.nx, self.items, k, key, job_s,
        )
        out["ledger.attributed_s"] = job_s - out["tiling.focal_unattributed_s"]
        out["ledger.unattributed_s"] = out["tiling.focal_unattributed_s"]
        r, shape, stats = self.SWEEP
        _, padded = _assemble(spark, self._tiles(spark), self.T, r, self.nx, key)
        for stat in stats:
            out[f"kernels.{stat}_{shape}_r{r}_ms_per_tile"] = _kernel_ms(padded, r, shape, stat)
        return out


def _focal_layers(spark, tiles, T, r, shape, stats, level, wrap_nx, n_tiles, k, key, focal_s):
    """Focal layers of a tile table (``tiles()`` builds its DataFrame).

    Prefix runs: read → noop, read → halo_exchange → noop, and the whole
    focal plan → noop, whose Spark metrics give the halo rows, bytes and
    the partitions the focal stage ran as. Assemble and kernel costs are
    single-threaded timings on one real tile, spread over the stage's
    parallelism p = min(k, partitions). ``focal_s`` is the timed job's
    wall time, which the layers are taken out of."""
    from engine import tiling
    from perfbench.sparkmetrics import SqlMetrics

    read_s = timed(lambda: noop(tiles()))
    halo_s = timed(lambda: noop(tiling.halo_exchange(tiles(), T, r, wrap_nx)))
    sql = SqlMetrics(spark)
    mark = sql.marker()
    noop(tiling.apply_focal(tiles(), r, shape, stats, T, level=level, wrap_nx=wrap_nx))
    exchange = _exchange_totals(sql.since(mark))
    p = min(k, exchange["partitions"]) or k
    asm_ms, padded = _assemble(spark, tiles(), T, r, wrap_nx, key)
    kern = {s: _kernel_ms(padded, r, shape, s) for s in stats}
    kernel_est = n_tiles * sum(kern.values()) / 1e3 / p
    asm_est = n_tiles * asm_ms / 1e3 / p
    out = {
        "lakehouse.read_s": read_s,
        "tiling.halo_exchange_s": halo_s - read_s,
        "tiling.halo_rows": exchange["records"],
        "tiling.halo_payload_mb": exchange["data_mb"],
        "tiling.focal_partitions": exchange["partitions"],
        "tiling.assemble_ms_per_tile": asm_ms,
        "tiling.focal_unattributed_s": focal_s - halo_s - asm_est - kernel_est,
        "kernels.estimate_s": kernel_est,
    }
    for s, ms in kern.items():
        out[f"kernels.{s}_{shape}_r{r}_ms_per_tile"] = ms
    return out


def _exchange_totals(executions: list[dict]) -> dict:
    """Rows and uncompressed bytes through the Exchange nodes, and the
    partitions their readers ran as (after AQE coalescing)."""
    rec = data = parts = aqe_parts = 0.0
    for e in executions:
        for node in e["nodes"]:
            m = node["metrics"]
            n_parts = m.get("number of partitions", {"total": 0.0})["total"]
            if node["name"] == "AQEShuffleRead":
                aqe_parts += n_parts
            if "shuffle records written" in m:
                rec += m["shuffle records written"]["total"]
                data += m.get("data size", {"total": 0.0})["total"]
                parts += n_parts
    return {"records": rec, "data_mb": data / 2**20, "partitions": aqe_parts or parts}


# --- point in polygon -----------------------------------------------------------


class PipJoin(Workload):
    """Seeded uniform points × fixtures.polygons() at level 7, fused
    strategy, read from parquet."""

    name = "pip_join"
    item = "points"
    LEVEL = 7

    def __init__(self, seed, work, n_points):
        super().__init__(seed, work)
        from engine import fixtures

        self.items = n_points
        rng = np.random.default_rng(seed)
        # ids start at a seed-dependent offset so that every seed has its
        # own id range; the offset keeps sums of ids far from overflow
        self.q_id = (seed % 2**20) * n_points + np.arange(n_points, dtype=np.int64)
        self.lat = rng.uniform(-85.0, 85.0, n_points)
        self.lon = rng.uniform(-180.0, 180.0, n_points)
        self.polys = fixtures.polygons()
        self.expected = reference.pip_summary(self.q_id, self.lat, self.lon, self.polys)
        self.path = os.path.join(work, "points")

    def set_up(self, spark) -> None:
        _write_parquet(pa.table({"q_id": self.q_id, "lat": self.lat, "lon": self.lon}), self.path)

    def _join(self, spark, exact=True):
        from engine import joins

        return joins.pip_join(spark.read.parquet(self.path), self.polys, self.LEVEL, spark, exact=exact)

    def run(self, spark, tracer=None):
        from pyspark.sql import functions as F

        return (
            self._join(spark)
            .groupBy("poly_id")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("q_id").alias("s"))
            .collect()
        )

    def check(self, result) -> list[str]:
        return reference.check_pip([tuple(r) for r in result], self.expected)

    def layers(self, spark, k, job_s, jobs) -> dict:
        from engine import geometry, grid

        def covers():
            return [geometry.polygon_cell_cover(p["ring"], self.LEVEL, p.get("holes")) for p in self.polys]

        scan_s = timed(lambda: noop(spark.read.parquet(self.path)))
        cover_s = timed(covers)
        cand_rows = self._join(spark, exact=False).groupBy("poly_id").count().collect()
        candidates = float(sum(r["count"] for r in cand_rows))
        matched = float(sum(n for n, _ in self.expected.values()))
        m = min(len(self.lat), 1_000_000)
        la, lo = self.lat[:m], self.lon[:m]
        encode_ns = 1e9 * timed(lambda: grid.cell_encode(la, lo, self.LEVEL)) / m
        # ray-cast cost on the candidates the cover filter lets through
        cells = grid.cell_encode(self.lat, self.lon, self.LEVEL)
        cand = []
        for p, cover in zip(self.polys, covers()):
            sel = np.isin(cells, cover)
            cand.append((self.lat[sel], self.lon[sel], geometry.poly_rings(p)))
        n_cand = sum(len(c[0]) for c in cand)
        pip_ns = 1e9 * timed(lambda: [geometry.point_in_rings(a, b, rr) for a, b, rr in cand]) / max(n_cand, 1)
        encode_est = self.items * encode_ns / 1e9 / k
        pip_est = candidates * pip_ns / 1e9 / k
        attributed = scan_s + cover_s + encode_est + pip_est
        return {
            "io.scan_s": scan_s,
            "geometry.cover_s": cover_s,
            "grid.cell_encode_ns_per_point": encode_ns,
            "geometry.point_in_rings_ns_per_point": pip_ns,
            "joins.candidates": candidates,
            "joins.refine_hit_ratio": matched / candidates if candidates else 0.0,
            "ledger.attributed_s": attributed,
            "ledger.unattributed_s": job_s - attributed,
        }


# --- lakehouse pipeline ----------------------------------------------------------

STAGE_TABLES = {"ingest": "documents", "points": "points", "tiles": "tiles", "stats": "stats"}


class LakePipeline(Workload):
    """fixtures.documents_geo corpus → pipeline.run_pipeline (default
    config) into a fresh lakehouse root for every job, so the WAL never
    lets a job skip work."""

    name = "lake_pipeline"
    item = "docs"

    def __init__(self, seed, work, n_docs):
        super().__init__(seed, work)
        from engine import fixtures
        from engine.pipeline import PipelineConfig

        self.items = n_docs
        # the driver-side twin of fixtures.documents_geo (same rows)
        pdf = fixtures.documents_geo_pandas(n_docs, seed=seed)
        span = pa.struct([("kind", pa.string()), ("text", pa.string()),
                          ("media_ref", pa.string()), ("offset", pa.int32())])
        schema = pa.schema([("doc_id", pa.string()), ("spans", pa.list_(span)),
                            ("part_id", pa.int32())])
        self.corpus = pa.Table.from_pandas(pdf, schema=schema, preserve_index=False)
        cfg = PipelineConfig(os.path.join(work, "unused"))
        self.level, self.T, self.n_stats = cfg.level, cfg.tile_size, len(cfg.stats)
        lat, lon = reference.parse_geo(pdf["spans"])
        self.expected_tiles = reference.tile_keys(lat, lon, self.level, self.T)
        self.corpus_path = os.path.join(work, "corpus")
        self.root = None
        self._jobs = 0

    def set_up(self, spark) -> None:
        _write_parquet(self.corpus, self.corpus_path)

    def prepare(self) -> None:
        if self.root:
            shutil.rmtree(self.root, ignore_errors=True)
        self._jobs += 1
        self.root = os.path.join(self.work, f"lake-{self._jobs}")

    def run(self, spark, tracer=None):
        from engine import pipeline

        docs = spark.read.parquet(self.corpus_path)
        if tracer is None:
            return pipeline.run_pipeline(spark, docs, pipeline.PipelineConfig(self.root))
        with _spans_around_write_stage(tracer):
            return pipeline.run_pipeline(spark, docs, pipeline.PipelineConfig(self.root))

    def check(self, result) -> list[str]:
        from engine.lakehouse import LakeTable

        tables = {s: LakeTable(self.root, t) for s, t in STAGE_TABLES.items()}
        verified = {s: t.verify_snapshot() for s, t in tables.items()}
        totals = {s: int(snap["total_rows"]) for s, snap in result.items()}
        stats = _read_snapshot(tables["stats"], ["tile_x", "tile_y"])
        stats_tiles = set(zip(stats["tile_x"].to_pylist(), stats["tile_y"].to_pylist()))
        counts = _read_snapshot(tables["tiles"], ["data"])["data"]
        flat = counts.combine_chunks().flatten().to_numpy(zero_copy_only=False)
        return reference.check_pipeline(
            verified, totals, stats_tiles, float(np.nansum(flat)), self.items,
            self.expected_tiles, self.n_stats,
        )

    def _table(self, spark, name):
        from engine.lakehouse import LakeTable

        return LakeTable(self.root, name).read(spark)

    def layers(self, spark, k, job_s, jobs) -> dict:
        """The pipeline's own layers: stage commits, bytes written, span
        parsing and rasterize. The focal stage is timed as the ``stats``
        commit; its halo and kernel layers are focal_r7's."""
        from engine import tiling, udfs

        out = {"pipeline.run_s": job_s}
        for stage in STAGE_TABLES:
            out[f"lakehouse.write_stage_s.{stage}"] = median(j["stages"].get(stage, 0.0) for j in jobs)
        table_bytes = {s: _dir_bytes(os.path.join(self.root, t)) for s, t in STAGE_TABLES.items()}
        for stage, b in table_bytes.items():
            out[f"lakehouse.bytes_written_mb.{stage}"] = b / 2**20
        out["lakehouse.write_amplification"] = sum(table_bytes.values()) / _dir_bytes(self.corpus_path)
        read = {t: timed(lambda t=t: noop(self._table(spark, t))) for t in ("documents", "points")}
        geocode = timed(lambda: noop(udfs.with_cell_and_tile(
            udfs.geocode_cols(self._table(spark, "documents")), self.level, self.T)))
        out["udfs.geocode_s"] = geocode - read["documents"]
        raster = timed(lambda: noop(tiling.rasterize(self._table(spark, "points"), self.T, self.level, stat="count")))
        out["tiling.rasterize_s"] = raster - read["points"]
        return out


def _read_snapshot(table, columns) -> pa.Table:
    """The committed rows of a LakeTable snapshot, read with pyarrow
    from the files its manifest lists."""
    files = [f for p in table.snapshot()["partitions"] for f in p["files"]]
    return pa.concat_tables([pq.read_table(f, columns=columns) for f in files])


class _spans_around_write_stage:
    """Records a span around every ``LakeTable.write_stage`` call made
    while active, named after the stage key."""

    def __init__(self, tracer):
        self.tracer = tracer

    def __enter__(self):
        from engine.lakehouse import LakeTable

        self._orig = orig = LakeTable.write_stage
        tracer = self.tracer

        def traced(table, spark, df, partition_col, stage_key, *a, **kw):
            with tracer.span(f"write_stage.{stage_key}"):
                return orig(table, spark, df, partition_col, stage_key, *a, **kw)

        LakeTable.write_stage = traced
        return self

    def __exit__(self, *exc):
        from engine.lakehouse import LakeTable

        LakeTable.write_stage = self._orig


def make(name: str, seed: int, work: str, tiny: bool = False) -> Workload:
    """The workload (or side job) at its benchmark size, or a few-second
    ``tiny`` one."""
    if name == "focal_r7":
        return FocalR7(seed, work, nx=4, ny=3, T=64) if tiny else FocalR7(seed, work, nx=8, ny=8)
    if name == "pip_join":
        return PipJoin(seed, work, n_points=20_000 if tiny else 3_000_000)
    if name == "lake_pipeline":
        return LakePipeline(seed, work, n_docs=2_000 if tiny else 10_000)
    raise ValueError(f"unknown workload {name!r}")


# what --workload accepts; lake_pipeline runs only as focal_r7's side job
WORKLOADS = ("focal_r7", "pip_join")
