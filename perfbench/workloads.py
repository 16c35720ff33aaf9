"""The benchmark's workloads: seeded inputs, one complete job, its output
check, and the prefix decomposition used by the traced run.

Every workload calls the engine only through public functions of
``ionex_spark``.  Inputs are generated from ``--seed`` and cached under the
checkout's ``.perfbench_cache/inputs`` keyed by workload, seed and size.
"""

from __future__ import annotations

import glob
import gzip
import os
import shutil
import time
from collections.abc import Iterator

import numpy as np
import pandas as pd

# Input sizes.  Chosen so one warm job takes a few seconds on a 4-core box
# and a whole run (set-up included) stays near a minute.  A tile_assign job
# spends about 1 s in per-job fixed cost (planning, the broadcast build);
# in one process, 8M-point jobs spread about twice as wide as 24M-point ones.
TILE_POINTS = 16_000_000
TILE_BLOCK = 1_000_000  # ids per cached reference block; a seed shifts by one
IMAGES = 20_000
IMAGE_SHARD = 2_000  # rows per parquet file, write_images' layout at IMAGES
IONEX_FILES = 16
IONEX_EPOCHS = 25
SUM_TOL_PER_POINT = 1e-5  # float32-corner error budget, TECu per point
KEEP_INPUT_SETS = 4  # cached per-seed input sets kept per workload
KEEP_BLOCKS = 256  # cached reference blocks and image shards kept per workload


def noop(df) -> None:
    """Materialise every column of a plan without a sink cost."""
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One closed-loop workload.  ``rows`` is the input size of one job."""

    name = ""
    rows: int = 0

    def __init__(self, cache: str, seed: int, nproc: int):
        self.cache, self.seed, self.nproc = cache, seed, nproc
        self.inputs = os.path.join(cache, "inputs")
        self.dir = os.path.join(self.inputs, f"{self.name}-s{seed}-n{self.rows}")
        self.scratch = os.path.join(cache, "scratch", f"{self.name}-{os.getpid()}")

    # inputs -------------------------------------------------------------
    def prepare(self) -> None:
        """Create the cached inputs.  Called before the session starts, and
        makes them without Spark: a generating Spark job would warm the JVM
        that the run then times, and only in the runs that had to generate."""

    def _evict(self, pattern: str | None = None, keep: int = KEEP_INPUT_SETS) -> None:
        """Remove all but the ``keep`` newest cache entries that match."""
        sets = sorted(
            glob.glob(pattern or os.path.join(self.inputs, f"{self.name}-s*")),
            key=os.path.getmtime, reverse=True,
        )
        for old in sets[keep:]:
            if old != self.dir:
                if os.path.isdir(old):
                    shutil.rmtree(old, ignore_errors=True)
                else:
                    os.remove(old)

    def cleanup(self) -> None:
        shutil.rmtree(self.scratch, ignore_errors=True)

    # job ----------------------------------------------------------------
    def job(self, spark):
        raise NotImplementedError

    def check(self, spark, result) -> tuple[int, dict]:
        """(output rows that fail the check, extra per-job counters)."""
        raise NotImplementedError

    def trace(self, spark, tr) -> dict:
        """Per-layer metrics from prefix runs; ``tr.run(phase, fn)`` times a
        call under its own job description and returns seconds."""
        raise NotImplementedError

    def trace_counters(self, log, jobs: int, extra: dict) -> dict:
        """Per-layer counters from the folded event log (``jobs`` traced
        jobs ran under the description "job") and the last check's extras."""
        return {}


# ------------------------------------------------------------ tile_assign

def tile_reference(lo: int, n: int, chunk: int = 1_000_000):
    """numpy twin of the flagship on ids [lo, lo+n): per res-6 tile the point
    count and TEC sum, indexed densely by lat_idx*128 + lon_idx."""
    from ionex_spark.core import cellid, kernels
    from ionex_spark.functions.sqlgen import GRID

    counts = np.zeros(64 * 128, np.int64)
    sums = np.zeros(64 * 128, np.float64)

    def corner(li, lj, slot):
        v = (((li * 31 + lj * 17 + slot * 13) % 500) + 10) / 10.0
        return v.astype(np.float32).astype(np.float64)

    for start in range(lo, lo + n, chunk):
        ids = np.arange(start, min(start + chunk, lo + n), dtype=np.int64)
        lat = -87.5 + ((ids * 7919) % 1751) / 10.0
        lon = -180.0 + ((ids * 104729) % 3600) / 10.0
        tsec = ((ids * 48271) % 86400).astype(np.float64)
        s = GRID.sampling_s
        slot0 = np.minimum(np.floor(tsec / s).astype(np.int64), GRID.n_slots - 2)
        li = np.clip(np.floor((lat - GRID.lat0) / GRID.dlat), 0, GRID.nlat - 2)
        lj = np.clip(np.floor((lon - GRID.lon0) / GRID.dlon), 0, GRID.nlon - 2)
        li, lj = li.astype(np.int64), lj.astype(np.int64)
        p = (lat - (GRID.lat0 + li * GRID.dlat)) / GRID.dlat
        q = (lon - (GRID.lon0 + lj * GRID.dlon)) / GRID.dlon
        tec = []
        for sl in (slot0, slot0 + 1):
            tec.append(kernels.bilinear_unit(
                p, q, corner(li, lj, sl), corner(li, lj + 1, sl),
                corner(li + 1, lj, sl), corner(li + 1, lj + 1, sl),
            ))
        t0 = slot0 * float(s)
        val = kernels.temporal_interp(tsec, t0, t0 + s, tec[0], tec[1])
        ok = ~np.isnan(val)
        _, lat_idx, lon_idx = cellid.cell_decode(cellid.cell_encode(lat, lon, 6))
        key = (lat_idx * 128 + lon_idx)[ok]
        counts += np.bincount(key, minlength=counts.size)
        sums += np.bincount(key, weights=val[ok], minlength=sums.size)
    return counts, sums


def check_tiles(tile_id, n, sum_tec, ref_counts, ref_sums) -> int:
    """Tiles whose count differs from the reference, or whose TEC sum is
    off by more than the per-point error budget; missing and extra tiles
    count too."""
    from ionex_spark.core import cellid

    tile_id = np.asarray(tile_id, np.int64)
    res, lat_idx, lon_idx = cellid.cell_decode(tile_id)
    bad = int(np.count_nonzero(res != 6))
    key = (lat_idx * 128 + lon_idx)[res == 6]
    got_n = np.zeros_like(ref_counts)
    got_s = np.zeros_like(ref_sums)
    np.add.at(got_n, key, np.asarray(n, np.int64)[res == 6])
    np.add.at(got_s, key, np.asarray(sum_tec, np.float64)[res == 6])
    seen = np.zeros(ref_counts.size, bool)
    seen[key] = True
    wrong = (
        (got_n != ref_counts)
        | (np.abs(got_s - ref_sums) > SUM_TOL_PER_POINT * np.maximum(ref_counts, 1))
        | (seen != (ref_counts > 0))
    )
    return bad + int(np.count_nonzero(wrong))


class TileAssign(Workload):
    """North-rule flagship: in-plan uniform points, temporal bracket, one
    broadcast cell-pair probe, bilinear + temporal combine, res-6 tile id,
    per-tile rollup collected to the driver."""

    name = "tile_assign"
    rows = TILE_POINTS
    QUERIES = ("grid_cells_join", "grid_merge")

    def __init__(self, cache, seed, nproc):
        super().__init__(cache, seed, nproc)
        # the seed shifts the id range by whole reference blocks, so seeds
        # share most blocks and a new seed computes only the ones it adds
        self.lo = (seed % 1_000_000) * TILE_BLOCK
        self.dir = os.path.join(self.inputs, f"{self.name}-blocks")

    def prepare(self):
        """Reference = sum of the cached per-block references.  Per-tile
        counts and sums add up, and the blocks are the chunks
        ``tile_reference`` would sum anyway, so the result is the same."""
        os.makedirs(self.dir, exist_ok=True)
        self.ref_counts = np.zeros(64 * 128, np.int64)
        self.ref_sums = np.zeros(64 * 128, np.float64)
        for lo in range(self.lo, self.lo + TILE_POINTS, TILE_BLOCK):
            path = os.path.join(self.dir, f"b{lo // TILE_BLOCK}.npz")
            if not os.path.exists(path):
                counts, sums = tile_reference(lo, TILE_BLOCK, TILE_BLOCK)
                np.savez(path + ".tmp.npz", counts=counts, sums=sums)
                os.replace(path + ".tmp.npz", path)
            os.utime(path)
            ref = np.load(path)
            self.ref_counts += ref["counts"]
            self.ref_sums += ref["sums"]
        self._evict(os.path.join(self.dir, "b*.npz"), KEEP_BLOCKS)

    # plan pieces --------------------------------------------------------
    def points(self, spark):
        from ionex_spark.functions import sqlgen

        return spark.range(
            self.lo, self.lo + TILE_POINTS, 1, self.nproc * 4
        ).selectExpr(
            "id",
            f"{sqlgen.lat_from_id_sql('id')} as lat",
            f"{sqlgen.lon_from_id_sql('id')} as lon",
            f"{sqlgen.tsec_from_id_sql('id')} as tsec",
        )

    def cells(self, spark):
        from ionex_spark.operators import spatial

        return spatial.build_tec_cells(spark, corner_dtype="float")

    def probe(self, spark):
        """Points joined to the bracket-pair cells, before interpolation."""
        from pyspark.sql import functions as F

        from ionex_spark.functions import sqlgen
        from ionex_spark.operators import spatial

        p = spatial.with_cell_index(self.points(spark)).withColumns({
            "slot0": F.expr(sqlgen.bracket_slot0_sql("tsec")),
            "w1": F.expr(sqlgen.bracket_w1_sql("tsec")),
        }).withColumn("ck0", F.expr(spatial.packed_key_expr("slot0")))
        p = p.filter(F.expr(sqlgen.bracket_valid_sql("w1")))
        pairs = spatial.build_tec_cell_pairs(self.cells(spark))
        return p.join(F.broadcast(pairs), "ck0", "inner")

    def interp(self, spark):
        from ionex_spark.operators import spatial

        return spatial.temporal_spatial_join(
            self.points(spark), self.cells(spark), out="tec_t"
        )

    def tiled(self, spark):
        from pyspark.sql import functions as F

        from ionex_spark.functions import sqlgen

        return self.interp(spark).withColumn(
            "tile_id", F.expr(sqlgen.cell_id_sql("lat", "lon", 6))
        )

    def rollup(self, spark):
        from pyspark.sql import functions as F

        return self.tiled(spark).groupBy("tile_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("tec_t").alias("sum_tec")
        )

    # job ----------------------------------------------------------------
    def job(self, spark):
        return self.rollup(spark).toArrow()

    def check(self, spark, result):
        bad = check_tiles(
            result.column("tile_id").to_numpy(), result.column("n").to_numpy(),
            result.column("sum_tec").to_numpy(), self.ref_counts, self.ref_sums,
        )
        return bad, {"groups": result.num_rows}

    def trace(self, spark, tr):
        from ionex_spark.operators import spatial

        # each prefix writes a narrow projection, so the noop sink's cost
        # stays about the same from one prefix to the next
        t_points = tr.run("prefix:points", lambda: noop(self.points(spark)))
        t_cells = tr.run("prefix:cells", lambda: noop(
            spatial.build_tec_cell_pairs(self.cells(spark))))
        t_probe = tr.run("prefix:probe", lambda: noop(
            self.probe(spark).select("id", "ck0")))
        t_interp = tr.run("prefix:interp", lambda: noop(
            self.interp(spark).select("id", "tec_t")))
        t_tile = tr.run("prefix:tile", lambda: noop(
            self.tiled(spark).select("id", "tile_id", "tec_t")))
        t_rollup = tr.run("prefix:rollup", lambda: noop(self.rollup(spark)))
        out = {
            "sqlgen.points_s": t_points,
            "spatial.build_cells_s": t_cells,
            "spatial.probe_s": t_probe - t_points,
            "spatial.interp_s": t_interp - t_probe,
            "sqlgen.tile_id_s": t_tile - t_interp,
            "rollup.s": t_rollup - t_tile,
            "span_total_s": t_rollup,
        }
        out.update(self._queries(spark, tr))
        return out

    def trace_counters(self, log, jobs, extra):
        out = {"rollup.groups": extra.get("groups", 0)}
        for q in self.QUERIES:
            out[f"query.{q}.jobs"] = log.phase(f"query:{q}").jobs
        return out

    def _queries(self, spark, tr) -> dict:
        """Table-free registry queries, each compared once with its DuckDB
        oracle."""
        import duckdb

        from ionex_spark.plans import queries, queries_data, queries_ref  # noqa: F401

        out, bad = {}, 0
        con = duckdb.connect()
        for q in self.QUERIES:
            fn, got = queries.QUERIES[q], []
            out[f"query.{q}.s"] = tr.run(
                f"query:{q}", lambda: got.append(fn(spark, "").toPandas()))
            bad += frame_mismatches(got[-1], con.execute(queries.ORACLES[q]).df())
        con.close()
        tr.mismatches += bad
        return out


def frame_mismatches(got: pd.DataFrame, want: pd.DataFrame) -> int:
    """Rows of two results that differ after an order-insensitive sort;
    floats must match bit for bit (the oracle gate's rule)."""
    if sorted(got.columns) != sorted(want.columns):
        return max(len(got), len(want), 1)
    cols = sorted(got.columns)

    def norm(df):
        df = df[cols].copy()
        for c in cols:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
            elif pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].astype("float64")
            elif pd.api.types.is_integer_dtype(df[c]):
                df[c] = df[c].astype("int64")
        return df.sort_values(cols, kind="mergesort").reset_index(drop=True)

    a, b = norm(got), norm(want)
    if len(a) != len(b):
        return abs(len(a) - len(b)) + int(min(len(a), len(b)) == 0)
    same = np.ones(len(a), bool)
    for c in cols:
        av, bv = a[c].to_numpy(), b[c].to_numpy()
        if av.dtype.kind == "f":
            same &= (av == bv) | (np.isnan(av) & np.isnan(bv))
        else:
            same &= av == bv
    return int(np.count_nonzero(~same))


# ----------------------------------------------------------- images_audit

def _image_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Rows of the ``images`` table for the ids of each batch, built with
    the engine's own per-row generator (core.synth.image_row)."""
    from ionex_spark.core import synth

    for pdf in it:
        out = pd.DataFrame([synth.image_row(int(i)) for i in pdf["id"]])
        out["ts"] = pd.to_datetime(out["ts"])
        tsec = (
            (out["ts"] - pd.Timestamp(synth.EPOCH0.item()))
            .dt.total_seconds().astype(np.int64)
        )
        out["slot"] = tsec // synth.SAMPLING_S
        out["tsec"] = tsec
        yield out[["image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                   "lat", "lon", "ts", "slot", "tsec"]]


def write_image_shard(path: str, lo: int, n: int) -> None:
    """One parquet file of the ``images`` table: the rows of ids [lo, lo+n)
    in IMAGES_SCHEMA, written without Spark."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pdf = next(_image_batches(iter([pd.DataFrame({"id": np.arange(lo, lo + n)})])))
    pdf["ts"] = pdf["ts"].dt.tz_localize("UTC")
    schema = pa.schema([
        ("image_id", pa.string()), ("bytes", pa.binary()), ("w", pa.int32()),
        ("h", pa.int32()), ("fmt", pa.string()), ("caption", pa.string()),
        ("phash", pa.int64()), ("lat", pa.float64()), ("lon", pa.float64()),
        ("ts", pa.timestamp("us", tz="UTC")), ("slot", pa.int64()),
        ("tsec", pa.int64()),
    ])
    pq.write_table(pa.Table.from_pandas(pdf, schema=schema, preserve_index=False),
                   path + ".tmp")
    os.replace(path + ".tmp", path)


class ImagesAudit(Workload):
    """Parquet ``images`` table with payloads (20% of rows in 3 hot cells):
    lean-column scan, aligned spatial join, tile rollup, plus a file-aligned
    1% payload audit through ``multimodal.verify_payloads``."""

    name = "images_audit"
    rows = IMAGES
    FRACTION = 0.01

    def __init__(self, cache, seed, nproc):
        super().__init__(cache, seed, nproc)
        # The table is IMAGES // IMAGE_SHARD consecutive id-range files from
        # a cached pool, starting at file ``seed``: generating one file costs
        # about 3 s, so a new seed pays for the one file it adds.  The seed
        # also picks the audited file, through audit_sample_files.
        first = seed % 1_000_000
        self.shards = range(first, first + IMAGES // IMAGE_SHARD)
        self.pool = os.path.join(self.inputs, f"{self.name}-pool")
        self.table = os.path.join(self.dir, "images")

    def prepare(self):
        os.makedirs(self.pool, exist_ok=True)
        shards = [os.path.join(self.pool, f"part-{f:06d}.parquet") for f in self.shards]
        for f, path in zip(self.shards, shards):
            if not os.path.exists(path):
                write_image_shard(path, f * IMAGE_SHARD, IMAGE_SHARD)
            os.utime(path)
        if not os.path.exists(os.path.join(self.table, "_SUCCESS")):
            shutil.rmtree(self.dir, ignore_errors=True)
            os.makedirs(self.table)
            for path in shards:
                os.link(path, os.path.join(self.table, os.path.basename(path)))
            open(os.path.join(self.table, "_SUCCESS"), "w").close()
        os.utime(self.dir)
        self._evict()
        self._evict(os.path.join(self.pool, "part-*.parquet"), KEEP_BLOCKS)

    # plan pieces --------------------------------------------------------
    def lean(self, spark):
        return spark.read.parquet(self.table).drop("bytes", "caption")

    def probe(self, spark):
        from pyspark.sql import functions as F

        from ionex_spark.operators import spatial

        p = spatial.with_cell_index(self.lean(spark)).withColumn(
            "ck", F.expr(spatial.packed_key_expr("slot")))
        c = spatial.build_tec_cells(spark)
        c = c.withColumn("ck", F.expr(spatial.packed_key_expr())).drop(
            "slot", "lat_i", "lon_i")
        return p.join(F.broadcast(c), "ck", "inner")

    @staticmethod
    def tile(spark, df):
        from pyspark.sql import functions as F

        from ionex_spark.functions import sqlgen
        from ionex_spark.operators import spatial

        return spatial.spatial_join_bilinear(
            df, spatial.build_tec_cells(spark)
        ).withColumn("tile_id", F.expr(sqlgen.cell_id_sql("lat", "lon", 6)))

    def per_tile(self, spark):
        from pyspark.sql import functions as F

        return self.tile(spark, self.lean(spark)).groupBy("tile_id").agg(
            F.count(F.lit(1)).alias("n"), F.sum("tec").alias("sum_tec"))

    def audit_src(self, spark):
        from ionex_spark.operators import multimodal as mm

        return mm.audit_sample_files(
            spark, self.table, fraction=self.FRACTION, seed=self.seed)

    def audit_joined(self, spark):
        # a file-aligned sample lands in few scan tasks; spread it over cores
        return self.tile(spark, self.audit_src(spark).repartition(self.nproc * 2))

    def verified(self, spark):
        from ionex_spark.operators import multimodal as mm

        return mm.verify_payloads(self.audit_joined(spark))

    # job ----------------------------------------------------------------
    def job(self, spark):
        per_tile = self.per_tile(spark).toArrow()
        checks = self.verified(spark).selectExpr(
            "count(*) as rows",
            "sum(case when payload_ok then 0 else 1 end) as bad_payload",
            "sum(case when caption_ok then 0 else 1 end) as bad_caption",
        ).first()
        return per_tile, checks.asDict()

    def check(self, spark, result):
        return check_images(result, IMAGES), {
            "groups": result[0].num_rows, **result[1]}

    def trace(self, spark, tr):
        from ionex_spark.operators import spatial

        t_scan = tr.run("prefix:scan", lambda: noop(
            self.lean(spark).select("lat", "lon", "slot")))
        t_cells = tr.run("prefix:cells", lambda: noop(
            spatial.build_tec_cells(spark)))
        t_probe = tr.run("prefix:probe", lambda: noop(
            self.probe(spark).select("lat", "lon", "ck")))
        t_interp = tr.run("prefix:interp", lambda: noop(
            spatial.spatial_join_bilinear(
                self.lean(spark), spatial.build_tec_cells(spark)
            ).select("lat", "lon", "tec")))
        t_tile = tr.run("prefix:tile", lambda: noop(
            self.tile(spark, self.lean(spark)).select("tile_id", "tec")))
        t_rollup = tr.run("prefix:rollup", lambda: noop(self.per_tile(spark)))
        tr.run("prefix:audit_scan", lambda: noop(self.audit_src(spark)))
        t_ajoin = tr.run("prefix:audit_join", lambda: noop(self.audit_joined(spark)))
        t_verify = tr.run("prefix:verify", lambda: noop(self.verified(spark)))
        out = {
            "scan.s": t_scan,
            "scan.files": len(glob.glob(os.path.join(self.table, "*.parquet"))),
            "spatial.build_cells_s": t_cells,
            "spatial.probe_s": t_probe - t_scan,
            "spatial.interp_s": t_interp - t_probe,
            "sqlgen.tile_id_s": t_tile - t_interp,
            "rollup.s": t_rollup - t_tile,
            "multimodal.audit_files": len(self.audit_src(spark).inputFiles()),
            "multimodal.verify_s": t_verify - t_ajoin,
            "span_total_s": t_rollup + t_verify,
        }
        ingest = IonexIngest(self.cache, self.seed, self.nproc).probe(spark, tr)
        ingest.pop("ionex_source.write_total_s")
        out.update(ingest)
        return out

    def trace_counters(self, log, jobs, extra):
        rows = extra.get("rows") or 0
        out = {
            "rollup.groups": extra.get("groups", 0),
            "scan.bytes_read": log.phase("prefix:scan").input_bytes,
            "multimodal.audit_bytes_read":
                log.phase("prefix:audit_scan").input_bytes,
            "multimodal.verify_rows": rows,
            "multimodal.bytes_to_python":
                log.sql_metric("job", "data sent to Python workers") / jobs,
            "multimodal.python_worker_s":
                log.sql_metric("job", "time to run Python workers") / jobs,
            "multimodal.payload_ok_ratio":
                1 - (extra.get("bad_payload") or 0) / rows if rows else 0.0,
            "multimodal.caption_ok_ratio":
                1 - (extra.get("bad_caption") or 0) / rows if rows else 0.0,
        }
        out.update(IonexIngest.counters(log))
        return out


def check_images(result, n_rows: int) -> int:
    """Bad payloads + bad captions + rows lost or gained by the rollup; an
    audit that verified nothing counts as one failure."""
    per_tile, checks = result
    lost = abs(int(np.asarray(per_tile.column("n").to_numpy()).sum()) - n_rows)
    empty = int(not checks["rows"])
    return int(checks["bad_payload"] or 0) + int(checks["bad_caption"] or 0) \
        + lost + empty


# ----------------------------------------------------------- ionex_ingest

def ionex_day(seed: int, f: int) -> np.ndarray:
    """Dense (epochs, lat, lon) quantized TEC of day file ``f`` for a seed:
    the smooth synthetic field shifted per file and seed, with ~1% of the
    points replaced by the 9999 missing-value sentinel."""
    from ionex_spark.core import synth

    slot, lat_i, lon_i, _, _, tq = synth.tec_points_arrays(IONEX_EPOCHS, "smooth")
    dense = np.empty((IONEX_EPOCHS, synth.GRID_NLAT, synth.GRID_NLON), np.int64)
    dense[slot, synth.GRID_NLAT - 1 - lat_i, lon_i] = (tq + 7 * seed + f) % 9990
    h = synth.splitmix64(np.arange(dense.size) + (seed * 1000 + f) * dense.size)
    dense.ravel()[h % np.uint64(100) == 0] = 9999
    return dense


def _parse_counts(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Python-side half of ingest with the core parser: decompress, parse
    and flatten each file, returning only its point count."""
    from ionex_spark.core.ionex_io import grids_to_long, parse_ionex

    for pdf in it:
        n = []
        for path, content in zip(pdf["path"], pdf["content"]):
            raw = bytes(content)
            if path.endswith(".gz"):
                raw = gzip.decompress(raw)
            long = grids_to_long(*parse_ionex(raw.decode("ascii")))
            n.append(len(long["tecu_q"]))
        yield pd.DataFrame({"path": pdf["path"], "points": n})


class IonexIngest(Workload):
    """Gzip IONEX day files through ``sources.ionex_source.read_ionex``
    (parse in Python, explode on the JVM), written as a parquet
    ``tec_points`` table."""

    name = "ionex_ingest"
    rows = IONEX_FILES * IONEX_EPOCHS * 71 * 73  # grid points incl. sentinels

    def __init__(self, cache, seed, nproc):
        super().__init__(cache, seed, nproc)
        self.files = os.path.join(self.dir, "files")
        self.out = os.path.join(self.scratch, "tec_points")

    def prepare(self):
        expect = os.path.join(self.dir, "expected.npz")
        if not os.path.exists(expect):
            from ionex_spark.core import synth
            from ionex_spark.core.ionex_io import IonexHeader, write_ionex_file
            from ionex_spark.core.linspace import ckmg_grid

            os.makedirs(self.files, exist_ok=True)
            epochs = (synth.EPOCH0 + np.arange(IONEX_EPOCHS)
                      * np.timedelta64(synth.SAMPLING_S, "s")).astype("datetime64[s]")
            counts, sums = [], []
            for f in range(IONEX_FILES):
                dense = ionex_day(self.seed, f)
                hdr = IonexHeader(
                    grid=ckmg_grid(), interval_s=synth.SAMPLING_S,
                    epoch_first=synth.EPOCH0, epoch_last=epochs[-1],
                    number_of_maps=IONEX_EPOCHS, exponent=synth.FILE_EXP,
                    comments=[f"benchmark day file {f} seed {self.seed}"],
                )
                write_ionex_file(self._file(f), hdr, epochs, dense)
                valid = dense != 9999
                counts.append(int(valid.sum()))
                sums.append(int(dense[valid].sum()))
            np.savez(expect + ".tmp.npz", counts=counts, sums=sums)
            os.replace(expect + ".tmp.npz", expect)
        os.utime(self.dir)
        self._evict()
        e = np.load(expect)
        self.expect = {
            os.path.basename(self._file(f)): (int(e["counts"][f]), int(e["sums"][f]))
            for f in range(IONEX_FILES)
        }

    def _file(self, f: int) -> str:
        return os.path.join(self.files, f"BNCH{f:03d}0.22I.gz")

    def glob(self) -> str:
        return os.path.join(self.files, "*.gz")

    def read(self, spark):
        from ionex_spark.sources.ionex_source import read_ionex

        return read_ionex(spark, self.glob())

    def job(self, spark):
        self.read(spark).write.mode("overwrite").parquet(self.out)
        return self.out

    def check(self, spark, result):
        rows = spark.read.parquet(result).groupBy("src_file").agg(
            {"*": "count", "tecu_q": "sum"}
        ).toPandas()
        got = {
            os.path.basename(r["src_file"]): (int(r["count(1)"]), int(r["sum(tecu_q)"]))
            for _, r in rows.iterrows()
        }
        return check_ingest(got, self.expect), {"files": len(got)}

    def trace(self, spark, tr):
        out = self.probe(spark, tr)
        out["span_total_s"] = out.pop("ionex_source.write_total_s")
        return out

    def trace_counters(self, log, jobs, extra):
        return self.counters(log)

    def probe(self, spark, tr) -> dict:
        """Layer spans of the ingest path: binaryFile scan, Python parse with
        the core parser, read_ionex's JVM explode, and the parquet write;
        plus one file parsed in-process.  Usable from another workload's
        traced run: it prepares its inputs and warms the path first."""
        from ionex_spark.core.ionex_io import grids_to_long, parse_ionex

        self.prepare()
        spark.sparkContext.setJobDescription("ionex:warmup")
        self.job(spark)

        def scan():
            return spark.read.format("binaryFile").load(self.glob()).select(
                "path", "content")

        def parse():
            return scan().repartition(
                min(spark.sparkContext.defaultParallelism, IONEX_FILES)
            ).mapInPandas(_parse_counts, "path string, points long")

        t_scan = tr.run("ionex:scan", lambda: noop(scan()))
        t_parse = tr.run("ionex:parse", lambda: noop(parse()))
        t_explode = tr.run("ionex:explode", lambda: noop(self.read(spark)))
        t_write = tr.run("ionex:write", lambda: self.job(spark))
        spark.sparkContext.setJobDescription("check")
        tr.mismatches += self.check(spark, self.out)[0]
        with open(self._file(0), "rb") as fh:
            text = gzip.decompress(fh.read()).decode("ascii")
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            grids_to_long(*parse_ionex(text))
            reps.append(time.perf_counter() - t0)
        self.cleanup()
        return {
            "ionex_source.scan_s": t_scan,
            "ionex_source.parse_s": t_parse - t_scan,
            "ionex_source.explode_s": t_explode - t_parse,
            "ionex_source.write_s": t_write - t_explode,
            "ionex_source.write_total_s": t_write,
            "ionex_io.parse_file_s": sorted(reps)[1],
        }

    @staticmethod
    def counters(log) -> dict:
        """Counters of the traced ``ionex:write`` run (one full ingest)."""
        ph = log.phase("ionex:write")
        return {
            "ionex_source.maps_out": log.python_rows("ionex:write"),
            "ionex_source.points_out": ph.output_records,
            "ionex_source.bytes_to_python":
                log.sql_metric("ionex:write", "data sent to Python workers"),
            "ionex_source.python_worker_s":
                log.sql_metric("ionex:write", "time to run Python workers"),
            "ionex_source.bytes_written": ph.output_bytes,
        }


def check_ingest(got: dict, expect: dict) -> int:
    """Files whose point count or tecu_q sum differs from the generator's
    dense arrays (sentinels excluded); missing and extra files count too."""
    bad = sum(1 for k in got if k not in expect)
    return bad + sum(1 for k, v in expect.items() if got.get(k) != v)


WORKLOADS = {w.name: w for w in (TileAssign, ImagesAudit, IonexIngest)}
