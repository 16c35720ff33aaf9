"""IONEX ASCII <-> Spark: distributed ingest and export.

Ingest (reference: IONEX::from_file / from_gzip_file, src/lib.rs:403-510):
``binaryFile`` scan -> mapInPandas stateful block parser, ONE FILE = ONE
TASK (files are independently parseable; a day file is ~MBs so per-file
parallelism is the right grain — at 100 TB you have millions of files, not
bigger files).  Gzip handled inside the UDF.  Output: long ``tec_points``
rows; the 9999 sentinel becomes absent rows (sparse-in), RMS joins in as a
nullable column — the reference's two-pass RMS attach collapsed into the
parser (src/record/parsing.rs:166-173).

Export (reference: Record::format, src/record/formatting.rs:14-207):
``applyInPandas`` per epoch produces that epoch's TEC-map text block
(dense raster scan N->S / W->E, 16 x 5-char values, `` 9999`` for missing);
the driver assembles header + ordered blocks + footer (blocks are tiny
strings; the heavy pivot/format work stays distributed).
"""

from __future__ import annotations

import gzip
from collections.abc import Iterator
from typing import Any

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ionex_spark.core.ionex_io import (
    IonexHeader,
    grids_to_long,
    parse_ionex,
    write_ionex,
)

TEC_POINTS_SCHEMA = (
    "epoch timestamp, lat double, lon double, alt double, "
    "tecu_q bigint, exp int, rms_q bigint, src_file string"
)


# One Python-boundary row per TEC MAP, point columns as ARRAY cells:
# the long point rows are rebuilt JVM-side by inline(arrays_zip(...)).
# Same values, ~5000x fewer Arrow rows — the old per-point emission paid
# pandas->Arrow row assembly AND one copy of the ~60-char src_file string
# for each of the 8.3M points (guide §4.1: control how much crosses the
# boundary, not just how).
_MAP_ROWS_SCHEMA = (
    "src_file string, epoch timestamp, alt double, exp int, "
    "lat array<double>, lon array<double>, "
    "tecu_q array<double>, rms_q array<double>"
)


def _parse_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        for path, content in zip(pdf["path"], pdf["content"]):
            raw = bytes(content)
            if path.endswith(".gz"):
                raw = gzip.decompress(raw)
            header, epochs, tec, rms = parse_ionex(raw.decode("ascii"))
            long = grids_to_long(header, epochs, tec, rms)
            # grids_to_long is epoch-major (meshgrid "ij" + boolean mask),
            # so map k's points are the k-th run of its kept-point count
            kept = tec != 9999
            if rms is not None:
                kept |= rms != 9999
            counts = kept.reshape(len(tec), -1).sum(axis=1)
            has = counts > 0
            if not has.any():
                continue  # no points: an empty frame has no list dtypes

            def per_map(col: np.ndarray) -> list[np.ndarray]:
                runs = np.split(col, np.cumsum(counts)[:-1])
                return [r for r, h in zip(runs, has) if h]

            yield pd.DataFrame({
                "src_file": path,
                "epoch": np.asarray(epochs)[has].astype("datetime64[ns]"),
                "alt": header.grid.alt.start,
                # per-map exponent (legal mid-file EXPONENT updates)
                "exp": np.asarray(
                    header.exp_per_map or [header.exponent] * len(tec),
                    dtype=np.int32,
                )[has],
                "lat": per_map(long["lat"]),
                "lon": per_map(long["lon"]),
                # 9999 sentinel -> NULL happens JVM-side (isnan mask);
                # grids_to_long NaN-masks both columns (RMS-only points
                # keep a NULL tecu_q, reference RMS-branch parity)
                "tecu_q": per_map(long["tecu_q"]),
                "rms_q": per_map(
                    long["rms_q"] if long["rms_q"] is not None
                    else np.full_like(long["tecu_q"], np.nan)
                ),
            })


def read_ionex(spark: SparkSession, path: str) -> DataFrame:
    """Distributed IONEX scan -> tec_points DataFrame.

    ``binaryFile`` PACKS small files into shared splits (128 MB default),
    so a 64-file day corpus of ~80 KB gzips lands in 1-2 scan partitions
    and the Python parser runs on 1-2 cores of 32.  When that happens,
    redistribute the (path, content) rows round-robin BEFORE the parser —
    the shuffle moves only the raw file bytes once, and the parse stage
    becomes embarrassingly parallel again (guide §2.5 input-skew fix,
    §4: pass only the columns the function needs).  At production file
    counts the scan already yields >= cores splits and this is a no-op."""
    files = spark.read.format("binaryFile").load(path).select(
        "path", "content"
    )
    # file count via a metadata-only glob (no job): the fan-out target
    # is min(cores, n_files) — a single-file read gains nothing from 32
    # empty partitions, a 64-file day corpus fills every core
    jvm = spark._jvm
    fs_path = jvm.org.apache.hadoop.fs.Path(path)
    fs = fs_path.getFileSystem(spark._jsc.hadoopConfiguration())
    statuses = fs.globStatus(fs_path)
    if (
        statuses is not None
        and len(statuses) == 1
        and statuses[0].isDirectory()
    ):
        statuses = fs.listStatus(statuses[0].getPath())
    n_files = len(statuses) if statuses is not None else 0
    target = min(spark.sparkContext.defaultParallelism, max(1, n_files))
    if 1 < target and files.rdd.getNumPartitions() < target:
        files = files.repartition(target)
    maps = files.mapInPandas(_parse_batches, _MAP_ROWS_SCHEMA)
    # JVM-side point reconstruction: inline the zipped point arrays and
    # NaN-mask the quantized columns back to nullable bigints (the NaN ->
    # NULL conversion the old per-row path got from Arrow's int cast)
    return maps.selectExpr(
        "src_file", "epoch", "alt", "exp",
        "inline(arrays_zip(lat, lon, tecu_q, rms_q))",
    ).selectExpr(
        "epoch", "lat", "lon", "alt",
        "case when isnan(tecu_q) then cast(null as bigint)"
        " else cast(tecu_q as bigint) end as tecu_q",
        "exp",
        "case when isnan(rms_q) then cast(null as bigint)"
        " else cast(rms_q as bigint) end as rms_q",
        "src_file",
    )


def read_header(path: str) -> IonexHeader:
    """Driver-side header peek (metadata is tiny; reference parses it
    before the record for the same reason, src/lib.rs:358-372)."""
    opener = gzip.open if path.endswith(".gz") else open
    with opener(path, "rt") as fh:
        header, _, _, _ = parse_ionex(fh.read())
    return header


def export_ionex(
    tec_points: DataFrame, header: IonexHeader, out_path: str
) -> None:
    """Distributed format: per-epoch dense rasters built in executors,
    single-writer assembly on the driver."""
    g = header.grid
    lat_vals = g.lat.values()
    lon_vals = g.lon.values()
    nlat, nlon = len(lat_vals), len(lon_vals)
    lat0, dlat = lat_vals[0], (g.lat.spacing if len(lat_vals) > 1 else 1.0)
    lon0, dlon = lon_vals[0], (g.lon.spacing if len(lon_vals) > 1 else 1.0)

    def raster_lines(vals: np.ndarray) -> str:
        lines: list[str] = []
        for r in range(nlat):
            spec = (
                f"  {lat_vals[r]:6.1f}{g.lon.start:6.1f}{g.lon.end:6.1f}"
                f"{g.lon.spacing:6.1f}{g.alt.start:6.1f}"
            )
            lines.append(f"{spec:<60}LAT/LON1/LON2/DLON/H")
            row = vals[r]
            for off in range(0, nlon, 16):
                lines.append(
                    "".join(f"{int(v):5}" for v in row[off : off + 16])
                )
        return "\n".join(lines)

    def fmt_epoch(key: tuple[Any, ...], pdf: pd.DataFrame) -> pd.DataFrame:
        dense = np.full((nlat, nlon), 9999, dtype=np.int64)
        li = np.rint((pdf["lat"].to_numpy() - lat0) / dlat).astype(int)
        lo = np.rint((pdf["lon"].to_numpy() - lon0) / dlon).astype(int)
        # tecu_q is nullable (RMS-only points): NULL arrives as NaN and an
        # unsafe float->int64 cast would write INT64_MIN into the raster —
        # mask to keep the 9999 sentinel instead
        tmask = pdf["tecu_q"].notna().to_numpy()
        dense[li[tmask], lo[tmask]] = (
            pdf["tecu_q"].to_numpy()[tmask].astype(np.int64)
        )
        rms_block = None
        if "rms_q" in pdf.columns and pdf["rms_q"].notna().any():
            rms = np.full((nlat, nlon), 9999, dtype=np.int64)
            mask = pdf["rms_q"].notna().to_numpy()
            rms[li[mask], lo[mask]] = (
                pdf["rms_q"].to_numpy()[mask].astype(np.int64)
            )
            rms_block = raster_lines(rms)
        return pd.DataFrame(
            {
                "epoch": [key[0]],
                "block": [raster_lines(dense)],
                "rms_block": [rms_block],
            }
        )

    blocks_df = (
        tec_points.groupBy("epoch")
        .applyInPandas(fmt_epoch, "epoch timestamp, block string, rms_block string")
        .orderBy("epoch")
    )
    # persist so the RMS pass re-reads the SAME materialized blocks: the
    # second toLocalIterator would otherwise re-execute the whole job, and
    # a non-deterministic tec_points source (or one mutated between the
    # passes) could yield RMS maps that disagree with the TEC maps with no
    # error.  Blocks are small formatted strings (O(epochs), not O(points))
    # so caching them is cheap; unpersisted before return.
    blocks_df = blocks_df.persist()

    # single-writer assembly is inherent to the one-file IONEX format, but
    # the driver never holds more than one PARTITION of blocks at a time:
    # toLocalIterator streams the epoch-ordered result, so a many-epoch
    # export is bounded by partition size, not file size.  The RMS pass
    # re-iterates the persisted blocks instead of buffering them driver-
    # side — O(partition) driver memory either way.
    def fh_open():
        if out_path.endswith(".gz"):
            return gzip.open(out_path, "wt", compresslevel=5)
        return open(out_path, "w")

    hdr_only = write_ionex(
        header,
        np.array([], dtype="datetime64[s]"),
        np.zeros((0, nlat, nlon), dtype=np.int64),
    ).splitlines()
    try:
        _write_body(fh_open, hdr_only, blocks_df)
    finally:
        blocks_df.unpersist()


def _write_body(fh_open, hdr_only, blocks_df) -> None:
    from ionex_spark.core.ionex_io import _fmt_epoch_body, _fmt_line

    with fh_open() as fh:

        def put(body: str, label: str) -> None:
            for line in _fmt_line(body, label):
                fh.write(line + "\n")

        def put_map(kind: str, i: int, epoch: Any, block: str) -> None:
            put(f"{i + 1:6}", f"START OF {kind} MAP")
            put(_fmt_epoch_body(np.datetime64(epoch)), "EPOCH OF CURRENT MAP")
            fh.write(block + "\n")
            put(f"{i + 1:6}", f"END OF {kind} MAP")

        for line in hdr_only:
            if "END OF FILE" not in line:
                fh.write(line + "\n")
        has_rms = False  # learned for free while streaming the TEC pass
        for i, row in enumerate(blocks_df.toLocalIterator()):
            has_rms = has_rms or row["rms_block"] is not None
            put_map("TEC", i, row["epoch"], row["block"])
        # RMS pass after all TEC maps (src/record/formatting.rs:119-201)
        if has_rms:
            for i, row in enumerate(blocks_df.toLocalIterator()):
                if row["rms_block"] is not None:
                    put_map("RMS", i, row["epoch"], row["rms_block"])
        put("", "END OF FILE")
