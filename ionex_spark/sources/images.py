"""Distributed generator of the `images` table (BASELINE.json.input_hint).

Schema: (image_id string, bytes binary, w int, h int, fmt string,
caption string, phash bigint) + derived query columns (lat, lon, ts,
slot, tsec) that route every image through the spatial/temporal join.

Generation is `spark.range(n)` -> mapInPandas, so it scales horizontally
(each task synthesizes its own id span; no driver bottleneck, no shuffle).
Determinism: every row depends only on its id (core.synth.image_row), so
any subset/reordering of partitions yields identical rows — this is also
what makes resume-from-checkpoint idempotent.

A Zipfian fraction of rows lands in 3 hot cells (core.synth.HOT_CELLS) so
skew handling is actually exercised at test scale (SURVEY.md §7 risks).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

IMAGES_SCHEMA = (
    "image_id string, bytes binary, w int, h int, fmt string, "
    "caption string, phash bigint, lat double, lon double, "
    "ts timestamp, slot bigint, tsec bigint"
)


def _gen_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    from ionex_spark.core import synth

    for pdf in it:
        ids = pdf["id"].to_numpy()
        rows = [synth.image_row(int(i)) for i in ids]
        out = pd.DataFrame(rows)
        ts = out.pop("ts")
        out["ts"] = pd.to_datetime(ts)
        # aligned slot + unaligned seconds for the two join paths
        tsec = (
            (out["ts"] - pd.Timestamp(synth.EPOCH0.item()))
            .dt.total_seconds()
            .astype(np.int64)
        )
        out["slot"] = tsec // synth.SAMPLING_S
        out["tsec"] = tsec
        yield out[
            [
                "image_id", "bytes", "w", "h", "fmt", "caption", "phash",
                "lat", "lon", "ts", "slot", "tsec",
            ]
        ]


def images_df(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    rng = spark.range(0, n, 1, partitions or max(1, min(64, n // 2000 or 1)))
    return rng.mapInPandas(_gen_batches, IMAGES_SCHEMA)


_AUDIT_GRANULARITY = 0.01  # the file-aligned audit fraction the layout serves


def write_images(spark: SparkSession, n: int, path: str, partitions=None) -> None:
    """Materialize to parquet partition-parallel; bucket-ish layout by id
    ranges (what Iceberg `bucket(N, image_id)` would give us).

    File count = ``partitions`` when given.  Otherwise the generation
    parallelism, raised to ~3/_AUDIT_GRANULARITY id-range shards once
    every shard still holds >= 1000 rows.  Why (guide §6 — layout
    determines how well readers can skip): the payload audit (multimodal.audit_sample_files) samples
    whole FILES, so with F files the smallest realizable audit is 1/F of
    the table and round(f*F)/F only tracks the requested fraction when
    F >> 1/f.  At 64 files a "1 %" audit must read 1.56 % of the bytes in
    one serial scan task; at 300 it reads 3 files = 1.00 % in parallel.
    Production tables exceed 1/f files anyway (the policy is a no-op
    there); an explicit ``partitions`` is always honoured."""
    shards = int(round(3 / _AUDIT_GRANULARITY))
    parts = partitions or max(1, min(64, n // 2000 or 1))
    if partitions is None and n >= 1000 * shards:
        parts = max(parts, shards)
    images_df(spark, n, parts).write.mode("overwrite").parquet(path)
