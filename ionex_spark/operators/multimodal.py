"""Multimodal column operators — decode / verify / feature-extract over
binary image payloads, as Arrow-batched pandas UDFs.

Payload discipline (SURVEY.md §4.2): the ``bytes`` column must never cross
a shuffle it doesn't need — callers decode/verify AFTER the spatial join
and project ``bytes`` away everywhere else.  All UDFs here are
mapInPandas/pandas_udf (vectorized batches); per-row Python is forbidden
per BASELINE.json.input_hint.

Real codecs: ppm (lossless) and dct (lossy, PSNR>=40 dB) — pure numpy.
External formats (jpeg/png/...) raise NotImplementedError inside
core.codec (the documented stub; the Spark-side plumbing — schema,
batching, null handling — is identical and fully tested).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, LongType

from ionex_spark.core.codec import decode_planes


@F.pandas_udf(LongType())
def phash_of_bytes(data: pd.Series, fmt: pd.Series) -> pd.Series:
    """Recompute the 64-bit perceptual hash from the payload."""
    from ionex_spark.core import codec

    out = np.empty(len(data), dtype=np.int64)
    for k in range(len(data)):
        out[k] = codec.phash64(codec.decode_image(data.iloc[k], fmt.iloc[k]))
    return pd.Series(out)


@F.pandas_udf(BooleanType())
def decodes_ok(data: pd.Series, fmt: pd.Series) -> pd.Series:
    """True if the payload decodes under its declared codec."""
    from ionex_spark.core import codec

    out = np.zeros(len(data), dtype=bool)
    for k in range(len(data)):
        try:
            codec.decode_image(data.iloc[k], fmt.iloc[k])
            out[k] = True
        except (NotImplementedError, ValueError):
            out[k] = False
    return pd.Series(out)


RESIZE_SCHEMA = "image_id string, rw int, rh int, mean_r double, mean_g double, mean_b double"


def resize_features(df: DataFrame, target: int = 8) -> DataFrame:
    """mapInPandas feature extraction: block-mean resize to target x target
    + per-channel means.  Shows the decode->transform batch shape; projects
    bytes away on output."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ionex_spark.core import codec

        for pdf in it:
            n = len(pdf)
            means = np.zeros((n, 3))
            for k in range(n):
                img = codec.decode_image(pdf["bytes"].iloc[k], pdf["fmt"].iloc[k])
                hh, ww = img.shape[:2]
                yi = (np.arange(target) * hh) // target
                xi = (np.arange(target) * ww) // target
                small = img[np.ix_(yi, xi)]
                means[k] = small.reshape(-1, 3).mean(axis=0)
            yield pd.DataFrame(
                {
                    "image_id": pdf["image_id"],
                    "rw": target,
                    "rh": target,
                    "mean_r": means[:, 0],
                    "mean_g": means[:, 1],
                    "mean_b": means[:, 2],
                }
            )

    return df.select("image_id", "bytes", "fmt").mapInPandas(fn, RESIZE_SCHEMA)


def audit_sample_files(
    spark, path: str, fraction: float = 0.01, seed: int = 0
) -> DataFrame:
    """FILE-ALIGNED deterministic audit sample of a payload table.

    Row-scattered predicates (``phash % 100 = 0``) cannot prune parquet
    pages — the scan decompresses EVERY page of the ``bytes`` column to
    verify 1% of rows, so a "1% audit" costs 100% of payload IO
    (measured: 2.5 s full-bytes scan vs 0.4 s metadata scan on the 1M-row
    2.3 GB bench table).  At 100 TB that is the difference between a 1 TB
    audit and a 100 TB one.  This samples whole FILES instead: pick
    ceil(fraction * n_files) files by deterministic hash-rank of the file
    name (seeded, so different audit rounds can rotate through disjoint
    file subsets), and read only those.  Files are id-range shards of a
    generator keyed on id, so a file subset is an unbiased content
    sample; unselected files cost zero IO.  Returns the DataFrame over
    the selected files only.

    Pick count is ``max(1, round(fraction * n_files))`` — nearest-file
    to the requested fraction, floored at one file (ADVICE r6: at 149
    files and fraction=0.01 this audits 1 file, i.e. the realized
    fraction can sit slightly below the requested one; callers needing
    an at-least guarantee should pass a fraction of ceil(n)/n_files)."""
    import zlib

    # list via the JVM filesystem API so the same code works on hdfs/s3
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    names = sorted(
        st.getPath().toString()
        for st in fs.listStatus(hpath)
        if st.getPath().getName().endswith(".parquet")
    )
    if not names:
        raise ValueError(f"no parquet files under {path}")
    n_pick = max(1, int(round(fraction * len(names))))
    ranked = sorted(
        names, key=lambda n: zlib.crc32(f"{seed}:{n.rsplit('/', 1)[-1]}".encode())
    )
    return spark.read.parquet(*ranked[:n_pick])


def _src_pixels_components(ids: np.ndarray, w: int, h: int):
    """Bit-exact batched decomposition of synth.image_pixels for N images
    of one shape: the generator's sin term varies only along x with phase
    i%7 (x 3 channels) and its cos term only along y with phase i%5, so
    regenerating N sources needs 21 sin rows + 5 cos columns TOTAL — no
    per-image transcendentals.  Returns (row_terms, col_terms, p7, p5,
    base) such that plane(i, c) = (base[i,c] + row_terms[p7[i], c])[None,:]
    + col_terms[p5[i]][:,None] reproduces image_pixels' float sums in the
    ORIGINAL left-to-right association (bit-identical before round/clip)."""
    from ionex_spark.core.synth import splitmix64

    x = np.arange(w, dtype=np.float64)
    y = np.arange(h, dtype=np.float64)
    row_terms = np.empty((7, 3, w))
    for p7 in range(7):
        for c in range(3):
            row_terms[p7, c] = 40.0 * np.sin(
                2 * np.pi * (x / w + c / 3.0 + p7 / 7.0)
            )
    col_terms = np.empty((5, h))
    for p5 in range(5):
        col_terms[p5] = 40.0 * np.cos(2 * np.pi * (y / h + p5 / 5.0))
    base = (
        splitmix64(ids[:, None].astype(np.uint64) * np.uint64(13)
                   + np.arange(3, dtype=np.uint64)) % np.uint64(200)
    ).astype(np.float64)
    return row_terms, col_terms, ids % 7, ids % 5, base


def _sse_vs_source(dec_planes, ids: np.ndarray, w: int, h: int) -> np.ndarray:
    """Exact integer sum of squared differences per image between decoded
    channel planes (uint8, shape (N, 3, h, w)) and the regenerated
    generator sources.  Integer arithmetic, so the derived mse equals
    np.mean(float64 diff**2) bit-for-bit (both are exact-int sums well
    under 2^53 divided once by the pixel count)."""
    row_terms, col_terms, p7, p5, base = _src_pixels_components(ids, w, h)
    sse = np.zeros(len(ids), dtype=np.int64)
    for c in range(3):
        a = base[:, c, None] + row_terms[p7, c]          # (N, w)
        plane = a[:, None, :] + col_terms[p5][:, :, None]  # (N, h, w)
        src = np.clip(np.round(plane), 0, 255).astype(np.int16)
        d = src - dec_planes[:, c].astype(np.int16)
        sse += np.einsum("nhw,nhw->n", d.astype(np.int64), d.astype(np.int64))
    return sse


# what decoding a truncated, mislabeled or NULL payload raises
_BAD_PAYLOAD = (ValueError, TypeError, NotImplementedError)


def _decode_rows(payloads: list, sel: np.ndarray, fmt: str, w: int, h: int):
    """Per-row fallback of one failed batch decode: (mask of the rows of
    ``sel`` that decode, their stacked (n, 3, h, w) planes)."""
    ok = np.zeros(len(sel), dtype=bool)
    planes = []
    for j, k in enumerate(sel):
        try:
            planes.append(decode_planes([payloads[k]], fmt, w, h)[0])
            ok[j] = True
        except _BAD_PAYLOAD:
            pass
    return ok, np.asarray(planes, dtype=np.uint8)


def _captions_batch(ids: np.ndarray) -> list:
    """Batched twin of synth.caption_of: one vectorized splitmix64 over
    all (id, word-slot) pairs, then cheap string assembly."""
    from ionex_spark.core.synth import _WORDS, splitmix64

    idx = (
        splitmix64(np.arange(3, dtype=np.uint64)
                   + ids[:, None].astype(np.uint64) * np.uint64(7))
        % np.uint64(20)
    )
    return [
        f"caption of image {int(i)}: {_WORDS[a]} {_WORDS[b]} {_WORDS[c]}"
        for i, (a, b, c) in zip(ids, idx)
    ]


def verify_payloads(images: DataFrame, min_psnr: float = 40.0) -> DataFrame:
    """The input_hint per-row invariant: decoded pixels allclose vs the
    generator (PSNR >= min_psnr for lossy, inf for lossless) and caption
    equality.  Output = the verification verdict per row: (image_id, fmt,
    w, h, psnr_db, payload_ok, caption_ok).  The payloads (and any caller
    join/derived columns) are NOT echoed back — payload discipline:
    verified bytes must not ride back across the Python boundary, and a
    verdict keyed on image_id re-attaches to anything that needs it.

    One mapInArrow pass (guide §4.1/§4.2): ONLY the six payload columns
    cross the Python boundary (an opaque map ships every column it is
    given, so the caller's join/derived columns are projected away first
    — measured ~0.1 s of pure serialization on the bench audit), payload
    batches arrive as Arrow binary columns, rows are grouped by
    (fmt, w, h) — 9 shapes x 2 codecs here — and each group decodes,
    regenerates its generator sources and accumulates exact integer SSE
    through single vectorized numpy pipelines.  Replaces two pandas_udf
    evaluations whose per-row decode plus the bytes column's
    Arrow->pandas->Arrow round-trip dominated the stage.

    Bad input is a flagged row, never a failed task: a chunk whose
    batched decode raises (a truncated, mislabeled or NULL payload) is
    re-decoded row by row, and only the rows that still fail come back
    with payload_ok = false and psnr_db = -inf."""
    import pyarrow as pa

    src = images.select("image_id", "bytes", "fmt", "w", "h", "caption")
    out_schema = (
        "image_id string, fmt string, w int, h int,"
        " psnr_db double, payload_ok boolean, caption_ok boolean"
    )

    def fn(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for rb in batches:
            nrows = rb.num_rows
            col = {nm: rb.column(i) for i, nm in enumerate(rb.schema.names)}
            ids = np.fromiter(
                (int(s[3:]) for s in col["image_id"].to_pylist()),
                dtype=np.int64, count=nrows,
            )
            fmts = col["fmt"].to_pylist()
            ws = np.asarray(col["w"]).astype(np.int64)
            hs = np.asarray(col["h"]).astype(np.int64)
            payloads = col["bytes"].to_pylist()
            psnr = np.empty(nrows, dtype=np.float64)
            groups: dict = {}
            for k in range(nrows):
                groups.setdefault((fmts[k], int(ws[k]), int(hs[k])), []).append(k)
            for (fmt, w, h), rows in groups.items():
                rows = np.asarray(rows)
                # chunk the group so peak temporaries stay bounded
                # (~4096 64x64 images = ~50 MB per decoded plane stack)
                for lo in range(0, len(rows), 4096):
                    sel = rows[lo:lo + 4096]
                    try:
                        dec = decode_planes(
                            [payloads[k] for k in sel], fmt, w, h
                        )
                    except _BAD_PAYLOAD:
                        # a corrupt payload flags its own row, not the
                        # task: re-decode the chunk row by row
                        ok, dec = _decode_rows(payloads, sel, fmt, w, h)
                        psnr[sel[~ok]] = -np.inf
                        sel = sel[ok]
                        if not len(sel):
                            continue
                    sse = _sse_vs_source(dec, ids[sel], w, h)
                    npix = float(h * w * 3)
                    with np.errstate(divide="ignore"):
                        psnr[sel] = np.where(
                            sse == 0, np.inf,
                            10.0 * np.log10(255.0 ** 2 / (sse / npix)),
                        )
            cap_ok = np.fromiter(
                (a == b for a, b in zip(_captions_batch(ids),
                                        col["caption"].to_pylist())),
                dtype=bool, count=nrows,
            )
            yield pa.RecordBatch.from_arrays(
                [col["image_id"], col["fmt"], col["w"], col["h"],
                 pa.array(psnr), pa.array(psnr >= min_psnr),
                 pa.array(cap_ok)],
                names=["image_id", "fmt", "w", "h",
                       "psnr_db", "payload_ok", "caption_ok"],
            )

    return src.mapInArrow(fn, out_schema)


def phash_near_dup_pairs(
    images: DataFrame,
    max_hamming: int = 3,
    id_col: str = "image_id",
    phash_col: str = "phash",
    scheme: str = "refined",
) -> DataFrame:
    """IMAGE near-duplicate pairs by perceptual-hash hamming distance —
    the multimodal twin of text simhash dedup, sharing the exact same
    blocked-candidate + XOR-popcount machinery (dedup.hamming_pairs_
    from_sig) on the 64-bit phash as is; candidates come from Manku
    block-combination keys, (6, 3) by default (near-linear at 10^10
    images), and the hamming verify is exact.

    Runs on the metadata column ONLY — the bytes payload never enters
    the plan (payload discipline), so at 100 TB this is a narrow scan of
    a 16-byte-per-row projection.  Output: (id_a, id_b, hamming)."""
    from ionex_spark.operators import dedup as dd

    sig = images.selectExpr(f"{id_col} as doc_id", f"{phash_col} as fp")
    return dd.hamming_pairs_from_sig(sig, max_hamming, "doc_id", scheme)


def multimodal_near_dup_pairs(
    images: DataFrame,
    max_hamming: int = 3,
    jaccard_threshold: float = 0.5,
    n_minhash: int = 8,
    band_rows: int = 2,
    id_col: str = "image_id",
    phash_col: str = "phash",
    caption_col: str = "caption",
) -> DataFrame:
    """MULTIMODAL near-duplicate policy over an image+caption table: a
    pair is a duplicate if its IMAGES are perceptual near-dups (phash
    hamming <= max_hamming) OR its CAPTIONS are text near-dups (shingle
    jaccard >= threshold) — the union policy a curation pipeline
    actually applies (same photo re-captioned, same caption on a
    re-encoded photo, or both).

    Output: (id_a, id_b, image_dup, caption_dup, hamming, jaccard) with
    NULL metric for the modality that did not fire.  Composition of the
    two existing blocked pipelines — each side stays bucketed
    (candidates near-linear), the final merge is a full-outer join on
    the (small) flagged-pair sets, and the bytes payload never enters
    any plan."""
    from pyspark.sql import functions as F

    from ionex_spark.operators import dedup as dd

    img_pairs = phash_near_dup_pairs(
        images, max_hamming, id_col, phash_col
    ).withColumn("image_dup", F.lit(1))

    caps = images.selectExpr(f"{id_col} as doc_id", f"{caption_col} as text")
    sigs = dd.minhash_signatures(caps, n_minhash, backend="xxhash64")
    cand = dd.lsh_candidate_pairs(sigs, n_minhash, band_rows)
    cap_pairs = dd.jaccard_verify(
        cand, caps, threshold=jaccard_threshold
    ).selectExpr("id_a", "id_b", "jaccard").withColumn(
        "caption_dup", F.lit(1)
    )

    merged = img_pairs.join(cap_pairs, ["id_a", "id_b"], "full_outer")
    return merged.select(
        "id_a", "id_b",
        F.coalesce("image_dup", F.lit(0)).alias("image_dup"),
        F.coalesce("caption_dup", F.lit(0)).alias("caption_dup"),
        "hamming", "jaccard",
    )


PATCH_SCHEMA = (
    "image_id string, patch_row int, patch_col int,"
    " patch array<float>, n_rows int, n_cols int"
)


def patchify(df: DataFrame, patch: int = 16) -> DataFrame:
    """ViT-style PATCH EXTRACTION: decode each image and emit one row
    per non-overlapping patch x patch tile, the flattened (row-major
    HWC) float patch as an array column — the vision-training twin of
    sequence packing (image -> token grid).  Images are cropped to
    whole patches (floor(h/p) x floor(w/p) grid, the standard ViT
    behavior for non-multiple sizes).

    Shape at 10^12 images: decode runs once per image and the whole
    patch grid is produced by ONE numpy reshape/transpose (no per-patch
    Python loop — review finding: the loop version paid ~200 Python
    iterations per 224x224 image); the heavy column ('patch') is born
    AFTER the shuffle-free map, so no byte of pixel data crosses an
    exchange unless the consumer aggregates.  bytes is projected away
    on output (payload discipline)."""

    def fn(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from ionex_spark.core import codec

        for pdf in it:
            frames = []
            for k in range(len(pdf)):
                img = codec.decode_image(
                    pdf["bytes"].iloc[k], pdf["fmt"].iloc[k]
                ).astype(np.float32)
                hh, ww = img.shape[:2]
                nr, nc = hh // patch, ww // patch
                if nr == 0 or nc == 0:
                    continue
                tiles = (
                    img[: nr * patch, : nc * patch]
                    .reshape(nr, patch, nc, patch, 3)
                    .transpose(0, 2, 1, 3, 4)
                    .reshape(nr * nc, -1)
                )
                rows, cols = np.divmod(np.arange(nr * nc), nc)
                frames.append(
                    pd.DataFrame(
                        {
                            "image_id": pdf["image_id"].iloc[k],
                            "patch_row": rows.astype("int32"),
                            "patch_col": cols.astype("int32"),
                            "patch": list(tiles),
                            "n_rows": np.int32(nr),
                            "n_cols": np.int32(nc),
                        }
                    )
                )
            yield (
                pd.concat(frames, ignore_index=True)
                if frames
                else pd.DataFrame(
                    {
                        "image_id": pd.Series([], dtype="object"),
                        "patch_row": pd.Series([], dtype="int32"),
                        "patch_col": pd.Series([], dtype="int32"),
                        "patch": pd.Series([], dtype="object"),
                        "n_rows": pd.Series([], dtype="int32"),
                        "n_cols": pd.Series([], dtype="int32"),
                    }
                )
            )

    return df.select("image_id", "bytes", "fmt").mapInPandas(
        fn, PATCH_SCHEMA
    )
