"""Streaming tile assignment — the engine's pipeline as a readStream job.

The reference is a batch file library (SURVEY.md §2.9); streaming shape
comes from the north_rule's resumability requirements.  Design:

- stream-STATIC broadcast join: the TEC cell grid is the static side, so
  the aligned spatial join works unchanged on a stream (no stream-stream
  join, no state store for the join itself);
- event-time windowed rollup per tile with a watermark for late data —
  the streaming twin of the batch per-tile aggregation;
- checkpointLocation gives exactly-once file-sink semantics; combined
  with the deterministic id-keyed generator, replays are idempotent
  (same guarantee the batch ResumableJob provides via snapshots).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ionex_spark.functions import sqlgen
from ionex_spark.operators import spatial


def stream_points_from_files(
    spark: SparkSession, path: str, schema: str
) -> DataFrame:
    """File-based micro-batch source of point rows (id, lat, lon, slot, ts)."""
    return spark.readStream.schema(schema).parquet(path)


def streaming_tile_assign(points: DataFrame, cells: DataFrame) -> DataFrame:
    """Stream-static broadcast spatial join + bilinear TEC + tile id."""
    out = spatial.spatial_join_bilinear(points, cells)
    return out.withColumn(
        "tile_id", F.expr(sqlgen.cell_id_sql("lat", "lon", 6))
    )


def windowed_tile_counts(
    tiled: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling-window rollup per tile with late-data watermark."""
    return (
        tiled.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window).alias("w"), "tile_id")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum("tec").alias("sum_tec"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "tile_id",
            "n_points",
            "sum_tec",
        )
    )


def streaming_dedup_exact(
    points: DataFrame,
    keys: list[str],
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Streaming exact dedup: drop key-duplicates across micro-batches
    with BOUNDED state — dropDuplicatesWithinWatermark keeps a key only
    until the watermark passes its event time, so state size tracks the
    late-data horizon instead of the whole stream (the 100 TB requirement
    for a dedup that runs forever).  The batch twin is
    operators/dedup.exact_dedup."""
    return points.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        keys
    )


def near_dup_alert_join(
    stream_sig: DataFrame,
    corpus_sig: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    extra_stream_cols: tuple[str, ...] = (),
) -> DataFrame:
    """The stream-static near-dup JOIN+VERIFY core, batch/stream agnostic
    (plain DataFrame ops): fold each side's 4x16-bit bands into one
    fingerprint, explode the shared (4, 1) block keys, inner equi-join
    (static corpus side broadcast), then the shared XOR-popcount verify
    (dedup.fingerprint_keys / dedup.hamming_within).  Used by
    streaming_near_dup_alerts (with watermarked alert dedup on top) AND
    by the batch-twin gate query
    (plans/queries_data.streaming_neardup_batch), so the driver's oracle
    row exercises the very code the stream runs.  A pair matching in
    several bands appears once per matching band — callers dedup."""
    from ionex_spark.operators import dedup as dd

    blocks = dd.scheme_blocks("bands", max_hamming)

    def keyed(sig: DataFrame, side: str, *extra: str) -> DataFrame:
        fp = f"{side}_fp"
        return sig.select(
            F.col(id_col).alias(f"{side}_id"), *extra,
            F.expr(dd.BANDS_TO_FP).alias(fp),
        ).select("*", F.explode(dd.fingerprint_keys(fp, *blocks)).alias("k"))

    pairs = keyed(stream_sig, "stream", *extra_stream_cols).join(
        F.broadcast(keyed(corpus_sig, "corpus")), "k"
    )
    return dd.hamming_within(
        pairs, "stream_fp", "corpus_fp", max_hamming
    ).select("stream_id", "corpus_id", "hamming", *extra_stream_cols)


def streaming_near_dup_alerts(
    stream_sig: DataFrame,
    corpus_sig: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    ts_col: str = "ts",
    watermark: str = "2 hours",
) -> DataFrame:
    """Near-dup ALERTS against a static reference corpus: every incoming
    64-bit signature (band_0..band_3, simhash64's layout) within
    hamming <= 3 of any corpus signature emits (stream_id, corpus_id,
    hamming, ts) — the ingest-side "is this already in my training set"
    check.

    Shape: stream-STATIC inner equi-join on block keys — state-free and
    broadcastable (the reference index is the small/static side; at
    100 TB it is bucketed by block key instead), with the same pigeonhole
    completeness guarantee as the batch operator
    (dedup.hamming_pairs_from_sig).  A pair matching in several bands
    would alert more than once, so alerts are deduplicated with
    dropDuplicatesWithinWatermark — bounded state tracking only the
    late-data horizon."""
    alerts = near_dup_alert_join(
        stream_sig.withColumnRenamed(ts_col, "ts"),
        corpus_sig,
        max_hamming=max_hamming,
        id_col=id_col,
        extra_stream_cols=("ts",),
    )
    return alerts.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(
        ["stream_id", "corpus_id"]
    )


# ------------------------------------------------ custom stateful operator

STATE_SCHEMA = "n bigint, sum_tec double"
TILE_STATS_SCHEMA = (
    "tile_id bigint, n_total bigint, mean_tec double, batch_rows bigint"
)


def _tile_stats_fn(key, pdf_iter, state):
    """Running per-tile statistics across micro-batches (GroupState).

    State = (row count, TEC sum) per tile; each micro-batch emits the
    tile's cumulative count/mean plus this batch's row count — the
    streaming twin of the batch rollup, with explicit state instead of a
    shuffle-side hash map."""
    import pandas as pd

    n, s = state.get if state.exists else (0, 0.0)
    batch_rows = 0
    for pdf in pdf_iter:
        batch_rows += len(pdf)
        n += len(pdf)
        s += float(pdf["tec"].sum())
    state.update((n, s))
    yield pd.DataFrame(
        {
            "tile_id": [key[0]],
            "n_total": [n],
            "mean_tec": [s / n if n else 0.0],
            "batch_rows": [batch_rows],
        }
    )


def streaming_tile_stats(tiled: DataFrame) -> DataFrame:
    """Custom stateful rollup via applyInPandasWithState (north_star's
    'custom stateful operators' requirement)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        tiled.select("tile_id", "tec")
        .groupBy("tile_id")
        .applyInPandasWithState(
            _tile_stats_fn,
            outputStructType=TILE_STATS_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------------ streaming sessionization

SESSION_STATE = (
    "session_start bigint, last_tsec bigint, n_events bigint,"
    " session_id bigint"
)
SESSION_OUT = (
    "user_id bigint, session_id bigint, n_events bigint,"
    " session_start bigint, session_end bigint, closed int"
)
SESSION_GAP_S = 1800


def _sessionize_fn(key, pdf_iter, state):
    """Per-user session state machine across micro-batches, VECTORIZED
    within each batch: sort by event time, find gap breaks (> 30 min)
    with a diff+cumsum, roll segments up with groupby, stitch the first
    segment onto the open session carried in GroupState.  Emits every
    CLOSED session once (closed=1) plus a snapshot of the still-open
    session each batch (closed=0, update-mode semantics) — the streaming
    twin of the gated batch query sessionize_events."""
    import numpy as np
    import pandas as pd

    if state.exists:
        s_start, last, n, sid = state.get
    else:
        s_start, last, n, sid = None, None, 0, 0
    rows = []
    for pdf in pdf_iter:
        if not len(pdf):
            continue
        pdf = pdf.sort_values(["tsec", "event_id"])
        t = pdf["tsec"].to_numpy(np.int64)
        prev = np.concatenate(([t[0] if last is None else last], t[:-1]))
        seg = np.cumsum((t - prev) > SESSION_GAP_S)
        segs = pd.DataFrame({"seg": seg, "t": t}).groupby("seg")["t"].agg(
            ["count", "min", "max"]
        )
        for s, (cnt, tmin, tmax) in enumerate(
            segs.itertuples(index=False), start=0
        ):
            if s == 0 and last is not None and seg.size and seg[0] == 0:
                # continues the open session
                n += int(cnt)
                last = int(tmax)
            else:
                if n:  # close the previous session
                    rows.append((key[0], sid, n, s_start, last, 1))
                    sid += 1
                s_start, last, n = int(tmin), int(tmax), int(cnt)
            if s_start is None:
                s_start = int(tmin)
    state.update((s_start, last, n, sid))
    if n:
        rows.append((key[0], sid, n, s_start, last, 0))
    yield pd.DataFrame(
        rows,
        columns=[
            "user_id", "session_id", "n_events", "session_start",
            "session_end", "closed",
        ],
    )


def streaming_sessionize(events: DataFrame) -> DataFrame:
    """Streaming sessionization (30-min inactivity gap) via
    applyInPandasWithState — expects (user_id, event_id, tsec) columns;
    assumes event-time-ordered arrival per user across batches (enforce
    upstream with a watermark + sort within trigger if the source can
    reorder)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("user_id", "event_id", "tsec")
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_fn,
            outputStructType=SESSION_OUT,
            stateStructType=SESSION_STATE,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


# ------------------------------------------------ stream-stream interval join

def streaming_interval_join(
    views: DataFrame,
    clicks: DataFrame,
    max_lag: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """STREAM-STREAM inner join: each click matches the views of the
    SAME user that happened within ``max_lag`` BEFORE it — the
    attribution join (view -> click conversion), the one streaming join
    class the stream-static pattern cannot express.

    State-boundedness: BOTH sides carry watermarks and the join
    condition bounds event time in BOTH directions
    (view_ts <= click_ts <= view_ts + max_lag), so Spark can evict
    buffered rows once the watermark passes — state tracks the lag
    horizon, not the stream (the mandatory shape for an unbounded
    stream-stream join; without the time bound state grows forever).

    Column contract: ``views`` must carry (v_user_id, view_id, view_ts)
    and ``clicks`` (c_user_id, click_id, click_ts) — the user-id columns
    are PRE-RENAMED on each side (the join expression references
    v_user_id/c_user_id directly; a shared 'user_id' name would be
    ambiguous in the join condition).  Output re-exposes user_id."""
    v = views.withWatermark("view_ts", watermark)
    c = clicks.withWatermark("click_ts", watermark)
    return v.join(
        c,
        F.expr(
            "v_user_id = c_user_id"
            " AND view_ts <= click_ts"
            f" AND click_ts <= view_ts + interval {max_lag}"
        ),
        "inner",
    ).select(
        F.col("v_user_id").alias("user_id"),
        "view_id", "view_ts", "click_id", "click_ts",
    )


# ------------------------------------------- streaming histogram sketch

def streaming_histogram_bins(
    stream: DataFrame,
    group_cols: list[str],
    value_col: str,
    bin_width: float,
) -> DataFrame:
    """Streaming build of the MERGEABLE fixed-bin histogram: delegates
    to the BATCH operator (sketch.histogram_bins works unchanged on a
    streaming DataFrame — groupBy/agg is the same logical plan), so the
    streaming state IS the batch sketch by construction and the two
    can never drift (the shingles_exploded-reuse convention; review
    finding: the first version re-spelled the bin expression).
    Mergeability is what makes the sketch streamable at all: each
    micro-batch's partial bins fold into state by addition, the same
    `+` that merges two batch histograms.  Consumers read quantiles off
    the complete-mode sink with sketch.histogram_quantiles, identically
    to batch.

    No watermark: the grouping key carries no event time, so there is
    nothing to evict — state is bounded at #groups x #non-empty-bins
    rows by the sketch itself, independent of stream length (a
    lateness-windowed variant would group by F.window(ts) additionally,
    like windowed_tile_counts)."""
    from ionex_spark.operators import sketch as sk

    return sk.histogram_bins(stream, group_cols, value_col, bin_width)


# --------------------------------------- streaming incremental dedup

def streaming_incremental_dedup(
    increment: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 4096,
    k: int = 5,
    backend: str = "md5",
) -> DataFrame:
    """STREAMING twin of dedup.incremental_dedup: a live crawl stream
    probes the static corpus's Bloom filter, and only bloom-positive
    rows pay the exact stream-static verify join against the corpus
    hashes.

    STATELESS and append-mode safe: the m/64 filter words are collected
    once at query construction and inlined as an array literal
    (sketch.bloom_membership_expr), so each of the k bit tests is an
    O(1) array lookup per row and the bloom stage costs each
    micro-batch no join.  Only bloom-positive rows pay the exact
    stream-static LEFT JOIN against the corpus hashes.  No aggregation,
    no watermark.  The corpus is static within the query; restart to
    pick up a corpus snapshot advance, like the other stream-static
    joins here.  Output schema matches the batch operator:
    (id, bloom_candidate, is_dup) — is_dup exact, no false negatives."""
    from pyspark.sql import functions as F

    from ionex_spark.operators.sketch import (
        bloom_build,
        bloom_collect_words,
        bloom_membership_expr,
    )

    chash = f"md5({text_col})"
    corpus_hashes = corpus.selectExpr(f"{chash} as chash").dropDuplicates(
        ["chash"]
    )
    # the filter is STATIC for the query's lifetime and constant-size by
    # construction (m/64 words): collect it ONCE at query construction
    # and inline the membership test as a narrow expression — each
    # micro-batch then pays zero joins for the bloom stage (round 7;
    # previously five broadcast left-joins per batch, and before that a
    # session-lifetime .cache() leak — ADVICE r6).
    bloom = bloom_build(corpus_hashes, "chash", m_bits, k, backend)
    words = bloom_collect_words(bloom, m_bits)

    probes = increment.selectExpr(
        f"{id_col} as probe_id", f"{chash} as chash"
    )
    probes = probes.selectExpr(
        "probe_id", "chash",
        f"{bloom_membership_expr(words, 'chash', m_bits, k, backend)}"
        " as bloom_candidate",
    )
    verified = probes.filter("bloom_candidate = 1").join(
        corpus_hashes.withColumn("_dup", F.lit(1)), "chash", "left"
    )
    return (
        probes.filter("bloom_candidate = 0")
        .selectExpr("probe_id", "bloom_candidate", "0 as is_dup")
        .unionByName(
            verified.selectExpr(
                "probe_id", "bloom_candidate",
                "coalesce(_dup, 0) as is_dup",
            )
        )
        .withColumnRenamed("probe_id", id_col)
    )
