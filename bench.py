"""Engine benchmark — headline queries at $SPARK_GRAFT_SF_DIR.

Prints ONE JSON line:
  {"metric": ..., "value": <total headline seconds>, "unit": "sec",
   "queries": {name: sec}, "sf": ..., plus throughput extras}

Headline set:
- tile_assign        flagship: N-point (default 200M) spatial join +
                     temporal bilinear interpolation + res-6 tile id +
                     per-tile rollup (the north_rule metric; images/sec
                     = rows/sec, reported as images_per_sec)
- images_e2e         image+caption table WITH binary payloads: read ->
                     spatial join -> tile assign -> payload verify (PSNR +
                     caption) on a 1% sample -> noop sink
- per-operator timings for the oracled query set at the given sf

Scaling evidence (N vs 4N cores) is produced by tools/bench_scaling.py
which shells out to this file with SPARK_GRAFT_CPUS/ROWS/MEM/AQE
overridden; results land in BENCH.md.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
ONLY = [q for q in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",") if q]
N_FLAGSHIP = int(os.environ.get("SPARK_GRAFT_BENCH_ROWS", "200000000"))
# 1M payload rows: at 200k the e2e number was fixed-cost dominated
# (12.2s/200k vs 12.9s/1M measured) — the bigger table reports honest
# steady-state throughput; generation is one-time (cached under .bench/)
N_IMAGES = int(os.environ.get("SPARK_GRAFT_BENCH_IMAGES", "1000000"))
IMAGES_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".bench", f"images_{N_IMAGES}"
)


def _noop_sink(df) -> int:
    """Materialize the full plan without disk cost."""
    df.write.format("noop").mode("overwrite").save()
    return 0


def flagship_tile_assign(spark):
    """N synthetic points (default 200M) -> aligned bilinear join -> temporal join ->
    res-6 tile id -> per-tile rollup. All broadcast; the only shuffle is
    the final rollup aggregation."""
    from pyspark.sql import functions as F

    from ionex_spark.functions import sqlgen
    from ionex_spark.operators import spatial

    pts = spark.range(0, N_FLAGSHIP, 1, CPUS * 4).selectExpr(
        "id",
        f"{sqlgen.lat_from_id_sql('id')} as lat",
        f"{sqlgen.lon_from_id_sql('id')} as lon",
        f"{sqlgen.slot_from_id_sql('id')} as slot",
        f"{sqlgen.tsec_from_id_sql('id')} as tsec",
    )
    # float32 corners: half the broadcast-probe bytes, error well inside
    # the reference's 1e-5 TECu budget (see build_tec_cells docstring)
    cells = spatial.build_tec_cells(spark, corner_dtype="float")
    both = spatial.temporal_spatial_join(pts, cells, out="tec_t")
    tiled = both.withColumn(
        "tile_id", F.expr(sqlgen.cell_id_sql("lat", "lon", 6))
    )
    rollup = tiled.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("tec_t").alias("sum_tec"),
        F.min("tec_t").alias("min_tec"),
        F.max("tec_t").alias("max_tec"),
    )
    return rollup


N_IONEX_FILES = int(os.environ.get("SPARK_GRAFT_BENCH_IONEX_FILES", "64"))
IONEX_EPOCHS = 25  # one day at 1h sampling, the reference file shape
IONEX_PATH = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), ".bench",
    f"ionex_{N_IONEX_FILES}x{IONEX_EPOCHS}",
)


def ensure_ionex_files() -> int:
    """Synthesize N gzip IONEX day files (~CKMG full-grid shape: 25 maps
    x 71x73 grid ≈ 400 KB text each) for the ingest bench — the Spark
    twin of the reference's criterion parse bench
    (/root/reference/benches/parsing.rs:13-27).  One-time, cached under
    .bench/.  Returns total tec points across the corpus."""
    import numpy as np

    from ionex_spark.core import synth
    from ionex_spark.core.ionex_io import IonexHeader, write_ionex_file
    from ionex_spark.core.linspace import ckmg_grid

    n_pts = N_IONEX_FILES * IONEX_EPOCHS * synth.GRID_NLAT * synth.GRID_NLON
    if os.path.exists(os.path.join(IONEX_PATH, "_DONE")):
        return n_pts
    os.makedirs(IONEX_PATH, exist_ok=True)
    t0 = time.time()
    epochs = (
        synth.EPOCH0 + np.arange(IONEX_EPOCHS) * np.timedelta64(3600, "s")
    ).astype("datetime64[s]")
    slot, lat_i, lon_i, _, _, tecu_q = synth.tec_points_arrays(
        IONEX_EPOCHS, "smooth"
    )
    dense = np.full(
        (IONEX_EPOCHS, synth.GRID_NLAT, synth.GRID_NLON), 9999, np.int64
    )
    dense[slot, synth.GRID_NLAT - 1 - lat_i, lon_i] = tecu_q
    for f in range(N_IONEX_FILES):
        hdr = IonexHeader(
            grid=ckmg_grid(),
            interval_s=synth.SAMPLING_S,
            epoch_first=synth.EPOCH0,
            epoch_last=epochs[-1],
            number_of_maps=IONEX_EPOCHS,
            exponent=synth.FILE_EXP,
            comments=[f"synthetic ingest bench file {f}"],
        )
        write_ionex_file(
            os.path.join(IONEX_PATH, f"CKMG{f:03d}0.22I.gz"),
            hdr, epochs, (dense + f) % 9998,
        )
    open(os.path.join(IONEX_PATH, "_DONE"), "w").close()
    print(
        f"# generated {N_IONEX_FILES} ionex files in {time.time() - t0:.1f}s",
        file=sys.stderr,
    )
    return n_pts


def ensure_images(spark) -> None:
    if os.path.exists(os.path.join(IMAGES_PATH, "_SUCCESS")):
        return
    from ionex_spark.sources.images import write_images

    t0 = time.time()
    # default file count: the ~300 id-range audit shards
    write_images(spark, N_IMAGES, IMAGES_PATH)
    print(
        f"# generated {N_IMAGES} images in {time.time() - t0:.1f}s",
        file=sys.stderr,
    )


def images_e2e(spark):
    """Real image+caption payload pipeline: scan -> join -> tile ->
    payload verify on a 1% sample -> aggregate.

    Two column-disjoint branches, each reading only what it needs: the
    rollup branch scans metadata columns (bytes stay columnar-pruned, the
    payload-discipline plan invariant) while the verify branch audits a
    FILE-ALIGNED deterministic ~1% sample (multimodal.audit_sample_files)
    so the expensive payload IO is ~1% of the table's bytes — the
    round-6 fix for the images_e2e cost mystery: the old row-scattered
    `phash % 100 = 0` predicate could not prune parquet pages, so the
    "1% verify" decompressed 100% of the 2.3 GB bytes column
    (~2.5 s of the ~3 s total)."""
    from pyspark.sql import functions as F

    from ionex_spark.functions import sqlgen
    from ionex_spark.operators import multimodal as mm
    from ionex_spark.operators import spatial

    cells = spatial.build_tec_cells(spark)

    imgs_lean = spark.read.parquet(IMAGES_PATH).drop("bytes", "caption")
    tiled = spatial.spatial_join_bilinear(imgs_lean, cells).withColumn(
        "tile_id", F.expr(sqlgen.cell_id_sql("lat", "lon", 6))
    )
    per_tile = tiled.groupBy("tile_id").agg(
        F.count(F.lit(1)).alias("n_images"), F.sum("tec").alias("sum_tec")
    )

    # repartition the ~1% sample across all cores: a file-aligned sample
    # lands in O(1) scan tasks, which would serialize the decode+PSNR
    # work — shuffling 1% of the bytes is exactly the IO the design buys
    sample_src = mm.audit_sample_files(
        spark, IMAGES_PATH, fraction=0.01
    ).repartition(CPUS * 2)
    sample = spatial.spatial_join_bilinear(sample_src, cells).withColumn(
        "tile_id", F.expr(sqlgen.cell_id_sql("lat", "lon", 6))
    )
    verified = mm.verify_payloads(sample)
    checks = verified.agg(
        F.sum(F.expr("case when payload_ok then 0 else 1 end")).alias("bad_payload"),
        F.sum(F.expr("case when caption_ok then 0 else 1 end")).alias("bad_caption"),
    )
    return per_tile, checks


def main() -> None:
    from ionex_spark.session import get_spark

    extra = {}
    if os.environ.get("SPARK_GRAFT_AQE", "1") == "0":
        # AQE materializes each shuffle stage behind a driver-side barrier
        # (fixed ~2s on this box) — negligible in production jobs, but it
        # distorts short benchmark runs; the scaling tool disables it for
        # BOTH parallelism levels (fair ratio), production keeps it on.
        extra["spark.sql.adaptive.enabled"] = "false"
    spark = get_spark(
        "bench", master=f"local[{CPUS}]", shuffle_partitions=CPUS,
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")

    import statistics

    import __spark_entry__ as entry_mod

    queries = entry_mod.queries()
    timings: dict[str, float] = {}
    spreads: dict[str, list[float]] = {}
    loads: dict[str, float] = {}
    retried: list[str] = []
    extras: dict[str, float] = {}
    # throughput extras derive from timings: register (query, numerator)
    # so a deferred high-load retry that lowers a median re-derives them
    # (review finding: the JSON otherwise mixes retry seconds with
    # first-attempt throughputs)
    throughput_defs: dict[str, tuple[str, float]] = {}
    n_runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "3"))

    # warm the JVM + parquet footers
    spark.range(1000).count()

    # loadavg above this defers the query for a second attempt at the
    # END of the suite: the r5 capture showed a UNIFORMLY slow window
    # (external loadavg 18 for minutes) sails through the spread-based
    # retry — 3 consistent slow runs look clean.  Both attempts are
    # recorded; the lower median is reported (round-5 verdict task #8).
    high_load = float(os.environ.get("SPARK_GRAFT_BENCH_LOAD_RETRY", "8"))
    deferred: dict[str, object] = {}
    load_retry_attempts: dict[str, dict] = {}

    def _run_once(name, fn):
        ts = []
        for _ in range(n_runs):
            t0 = time.time()
            fn()
            ts.append(round(time.time() - t0, 3))
        # load honesty (recurring per-round finding: first-position
        # queries inflate under suite load): when the worst run exceeds
        # 2x the median, assume external pollution and take one extra
        # run before recording; the retry is flagged in BENCH_DETAIL
        if max(ts) > 2 * statistics.median(ts):
            t0 = time.time()
            fn()
            ts.append(round(time.time() - t0, 3))
            if name not in retried:  # deferred reruns must not double-count
                retried.append(name)
        return ts

    def timed(name, fn, warm=False):
        # warm=True: one untimed materialization first (codegen JIT +
        # parquet footers + broadcast build), then MEDIAN of n_runs timed
        # runs with the [min, max] spread reported — BENCH.md documents
        # 1.5-3x single-shot swings from external VM load; the median is
        # robust to one polluted run
        if warm:
            fn()
        ts = _run_once(name, fn)
        timings[name] = statistics.median(ts)
        spreads[name] = [min(ts), max(ts)]
        # 1-minute load average stamped AFTER the runs: attributes a
        # fat spread to box load instead of leaving it a mystery
        loads[name] = round(os.getloadavg()[0], 1)
        if loads[name] > high_load:
            deferred[name] = fn

    def retry_deferred():
        """Second attempt, once, at the end of the suite for every query
        stamped under high load; keep the LOWER median, record both."""
        for name, fn in deferred.items():
            ts = _run_once(name, fn)
            med = statistics.median(ts)
            load2 = round(os.getloadavg()[0], 1)
            load_retry_attempts[name] = {
                "first": {"median": timings[name],
                          "spread": spreads[name],
                          "loadavg": loads[name]},
                "retry": {"median": med,
                          "spread": [min(ts), max(ts)],
                          "loadavg": load2},
                "chosen": "retry" if med < timings[name] else "first",
            }
            if med < timings[name]:
                timings[name] = med
                spreads[name] = [min(ts), max(ts)]
                loads[name] = load2

    # per-operator timings FIRST (fresh JVM, stable heap): the 200M-row
    # flagship + image jobs degrade later small-query timings via GC /
    # memory pressure, so heavyweights run last
    bench_queries = (
        ONLY
        if ONLY
        else [
            "tile_bilinear", "temporal_interp", "temporal_interp_irregular",
            "knn_grid", "knn_points",
            "pip_polygons", "cell_rollup", "tile_kring_counts",
            "roi_filter", "grid_cells_join",
            "grid_merge", "dedup_exact", "dedup_minhash_pairs",
            "dedup_groups", "dedup_groups_star",
            "dedup_simhash", "dedup_simhash_pairs",
            "dedup_simhash_pairs_bands",
            "text_features", "tfidf_top_terms", "corpus_quality_filter",
            "skew_salted_rollup",
            "stratified_sample", "pack_sequences",
            "embedding_quantize_int8",
            "domain_blocklist_rollup", "ipp_slant", "bucketed_join_rollup",
            "range_join_windows", "median_value_by_type",
            "decontam_bench_overlap", "repetition_ngrams",
            "tile_polyfill", "radius_search_sites",
            "gap_fill_epochs", "zorder_blocks", "tile_compact",
            "distinct_users_kmv", "user_tracks",
            "tile_coverage_gaps", "ionex_file_bilinear",
            "quartiles_value_by_type", "snapshot_diff_events",
            "voronoi_site_rollup", "attribution_interval_join",
            "streaming_neardup_batch", "streaming_dedup_batch",
            "token_countmin_sketch", "rollup_pricing_levels",
            "semi_join_active_customers",
            "similarity_topk", "similarity_lsh_ann",
            "similarity_lsh_multiprobe", "similarity_ivf",
            # round-5 operators
            "alt_interp_trilinear", "skew_salted_join",
            "knn_points_metrics", "schema_evolution_rollup",
            "compacted_snapshot_rollup", "histogram_quantiles_value",
            "url_dedup_canonical", "tile_representative_image",
            "domain_pagerank", "dedup_containment_pairs",
            # round-6 operators
            "corpus_mixture_sample", "shard_manifest_rollup",
            "dedup_containment_capped", "patch_extract_stats",
            "shard_bytes_manifest", "dedup_group_representatives",
            "incremental_dedup_bloom", "mixture_quality_curriculum",
            "patch_pack_sequences",
            "group_sample_topk", "boilerplate_ngram_stats",
            "embedding_label_centroids", "contamination_safe_split",
            "streaming_histogram_batch", "knn_points_adaptive",
            "domain_pagerank_dangling",
        ]
    )
    for name in bench_queries:
        if name in ("tile_assign", "images_e2e") or name not in queries:
            continue
        timed(
            name,
            lambda n=name: _noop_sink(queries[n](spark, SF_DIR)),
            warm=True,
        )


    if not ONLY or "tile_assign_aligned" in ONLY:
        def aligned():
            from pyspark.sql import functions as F

            from ionex_spark.functions import sqlgen
            from ionex_spark.operators import spatial

            pts = spark.range(0, N_FLAGSHIP, 1, CPUS * 4).selectExpr(
                "id",
                f"{sqlgen.lat_from_id_sql('id')} as lat",
                f"{sqlgen.lon_from_id_sql('id')} as lon",
                f"{sqlgen.slot_from_id_sql('id')} as slot",
            )
            cells = spatial.build_tec_cells(spark)
            j = spatial.spatial_join_bilinear(pts, cells)
            return j.selectExpr(
                "sum(tec) as s", "count(*) as n",
                f"sum({sqlgen.cell_id_sql('lat', 'lon', 6)} % 100000) as t",
            )
        timed("tile_assign_aligned", lambda: aligned().collect(), warm=True)
        throughput_defs["aligned_images_per_sec"] = (
            "tile_assign_aligned", N_FLAGSHIP)

    if not ONLY or "tile_assign" in ONLY:
        # warm=True: the first run in a fresh JVM pays whole-stage-codegen
        # JIT compilation; steady-state throughput is what the 10^12-row
        # design cares about
        timed(
            "tile_assign",
            lambda: _noop_sink(flagship_tile_assign(spark)),
            warm=True,
        )
        throughput_defs["images_per_sec"] = ("tile_assign", N_FLAGSHIP)

    if not ONLY or "images_e2e" in ONLY:
        ensure_images(spark)

        bad_holder = []

        def run_images():
            # fresh DataFrames per run (stage-reuse gotcha, NOTES.md);
            # the verify branch stays inside the timed region, matching
            # the r1/r2 measurement
            per_tile, checks = images_e2e(spark)
            _noop_sink(per_tile)
            bad_holder.append(checks.first())

        timed("images_e2e", run_images, warm=True)
        bad = bad_holder[-1]
        throughput_defs["images_e2e_per_sec"] = ("images_e2e", N_IMAGES)
        extras["bad_payloads"] = int(bad.bad_payload or 0)
        extras["bad_captions"] = int(bad.bad_caption or 0)

    if not ONLY or "ionex_ingest" in ONLY:
        # parse-throughput tracking for the IONEX ingest path (binaryFile
        # -> mapInPandas block parser), the Spark twin of the reference's
        # criterion parsing bench (/root/reference/benches/parsing.rs)
        n_ionex_pts = ensure_ionex_files()

        def run_ingest():
            from ionex_spark.sources.ionex_source import read_ionex

            _noop_sink(read_ionex(spark, IONEX_PATH + "/*.gz"))

        timed("ionex_ingest", run_ingest, warm=True)
        throughput_defs["ionex_points_per_sec"] = (
            "ionex_ingest", n_ionex_pts)
        extras["ionex_files"] = N_IONEX_FILES

    if os.environ.get("SPARK_GRAFT_BENCH_ANN") == "1":
        from ionex_spark.operators import similarity as sim_ops

        N, DIM = 500_000, 64
        corpus = spark.range(N).selectExpr(
            "id as vec_id",
            f"transform(sequence(0, {DIM - 1}), d -> cast(((vec_id * 31"
            f" + d * 17) % 1009) - 504 as float) / cast(504.0 as float))"
            " as embedding",
        ).cache()
        corpus.count()
        qs = corpus.filter("vec_id % 5000 = 0")
        timed("ann_brute_500k", lambda: sim_ops.brute_force_topk(
            corpus, qs, k=10).count())
        timed("ann_lsh_500k", lambda: sim_ops.lsh_bucket_topk(
            corpus, qs, k=10, n_planes=4, dim=DIM).count())
        cent = corpus.filter("vec_id % 25000 = 0")
        lists = sim_ops.ivf_assign(corpus, cent).cache()
        lists.count()
        timed("ann_ivf_500k", lambda: sim_ops.ivf_topk(
            lists, qs, cent, k=10, nprobe=2).count())

    retry_deferred()
    for key, (qname, numerator) in throughput_defs.items():
        extras[key] = round(numerator / timings[qname], 1)

    sf = SF_DIR.rstrip("/").split("sf")[-1]
    headline = {
        "metric": "spatial_join_tile_assign_headline_sec",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "sf": float(sf) if sf.replace(".", "").isdigit() else sf,
        "cpus": CPUS,
        "flagship_rows": N_FLAGSHIP,
        "runs_per_query": n_runs,
        **extras,
    }
    # full detail (per-query [min,max] spreads) goes to a sidecar file —
    # round 3 put it on the stdout JSON line, which overflowed the round
    # driver's output-tail capture and produced a null parsed metric
    # (BENCH_r03.json); the printed headline stays compact and LAST
    detail_path = os.path.join(
        os.path.dirname(os.path.abspath(__file__)), "BENCH_DETAIL.json"
    )
    with open(detail_path, "w") as fh:
        json.dump(
            {
                **headline,
                "query_spread": spreads,
                "query_loadavg": loads,
                "load_retried": retried,
                "load_retry_attempts": load_retry_attempts,
            },
            fh,
            indent=1,
        )
    print(f"# spreads -> {detail_path}", file=sys.stderr)
    print(json.dumps(headline))
    spark.stop()


if __name__ == "__main__":
    main()
