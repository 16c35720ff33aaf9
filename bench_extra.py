"""Round-7 optimization micro-benchmarks — noop-sink isolation (guide §1.4).

`bench.py` is FROZEN for driver measurement; the A/B experiments that
motivated the round-7 changes live here so they stay reproducible:

  python bench_extra.py              # all experiments
  python bench_extra.py scan dedup   # named subsets

Experiments (each prints min-of-N wall seconds):
  scan    - one-row-group scan parallelism: plain vs round-robin vs
            leading-key hash repartition, on light (exact dedup,
            lineitem rollup) and heavy (minhash signatures) consumers
  dedup   - minhash/simhash pipeline stages in isolation + the in-row
            array_distinct variants vs dropDuplicates exchanges
  knn     - knn_points checkpoint-placement strategies

Numbers in OPTIMIZATION_r07.md cite this file.  Environment contract
matches bench.py ($SPARK_GRAFT_SF_DIR, $SPARK_GRAFT_CPUS).
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def timed(name: str, fn, n: int = 3) -> float:
    fn()  # warm
    ts = []
    for _ in range(n):
        t0 = time.time()
        fn()
        ts.append(time.time() - t0)
    best = min(ts)
    print(f"{best:7.3f}  {name}")
    return best


def exp_scan(spark) -> None:
    from pyspark.sql import functions as F

    docs = lambda: spark.read.parquet(f"{SF_DIR}/documents.parquet")  # noqa: E731
    li = lambda: spark.read.parquet(f"{SF_DIR}/lineitem.parquet")  # noqa: E731

    def dedup_exact(df):
        return (
            df.select("doc_id", F.md5(F.col("text")).alias("h"))
            .groupBy("h")
            .agg(F.count(F.lit(1)).alias("n"), F.min("doc_id").alias("k"))
        )

    def rollup(df):
        return df.rollup("l_returnflag", "l_linestatus").agg(
            F.count(F.lit(1)).alias("n"),
            F.expr(
                "cast(sum(cast(l_quantity as decimal(18,2))) as double)"
            ).alias("s"),
        )

    from ionex_spark.operators import dedup as dd

    timed("light/dedup_exact: plain 1-task scan", lambda: _noop(dedup_exact(docs())))
    timed("light/dedup_exact: round-robin 32", lambda: _noop(dedup_exact(docs().repartition(CPUS))))
    timed("light/dedup_exact: hash(doc_id) 32", lambda: _noop(dedup_exact(docs().repartition(CPUS, "doc_id"))))
    timed("light/rollup: plain 1-task scan", lambda: _noop(rollup(li())))
    timed("light/rollup: hash(l_orderkey) 32", lambda: _noop(rollup(li().repartition(CPUS, "l_orderkey"))))
    timed("heavy/minhash sigs: plain 1-task scan", lambda: _noop(dd.minhash_signatures(docs(), 8, backend="md5")))
    timed("heavy/minhash sigs: round-robin 32", lambda: _noop(dd.minhash_signatures(docs().repartition(CPUS), 8, backend="md5")))
    timed("heavy/minhash sigs: hash(doc_id) 32", lambda: _noop(dd.minhash_signatures(docs().repartition(CPUS, "doc_id"), 8, backend="md5")))


def exp_dedup(spark) -> None:
    from ionex_spark.operators import dedup as dd
    from ionex_spark.plans.queries import read_split

    docs = read_split(spark, f"{SF_DIR}/documents.parquet")
    timed("shingles explode", lambda: _noop(dd.shingles_exploded(docs)))
    timed(
        "shingles explode + in-row distinct",
        lambda: _noop(dd.shingles_exploded_distinct(docs)),
    )
    timed(
        "minhash signatures (no per-doc dedup needed)",
        lambda: _noop(dd.minhash_signatures(docs, 8, backend="md5")),
    )
    timed(
        "lsh candidate pairs (banded keys checkpointed once)",
        lambda: _noop(
            dd.lsh_candidate_pairs(
                dd.minhash_signatures(docs, 8, backend="md5"), 8, 2
            )
        ),
    )
    timed(
        "minhash pairs end-to-end (verify incl.)",
        lambda: _noop(
            dd.jaccard_verify(
                dd.lsh_candidate_pairs(
                    dd.minhash_signatures(docs, 8, backend="md5"), 8, 2
                ),
                docs,
                threshold=0.5,
            )
        ),
    )
    timed("simhash signature (in-row distinct)", lambda: _noop(dd.simhash64(docs, backend="md5")))
    timed(
        "simhash pairs refined end-to-end",
        lambda: _noop(
            dd.simhash_near_dup_pairs(
                docs, max_hamming=3, backend="md5", scheme="refined"
            )
        ),
    )


def exp_knn(spark) -> None:
    from ionex_spark.operators import knn as knn_ops
    from ionex_spark.plans.queries import event_points

    pts = event_points(spark, SF_DIR)
    corpus = pts.selectExpr("id as cid", "lat", "lon")
    queries = pts.filter("id % 97 = 0").selectExpr("id as qid", "lat", "lon")
    timed(
        "knn_points (single topk checkpoint)",
        lambda: _noop(knn_ops.knn_points(queries, corpus, k=3, cell_deg=5.0)),
    )


def exp_verify(spark) -> None:
    """Continuation-session decomposition of the images_e2e verify
    branch: where the old two-pandas_udf stage's time actually went
    (Arrow transfer of the bytes column, not UDF compute), and the
    batched mapInArrow verify's cost on the same input."""
    import pyarrow as pa
    from pyspark.sql import functions as F

    from bench import IMAGES_PATH, ensure_images
    from ionex_spark.functions import sqlgen
    from ionex_spark.operators import multimodal as mm
    from ionex_spark.operators import spatial

    ensure_images(spark)
    cells = spatial.build_tec_cells(spark)

    def sj():
        s = mm.audit_sample_files(spark, IMAGES_PATH, 0.01).repartition(
            CPUS * 2
        )
        return spatial.spatial_join_bilinear(s, cells).withColumn(
            "tile_id", F.expr(sqlgen.cell_id_sql("lat", "lon", 6))
        )

    def count_fn(batches):
        n = 0
        for rb in batches:
            n += rb.num_rows
        yield pa.RecordBatch.from_arrays([pa.array([float(n)])], names=["n"])

    timed("verify: join only (noop)", lambda: _noop(sj()))
    timed(
        "verify: + mapInArrow passthrough, meta cols only",
        lambda: sj().select("image_id", "fmt", "w", "h", "caption")
        .mapInArrow(count_fn, "n double").collect(),
    )
    timed(
        "verify: + mapInArrow passthrough, bytes col",
        lambda: sj().select("bytes")
        .mapInArrow(count_fn, "n double").collect(),
    )

    def full():
        v = mm.verify_payloads(sj())
        v.agg(
            F.sum(F.expr("case when payload_ok then 0 else 1 end")),
            F.sum(F.expr("case when caption_ok then 0 else 1 end")),
        ).first()

    timed("verify: full batched verify_payloads", full)


def exp_ingest(spark) -> None:
    """IONEX ingest isolation: the per-map-array Python boundary
    (read_ionex) against the same corpus bench.py times."""
    from bench import IONEX_PATH, ensure_ionex_files
    from ionex_spark.sources.ionex_source import read_ionex

    ensure_ionex_files()
    timed(
        "ionex ingest (per-map arrays + JVM inline)",
        lambda: _noop(read_ionex(spark, IONEX_PATH + "/*.gz")),
    )


def main() -> None:
    from ionex_spark.session import get_spark

    which = set(sys.argv[1:]) or {"scan", "dedup", "knn", "verify", "ingest"}
    spark = get_spark(
        "bench-extra", master=f"local[{CPUS}]", shuffle_partitions=CPUS
    )
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).count()
    if "scan" in which:
        exp_scan(spark)
    if "dedup" in which:
        exp_dedup(spark)
    if "knn" in which:
        exp_knn(spark)
    if "verify" in which:
        exp_verify(spark)
    if "ingest" in which:
        exp_ingest(spark)
    spark.stop()


if __name__ == "__main__":
    main()
