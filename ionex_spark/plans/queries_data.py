"""Training-data pipeline queries: dedup, text analysis, similarity search.

Registered into the same QUERIES/ORACLES registry as the geospatial set.
Hash-based operators use the md5 backend here so DuckDB can reproduce the
exact int64 values (dedup.token_hash_duckdb_sql); the xxhash64 backend is
the production fast path exercised by tests/bench.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ionex_spark.operators import dedup as dd
from ionex_spark.operators import similarity as sim
from ionex_spark.operators import text as tx
from ionex_spark.functions import sqlgen
from ionex_spark.plans.queries import ORACLES, read_split, register

N_MINHASH = 8
BAND = 2
EMB_DIM = 64
LSH_PLANES = 4


# ------------------------------------------------------------- exact dedup

@register(
    "dedup_exact",
    oracle="""
SELECT md5(text) AS content_hash,
       count(*) AS n_dups,
       min(doc_id) AS keep_id
FROM documents
GROUP BY 1
""",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return dd.exact_dedup(docs)


# ------------------------------------------------------------ minhash LSH

_DUCK_TOKENS = dd.shingles_duckdb_sql(3)

_DUCK_UNIGRAMS = f"""
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id,
           unnest(string_split(lower({tx.ws_norm_sql('text')}), ' '))
             AS token
    FROM documents
  ) WHERE length(token) > 0
"""

_DUCK_MINHASH = "SELECT doc_id, " + ", ".join(
    f"min({dd.token_hash_duckdb_sql('token', j)}) AS mh_{j}"
    for j in range(N_MINHASH)
) + f" FROM ({_DUCK_TOKENS}) GROUP BY doc_id"

_DUCK_BANDS = "SELECT doc_id, band, key FROM (" + " UNION ALL ".join(
    f"SELECT doc_id, {b} AS band, concat_ws('_', mh_{b * BAND}, mh_{b * BAND + 1}) AS key"
    f" FROM mh"
    for b in range(N_MINHASH // BAND)
) + ")"


# priority 10: signature-only building block of dedup_minhash_pairs (which
# stays under the gate and exercises this exact code as its first stage)
@register(
    "dedup_minhash",
    priority=100,  # r7: plan restructured (see NEW_THIS_ROUND)
    oracle=f"WITH mh AS ({_DUCK_MINHASH}) SELECT * FROM mh",
)
def dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minhash signatures (md5 backend) — the LSH building block."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return dd.minhash_signatures(docs, N_MINHASH, backend="md5")


_DUCK_PAIRS_SQL = f"""
WITH mh AS ({_DUCK_MINHASH}),
bands AS ({_DUCK_BANDS}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
  WHERE a.doc_id < b.doc_id
),
toks AS ({_DUCK_TOKENS}),
sizes AS (SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id),
inter AS (
  SELECT c.id_a, c.id_b, count(*) AS n_inter
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.id_a
  JOIN toks tb ON tb.doc_id = c.id_b AND tb.token = ta.token
  GROUP BY c.id_a, c.id_b
)
SELECT i.id_a, i.id_b, i.n_inter, sa.sz AS sz_a, sb.sz AS sz_b,
       cast(i.n_inter as double) / cast(sa.sz + sb.sz - i.n_inter as double)
         AS jaccard
FROM inter i
JOIN sizes sa ON sa.doc_id = i.id_a
JOIN sizes sb ON sb.doc_id = i.id_b
WHERE cast(i.n_inter as double) / cast(sa.sz + sb.sz - i.n_inter as double)
      >= cast(0.5 as double)
"""


@register("dedup_minhash_pairs", oracle=_DUCK_PAIRS_SQL, priority=100)  # r7: plan restructured
def dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup pipeline: minhash -> LSH bands -> candidate pairs ->
    exact jaccard verify >= 0.5."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    sigs = dd.minhash_signatures(docs, N_MINHASH, backend="md5")
    pairs = dd.lsh_candidate_pairs(sigs, N_MINHASH, BAND)
    return dd.jaccard_verify(pairs, docs, threshold=0.5)


_DUCK_GROUPS_SQL = f"""
WITH RECURSIVE pairs AS ({_DUCK_PAIRS_SQL}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
r(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node
)
SELECT src AS doc_id, min(node) AS group_id,
       CASE WHEN src = min(node) THEN 1 ELSE 0 END AS is_keeper
FROM r GROUP BY src
"""


# dedup_groups and dedup_groups_star are one plan under two gated names
# (gate history and bench leaves key on both); they share this oracle
@register("dedup_groups", oracle=_DUCK_GROUPS_SQL, priority=100)  # r7: plan restructured (see NEW_THIS_ROUND)
def dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup GROUP assignment — the step after pair detection a real
    pipeline needs: connected components over the verified near-dup pair
    graph (dedup.connected_components_star: local union-find under the
    edge threshold, O(log n) large-star/small-star rounds above), every
    doc labeled with its canonical representative (min reachable id).
    Oracle: DuckDB recursive-CTE transitive closure."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    # the pair pipeline IS dedup_minhash_pairs — one definition, so the
    # Spark side can never drift from the shared _DUCK_PAIRS_SQL oracle
    pairs = dedup_minhash_pairs(spark, sf_dir)
    groups = dd.connected_components_star(docs.select("doc_id"), pairs)
    return groups.selectExpr(
        "doc_id", "group_id",
        "CASE WHEN doc_id = group_id THEN 1 ELSE 0 END as is_keeper",
    )


@register("dedup_groups_star", oracle=_DUCK_GROUPS_SQL, priority=100)  # r7: plan restructured
def dedup_groups_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup_groups plan under its second gated name."""
    return dedup_groups(spark, sf_dir)


def _duck_simhash_sig() -> str:
    """DuckDB twin of dd.simhash64 (md5 backend): doc_id, band_0..band_3."""
    hash_cols = ", ".join(
        f"{dd.token_hash_duckdb_sql('token', b)} AS h{b}" for b in range(4)
    )
    sums = ", ".join(
        f"sum(CASE WHEN (h{b} % {1 << (j + 1)}) >= {1 << j}"
        f" THEN 1 ELSE -1 END) AS s_{b}_{j}"
        for b in range(4)
        for j in range(16)
    )
    bands = ", ".join(
        "cast("
        + " + ".join(
            f"(CASE WHEN s_{b}_{j} > 0 THEN {1 << j} ELSE 0 END)"
            for j in range(16)
        )
        + f" as bigint) AS band_{b}"
        for b in range(4)
    )
    return f"""
WITH toks AS ({_DUCK_UNIGRAMS}),
h AS (SELECT doc_id, {hash_cols} FROM toks),
sums AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
SELECT doc_id, {bands} FROM sums
"""


_DUCK_SIMHASH_SIG = _duck_simhash_sig()


# priority 10: signature-only building block of dedup_simhash_pairs
@register("dedup_simhash", oracle=_DUCK_SIMHASH_SIG, priority=100)  # r7: plan restructured (see NEW_THIS_ROUND)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return dd.simhash64(docs, backend="md5")


_DUCK_SIMHASH_PAIRS = f"""
WITH sig AS ({_DUCK_SIMHASH_SIG}),
bands AS (
  SELECT doc_id, 0 AS bi, band_0 AS bv FROM sig
  UNION ALL SELECT doc_id, 1, band_1 FROM sig
  UNION ALL SELECT doc_id, 2, band_2 FROM sig
  UNION ALL SELECT doc_id, 3, band_3 FROM sig
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
  WHERE a.doc_id < b.doc_id
)
SELECT c.id_a, c.id_b,
       CAST(bit_count(xor(sa.band_0, sb.band_0))
          + bit_count(xor(sa.band_1, sb.band_1))
          + bit_count(xor(sa.band_2, sb.band_2))
          + bit_count(xor(sa.band_3, sb.band_3)) AS BIGINT) AS hamming
FROM cand c
JOIN sig sa ON sa.doc_id = c.id_a
JOIN sig sb ON sb.doc_id = c.id_b
WHERE bit_count(xor(sa.band_0, sb.band_0))
    + bit_count(xor(sa.band_1, sb.band_1))
    + bit_count(xor(sa.band_2, sb.band_2))
    + bit_count(xor(sa.band_3, sb.band_3)) <= 3
"""


@register("dedup_simhash_pairs", oracle=_DUCK_SIMHASH_PAIRS, priority=100)  # r7: plan restructured (see NEW_THIS_ROUND)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end simhash near-dup pipeline through the documented
    100 TB-default candidate stage: 64-bit signature -> C(6,3) Manku
    block-combination candidate keys (~32-bit, candidate counts stay
    near-linear at 10^10+ docs — dedup.simhash_candidate_pairs at (6, 3))
    -> XOR-popcount hamming<=3 verify.  Round-4 swap (r3 verdict task
    #5): the gate's primary row now exercises the refined scheme; the
    4x16-bit band scheme stays registered as the parity query below."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return dd.simhash_near_dup_pairs(
        docs, max_hamming=3, backend="md5", scheme="refined"
    )


# the band (4x16-bit pigeonhole) candidate scheme must produce the
# IDENTICAL verified pair set — any complete candidate superset does, the
# hamming filter is exact — so it shares dedup_simhash_pairs' oracle; a
# drift between the two schemes shows up as a gate hash-mismatch here.
@register("dedup_simhash_pairs_bands", oracle=_DUCK_SIMHASH_PAIRS, priority=100)  # r7: plan restructured (see NEW_THIS_ROUND)
def dedup_simhash_pairs_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dedup_simhash_pairs through the (4, 1) block scheme — the
    4x16-bit BAND pigeonhole blocking (hamming<=3), fine until band
    buckets go quadratic at 10^10+ docs.  Same verified output as the
    refined default."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return dd.simhash_near_dup_pairs(docs, max_hamming=3, backend="md5")




# ------------------------------------------------------------ text features

# priority 10: with_text_features is exercised end-to-end by the gated
# corpus_quality_filter (same operator, composed predicate)
@register(
    "text_features",
    priority=10,
    oracle=f"""
SELECT doc_id,
       cast({tx.token_count_duckdb_sql('text')} as bigint) AS n_tokens,
       {tx.lang_id_sql('lower(text)')} AS lang_pred,
       {tx.quality_score_sql('text')} AS quality,
       {tx.fingerprint_sql('text')} AS fingerprint
FROM documents
""",
)
def text_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    out = tx.with_text_features(docs)
    return out.selectExpr(
        "doc_id", "cast(n_tokens as bigint) as n_tokens",
        "lang_pred", "quality", "fingerprint",
    )


@register(
    "lang_id_accuracy",
    priority=10,
    oracle=f"""
SELECT lang, {tx.lang_id_sql('lower(text)')} AS lang_pred, count(*) AS n
FROM documents
GROUP BY 1, 2
""",
)
def lang_id_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion counts of the n-gram-marker language id vs the labeled
    lang column — doubles as an accuracy fixture."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return (
        docs.withColumn("lang_pred", F.expr(tx.lang_id_sql("lower(text)")))
        .groupBy("lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
    )


# ------------------------------------------------------- similarity search

def _duck_dot(a: str, b: str) -> str:
    return (
        f"list_aggregate(list_transform(list_zip({a}, {b}),"
        f" p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
    )


def _duck_norm(a: str) -> str:
    return (
        f"sqrt(list_aggregate(list_transform({a},"
        f" x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
    )


@register(
    "similarity_topk",
    oracle=f"""
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qvec FROM embeddings
  WHERE vec_id % 100 = 0
),
scored AS (
  SELECT q.query_id, e.vec_id,
         ({_duck_dot('e.embedding', 'q.qvec')})
         / (({_duck_norm('e.embedding')}) * ({_duck_norm('q.qvec')}))
           AS cos_sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id != q.query_id
)
SELECT query_id, rank, vec_id, cos_sim FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 — ANN baseline (dot product as a JVM
    higher-order fold; bit-identical to DuckDB's list_aggregate sum)."""
    emb = read_split(spark, f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id % 100 = 0")
    out = sim.brute_force_topk(emb, queries, k=5)
    return out.selectExpr(
        "query_id", "cast(rank as bigint) as rank", "vec_id", "cos_sim"
    )


def _duck_hyperplane(vec: str, plane: int, dim: int) -> str:
    terms = " + ".join(
        f"CAST({vec}[{d + 1}] AS DOUBLE) * ({((plane * 31 + d * 17) % 19) - 9})"
        for d in range(dim)
    )
    return f"({terms})"


def _duck_bucket(vec: str) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_duck_hyperplane(vec, p, EMB_DIM)} >= CAST(0.0 AS DOUBLE)"
        f" THEN {1 << p} ELSE 0 END)"
        for p in range(LSH_PLANES)
    )
    return f"cast({bits} as bigint)"


@register(
    "similarity_lsh_ann",
    oracle=f"""
WITH c AS (
  SELECT vec_id, embedding, {_duck_bucket('embedding')} AS bucket
  FROM embeddings
),
q AS (
  SELECT vec_id AS query_id, embedding AS qvec,
         {_duck_bucket('embedding')} AS bucket
  FROM embeddings WHERE vec_id % 100 = 0
),
scored AS (
  SELECT q.query_id, c.vec_id, c.bucket,
         ({_duck_dot('c.embedding', 'q.qvec')})
         / (({_duck_norm('c.embedding')}) * ({_duck_norm('q.qvec')}))
           AS cos_sim
  FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.query_id
)
SELECT query_id, rank, vec_id, bucket, cos_sim FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def similarity_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN: deterministic integer hyperplanes, sign-bit
    bucket, cosine ranking within bucket only — the 100 TB scale path."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id % 100 = 0")
    out = sim.lsh_bucket_topk(
        emb, queries, k=5, n_planes=LSH_PLANES, dim=EMB_DIM
    )
    return out.selectExpr(
        "query_id", "cast(rank as bigint) as rank",
        "vec_id", "bucket", "cos_sim",
    )


# priority 10: probe-widening variant; the base LSH ANN query stays gated
@register(
    "similarity_lsh_multiprobe",
    priority=10,
    oracle=f"""
WITH c AS (
  SELECT vec_id, embedding, {_duck_bucket('embedding')} AS bucket
  FROM embeddings
),
q0 AS (
  SELECT vec_id AS query_id, embedding AS qvec,
         {_duck_bucket('embedding')} AS bucket
  FROM embeddings WHERE vec_id % 100 = 0
),
q AS (
  SELECT query_id, qvec,
         unnest([bucket{"".join(f", xor(bucket, {1 << p})" for p in range(LSH_PLANES))}]) AS bucket
  FROM q0
),
scored AS (
  SELECT q.query_id, c.vec_id, c.bucket,
         ({_duck_dot('c.embedding', 'q.qvec')})
         / (({_duck_norm('c.embedding')}) * ({_duck_norm('q.qvec')}))
           AS cos_sim
  FROM c JOIN q ON c.bucket = q.bucket AND c.vec_id != q.query_id
)
SELECT query_id, rank, vec_id, bucket, cos_sim FROM (
  SELECT *, row_number() OVER (
      PARTITION BY query_id ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
""",
)
def similarity_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH ANN with hamming-1 multi-probe: the query also probes every
    bucket one sign-bit away (n_planes+1 keys, explode on the small side)
    — recovers the recall single-bucket LSH loses as n_planes grows.
    Recall vs the similarity_topk ground truth is asserted to beat the
    single-bucket variant in tests/test_spark_ops.py."""
    emb = read_split(spark, f"{sf_dir}/embeddings.parquet")
    queries = emb.filter("vec_id % 100 = 0")
    out = sim.lsh_bucket_topk(
        emb, queries, k=5, n_planes=LSH_PLANES, dim=EMB_DIM, multiprobe=True
    )
    return out.selectExpr(
        "query_id", "cast(rank as bigint) as rank",
        "vec_id", "bucket", "cos_sim",
    )


_DUCK_EMB_PAIRS = f"""
WITH c AS (
  SELECT vec_id, embedding, {_duck_bucket('embedding')} AS bucket
  FROM embeddings
),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.bucket,
         ({_duck_dot('a.embedding', 'b.embedding')})
         / (({_duck_norm('a.embedding')}) * ({_duck_norm('b.embedding')}))
           AS cos_sim
  FROM c a JOIN c b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, bucket, cos_sim FROM pairs
WHERE cos_sim >= cast(0.35 as double)
"""


@register("embedding_near_dups", oracle=_DUCK_EMB_PAIRS)
def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs via LSH buckets + exact verify
    (the dedup brief's embedding-cosine near-dup operator)."""
    emb = read_split(spark, f"{sf_dir}/embeddings.parquet")
    # 0.35 picked against the synthetic embeddings' in-bucket cosine
    # distribution (max ~0.47) so the verify stage has real work to do
    out = sim.embedding_near_dup_pairs(
        emb, threshold=0.35, n_planes=LSH_PLANES, dim=EMB_DIM
    )
    return out


_CENT = "SELECT vec_id AS cent_id, embedding AS cvec FROM embeddings WHERE vec_id % 50 = 0"
_Q = "SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id % 100 = 0"


_DUCK_IVF_SQL = f"""
WITH cent AS ({_CENT}),
q AS ({_Q}),
assign AS (
  SELECT vec_id, embedding, list_id FROM (
    SELECT e.vec_id, e.embedding, c.cent_id AS list_id,
           row_number() OVER (PARTITION BY e.vec_id ORDER BY
             ({_duck_dot('e.embedding', 'c.cvec')})
             / (({_duck_norm('e.embedding')}) * ({_duck_norm('c.cvec')}))
             DESC, c.cent_id) AS rn
    FROM embeddings e CROSS JOIN cent c
  ) WHERE rn = 1
),
probes AS (
  SELECT query_id, qvec, list_id FROM (
    SELECT q.query_id, q.qvec, c.cent_id AS list_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             ({_duck_dot('q.qvec', 'c.cvec')})
             / (({_duck_norm('q.qvec')}) * ({_duck_norm('c.cvec')}))
             DESC, c.cent_id) AS rn
    FROM q CROSS JOIN cent c
  ) WHERE rn <= 2
),
scored AS (
  SELECT p.query_id, a.vec_id, a.list_id,
         ({_duck_dot('a.embedding', 'p.qvec')})
         / (({_duck_norm('a.embedding')}) * ({_duck_norm('p.qvec')}))
           AS cos_sim
  FROM assign a JOIN probes p ON a.list_id = p.list_id
  WHERE a.vec_id != p.query_id
)
SELECT query_id, rank, vec_id, list_id, cos_sim FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
             ORDER BY cos_sim DESC, vec_id) AS rank
  FROM scored
) WHERE rank <= 5
"""


@register("similarity_ivf", oracle=_DUCK_IVF_SQL)
def similarity_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: nearest-centroid list assignment + nprobe=2 probe —
    the brief's 'IVF variant as the scale path'."""
    emb = read_split(spark, f"{sf_dir}/embeddings.parquet")
    centroids = emb.filter("vec_id % 50 = 0")
    queries = emb.filter("vec_id % 100 = 0")
    lists = sim.ivf_assign(emb, centroids)
    out = sim.ivf_topk(lists, queries, centroids, k=5, nprobe=2)
    return out.selectExpr(
        "query_id", "cast(rank as bigint) as rank",
        "vec_id", "list_id", "cos_sim",
    )


# priority 10: narrow arithmetic op; error bound pinned by pytest
@register(
    "embedding_quantize_int8",
    priority=100,  # r7: stranded-since-r4 promotion (verdict task #7)
    oracle=f"""
WITH s AS (
  SELECT vec_id, embedding,
         greatest(list_aggregate(list_transform(embedding,
             x -> abs(CAST(x AS DOUBLE))), 'max'), 1e-30) / 127.0 AS scale
  FROM embeddings WHERE len(embedding) > 0
),
q AS (
  SELECT vec_id, embedding, scale,
         list_transform(embedding, x -> CAST(greatest(least(
             floor(CAST(x AS DOUBLE) / scale + 0.5), 127.0), -127.0)
             AS BIGINT)) AS qvec
  FROM s
)
SELECT vec_id, scale,
       CAST(list_aggregate(qvec, 'sum') AS BIGINT) AS q_sum,
       CAST(list_aggregate(list_transform(list_zip(qvec,
           range(1, len(qvec) + 1)),
           p -> p[1] * CAST(p[2] AS BIGINT)), 'sum') AS BIGINT)
         AS q_dot_idx,
       list_aggregate(list_transform(list_zip(embedding, qvec),
           p -> abs(CAST(p[1] AS DOUBLE) - CAST(p[2] AS DOUBLE) * scale)),
           'max') AS max_abs_err
FROM q
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of the embedding corpus
    (similarity.quantize_int8): scale + position-weighted code checksum +
    reconstruction error, bit-exact across engines."""
    emb = read_split(spark, f"{sf_dir}/embeddings.parquet")
    out = sim.quantize_int8(emb)
    return out.select(
        "vec_id", "scale", "q_sum", "q_dot_idx", "max_abs_err"
    )


# identical semantics to similarity_ivf — the POINT: rereading the lists
# from a bucketed table must not change a single ANN result, while
# per-list scans/aggregates become exchange-free (tests/test_bucketed.py
# asserts the plan) — hence the SHARED oracle.
# priority 10: bucketed-write variant sharing similarity_ivf's oracle
@register("similarity_ivf_bucketed", oracle=_DUCK_IVF_SQL, priority=100)  # r7: stranded-since-r4 promotion (verdict task #7)
def similarity_ivf_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with the corpus lists WRITTEN BUCKETED by list_id and read
    back from the table — the storage layout the 100 TB deployment uses
    so each probe touches only its lists' buckets.  Results must equal
    the in-memory similarity_ivf exactly (shared oracle)."""
    from ionex_spark.sources import bucketed

    emb = read_split(spark, f"{sf_dir}/embeddings.parquet")
    centroids = emb.filter("vec_id % 50 = 0")
    queries = emb.filter("vec_id % 100 = 0")
    lists = sim.ivf_assign(emb, centroids)
    suffix = bucketed.session_suffix(spark)
    bucketed.purge_session_tables(spark, "gate_ivf_lists_", suffix)
    table = f"gate_ivf_lists_{suffix}"
    bucketed.write_bucketed(lists, table, "list_id", buckets=8)
    corpus_lists = spark.read.table(table)
    out = sim.ivf_topk(corpus_lists, queries, centroids, k=5, nprobe=2)
    return out.selectExpr(
        "query_id", "cast(rank as bigint) as rank",
        "vec_id", "list_id", "cos_sim",
    )


@register(
    "text_normalize",
    priority=10,
    oracle="""
WITH raw AS (
  SELECT doc_id, concat('<p id="', CAST(doc_id AS VARCHAR), '">',
                        coalesce(text, ''), '</p>') AS html
  FROM documents
),
n AS (
  SELECT doc_id,
         trim(regexp_replace(regexp_replace(lower(html),
              '<[^>]*>', ' ', 'g'), ' +', ' ', 'g')) AS norm
  FROM raw
)
SELECT doc_id,
       CAST(length(norm) AS BIGINT) AS norm_len,
       substr(norm, 1, 64) AS norm_head
FROM n
""",
)
def text_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text normalization pipeline step: strip markup tags, collapse
    whitespace runs, lowercase, trim — pure JVM regexp expressions (the
    ingest-side cleaner of a web-scale corpus; tags synthesized around
    the documents so the strip does real work)."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    # coalesce: Spark concat is NULL-strict while DuckDB concat skips
    # NULLs — a NULL text would silently diverge the two engines
    raw = docs.selectExpr(
        "doc_id",
        "concat('<p id=\"', cast(doc_id as string), '\">',"
        " coalesce(text, ''), '</p>') as html",
    )
    return raw.selectExpr(
        "doc_id",
        "trim(regexp_replace(regexp_replace(lower(html),"
        " '<[^>]*>', ' '), ' +', ' ')) as norm",
    ).selectExpr(
        "doc_id",
        "cast(length(norm) as bigint) as norm_len",
        "substr(norm, 1, 64) as norm_head",
    )


@register(
    "token_doc_frequency",
    priority=10,
    oracle=f"""
WITH toks AS ({_DUCK_UNIGRAMS}),
df_counts AS (
  SELECT token, count(*) AS doc_freq FROM toks GROUP BY token
)
SELECT token, doc_freq, CAST(rank AS BIGINT) AS rank FROM (
  SELECT token, doc_freq,
         row_number() OVER (ORDER BY doc_freq DESC, token) AS rank
  FROM df_counts
) WHERE rank <= 20
""",
)
def token_doc_frequency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary statistics: document frequency of each unigram,
    top-20 with deterministic tie-break — the df side of tf-idf and the
    stopword-list builder of a corpus pipeline.  One explode + one
    groupBy shuffle; the final top-k is a tiny sorted limit."""
    from pyspark.sql.window import Window

    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    toks = dd.tokens_exploded(docs).dropDuplicates(["doc_id", "token"])
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    # top-k FIRST via orderBy+limit (TakeOrderedAndProject: per-partition
    # heaps, no single-partition shuffle of the full vocabulary); the
    # unpartitioned rank window then runs over only the 20 survivors
    top = counts.orderBy(F.desc("doc_freq"), "token").limit(20)
    w = Window.orderBy(F.desc("doc_freq"), F.col("token"))
    return (
        top.withColumn("rank", F.row_number().over(w))
        .selectExpr("token", "doc_freq", "cast(rank as bigint) as rank")
    )


@register(
    "tfidf_top_terms",
    oracle=f"""
WITH alltoks AS (
  SELECT doc_id,
         unnest(string_split(lower({tx.ws_norm_sql('text')}), ' '))
           AS token
  FROM documents
),
toks AS (SELECT doc_id, token FROM alltoks WHERE length(token) > 0),
tf AS (SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2),
dfreq AS (
  SELECT token, count(DISTINCT doc_id) AS doc_freq FROM toks GROUP BY 1
),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.token, tf.tf, dfreq.doc_freq,
         cast(tf.tf as double) * (cast(n.n_docs + 1 as double)
            / cast(dfreq.doc_freq + 1 as double)) AS score
  FROM tf JOIN dfreq ON tf.token = dfreq.token CROSS JOIN n
)
SELECT doc_id, CAST(rank AS BIGINT) AS rank, token, tf, doc_freq, score
FROM (
  SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY score DESC, token) AS rank
  FROM scored
) WHERE rank <= 3
""",
)
def tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 tf-idf terms — the keyword-extraction /
    quality-signal step composing term frequency with the corpus document
    frequency.  idf is the RATIONAL (n_docs+1)/(df+1) so the score stays
    transcendental-free and bit-exact across engines (NOTES.md gotcha: no
    ln/log in oracled paths).  NOTE: this is a DISTINCT, deterministic
    ranking — monotonicity of idf does NOT make tf*idf order-equivalent
    to tf*log(idf) (e.g. tf=1/idf=8 vs tf=4/idf=2 tie rationally while
    log-idf prefers the latter), so selected top-3 terms can differ from
    standard log tf-idf; the contract here is reproducibility, not
    log-tf-idf parity (r3 advice).

    Scale shape: tokens are hash-partitioned by doc_id, so the
    (doc_id, token) aggregate runs exchange-free on that partitioning (a
    subset of the group keys clusters it) and the per-doc ranking window
    reuses it too (plan: Window directly over the REPARTITION exchange,
    WindowGroupLimit pushes rank<=3 below the sort).  doc_freq is derived
    from the aggregated tf rows (unique per (doc, token), so rows-per-
    token IS the distinct-doc count); Catalyst recomputes the tf subtree
    for that branch rather than materializing it — the deliberate trade:
    a second token pass costs CPU, persisting 100 TB of tf rows costs
    cluster storage (ReuseExchange picks it up for free under AQE when
    the subtrees unify)."""
    from pyspark.sql.window import Window

    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    n_docs = docs.count()
    toks = dd.tokens_exploded(docs).repartition(F.col("doc_id"))
    tf = toks.groupBy("doc_id", "token").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("token").agg(
        F.count(F.lit(1)).alias("doc_freq")
    )
    # NO broadcast hint on dfreq: the vocabulary is small at fixture
    # scale (Catalyst broadcasts it via the threshold anyway) but
    # billions of distinct tokens at 10^10 docs — forcing a broadcast
    # there OOMs where a shuffled join degrades gracefully
    scored = tf.join(dfreq, "token").withColumn(
        "score",
        F.expr(
            f"cast(tf as double) * (cast({n_docs} + 1 as double)"
            " / cast(doc_freq + 1 as double))"
        ),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"), "token")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter("rank <= 3")
        .selectExpr(
            "doc_id", "cast(rank as bigint) as rank",
            "token", "tf", "doc_freq", "score",
        )
    )


_DOMAIN = (
    "concat(CASE WHEN doc_id % 11 < 3 THEN 'alpha' WHEN doc_id % 11 < 5"
    " THEN 'beta' WHEN doc_id % 11 < 8 THEN 'spamfarm' ELSE 'gamma' END,"
    " '-', cast(doc_id % 3 as string), '.example.org')"
)

_URL_RE = "https?://([^/]+)/"

_BLOCKED = ("spamfarm-0.example.org", "spamfarm-2.example.org")


# priority 10: broadcast anti-join class also gate-covered by
# tile_coverage_gaps and exercised by the corpus-job decontam stage
@register(
    "domain_blocklist_rollup",
    priority=100,  # r7: stranded-since-r4 promotion (verdict task #7)
    oracle=f"""
WITH urls AS (
  SELECT doc_id,
         concat('https://', {_DOMAIN}, '/p/', cast(doc_id as varchar))
           AS url
  FROM documents
),
dom AS (
  SELECT doc_id, regexp_extract(url, '{_URL_RE}', 1) AS domain FROM urls
)
SELECT domain, count(*) AS n_docs, min(doc_id) AS min_doc
FROM dom
WHERE domain NOT IN ('{_BLOCKED[0]}', '{_BLOCKED[1]}')
GROUP BY domain
""",
)
def domain_blocklist_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-corpus hygiene: parse the source URL's domain (regexp), drop
    documents from blocklisted domains via a BROADCAST ANTI-join (the
    blocklist is a small curated table — never shuffle the corpus against
    it), and roll up per-domain document counts.  URLs are synthesized
    deterministically from doc_id so both engines see identical input."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    urls = docs.selectExpr(
        "doc_id",
        f"concat('https://', {_DOMAIN}, '/p/', cast(doc_id as string))"
        " as url",
    )
    dom = urls.selectExpr(
        "doc_id", f"regexp_extract(url, '{_URL_RE}', 1) as domain"
    )
    blocklist = spark.createDataFrame(
        [(d,) for d in _BLOCKED], "domain string"
    )
    kept = dom.join(F.broadcast(blocklist), "domain", "left_anti")
    return kept.groupBy("domain").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("doc_id").alias("min_doc"),
    )


def _duck_cms_query() -> str:
    from ionex_spark.operators import sketch as sk

    depth, width = 4, 256
    cell_union = " UNION ALL ".join(
        f"SELECT {d} AS d, {sk.bucket_duckdb_sql('token', d, width)}"
        " AS bucket FROM toks"
        for d in range(depth)
    )
    probe_union = " UNION ALL ".join(
        f"SELECT token, true_count, {d} AS d,"
        f" {sk.bucket_duckdb_sql('token', d, width)} AS bucket FROM probes"
        for d in range(depth)
    )
    return f"""
WITH toks AS (
  SELECT token FROM (
    SELECT unnest(string_split(lower({tx.ws_norm_sql('text')}), ' '))
      AS token FROM documents
  ) WHERE length(token) > 0
),
sketch AS (
  SELECT d, bucket, count(*) AS cnt FROM ({cell_union}) GROUP BY 1, 2
),
counts AS (SELECT token, count(*) AS true_count FROM toks GROUP BY 1),
probes AS (
  SELECT token, true_count FROM counts
  ORDER BY true_count DESC, token LIMIT 20
),
est AS (
  SELECT p.token, p.true_count, min(s.cnt) AS cm_est
  FROM ({probe_union}) p JOIN sketch s ON p.d = s.d AND p.bucket = s.bucket
  GROUP BY 1, 2
)
SELECT token, true_count, CAST(cm_est AS BIGINT) AS cm_est FROM est
"""


# priority 10: overestimate invariant pinned by pytest
@register("token_countmin_sketch", oracle=_duck_cms_query(), priority=100)  # r7: stranded-since-r4 promotion (verdict task #7)
def token_countmin_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch over token occurrences (operators/sketch.py) —
    the brief's 'novel sketch' custom-operator family: build the
    depth=4 x width=256 sketch in one combine-friendly shuffle, then
    estimate the top-20 tokens' counts from it next to their exact
    counts.  Deterministic md5-seeded hashes make the sketch itself
    bit-identical in DuckDB; the overestimate invariant (cm_est >=
    true_count) is asserted in pytest."""
    from ionex_spark.operators import sketch as sk

    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    toks = dd.tokens_exploded(docs)  # occurrences, not deduped
    cms = sk.countmin_sketch(toks, depth=4, width=256)
    counts = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("true_count")
    )
    probes = counts.orderBy(F.desc("true_count"), "token").limit(20)
    est = sk.countmin_estimate(cms, probes, depth=4, width=256)
    return probes.join(est, "token").selectExpr(
        "token", "true_count", "cast(cm_est as bigint) as cm_est"
    )


# ------------------------------------------- sampling & sequence packing

_SAMPLE_FRACS = {"en": 0.5, "de": 0.25, "fr": 0.1}


# priority 10: deterministic md5 gate, also exercised by the corpus
# pipeline job tests
@register(
    "stratified_sample",
    priority=10,
    oracle=f"""
SELECT doc_id, lang FROM documents
WHERE ({tx.sample_hash_sql('doc_id', 'duckdb')}) <
      {tx.strata_threshold_case_sql('lang', _SAMPLE_FRACS)}
""",
)
def stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language rebalancing sample (md5-hash gate, no
    rand(): reproducible across engines and reruns) — the corpus
    rebalancing step of a training-data pipeline."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    out = tx.stratified_sample(docs, "lang", _SAMPLE_FRACS)
    return out.select("doc_id", "lang")


@register(
    "pack_sequences",
    oracle=f"""
WITH t AS (
  SELECT doc_id,
         ({tx.sample_hash_sql('doc_id', 'duckdb')}) % 8 AS shard,
         CAST({tx.token_count_duckdb_sql('text')} AS BIGINT) AS n_tokens
  FROM documents
),
c AS (
  SELECT doc_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
             ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM t
)
SELECT doc_id, shard, cum_before // 512 AS seq_id,
       cum_before % 512 AS seq_offset_tokens, n_tokens
FROM c
""",
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-sequence packing: shard by portable id hash, order within
    shard, assign docs to 512-token sequences by running token count —
    one window shuffle, parallel across shards (Megatron-style
    sequential fill)."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id", f"{tx.token_count_sql('text')} as n_tokens"
    )
    out = tx.pack_sequences(
        docs,
        budget_tokens=512,
        n_shards=8,
        shard_expr=f"({tx.sample_hash_sql('doc_id', 'spark')}) % 8",
    )
    return out


@register(
    "corpus_quality_filter",
    oracle=f"""
WITH feats AS (
  SELECT doc_id, lang,
         CAST({tx.token_count_duckdb_sql('text')} AS BIGINT) AS n_tokens,
         {tx.lang_id_sql('lower(text)')} AS lang_pred,
         {tx.quality_score_sql('text')} AS quality
  FROM documents
),
kept AS (
  SELECT * FROM feats WHERE {tx.QUALITY_FILTER_SQL}
)
SELECT lang, count(*) AS n_kept, min(doc_id) AS min_doc,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM kept GROUP BY lang
""",
)
def corpus_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The composed ingest FILTER a training pipeline actually runs:
    token-count bounds AND quality floor AND language-agreement
    (predicted == labeled), then per-language keep stats.  Every
    predicate is an already-oracled fragment (text.py), composed in one
    narrow scan — Catalyst collapses the whole thing into a single
    WholeStageCodegen filter over the parquet scan."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    feats = tx.with_text_features(docs)
    kept = feats.filter(tx.QUALITY_FILTER_SQL)
    return kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.min("doc_id").alias("min_doc"),
        F.expr("cast(sum(n_tokens) as bigint)").alias("total_tokens"),
    )


# --------------------------------------------- multimodal gate coverage
#
# The audio/video plumbing runs REAL payload decodes inside the gate:
# the Spark side generates deterministic binary payloads, decodes them,
# and derives features; the oracle reproduces the expected values purely
# arithmetically from the generator's id formulas — so a corrupted
# encode, a broken decode, or a frame-sampling off-by-one all surface as
# driver hash mismatches, not just pytest failures.

# priority 10: mapInPandas A/V plumbing is pytest-pinned (tests/test_av.py)
@register(
    "audio_decode_durations",
    priority=10,
    oracle="""
SELECT printf('aud-%012d', g.range) AS audio_id,
       CAST((800 + (g.range % 5) * 400) AS DOUBLE)
         / CAST(8000 AS DOUBLE) AS duration_s
FROM range(500) g
""",
)
def audio_decode_durations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end audio payload check: generate PCM16 payloads, DECODE
    them in the features UDF, and return per-clip durations — which the
    oracle predicts from the generator arithmetic (n_samples / rate)."""
    from ionex_spark.operators import av
    from ionex_spark.sources.media import audio_df

    aud = audio_df(spark, 500)
    return av.audio_features(aud).select("audio_id", "duration_s")


# priority 10: mapInPandas A/V plumbing is pytest-pinned (tests/test_av.py)
@register(
    "video_frame_sample_counts",
    priority=10,
    oracle="""
SELECT printf('vid-%012d', g.range) AS video_id,
       CAST(((8 + (g.range % 3) * 4) + 3) // 4 AS BIGINT) AS n_sampled,
       CAST((((8 + (g.range % 3) * 4) + 3) // 4 - 1) * 4 AS BIGINT)
         AS max_frame_idx
FROM range(400) g
""",
)
def video_frame_sample_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end video payload check: generate RAWV payloads, DECODE and
    frame-sample them (every 4th frame), and return per-clip sampled-frame
    counts + last sampled index — predicted arithmetically by the oracle
    (ceil(n_frames / 4) from the generator formula)."""
    from ionex_spark.operators import av
    from ionex_spark.sources.media import videos_df

    vids = videos_df(spark, 400)
    frames = av.sample_frames(vids, every=4)
    return frames.groupBy("video_id").agg(
        F.count(F.lit(1)).alias("n_sampled"),
        F.max("frame_idx").cast("bigint").alias("max_frame_idx"),
    )


_BPE_PAT = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9 ]"


@register(
    "token_counts_bpe",
    priority=10,
    oracle=f"""
SELECT doc_id,
       cast(len(regexp_extract_all(text, '{_BPE_PAT}')) as bigint)
         AS n_subword,
       cast({tx.token_count_duckdb_sql('text')} as bigint) AS n_whitespace
FROM documents
""",
)
def token_counts_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting two ways (the brief's 'whitespace + BPE-ish regex'):
    whitespace tokens via replace-length arithmetic, subword-ish tokens via
    a regex that splits alpha runs / digit runs / punctuation (same
    semantics in Java regex and RE2)."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return docs.selectExpr(
        "doc_id",
        f"cast(size(regexp_extract_all(text, '{_BPE_PAT}', 0)) as bigint)"
        " as n_subword",
        f"cast({tx.token_count_sql('text')} as bigint) as n_whitespace",
    )


@register(
    "doc_rolling_hash",
    priority=10,
    oracle=f"""
SELECT doc_id,
       cast({tx.rolling_hash_sql("substr(text, 1, 128)", 'duckdb')} as bigint)
         AS rhash,
       {tx.fingerprint_sql('text')} AS md5_fingerprint
FROM documents
""",
)
def doc_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting via a polynomial ROLLING HASH over the
    document head (the brief's 'document fingerprinting (rolling hash)'),
    alongside the md5 fingerprint."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return docs.selectExpr(
        "doc_id",
        f"cast({tx.rolling_hash_sql('substr(text, 1, 128)', 'spark')}"
        " as bigint) as rhash",
        f"{tx.fingerprint_sql('text')} as md5_fingerprint",
    )


# ------------------------------------------- streaming-semantics batch twins
#
# The two streaming ops (streaming/stream.py) were pytest-only evidence
# (r3 verdict task #6).  Their semantics have EXACT batch equivalents —
# tests/test_streaming_neardup.py proves the stream == batch pair set,
# tests/test_streaming_stateful.py the dedup — so the driver's oracle
# gate now covers them through these batch-twin rows.  The near-dup twin
# calls the SAME join+verify code the stream runs
# (stream.near_dup_alert_join), not a re-implementation.

def _ndb_corpus_band(b: int) -> str:
    """Corpus signature band b, shared Spark/DuckDB arithmetic."""
    return f"(corpus_id * 7919 + {b} * 104729) % 65536"


def _ndb_stream_band(b: int, div: str) -> str:
    """Stream signature band b: ids divisible by 10 are PLANTED near-dups
    of corpus entry (sid div 10) % 500 with the low bit of one band
    flipped (hamming == 1, arithmetic LSB flip — portable, no xor
    dialect split); everything else is a fresh pseudo-random signature.
    ``div`` is the integer-division spelling ('div' Spark, '//' DuckDB)."""
    cb = f"(((sid {div} 10) % 500) * 7919 + {b} * 104729) % 65536"
    flipped = f"({cb}) + 1 - 2 * (({cb}) % 2)"
    return (
        f"CASE WHEN sid % 10 = 0 THEN"
        f" (CASE WHEN sid % 4 = {b} THEN {flipped} ELSE {cb} END)"
        f" ELSE (sid * 31 + {b + 1} * 2714) % 65536 END"
    )


def _ndb_oracle() -> str:
    corpus_bands = ", ".join(
        f"{_ndb_corpus_band(b)} AS band_{b}" for b in range(4)
    )
    stream_bands = ", ".join(
        f"{_ndb_stream_band(b, '//')} AS band_{b}" for b in range(4)
    )
    sb = " UNION ALL ".join(
        f"SELECT stream_id, {b} AS bi, band_{b} AS bv FROM stream"
        for b in range(4)
    )
    cb = " UNION ALL ".join(
        f"SELECT corpus_id, {b} AS bi, band_{b} AS bv FROM corpus"
        for b in range(4)
    )
    ham = " + ".join(
        f"bit_count(xor(ss.band_{b}, cc.band_{b}))" for b in range(4)
    )
    return f"""
WITH corpus AS (
  SELECT c.range AS corpus_id, {corpus_bands}
  FROM range(500) c
),
s0 AS (SELECT event_id AS sid FROM events),
stream AS (SELECT sid AS stream_id, {stream_bands} FROM s0),
sb AS ({sb}),
cbt AS ({cb}),
cand AS (
  SELECT DISTINCT s.stream_id, c.corpus_id
  FROM sb s JOIN cbt c ON s.bi = c.bi AND s.bv = c.bv
)
SELECT d.stream_id, d.corpus_id, CAST({ham} AS BIGINT) AS hamming
FROM cand d
JOIN stream ss ON ss.stream_id = d.stream_id
JOIN corpus cc ON cc.corpus_id = d.corpus_id
WHERE {ham} <= 3
"""


@register("streaming_neardup_batch", oracle=_ndb_oracle(), priority=100)  # r7: plan restructured
def streaming_neardup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH TWIN of streaming_near_dup_alerts: incoming signatures
    (synthesized from event ids; 1 in 10 is a planted hamming-1 near-dup
    of the 500-entry static corpus) through the IDENTICAL stream-static
    banded join + XOR-popcount verify the stream runs
    (streaming/stream.near_dup_alert_join) — the streaming op only adds
    watermarked alert dedup on top, which distinct() mirrors here.
    tests/test_streaming_neardup.py proves stream == batch pair sets, so
    this driver row is hard evidence for the streaming semantics too."""
    from ionex_spark.streaming.stream import near_dup_alert_join

    corpus = spark.range(500).selectExpr(
        "id as corpus_id",
        *[f"{_ndb_corpus_band(b)} as band_{b}" for b in range(4)],
    ).selectExpr("corpus_id as doc_id", "band_0", "band_1", "band_2", "band_3")
    stream = (
        read_split(spark, f"{sf_dir}/events.parquet")
        .selectExpr("event_id as sid")
        .selectExpr(
            "sid as doc_id",
            *[f"{_ndb_stream_band(b, 'div')} as band_{b}" for b in range(4)],
        )
    )
    return near_dup_alert_join(stream, corpus, max_hamming=3).distinct()


@register(
    "streaming_dedup_batch",
    priority=50,
    oracle="""
WITH t AS (
  SELECT user_id, event_type, event_id,
         CAST(floor(epoch_ms(ts) / 1000.0) AS BIGINT) AS tsec
  FROM events
),
r AS (
  SELECT user_id, event_type, event_id, tsec,
         row_number() OVER (PARTITION BY user_id, event_type
                            ORDER BY tsec, event_id) AS rn,
         count(*) OVER (PARTITION BY user_id, event_type) AS n_arrivals
  FROM t
)
SELECT user_id, event_type, event_id AS first_event_id,
       tsec AS first_tsec, n_arrivals
FROM r WHERE rn = 1
""",
)
def streaming_dedup_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH TWIN of streaming_dedup_exact
    (dropDuplicatesWithinWatermark): one surviving row per
    (user_id, event_type) key — the FIRST arrival by event time (ties by
    event_id), which is exactly what the watermark dedup keeps when
    event time is the arrival order.  Deterministic keep-first makes the
    row oracle-exact where batch dropDuplicates would not be."""
    from pyspark.sql.window import Window

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id", "user_id", "event_type", "unix_timestamp(ts) as tsec"
    )
    w = Window.partitionBy("user_id", "event_type").orderBy(
        "tsec", "event_id"
    )
    wn = Window.partitionBy("user_id", "event_type")
    r = ev.withColumn("rn", F.row_number().over(w)).withColumn(
        "n_arrivals", F.count(F.lit(1)).over(wn)
    )
    return r.filter("rn = 1").selectExpr(
        "user_id", "event_type", "event_id as first_event_id",
        "tsec as first_tsec", "n_arrivals",
    )


# --------------------------------------------- benchmark decontamination

_DUCK_DECONTAM = f"""
WITH shing AS ({dd.shingles_duckdb_sql(3)}),
bench AS (SELECT doc_id AS bench_id, token FROM shing WHERE doc_id % 97 = 0),
hits AS (
  SELECT s.doc_id, s.token, b.bench_id
  FROM shing s JOIN bench b ON s.token = b.token AND s.doc_id != b.bench_id
)
SELECT doc_id, count(DISTINCT token) AS n_shared_shingles,
       count(DISTINCT bench_id) AS n_bench_docs
FROM hits GROUP BY doc_id
"""


@register("decontam_bench_overlap", oracle=_DUCK_DECONTAM, priority=50)
def decontam_bench_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark DECONTAMINATION: flag every corpus document sharing a
    word-trigram shingle with the held-out eval set (docs with
    doc_id % 97 == 0 stand in for the benchmark; self-matches excluded)
    — the n-gram-overlap hygiene step every LLM training pipeline runs
    before training (operators/decontam.contamination_hits).  The
    benchmark shingle index is broadcast, so the 100 TB corpus side
    never shuffles for the join; only the per-doc rollup exchanges."""
    from ionex_spark.operators.decontam import contamination_hits

    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    bench = docs.filter("doc_id % 97 = 0").selectExpr(
        "doc_id as bench_id", "text"
    )
    # bench IS a corpus subset sharing the id space here, so self-pairs
    # are true self-matches; the external-eval job path leaves this off
    return contamination_hits(docs, bench, n=3, exclude_self_ids=True)


# ------------------------------------------------ n-gram repetition ratio

_DUCK_REPETITION = f"""
WITH shing AS ({dd.shingles_duckdb_sql(2, distinct=False)}),
cnt AS (SELECT doc_id, token, count(*) AS cnt FROM shing GROUP BY 1, 2)
SELECT doc_id,
       CAST(sum(cnt) AS BIGINT) AS total_ngrams,
       max(cnt) AS max_ngram_count,
       cast(max(cnt) as double) / cast(sum(cnt) as double) AS rep_ratio
FROM cnt GROUP BY doc_id
"""


@register("repetition_ngrams", oracle=_DUCK_REPETITION, priority=50)
def repetition_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document bigram REPETITION ratio (share of the most frequent
    n-gram) — the Gopher-style 'repeated n-gram' quality rule catching
    machine-generated spam and boilerplate (operators/text.
    repetition_stats).  Complements the length/punct/stopword scores in
    text_features with a structural redundancy signal."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return tx.repetition_stats(docs, n=2)


# ------------------------------------------------ KMV distinct estimator

def _kmv_oracle(k: int = 64) -> str:
    from ionex_spark.operators.sketch import KMV_SEED, KMV_SPACE

    h = dd.token_hash_duckdb_sql("user_id", KMV_SEED)
    return f"""
WITH h AS (SELECT DISTINCT event_type, {h} AS hv FROM events),
r AS (
  SELECT event_type, hv,
         row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rk
  FROM h
)
SELECT event_type,
       count(*) AS n_seen,
       max(hv) AS kth_min,
       CASE WHEN count(*) < {k} THEN cast(count(*) as double)
            ELSE ({k} - 1) * cast({KMV_SPACE!r} as double)
                 / cast(max(hv) as double) END AS est_distinct
FROM r WHERE rk <= {k}
GROUP BY event_type
"""


@register("distinct_users_kmv", oracle=_kmv_oracle(), priority=50)
def distinct_users_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPROXIMATE distinct users per event type via the K-Minimum-Values
    sketch (operators/sketch.kmv_distinct, k=64) — the cross-engine-
    reproducible alternative to HLL approx_count_distinct: deterministic
    md5 hashing makes an approximate algorithm bit-exactly oracleable.
    Per-group state is k values regardless of cardinality; accuracy
    (~1/sqrt(k-1) relative error) pinned against exact counts in
    tests/test_spark_ops.py."""
    from ionex_spark.operators.sketch import kmv_distinct

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return kmv_distinct(ev, ["event_type"], "user_id", k=64)


# ------------------------------------------------- CDC keyed snapshot diff

@register(
    "snapshot_diff_events",
    priority=50,
    oracle="""
WITH old AS (
  SELECT event_id, value FROM events WHERE event_id % 5 != 0
),
new AS (
  SELECT event_id,
         CASE WHEN event_id % 3 = 0 THEN value * cast(2.0 as double)
              ELSE value END AS value
  FROM events WHERE event_id % 7 != 0
),
j AS (
  SELECT coalesce(o.event_id, n.event_id) AS event_id,
         o.value AS value_old, n.value AS value_new,
         (o.event_id IS NOT NULL) AS in_old,
         (n.event_id IS NOT NULL) AS in_new
  FROM old o FULL OUTER JOIN new n ON o.event_id = n.event_id
)
SELECT event_id,
       CASE WHEN NOT in_old THEN 'added'
            WHEN NOT in_new THEN 'removed'
            WHEN value_old IS NOT DISTINCT FROM value_new THEN 'unchanged'
            ELSE 'changed' END AS change_type,
       value_old, value_new
FROM j
WHERE NOT (in_old AND in_new AND value_old IS NOT DISTINCT FROM value_new)
""",
)
def snapshot_diff_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC between two table versions (operators/cdc.snapshot_diff):
    version A = events minus every 5th id, version B = events minus
    every 7th id with every 3rd value doubled — the diff emits
    added/removed/changed rows with both value images and drops
    unchanged keys before any further exchange.  One full-outer shuffle
    on the key; output proportional to churn, not table size.  The
    write-side twin (SnapshotTable.upsert -> copy-on-write overwrite
    snapshot -> diff across time travel) is pytest-pinned in
    tests/test_tableio_streaming.py."""
    from ionex_spark.operators.cdc import snapshot_diff

    ev = read_split(spark, f"{sf_dir}/events.parquet")
    old = ev.filter("event_id % 5 != 0").select("event_id", "value")
    new = ev.filter("event_id % 7 != 0").selectExpr(
        "event_id",
        "CASE WHEN event_id % 3 = 0 THEN value * cast(2.0 as double)"
        " ELSE value END as value",
    )
    return snapshot_diff(old, new, keys=["event_id"], compare_cols=["value"])


# -------------------------------------------- embedding dedup groups

@register(
    "embedding_dedup_groups",
    # priority 10 = past the 50-entry window (composition of two already-
    # gated pipelines: embedding_near_dups pairs + the connected-components
    # operator exercised by dedup_groups); still check_oracle-verifiable.
    priority=10,
    oracle=f"""
WITH RECURSIVE pairs AS ({{EMB_PAIRS}}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
r(src, node) AS (
  SELECT vec_id, vec_id FROM embeddings
  UNION
  SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node
)
SELECT src AS vec_id, min(node) AS group_id,
       CASE WHEN src = min(node) THEN 1 ELSE 0 END AS is_keeper
FROM r GROUP BY src
""".replace("{EMB_PAIRS}", _DUCK_EMB_PAIRS),
)
def embedding_dedup_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EMBEDDING dedup GROUPS: connected components (large-star/small-
    star) over the verified embedding-cosine near-dup pair graph — the
    step that turns pairwise semantic duplicates into keep/drop
    decisions, completing the embedding dedup pipeline the same way
    dedup_groups completes the minhash one.  Pairs come from the SAME
    registered embedding_near_dups plan, so this row also cross-checks
    that query against the recursive-CTE transitive closure."""
    emb = read_split(spark, f"{sf_dir}/embeddings.parquet")
    pairs = embedding_near_dups(spark, sf_dir)
    groups = dd.connected_components_star(
        emb.selectExpr("vec_id as doc_id"), pairs
    )
    return groups.selectExpr(
        "doc_id as vec_id", "group_id",
        "CASE WHEN doc_id = group_id THEN 1 ELSE 0 END as is_keeper",
    )


# ------------------------------------------------ corpus distribution drift

@register(
    "token_drift_top",
    # priority 10: composition of already-gated tokenization + rollup
    # machinery; past-cap but check_oracle-able
    priority=10,
    oracle=f"""
WITH toks AS (
  SELECT doc_id, unnest(string_split(lower({tx.ws_norm_sql('text')}), ' '))
           AS token
  FROM documents
),
t AS (SELECT doc_id, token FROM toks WHERE length(token) > 0),
a AS (SELECT token, count(*) AS c_old FROM t WHERE doc_id % 2 = 0 GROUP BY 1),
b AS (SELECT token, count(*) AS c_new FROM t WHERE doc_id % 2 = 1 GROUP BY 1),
tot AS (
  SELECT (SELECT CAST(sum(c_old) AS BIGINT) FROM a) AS t_old,
         (SELECT CAST(sum(c_new) AS BIGINT) FROM b) AS t_new
),
j AS (
  SELECT coalesce(a.token, b.token) AS token,
         coalesce(a.c_old, 0) AS c_old, coalesce(b.c_new, 0) AS c_new
  FROM a FULL OUTER JOIN b ON a.token = b.token
)
SELECT j.token, j.c_old, j.c_new,
       CAST(abs(j.c_old * tot.t_new - j.c_new * tot.t_old) AS BIGINT)
         AS drift_num,
       tot.t_old, tot.t_new
FROM j CROSS JOIN tot
ORDER BY drift_num DESC, j.token
LIMIT 20
""",
)
def token_drift_top(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus DRIFT detector: the 20 tokens whose relative frequency
    moved most between two corpus halves (doc_id parity stands in for
    old/new crawl versions) — the data-monitoring check a training
    pipeline runs between snapshot versions.  Drift is ranked by the
    EXACT integer numerator |c_old*T_new - c_new*T_old| (the
    cross-multiplied frequency difference), so no float sum ever forms
    and the ranking is bit-portable; TVD = sum(drift_num)/(2*T_old*
    T_new) is recoverable downstream.  One token rollup per side + a
    full-outer merge on the (uniform) token key; top-k via
    TakeOrderedAndProject."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    t = dd.tokens_exploded(docs)
    a = t.filter("doc_id % 2 = 0").groupBy("token").agg(
        F.count(F.lit(1)).alias("c_old")
    )
    b = t.filter("doc_id % 2 = 1").groupBy("token").agg(
        F.count(F.lit(1)).alias("c_new")
    )
    j = (
        a.join(b, "token", "full_outer")
        .fillna(0, subset=["c_old", "c_new"])
    )
    tot = j.agg(
        F.sum("c_old").alias("t_old"), F.sum("c_new").alias("t_new")
    )
    out = j.crossJoin(F.broadcast(tot)).selectExpr(
        "token", "c_old", "c_new",
        "cast(abs(c_old * t_new - c_new * t_old) as bigint) as drift_num",
        "t_old", "t_new",
    )
    return out.orderBy(F.desc("drift_num"), "token").limit(20)


# ------------------------------------------------ curriculum quality deciles

@register(
    "quality_decile_stats",
    # priority 10: window+rollup composition of gated machinery
    priority=10,
    oracle=f"""
WITH f AS (
  SELECT doc_id,
         cast({tx.token_count_duckdb_sql('text')} as bigint) AS n_tokens,
         {tx.quality_score_sql('text')} AS quality
  FROM documents
),
d AS (
  SELECT doc_id, n_tokens, quality,
         ntile(10) OVER (ORDER BY quality, doc_id) AS decile
  FROM f
)
SELECT decile, count(*) AS n_docs,
       min(quality) AS q_min, max(quality) AS q_max,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
       min(doc_id) AS min_doc
FROM d GROUP BY decile
""",
)
def quality_decile_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CURRICULUM binning: documents ntile'd into quality deciles
    (deterministic ties by doc_id) with per-bin token budgets — the
    ordering step of quality-staged training-data curricula.  ntile is
    SQL-standard (first n%k buckets take the extra row) so the bucket
    boundaries are bit-identical across engines; one window exchange."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    f = docs.selectExpr(
        "doc_id",
        f"cast({tx.token_count_sql('text')} as bigint) as n_tokens",
        f"{tx.quality_score_sql('text')} as quality",
    )
    d = f.selectExpr(
        "doc_id", "n_tokens", "quality",
        "ntile(10) over (order by quality, doc_id) as decile",
    )
    return d.groupBy("decile").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.min("quality").alias("q_min"),
        F.max("quality").alias("q_max"),
        F.sum("n_tokens").alias("total_tokens"),
        F.min("doc_id").alias("min_doc"),
    )


# --------------------------------------------- BPE merge-pair counting

@register(
    "bpe_pair_counts",
    # priority 10: tokenizer-training composition over gated machinery
    priority=10,
    oracle=f"""
WITH toks AS (
  SELECT unnest(string_split(lower({tx.ws_norm_sql('text')}), ' '))
           AS token
  FROM documents
),
w AS (
  SELECT token, count(*) AS freq FROM toks
  WHERE length(token) > 1 GROUP BY token
),
pairs AS (
  SELECT unnest(list_transform(range(1, length(token)),
                               i -> substr(token, i, 2))) AS pair,
         freq
  FROM w
)
SELECT pair, CAST(sum(freq) AS BIGINT) AS n
FROM pairs GROUP BY pair
ORDER BY n DESC, pair
LIMIT 30
""",
)
def bpe_pair_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE TOKENIZER TRAINING, step 1: corpus-weighted adjacent
    character-pair frequencies (the statistic each merge round of
    byte-pair encoding maximizes), top-30 with deterministic ties.
    Shape: the corpus collapses to the (distinct word, frequency) table
    FIRST — pair explosion then runs over the vocabulary (tiny,
    Heaps-law sublinear), not the corpus; at 100 TB the word rollup is
    the only corpus-sized exchange and every BPE merge iteration after
    this reuses the same vocabulary table."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    w = (
        dd.tokens_exploded(docs)
        .filter("length(token) > 1")
        .groupBy("token")
        .agg(F.count(F.lit(1)).alias("freq"))
    )
    pairs = w.selectExpr(
        "explode(transform(sequence(1, length(token) - 1),"
        " i -> substr(token, i, 2))) as pair",
        "freq",
    )
    return (
        pairs.groupBy("pair")
        .agg(F.sum("freq").alias("n"))
        .orderBy(F.desc("n"), "pair")
        .limit(30)
    )


# --------------------------------------------------- Bloom filter bitmap

def _duck_bloom(m_bits: int = 4096, k: int = 5) -> str:
    from ionex_spark.operators.sketch import BLOOM_SEED

    pos = ", ".join(
        f"({dd.token_hash_duckdb_sql('token', BLOOM_SEED + j)} % {m_bits})"
        for j in range(k)
    )
    return f"""
WITH toks AS (
  SELECT DISTINCT token FROM (
    SELECT unnest(string_split(lower({tx.ws_norm_sql('text')}), ' '))
             AS token
    FROM documents WHERE doc_id % 2 = 0
  ) WHERE length(token) > 0
),
bits AS (
  SELECT unnest([{pos}]) AS bitpos FROM toks
)
SELECT CAST(floor(bitpos / 64) AS BIGINT) AS word_idx,
       -- DuckDB raises on 1<<63 (signed overflow) where Spark's
       -- shiftleft wraps to the sign bit: spell bit 63 explicitly
       bit_or(CASE WHEN bitpos % 64 = 63 THEN -9223372036854775808
                   ELSE CAST(1 AS BIGINT) << CAST(bitpos % 64 AS INT)
              END) AS word
FROM bits GROUP BY 1
"""


@register("bloom_filter_tokens", oracle=_duck_bloom(), priority=10)
def bloom_filter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BLOOM FILTER over the even-document vocabulary
    (operators/sketch.bloom_build, m=4096 bits, k=5): the mergeable
    semi-join prefilter, with the md5 backend making the EXACT bitmap
    reproducible in DuckDB — the filter itself is the verified output
    (64 bigint words regardless of corpus size).  Membership semantics
    (zero false negatives, bounded false positives, bit_or mergeability)
    are pytest-pinned."""
    from ionex_spark.operators.sketch import bloom_build

    toks = (
        dd.tokens_exploded(
            read_split(spark, f"{sf_dir}/documents.parquet").filter(
                "doc_id % 2 = 0"
            )
        )
        .select("token")
        .dropDuplicates(["token"])
    )
    return bloom_build(toks, "token", m_bits=4096, k=5, backend="md5")


# ----------------------------------- tableio schema evolution + compaction

def _scratch_table(prefix: str):
    """Fresh throwaway SnapshotTable for an end-to-end table-layer gate
    query, removed at interpreter exit.  Each invocation writes a new
    copy of its input (deliberate: the table WRITE path is part of what
    these queries verify and measure), so without cleanup repeated
    bench/gate runs would accumulate copies under /tmp indefinitely
    (review finding)."""
    import atexit
    import shutil
    import tempfile

    from ionex_spark.sources.tableio import SnapshotTable

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, ignore_errors=True)
    return SnapshotTable(d)



@register(
    "schema_evolution_rollup",
    priority=50,
    oracle="""
WITH unioned AS (
  SELECT event_id, value AS val, CAST(NULL AS DOUBLE) AS w
  FROM events WHERE event_id % 2 = 0
  UNION ALL
  SELECT event_id, value * CAST(2.0 AS DOUBLE) AS val, value AS w
  FROM events WHERE event_id % 2 = 1
)
SELECT event_id % 4 AS grp,
       count(*) AS n,
       CAST(sum(CAST(floor(val * CAST(1000000.0 AS DOUBLE)) AS DECIMAL(38,0))) AS BIGINT) AS val_sum_fp,
       count(w) AS n_w,
       CAST(sum(CAST(floor(coalesce(w, CAST(0.0 AS DOUBLE)) * CAST(1000000.0 AS DOUBLE)) AS DECIMAL(38,0))) AS BIGINT) AS w_sum_fp
FROM unioned
GROUP BY 1
""",
)
def schema_evolution_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCHEMA EVOLUTION end-to-end through the real table layer
    (sources/tableio.SnapshotTable, round-4 verdict task #3a): commit
    half of events as (event_id, value), RENAME value->val + ADD column
    w via a metadata-only snapshot, append the other half under the new
    schema, then aggregate a read of the CURRENT snapshot — pre-
    evolution files resolve the renamed column through its stable
    column id and read the added column as NULL (Iceberg's field-id
    contract).  The oracle recomputes the same union from raw events,
    so a wrong id mapping (dropped rows, mis-bound columns, non-null
    ghosts) breaks the bit-exact hash."""
    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    t = _scratch_table("ionex_evo_")
    t.append(ev.filter("event_id % 2 = 0").select("event_id", "value"))
    t.evolve_schema(add_columns={"w": "double"}, renames={"value": "val"})
    t.append(
        ev.filter("event_id % 2 = 1").selectExpr(
            "event_id", "value * cast(2.0 as double) as val", "value as w"
        )
    )
    cur = t.read(spark)
    return cur.groupBy((F.col("event_id") % 4).alias("grp")).agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "cast(sum(cast(floor(val * cast(1000000.0 as double))"
            " as decimal(38,0))) as bigint)"
        ).alias("val_sum_fp"),
        F.count("w").alias("n_w"),
        F.expr(
            "cast(sum(cast(floor(coalesce(w, cast(0.0 as double))"
            " * cast(1000000.0 as double)) as decimal(38,0))) as bigint)"
        ).alias("w_sum_fp"),
    )


@register(
    "compacted_snapshot_rollup",
    priority=50,
    oracle="""
SELECT event_type,
       count(*) AS n,
       CAST(sum(CAST(floor(value * CAST(1000000.0 AS DOUBLE)) AS DECIMAL(38,0))) AS BIGINT) AS value_sum_fp,
       min(event_id) AS min_id,
       max(event_id) AS max_id
FROM events
GROUP BY 1
""",
)
def compacted_snapshot_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SMALL-FILE COMPACTION end-to-end (round-4 verdict task #3b —
    Iceberg's rewrite_data_files): commit events as 3 appends x 8
    partitions = ~24 small files, compact to 2 files sorted by
    event_id (range-partitioned rewrite = tight per-file min/max
    footers, the measured Z-order scan-pruning layout), then aggregate
    a read of the POST-compaction snapshot.  The oracle aggregates raw
    events directly: compaction must be a pure layout change — any
    lost/duplicated/reordered-into-wrongness row breaks bit-exactness.
    Pre-compaction snapshots remain time-travelable (pytest-pinned)."""
    ev = read_split(spark, f"{sf_dir}/events.parquet").select(
        "event_id", "event_type", "value"
    )
    t = _scratch_table("ionex_compact_")
    for third in range(3):
        t.append(ev.filter(f"event_id % 3 = {third}").repartition(8))
    t.rewrite_data_files(spark, target_files=2, sort_by=["event_id"])
    cur = t.read(spark)
    return cur.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr(
            "cast(sum(cast(floor(value * cast(1000000.0 as double))"
            " as decimal(38,0))) as bigint)"
        ).alias("value_sum_fp"),
        F.min("event_id").alias("min_id"),
        F.max("event_id").alias("max_id"),
    )


# ----------------------------------------- histogram quantile sketch

@register(
    "histogram_quantiles_value",
    priority=50,
    oracle="""
WITH b AS (
  SELECT event_type,
         CAST(floor(value / CAST(0.25 AS DOUBLE)) AS BIGINT) AS bin,
         count(*) AS n
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, bin,
         sum(n) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
         sum(n) OVER (PARTITION BY event_type) AS total
  FROM b
)
SELECT event_type,
       min(CASE WHEN cum >= CAST(ceil(CAST(0.5 AS DOUBLE) * CAST(total AS DOUBLE)) AS BIGINT)
                THEN bin * CAST(0.25 AS DOUBLE) END) AS q_0_5,
       min(CASE WHEN cum >= CAST(ceil(CAST(0.9 AS DOUBLE) * CAST(total AS DOUBLE)) AS BIGINT)
                THEN bin * CAST(0.25 AS DOUBLE) END) AS q_0_9,
       min(CASE WHEN cum >= CAST(ceil(CAST(0.99 AS DOUBLE) * CAST(total AS DOUBLE)) AS BIGINT)
                THEN bin * CAST(0.25 AS DOUBLE) END) AS q_0_99,
       CAST(max(total) AS BIGINT) AS total_n
FROM r GROUP BY 1
""",
)
def histogram_quantiles_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE quantile sketch: fixed-bin histogram (bin = floor(v /
    0.25)) built with one map-side-combining shuffle, quantiles read off
    the cumulative bin counts (operators/sketch.histogram_bins /
    histogram_quantiles).  Unlike t-digest/approx_percentile the sketch
    is deterministic, so an APPROXIMATE quantile is bit-exactly
    oracle-able — the KMV trick applied to percentiles.  Error is
    bounded by the bin width; sketch size is #groups x #non-empty-bins
    regardless of row count (the 100 TB property)."""
    from ionex_spark.operators import sketch as sk

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").select(
        "event_type", "value"
    )
    bins = sk.histogram_bins(ev, ["event_type"], "value", 0.25)
    out = sk.histogram_quantiles(bins, ["event_type"], 0.25, [0.5, 0.9, 0.99])
    return out.selectExpr(
        "event_type", "q_0_5", "q_0_9", "q_0_99",
        "cast(total_n as bigint) as total_n",
    )


# ------------------------------------------------ URL canonical dedup

_URL_SYNTH = """
concat(
  CASE WHEN doc_id % 4 = 0 THEN 'https://www.example.com/'
       WHEN doc_id % 4 = 1 THEN 'HTTP://EXAMPLE.COM/'
       WHEN doc_id % 4 = 2 THEN 'https://example.com/'
       ELSE 'http://www.Example.com/' END,
  'p/', CAST(doc_id % 40 AS VARCHAR),
  CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed&ref=9'
       WHEN doc_id % 3 = 1 THEN '/'
       ELSE '#section' END)
"""


@register(
    "url_dedup_canonical",
    priority=50,
    oracle=None,  # set below: needs the canonical kernel text
)
def url_dedup_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-level crawl dedup: canonicalize (lowercase, scheme/www
    strip, query+fragment drop, trailing-slash trim —
    text.canonical_url_sql) then collapse distinct fetches of one
    resource to a single kept doc (min doc_id) — the URL-dedup pass a
    web-scale corpus runs BEFORE content dedup (an order of magnitude
    cheaper than minhash; narrow string ops + one rollup shuffle).
    Synthetic URLs derive from doc_id with scheme/case/www/query/slash
    variants that must all collapse."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").selectExpr(
        "doc_id",
        _URL_SYNTH.replace("AS VARCHAR", "AS STRING") + " as url",
    )
    canon = docs.selectExpr(
        "doc_id", f"{tx.canonical_url_sql('url')} as canonical_url"
    )
    return canon.groupBy("canonical_url").agg(
        F.count(F.lit(1)).alias("n_fetches"),
        F.min("doc_id").alias("kept_doc_id"),
    )


ORACLES["url_dedup_canonical"] = f"""
WITH urls AS (
  SELECT doc_id, {_URL_SYNTH} AS url FROM documents
)
SELECT {tx.canonical_url_sql('url')} AS canonical_url,
       count(*) AS n_fetches,
       min(doc_id) AS kept_doc_id
FROM urls GROUP BY 1
"""


# -------------------------------------- per-tile representative image

@register(
    "tile_representative_image",
    priority=50,
    oracle=f"""
WITH imgs AS (
  SELECT event_id,
         {sqlgen.cell_id_sql(sqlgen.lat_from_id_sql('event_id'),
                             sqlgen.lon_from_id_sql('event_id'), 4)} AS tile,
         (event_id * 2654435761) % 2147483647 AS phash
  FROM events
),
packed AS (
  SELECT tile, count(*) AS n_rows,
         min(phash * CAST(2147483648 AS BIGINT) + event_id) AS mp
  FROM imgs GROUP BY 1
)
SELECT tile, n_rows,
       mp % CAST(2147483648 AS BIGINT) AS rep_id,
       mp // CAST(2147483648 AS BIGINT) AS rep_score
FROM packed
""",
)
def tile_representative_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-map-tile REPRESENTATIVE image selection (the mosaic /
    thumbnail pick of a raster<->vector image pipeline): deterministic
    argmin of (phash, id) per res-4 tile via a packed-bigint min
    aggregate — one map-side-combining shuffle, no window sort
    (operators/tiles.tile_representative).  Synthetic phash derives
    from event_id; ids/scores bounded so the packing is exact."""
    from ionex_spark.operators import tiles

    imgs = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_id",
        f"{sqlgen.cell_id_sql(sqlgen.lat_from_id_sql('event_id'), sqlgen.lon_from_id_sql('event_id'), 4)} as tile",
        "(event_id * 2654435761) % 2147483647 as phash",
    )
    return tiles.tile_representative(
        imgs, "tile", "event_id", "phash", id_space=1 << 31
    )


# ------------------------------------------------ integer PageRank

_PR_ITERS = 5
_PR_INIT = 1_000_000
_PR_DAMP = 850_000
_PR_BASE = ((1_000_000 - _PR_DAMP) * _PR_INIT) // 1_000_000


@register(
    "domain_pagerank",
    priority=50,
    oracle=f"""
WITH RECURSIVE
nd AS (SELECT DISTINCT doc_id % 500 AS node FROM documents),
ed AS (
  SELECT DISTINCT doc_id % 500 AS src, (doc_id * 7919) % 500 AS dst
  FROM documents
  WHERE doc_id % 500 != (doc_id * 7919) % 500
),
outdeg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
pr AS (
  SELECT 0 AS iter, node, CAST({_PR_INIT} AS BIGINT) AS rank FROM nd
  UNION ALL
  SELECT p.iter + 1, p.node,
         CAST({_PR_BASE} + ({_PR_DAMP} * COALESCE(c.contrib, 0))
              // 1000000 AS BIGINT)
  FROM pr p
  LEFT JOIN (
     SELECT e.dst AS node, pp.iter,
            SUM(pp.rank // od.deg) AS contrib
     FROM pr pp
     JOIN outdeg od ON od.src = pp.node
     JOIN ed e ON e.src = pp.node
     GROUP BY 1, 2
  ) c ON c.node = p.node AND c.iter = p.iter
  WHERE p.iter < {_PR_ITERS}
)
SELECT node AS domain, rank FROM pr WHERE iter = {_PR_ITERS}
""",
)
def domain_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTEGER PageRank over a synthetic domain link graph — the
    link-structure quality signal a web-corpus pipeline feeds into
    sampling weights.  All arithmetic is fixed-point int64 (rank units,
    ppm damping, integer out-degree split), so the power iteration is
    exactly deterministic and merge-order-independent — which is what
    lets an ITERATIVE float-family algorithm be bit-exactly oracled by
    a DuckDB recursive CTE (operators/graph.pagerank_int; the Python-
    reference fixture pins the recurrence independently).  Per round:
    one ranks-x-edges join + one dst aggregation, shuffle width sized
    to the edge count."""
    from ionex_spark.operators.graph import pagerank_int

    # plain read, NOT read_split: the node/edge derivation is a trivial
    # per-row projection onto 500 distinct keys — fanning the one-split
    # scan out to 32 partitions only multiplies per-stage task overhead
    # through every power-iteration round (measured 1.1 s -> 2.3 s)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nodes = docs.selectExpr("doc_id % 500 as node").distinct()
    edges = docs.selectExpr(
        "doc_id % 500 as src", "(doc_id * 7919) % 500 as dst"
    )
    out = pagerank_int(
        nodes, edges, n_iter=_PR_ITERS,
        init_rank=_PR_INIT, damping_ppm=_PR_DAMP,
    )
    return out.selectExpr("node as domain", "rank")


# ------------------------------------------- shingle containment pairs

_DUCK_CONTAINMENT = f"""
WITH sh AS ({dd.shingles_duckdb_sql(3, distinct=True)}),
cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT id_a, id_b, n_shared, ca.n_sh AS n_a, cb.n_sh AS n_b,
         CAST(n_shared AS DOUBLE) / CAST(ca.n_sh AS DOUBLE)
           AS containment_ab,
         CAST(n_shared AS DOUBLE) / CAST(cb.n_sh AS DOUBLE)
           AS containment_ba
  FROM inter
  JOIN cnt ca ON ca.doc_id = id_a
  JOIN cnt cb ON cb.doc_id = id_b
)
SELECT * FROM scored
WHERE containment_ab >= CAST(0.6 AS DOUBLE)
   OR containment_ba >= CAST(0.6 AS DOUBLE)
"""


@register("dedup_containment_pairs", oracle=_DUCK_CONTAINMENT, priority=100)  # r7: plan restructured (see NEW_THIS_ROUND)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ASYMMETRIC near-dup detection via shingle CONTAINMENT (Broder):
    c(A->B) = |S(A) & S(B)| / |S(A)| — the sub-document-duplication
    measure jaccard misses when sizes differ (a doc quoted whole inside
    a 10x larger one: jaccard ~0.1, containment ~1.0).  Candidates come
    from the shingle inverted-index join (never all-pairs;
    operators/dedup.containment_pairs); pairs where either direction
    reaches 0.6 survive."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return dd.containment_pairs(docs, n=3, min_containment=0.6)


# ------------------------------- tokens -> training shards (round 6)

from ionex_spark.operators import shards as _sh  # noqa: E402

_MIX_WEIGHTS = {"en": 500_000, "zh": 200_000, "de": 150_000,
                "fr": 100_000, "es": 50_000}
_MIX_W_VALUES = ", ".join(
    f"('{d}', CAST({w} AS BIGINT))" for d, w in _MIX_WEIGHTS.items()
)


@register(
    "corpus_mixture_sample",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle=f"""
WITH counts AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents GROUP BY 1
),
w(lang, ppm) AS (VALUES {_MIX_W_VALUES}),
cm AS (
  SELECT min(n * CAST(1000000 AS BIGINT) // ppm) AS c
  FROM counts JOIN w USING (lang)
),
thr AS (
  SELECT counts.lang,
         (CAST(10000 AS BIGINT) * cm.c * w.ppm)
           // (CAST(1000000 AS BIGINT) * counts.n) AS t
  FROM counts JOIN w USING (lang) CROSS JOIN cm
)
SELECT d.doc_id, d.lang, d.source, d.n_chars
FROM documents d JOIN thr ON thr.lang = d.lang
WHERE {tx.sample_hash_sql('d.doc_id', 'duckdb', salt='mix')} < thr.t
""",
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted MIXTURE sampling (round-5 verdict task
    #3a): the caller fixes the training-mix COMPOSITION (ppm weights per
    language); per-domain keep thresholds derive from observed counts by
    exact integer arithmetic (operators/shards.mixture_thresholds), and
    rows pass a portable md5 hash gate — the oracle re-derives the same
    integer thresholds in SQL from the same table, so the sampled set
    matches bit-for-bit while being sf-independent."""
    from ionex_spark.operators import shards as sh

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    out = sh.corpus_mixture_sample(docs, "lang", _MIX_WEIGHTS)
    return out.select("doc_id", "lang", "source", "n_chars")


_SHARD_TARGET = 64


@register(
    "shard_manifest_rollup",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, text, n_chars,
         row_number() OVER (
           ORDER BY {_sh.order_hash_sql('doc_id', 'duckdb')}, doc_id
         ) - 1 AS grank
  FROM documents
),
a AS (
  SELECT doc_id, text, n_chars,
         grank // {_SHARD_TARGET} AS shard_id,
         grank % {_SHARD_TARGET} AS shard_pos
  FROM ranked
)
SELECT shard_id,
       count(*) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS n_bytes,
       CAST(sum({_sh.row_content_hash_sql('doc_id', 'text', 'duckdb')}) AS BIGINT) AS content_hash,
       min(shard_pos) AS min_pos,
       max(shard_pos) AS max_pos
FROM a GROUP BY 1
""",
)
def shard_manifest_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-size training-shard manifests (round-5 verdict task #3b):
    deterministic shard assignment (hash-bucketed two-phase global rank
    — NO global sort; operators/shards.shard_assign) rolled up into the
    per-shard manifest the shard writer commits: rows, bytes, and an
    order-independent DECIMAL(38,0) content checksum.  The oracle
    realizes the SAME global order with a single-sort window — a
    genuinely different plan shape that must produce bit-identical
    manifests."""
    from ionex_spark.operators import shards as sh

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assigned = sh.shard_assign(docs, _SHARD_TARGET)
    return sh.shard_manifest(assigned, bytes_col="n_chars")


_CONTAIN_CAP = 4

_DUCK_CONTAINMENT_CAPPED = f"""
WITH sh AS ({dd.shingles_duckdb_sql(3, distinct=True)}),
cnt AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY 1),
dfreq AS (SELECT token, count(*) AS df FROM sh GROUP BY 1),
capped AS (
  SELECT sh.doc_id, sh.token
  FROM sh JOIN dfreq USING (token)
  WHERE dfreq.df <= {_CONTAIN_CAP}
),
inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
  FROM capped a JOIN capped b ON a.token = b.token AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
scored AS (
  SELECT id_a, id_b, n_shared, ca.n_sh AS n_a, cb.n_sh AS n_b,
         CAST(n_shared AS DOUBLE) / CAST(ca.n_sh AS DOUBLE)
           AS containment_ab,
         CAST(n_shared AS DOUBLE) / CAST(cb.n_sh AS DOUBLE)
           AS containment_ba
  FROM inter
  JOIN cnt ca ON ca.doc_id = id_a
  JOIN cnt cb ON cb.doc_id = id_b
)
SELECT * FROM scored
WHERE containment_ab >= CAST(0.6 AS DOUBLE)
   OR containment_ba >= CAST(0.6 AS DOUBLE)
"""


@register(
    "dedup_containment_capped",
    oracle=_DUCK_CONTAINMENT_CAPPED,
    priority=100,  # r7: plan restructured (see NEW_THIS_ROUND)
)
def dedup_containment_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-CAPPED containment twin (round-5 verdict task #4): hot
    shingles above document frequency _CONTAIN_CAP (= 4) are dropped
    from the inverted index BEFORE the self-join, bounding the join at
    sum(df_i^2) <= cap * |index| — the configuration a 100 TB caller
    must run (one boilerplate trigram in 1M docs alone is ~5e11
    candidate rows uncapped).  Denominators still count ALL shingles,
    so capping only LOWERS containment — never a false positive.  The
    oracle applies the same df-filter CTE; the sf0.01 table has 151
    shingles above df=4, so the cap genuinely changes the index here,
    not just in theory."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return dd.containment_pairs(
        docs, n=3, min_containment=0.6, max_doc_freq=_CONTAIN_CAP
    )


# ------------------------------------------ ViT patch extraction gate

_PATCH_N_IMGS = 200
_PATCH_P = 8


def _patch_base_values() -> str:
    """Inline (i, c, base, w, h) generator constants for the even
    (ppm/lossless) images — fixture-style VALUES, like the PIP polygon
    edges.  The oracle still recomputes every pixel (trig + round +
    clip) and the whole patch geometry independently; only the
    splitmix64 seed stream (not portable to SQL) is inlined."""
    import numpy as np

    from ionex_spark.core import synth

    rows = []
    for i in range(0, _PATCH_N_IMGS, 2):
        w, h = synth.SIZES[i % 3], synth.SIZES[(i // 3) % 3]
        base = synth.splitmix64(np.arange(3) + i * 13) % 200
        for c in range(3):
            rows.append(f"({i},{c},{int(base[c])},{w},{h})")
    return ", ".join(rows)


@register(
    "patch_extract_stats",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle=f"""
WITH b(i, c, base, w, h) AS (VALUES {_patch_base_values()}),
px AS (
  SELECT b.i, y.range AS y, x.range AS x, b.w, b.h,
         least(greatest(round(CAST(b.base AS DOUBLE)
           + 40.0 * sin(2*pi()*(CAST(x.range AS DOUBLE)/b.w
                                + b.c/3.0 + (b.i % 7)/7.0))
           + 40.0 * cos(2*pi()*(CAST(y.range AS DOUBLE)/b.h
                                + (b.i % 5)/5.0))), 0.0), 255.0) AS v
  FROM b JOIN range(64) y ON y.range < b.h
         JOIN range(64) x ON x.range < b.w
)
SELECT printf('img%012d', i) AS image_id,
       y // {_PATCH_P} AS patch_row,
       x // {_PATCH_P} AS patch_col,
       CAST(min(h) // {_PATCH_P} AS BIGINT) AS n_rows,
       CAST(min(w) // {_PATCH_P} AS BIGINT) AS n_cols,
       CAST(sum(v) AS BIGINT) AS patch_sum
FROM px
WHERE y < (h // {_PATCH_P}) * {_PATCH_P}
  AND x < (w // {_PATCH_P}) * {_PATCH_P}
GROUP BY 1, 2, 3
""",
)
def patch_extract_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ViT patch extraction END-TO-END through the real codec path
    (round-5 verdict task #5a): generate lossless ppm payloads, DECODE
    them, patchify (multimodal.patchify — one numpy reshape/transpose
    per image, no per-patch loop), and sum each flattened patch.  The
    oracle re-derives every patch sum arithmetically from the pixel
    generator formula (DuckDB trig verified bit-equal to numpy on these
    inputs: 2160/2160 patches) — a broken encode, decode, crop, or
    patch transpose all surface as driver hash mismatches."""
    from ionex_spark.operators import multimodal as mm
    from ionex_spark.sources.images import images_df

    imgs = images_df(spark, _PATCH_N_IMGS).filter("fmt = 'ppm'")
    patches = mm.patchify(imgs, patch=_PATCH_P)
    return patches.selectExpr(
        "image_id",
        "cast(patch_row as bigint) as patch_row",
        "cast(patch_col as bigint) as patch_col",
        "cast(n_rows as bigint) as n_rows",
        "cast(n_cols as bigint) as n_cols",
        "cast(aggregate(patch, cast(0.0 as double),"
        " (a, x) -> a + cast(x as double)) as bigint) as patch_sum",
    )


@register(
    "streaming_histogram_batch",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle="""
SELECT event_type,
       CAST(floor(epoch_ms(ts) / 3600000.0) AS BIGINT) AS wslot,
       CAST(floor(value / CAST(0.25 AS DOUBLE)) AS BIGINT) AS bin,
       count(*) AS n
FROM events
GROUP BY 1, 2, 3
""",
)
def streaming_histogram_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BATCH TWIN of streaming_histogram_bins (round-5 verdict task
    #5b): the streaming operator's per-(group, bin) state IS the
    mergeable batch sketch (streaming/stream.py delegates to
    sketch.histogram_bins unchanged), so this windowed batch build is
    exactly what a watermarked run converges to —
    tests/test_streaming_histogram.py pins stream == batch; this row
    gives the shared sketch arithmetic (tumbling hour slot x fixed bin)
    a driver-oracled gate."""
    from ionex_spark.operators import sketch as sk

    ev = spark.read.parquet(f"{sf_dir}/events.parquet").selectExpr(
        "event_type",
        "cast(floor(unix_timestamp(ts) / 3600) as bigint) as wslot",
        "value",
    )
    return sk.histogram_bins(ev, ["event_type", "wslot"], "value", 0.25)


@register(
    "domain_pagerank_dangling",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle=f"""
WITH RECURSIVE
nd AS (SELECT DISTINCT doc_id % 500 AS node FROM documents),
cnt AS (SELECT count(*) AS n FROM nd),
ed AS (
  SELECT DISTINCT doc_id % 500 AS src, (doc_id * 7919) % 500 AS dst
  FROM documents
  WHERE doc_id % 500 != (doc_id * 7919) % 500
),
outdeg AS (SELECT src, count(*) AS deg FROM ed GROUP BY 1),
pr AS (
  SELECT 0 AS iter, node, CAST({_PR_INIT} AS BIGINT) AS rank FROM nd
  UNION ALL
  SELECT p.iter + 1, p.node,
         CAST({_PR_BASE} + ({_PR_DAMP}
              * (COALESCE(c.contrib, 0)
                 + COALESCE(dm.dmass, 0) // (SELECT n FROM cnt)))
              // 1000000 AS BIGINT)
  FROM pr p
  LEFT JOIN (
     SELECT e.dst AS node, pp.iter,
            SUM(pp.rank // od.deg) AS contrib
     FROM pr pp
     JOIN outdeg od ON od.src = pp.node
     JOIN ed e ON e.src = pp.node
     GROUP BY 1, 2
  ) c ON c.node = p.node AND c.iter = p.iter
  LEFT JOIN (
     SELECT pd.iter, SUM(pd.rank) AS dmass
     FROM pr pd
     LEFT JOIN outdeg odd ON odd.src = pd.node
     WHERE odd.src IS NULL
     GROUP BY 1
  ) dm ON dm.iter = p.iter
  WHERE p.iter < {_PR_ITERS}
)
SELECT node AS domain, rank FROM pr WHERE iter = {_PR_ITERS}
""",
)
def domain_pagerank_dangling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TEXTBOOK PageRank variant (round-5 verdict task #7): dangling
    mass is collected each round (one scalar aggregate) and re-added as
    ``dmass div n_nodes`` to every node's contribution before damping —
    still all fixed-point int64, so rank VALUES (not just order) are
    comparable to float references and the DuckDB recursive CTE extends
    with a third self-reference computing the same per-iteration
    dangling sum.  Total mass is conserved up to the integer-division
    dust (< n_nodes units/round; pinned in the Python-reference
    fixture)."""
    from ionex_spark.operators.graph import pagerank_int

    # plain read, NOT read_split: the node/edge derivation is a trivial
    # per-row projection onto 500 distinct keys — fanning the one-split
    # scan out to 32 partitions only multiplies per-stage task overhead
    # through every power-iteration round (measured 1.1 s -> 2.3 s)
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    nodes = docs.selectExpr("doc_id % 500 as node").distinct()
    edges = docs.selectExpr(
        "doc_id % 500 as src", "(doc_id * 7919) % 500 as dst"
    )
    out = pagerank_int(
        nodes, edges, n_iter=_PR_ITERS,
        init_rank=_PR_INIT, damping_ppm=_PR_DAMP,
        redistribute_dangling=True,
    )
    return out.selectExpr("node as domain", "rank")


_SHARD_BYTES_TARGET = 4096


@register(
    "shard_bytes_manifest",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle=f"""
WITH ranked AS (
  SELECT doc_id, text, n_chars,
         sum(n_chars) OVER (
           ORDER BY {_sh.order_hash_sql('doc_id', 'duckdb')}, doc_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
         ) - n_chars AS cum_excl
  FROM documents
),
a AS (
  SELECT doc_id, text, n_chars,
         CAST(cum_excl // {_SHARD_BYTES_TARGET} AS BIGINT) AS shard_id
  FROM ranked
)
SELECT shard_id,
       count(*) AS n_rows,
       CAST(sum(n_chars) AS BIGINT) AS n_bytes,
       CAST(sum({_sh.row_content_hash_sql('doc_id', 'text', 'duckdb')}) AS BIGINT) AS content_hash
FROM a GROUP BY 1
""",
)
def shard_bytes_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BYTE-budget training shards (the 'target rows OR bytes' second
    half of round-5 verdict task #3b): greedy sequential fill of
    ~_SHARD_BYTES_TARGET (= 4096) bytes per shard in the deterministic
    (order-hash, id) order, docs never split, realized WITHOUT a global
    sort (per-bucket byte subtotals -> exact global running sum).  The
    oracle replays the same greedy fill with one global window —
    different plan shape, bit-identical manifests."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assigned = _sh.shard_assign_bytes(docs, _SHARD_BYTES_TARGET)
    return _sh.shard_manifest(assigned, bytes_col="n_chars").select(
        "shard_id", "n_rows", "n_bytes", "content_hash"
    )


_REP_M = 1 << 41  # dedup.REP_PACK_BITS


@register(
    "dedup_group_representatives",
    priority=100,  # r7: plan restructured (see NEW_THIS_ROUND)
    oracle=f"""
WITH RECURSIVE pairs AS ({_DUCK_PAIRS_SQL}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
r(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node
),
members AS (SELECT src AS doc_id, min(node) AS group_id FROM r GROUP BY src),
scored AS (
  SELECT doc_id,
         CAST(floor({tx.quality_score_sql('text')}
              * CAST(1000000.0 AS DOUBLE)) AS BIGINT) AS score_fp
  FROM documents
),
packed AS (
  SELECT m.group_id,
         s.score_fp * CAST({_REP_M} AS BIGINT)
           + (CAST({_REP_M} AS BIGINT) - 1 - m.doc_id) AS p
  FROM members m JOIN scored s ON s.doc_id = m.doc_id
)
SELECT group_id,
       count(*) AS n_members,
       CAST({_REP_M} AS BIGINT) - 1 - (max(p) % CAST({_REP_M} AS BIGINT))
         AS rep_id,
       max(p) // CAST({_REP_M} AS BIGINT) AS rep_score_fp
FROM packed GROUP BY 1
""",
)
def dedup_group_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QUALITY-AWARE dedup keeper selection — the step after connected
    components a real pipeline runs: per near-dup group keep the
    highest-quality member (fixed-point quality, ties to the smallest
    id) instead of the arbitrary min-id.  The argmax is the packed-
    bigint trick (one map-side-combining shuffle, no window sort —
    dedup.group_representatives); the oracle recomputes the transitive
    closure AND the packed argmax in SQL.

    Components come from the scale-adaptive connected_components_star
    (local union-find in one task under the edge threshold, O(log n)
    star contraction above) — the same groups dedup_groups gates."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    pairs = dedup_minhash_pairs(spark, sf_dir)
    members = dd.connected_components_star(docs.select("doc_id"), pairs)
    scored = docs.selectExpr(
        "doc_id",
        f"cast(floor({tx.quality_score_sql('text')}"
        " * cast(1000000.0 as double)) as bigint) as score_fp",
    )
    return dd.group_representatives(members, scored)


# ------------------------------------ incremental (cross-epoch) dedup

def _duck_incremental_bloom(m_bits: int = 4096, k: int = 5) -> str:
    """Oracle: rebuild the corpus-hash bloom bitmap AND the per-probe
    k-bit membership test in DuckDB, plus the exact semi-join truth."""
    from ionex_spark.operators.sketch import BLOOM_SEED

    pos = ", ".join(
        f"({dd.token_hash_duckdb_sql('chash', BLOOM_SEED + j)} % {m_bits})"
        for j in range(k)
    )
    return f"""
WITH corpus AS (SELECT DISTINCT md5(text) AS chash FROM documents),
inc AS (
  SELECT doc_id + 100000 AS doc_id, text FROM documents WHERE doc_id % 5 = 0
  UNION ALL
  SELECT doc_id + 200000, concat(text, ' zzz') FROM documents
  WHERE doc_id % 7 = 1
),
words AS (
  SELECT CAST(floor(bitpos / 64) AS BIGINT) AS word_idx,
         bit_or(CASE WHEN bitpos % 64 = 63 THEN -9223372036854775808
                     ELSE CAST(1 AS BIGINT) << CAST(bitpos % 64 AS INT)
                END) AS word
  FROM (SELECT unnest([{pos}]) AS bitpos FROM corpus) GROUP BY 1
),
probes AS (SELECT doc_id, md5(text) AS chash FROM inc),
pbits AS (
  SELECT doc_id, chash, unnest([{pos}]) AS bitpos FROM probes
),
tested AS (
  SELECT p.doc_id, p.chash,
         CASE WHEN w.word IS NOT NULL AND
              (w.word & (CASE WHEN p.bitpos % 64 = 63
                              THEN -9223372036854775808
                              ELSE CAST(1 AS BIGINT)
                                   << CAST(p.bitpos % 64 AS INT) END))
              != 0
              THEN 1 ELSE 0 END AS hit
  FROM pbits p
  LEFT JOIN words w ON w.word_idx = CAST(floor(p.bitpos / 64) AS BIGINT)
),
member AS (
  SELECT doc_id, chash,
         CAST(sum(hit) = {k} AS INT) AS bloom_candidate
  FROM tested GROUP BY 1, 2
)
SELECT m.doc_id,
       m.bloom_candidate,
       CASE WHEN c.chash IS NOT NULL THEN 1 ELSE 0 END AS is_dup
FROM member m LEFT JOIN corpus c ON c.chash = m.chash
"""


@register(
    "incremental_dedup_bloom",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle=_duck_incremental_bloom(),
)
def incremental_dedup_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-EPOCH exact dedup: a new-crawl increment (re-keyed copies
    of every 5th corpus doc = planted true dups, plus mutated copies of
    every 7th = planted new docs) probes a Bloom filter built over the
    existing corpus's content hashes; only bloom positives pay the
    exact verify join (dedup.incremental_dedup).  The oracle rebuilds
    the SAME m=4096/k=5 bitmap and the per-probe k-bit test in DuckDB
    — bloom_candidate (including any false positives, which are part
    of the deterministic md5 construction) AND the exact is_dup truth
    must both match bit-for-bit."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    inc = docs.filter("doc_id % 5 = 0").selectExpr(
        "doc_id + 100000 as doc_id", "text"
    ).unionByName(
        docs.filter("doc_id % 7 = 1").selectExpr(
            "doc_id + 200000 as doc_id", "concat(text, ' zzz') as text"
        )
    )
    return dd.incremental_dedup(inc, docs)


# ------------------------------- curriculum (quality-binned) mixture

_CURR_WEIGHTS = {
    "en/hi": 400_000, "en/lo": 100_000,
    "zh/hi": 200_000, "zh/lo": 50_000,
    "de/hi": 150_000, "de/lo": 50_000,
    "fr/hi": 50_000,
}
_CURR_STRATUM = (
    "lang || '/' || (CASE WHEN {q} >= CAST(0.5 AS DOUBLE)"
    " THEN 'hi' ELSE 'lo' END)"
)
_CURR_W_VALUES = ", ".join(
    f"('{d}', CAST({w} AS BIGINT))" for d, w in _CURR_WEIGHTS.items()
)


@register(
    "mixture_quality_curriculum",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle=f"""
WITH strat AS (
  SELECT doc_id, lang, n_chars,
         {_CURR_STRATUM.format(q=tx.quality_score_sql('text'))} AS stratum
  FROM documents
),
counts AS (
  SELECT stratum, CAST(count(*) AS BIGINT) AS n FROM strat GROUP BY 1
),
w(stratum, ppm) AS (VALUES {_CURR_W_VALUES}),
cm AS (
  SELECT min(n * CAST(1000000 AS BIGINT) // ppm) AS c
  FROM counts JOIN w USING (stratum)
),
thr AS (
  SELECT counts.stratum,
         (CAST(10000 AS BIGINT) * cm.c * w.ppm)
           // (CAST(1000000 AS BIGINT) * counts.n) AS t
  FROM counts JOIN w USING (stratum) CROSS JOIN cm
)
SELECT d.doc_id, d.stratum, d.lang, d.n_chars
FROM strat d JOIN thr ON thr.stratum = d.stratum
WHERE {tx.sample_hash_sql('d.doc_id', 'duckdb', salt='mix')} < thr.t
""",
)
def mixture_quality_curriculum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TWO-LEVEL curriculum mixture — the composition a pretraining mix
    actually specifies: target shares over (language x quality bin),
    up-weighting high-quality strata (en/hi 40%, zh/hi 20%, ...).  The
    stratum is a DERIVED column (quality heuristic binned at 0.5), so
    this exercises corpus_mixture_sample over computed strata; the
    oracle re-derives stratum, counts, integer thresholds, and hash
    gate in SQL end-to-end."""
    from ionex_spark.operators import shards as sh_ops

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    strat = docs.withColumn(
        "stratum",
        F.expr(_CURR_STRATUM.format(q=tx.quality_score_sql("text"))),
    )
    out = sh_ops.corpus_mixture_sample(strat, "stratum", _CURR_WEIGHTS)
    return out.select("doc_id", "stratum", "lang", "n_chars")


@register(
    "patch_pack_sequences",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle=f"""
WITH imgs AS (
  SELECT printf('img%012d', g.range) AS image_id,
         CAST(((CASE (g.range // 3) % 3 WHEN 0 THEN 16 WHEN 1 THEN 32
                ELSE 64 END) // 8)
            * ((CASE g.range % 3 WHEN 0 THEN 16 WHEN 1 THEN 32
                ELSE 64 END) // 8) AS BIGINT) AS n_patches
  FROM range(200) g WHERE g.range % 2 = 0
),
t AS (
  SELECT image_id,
         ({tx.sample_hash_sql('image_id', 'duckdb')}) % 4 AS shard,
         n_patches AS n_tokens
  FROM imgs
),
c AS (
  SELECT image_id, shard, n_tokens,
         CAST(coalesce(sum(n_tokens) OVER (PARTITION BY shard
             ORDER BY image_id ROWS BETWEEN UNBOUNDED PRECEDING
             AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
  FROM t
)
SELECT image_id, shard, cum_before // 256 AS seq_id,
       cum_before % 256 AS seq_offset_tokens, n_tokens
FROM c
""",
)
def patch_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VISION-TRAINING sequence packing: decode the lossless images,
    patchify (multimodal.patchify, 8x8), count patch tokens per image
    THROUGH THE REAL CODEC PATH, and pack them into 256-patch training
    sequences (text.pack_sequences — same concat-and-chop semantics as
    the LLM pipeline).  The oracle never decodes: it predicts the patch
    count arithmetically from the generator's (w, h) id formula and
    replays the pack window — so a decode/patchify drift changes
    n_tokens and breaks the hash."""
    from ionex_spark.operators import multimodal as mm
    from ionex_spark.sources.images import images_df

    imgs = images_df(spark, 200).filter("fmt = 'ppm'")
    per_img = (
        mm.patchify(imgs, patch=8)
        .groupBy("image_id")
        .agg(F.count(F.lit(1)).alias("n_patches"))
    )
    out = tx.pack_sequences(
        per_img,
        budget_tokens=256,
        n_shards=4,
        id_col="image_id",
        tokens_col="n_patches",
        shard_expr=f"({tx.sample_hash_sql('image_id', 'spark')}) % 4",
    )
    return out


# ----------------------------- per-group deterministic sampling


@register(
    "group_sample_topk",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle=f"""
SELECT doc_id, lang, sample_rank FROM (
  SELECT doc_id, lang,
         row_number() OVER (
           PARTITION BY lang
           ORDER BY {tx.sample_hash_sql('doc_id', 'duckdb', salt='topk')}, doc_id
         ) AS sample_rank
  FROM documents
) WHERE sample_rank <= 5
""",
)
def group_sample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic K-per-group sampling (eval-set construction /
    few-shot pools / inspection samples): rank by the portable md5
    sampling hash inside each language, keep the first 5 — stable
    under reruns, engine swaps, and growth of OTHER groups (the rank
    depends only on the group's own members)."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang"
    )
    out = tx.sample_topk_per_group(docs, "lang", k=5)
    return out.selectExpr(
        "doc_id", "lang", "cast(sample_rank as bigint) as sample_rank"
    )


# ----------------------------- cross-document boilerplate mass

_BP_N = 5
_BP_MIN_DOCS = 4


@register(
    "boilerplate_ngram_stats",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle=f"""
WITH sh AS ({dd.shingles_duckdb_sql(_BP_N, distinct=True)}),
dfreq AS (SELECT token, count(*) AS df FROM sh GROUP BY 1)
SELECT sh.doc_id,
       count(*) AS n_ngrams,
       CAST(sum(CASE WHEN dfreq.df >= {_BP_MIN_DOCS} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_boilerplate,
       CAST(sum(CASE WHEN dfreq.df >= {_BP_MIN_DOCS} THEN 1 ELSE 0 END)
            AS DOUBLE) / CAST(count(*) AS DOUBLE) AS boilerplate_frac
FROM sh JOIN dfreq USING (token)
GROUP BY 1
""",
)
def boilerplate_ngram_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-document boilerplate fraction (C4/Gopher-style template
    removal): per doc, the share of its distinct 5-grams that occur in
    >= 4 documents — catches site templates / license headers shared
    corpus-wide, which within-doc repetition (repetition_ngrams) and
    pairwise containment both miss.  Two map-side-combining shuffles
    keyed on the shingle; never pairwise."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    return tx.boilerplate_ngram_stats(
        docs, n=_BP_N, min_docs=_BP_MIN_DOCS
    )


@register(
    "embedding_label_centroids",
    priority=50,  # demoted: green driver-r6 row landed (rotation discipline)
    oracle="""
WITH pairs AS (
  SELECT label,
         unnest(list_zip(embedding, range(1, len(embedding) + 1))) AS p
  FROM embeddings WHERE len(embedding) > 0
),
t AS (
  SELECT label, CAST(p[2] AS BIGINT) - 1 AS dim,
         CAST(floor(CAST(p[1] AS DOUBLE) * 1000000.0) AS BIGINT) AS v_fp
  FROM pairs
)
SELECT label, dim, count(*) AS n,
       CAST(sum(v_fp) AS BIGINT) AS sum_fp,
       CAST(CAST(sum(v_fp) AS BIGINT) // count(*) AS BIGINT) AS mean_fp
FROM t GROUP BY 1, 2
""",
)
def embedding_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids in exact fixed point
    (similarity.embedding_group_stats) — the per-domain drift monitor
    for embedding-space distribution shifts between crawls; integer
    sums make an iterative-float-family aggregate bit-oracle-able."""
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    return sim.embedding_group_stats(emb, group_col="label")


@register(
    "contamination_safe_split",
    priority=100,  # r7: plan restructured (see NEW_THIS_ROUND)
    oracle=f"""
WITH RECURSIVE pairs AS ({_DUCK_PAIRS_SQL}),
edges AS (
  SELECT id_a AS a, id_b AS b FROM pairs
  UNION ALL SELECT id_b, id_a FROM pairs
),
r(src, node) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM r JOIN edges e ON e.a = r.node
),
members AS (SELECT src AS doc_id, min(node) AS group_id FROM r GROUP BY src)
SELECT doc_id, group_id,
       CASE WHEN {tx.sample_hash_sql('group_id', 'duckdb', salt='split')} < 1000
            THEN 'test'
            WHEN {tx.sample_hash_sql('group_id', 'duckdb', salt='split')} < 2000
            THEN 'val'
            ELSE 'train' END AS split
FROM members
""",
)
def contamination_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-level train/val/test split (10/10/80): near-dup groups from
    connected components are assigned whole, so no training doc is a
    near-duplicate of an eval doc — the contamination a doc-level
    random split commits whenever dup pairs exist
    (dedup.contamination_safe_split; property test proves zero minhash
    pairs cross splits).  Components as in dedup_group_representatives."""
    docs = read_split(spark, f"{sf_dir}/documents.parquet")
    pairs = dedup_minhash_pairs(spark, sf_dir)
    members = dd.connected_components_star(docs.select("doc_id"), pairs)
    return dd.contamination_safe_split(members)
