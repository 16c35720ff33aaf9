"""Deduplication operators for training-data pipelines.

Scale design (the point of each algorithm at 100 TB):

- exact:   groupBy(content hash) — one shuffle on a 128-bit key, combiner
           does map-side partial aggregation; skew-free (hash keys).
- minhash: shingle -> k independent min-hashes -> band buckets -> candidate
           pairs only within buckets (the LSH trick avoids the O(n^2)
           pairwise explosion); band bucket join shuffles on (band_id,
           band_hash) which is uniformly distributed by construction.
- simhash: 64-bit weighted-projection sign hash; near-dups = small hamming
           distance; Manku block-combination keys for candidate generation.
- ngram jaccard: verification kernel for candidate pairs.

Two hash backends: ``xxhash64`` (Spark built-in, JVM-fast — the production
path) and ``md5`` (bit-identical in every engine — the oracle path).  The
algorithms are identical; only the token->int64 map changes.
"""

from __future__ import annotations

import itertools

from pyspark.sql import Column, DataFrame, functions as F


def token_hash_sql(token_expr: str, seed: int, backend: str = "md5") -> str:
    """Deterministic int64 hash of a token under a seed."""
    if backend == "xxhash64":
        return f"xxhash64({token_expr}, {seed})"
    # portable: first 15 hex chars of md5 -> 60-bit non-negative int
    return (
        f"cast(conv(substr(md5(concat('{seed}:', {token_expr})), 1, 15),"
        f" 16, 10) as bigint)"
    )


def token_hash_duckdb_sql(token_expr: str, seed: int) -> str:
    """DuckDB spelling of the md5 backend (same VALUE, different syntax —
    DuckDB lacks conv(); hex literal cast is exact)."""
    return (
        f"CAST(concat('0x', substr(md5(concat('{seed}:', {token_expr})),"
        f" 1, 15)) AS BIGINT)"
    )


# NOTE deliberately ABSENT: Kirsch-Mitzenmacher double hashing
# (mh_j = min(h1 + j*h2)).  It was tried and reverted: without a modulus
# the j-th ordering is dominated by h2 for j >= 2, so the "independent"
# LSH bands mostly re-hash the same argmin-h2 shingle — simulated near-dup
# recall at jaccard 0.8 drops 0.983 -> 0.869 while low-similarity
# candidates inflate 0.29 -> 0.37.  KM 2006 covers Bloom-filter probe
# collisions, not min-order statistics; minhash needs genuinely
# independent orderings, so each signature slot pays its own token hash.


def tokens_exploded(df: DataFrame, id_col: str = "doc_id",
                    text_col: str = "text") -> DataFrame:
    """(id, token) rows: lowercase, split on whitespace (space/tab/LF/CR
    via text.ws_norm_sql), drop empties."""
    from ionex_spark.operators.text import ws_norm_sql

    return (
        df.select(
            id_col,
            F.expr(
                f"explode(split(lower({ws_norm_sql(text_col)}), ' '))"
            ).alias("token"),
        )
        .filter(F.length("token") > 0)
    )


def _explode_shingles(df: DataFrame, id_col: str, text_col: str, n: int,
                      distinct: bool) -> DataFrame:
    """(id, token) rows, token = word n-gram shingle of the lowercased,
    whitespace-class split text; docs shorter than n words fall back to
    their full text as a single shingle.  ``distinct`` dedups the
    shingles IN-ROW (array_distinct before the explode)."""
    from ionex_spark.operators.text import ws_norm_sql

    joins = ", ' ', ".join(f"toks[i + {k}]" for k in range(n))
    expr = (
        f"case when size(toks) >= {n} then"
        f" transform(sequence(0, size(toks) - {n}), i -> concat({joins}))"
        " else array(concat_ws(' ', toks)) end"
    )
    if distinct:
        expr = f"array_distinct({expr})"
    return (
        df.selectExpr(
            id_col,
            f"filter(split(lower({ws_norm_sql(text_col)}), ' '),"
            " x -> length(x) > 0) as toks",
        )
        .selectExpr(id_col, f"explode({expr}) as token")
    )


def shingles_exploded(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, token) rows where token = word n-gram shingle.

    Shingles (not unigrams) are what make minhash discriminative: random
    documents share stopwords but almost no 3-grams, so LSH candidate
    counts stay near-linear instead of quadratic."""
    return _explode_shingles(df, id_col, text_col, n, distinct=False)


def tokens_exploded_distinct(df: DataFrame, id_col: str = "doc_id",
                             text_col: str = "text") -> DataFrame:
    """(id, token) rows with per-doc DISTINCT tokens — the dedup done
    IN-ROW (array_distinct before the explode) instead of a
    dropDuplicates exchange: one less full-width (id, token) shuffle for
    the same row set (guide §2.4; set-equality pinned in the round-7
    profile and by the unchanged oracles)."""
    from ionex_spark.operators.text import ws_norm_sql

    return df.selectExpr(
        id_col,
        "explode(array_distinct(filter(split(lower("
        f"{ws_norm_sql(text_col)}), ' '), x -> length(x) > 0))) as token",
    )


def shingles_exploded_distinct(df: DataFrame, id_col: str = "doc_id",
                               text_col: str = "text", n: int = 3) -> DataFrame:
    """(id, token) rows with per-doc DISTINCT word n-gram shingles —
    shingles_exploded's dropDuplicates folded into the row
    (array_distinct before explode), saving the (id, token)-wide
    exchange (guide §2.4)."""
    return _explode_shingles(df, id_col, text_col, n, distinct=True)


def shingles_duckdb_sql(n: int = 3, distinct: bool = True) -> str:
    """DuckDB twin of shingles_exploded over `documents` (1-based lists).
    ``distinct=False`` keeps every occurrence (repetition statistics need
    multiplicity; minhash/jaccard want the distinct set)."""
    joins = " || ' ' || ".join(f"toks[i + {k}]" for k in range(n))
    from ionex_spark.operators.text import ws_norm_sql

    d = "DISTINCT " if distinct else ""
    return f"""
  SELECT {d}doc_id, token FROM (
    SELECT doc_id, unnest(
      CASE WHEN len(toks) >= {n}
           THEN list_transform(range(1, len(toks) - {n - 2}), i -> {joins})
           ELSE [array_to_string(toks, ' ')] END) AS token
    FROM (
      SELECT doc_id,
             list_filter(string_split(lower({ws_norm_sql('text')}), ' '),
                         x -> length(x) > 0) AS toks
      FROM documents
    )
  )
"""


def exact_dedup(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Exact dedup: keep the min-id representative per content hash.
    Output: (content_hash, n_dups, keep_id)."""
    return (
        df.select(id_col, F.md5(F.col(text_col)).alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    n_hashes: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    backend: str = "md5",
) -> DataFrame:
    """(id, mh_0..mh_{n-1}) minhash signature over word-trigram shingles.

    One explode + one groupBy: all n min-aggregations share the single
    shuffle on id (map-side combine keeps it small).  The n hash
    functions are INDEPENDENT per-seed hashes — see the module note above
    for why the cheaper double-hashing scheme was reverted.

    No per-doc token dedup: min() is duplicate-insensitive, so the
    signature over all occurrences equals the signature over the distinct
    shingle set bit-for-bit, and skipping dropDuplicates removes a full
    (id, token)-wide Exchange — the groupBy's map-side partial min leaves
    only |docs| x n_hashes rows to shuffle (guide §2.3/§2.4).  Shingles
    rarely repeat within a doc, so the extra per-occurrence hashing is
    noise next to the removed shuffle."""
    toks = shingles_exploded(df, id_col, text_col)
    aggs = [
        F.min(F.expr(token_hash_sql("token", j, backend))).alias(f"mh_{j}")
        for j in range(n_hashes)
    ]
    return toks.groupBy(id_col).agg(*aggs)


def lsh_candidate_pairs(
    sigs: DataFrame,
    n_hashes: int = 8,
    band_size: int = 2,
    id_col: str = "doc_id",
) -> DataFrame:
    """Self-join signatures on banded minhashes -> candidate pairs (a < b).

    Bands of ``band_size`` rows: P(candidate) = 1-(1-j^r)^b; with 8 hashes
    in 4 bands of 2 this catches ~0.96 of pairs at jaccard 0.8."""
    n_bands = n_hashes // band_size
    # ONE packed bigint key per band: xxhash64(band_id, mh...) — a
    # LongHashedRelation/long-key shuffle instead of a concatenated string
    # key (the same packed-long win the spatial join gets; the band id is
    # hashed in so a single-column join covers all bands).  A 1/2^64 hash
    # collision can only ADD a candidate pair; a collision pair whose true
    # jaccard clears the verify threshold would survive, so the verified
    # output is an astronomically-unlikely (~2^-64 per pair) superset of
    # strict per-band LSH semantics — not bit-for-bit guaranteed equal,
    # unlike the simhash case where pigeonhole makes the verify exact.
    keys = [
        "xxhash64(cast({b} as bigint){mhs})".format(
            b=b,
            mhs="".join(
                f", mh_{b * band_size + r}" for r in range(band_size)
            ),
        )
        for b in range(n_bands)
    ]
    bands = sigs.select(
        id_col,
        F.explode(F.array(*[F.expr(k) for k in keys])).alias("key"),
    )
    # materialize the banded keys ONCE (eager localCheckpoint, the
    # codebase's lineage-cut idiom): the self-join otherwise evaluates
    # the whole shingle->minhash pipeline once per side — the round-7
    # plan audit showed the signature subtree (scan+explode+8 hashes+
    # aggregate) duplicated wholesale, 0 ReusedExchange (guide §2.4:
    # remove shuffles/passes outright).  n_bands rows per doc, a few MB
    # per million docs — negligible executor storage at any scale.
    bands = bands.localCheckpoint(eager=True)
    a = bands.withColumnRenamed(id_col, "id_a")
    b = bands.withColumnRenamed(id_col, "id_b")
    return (
        a.join(b, "key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def jaccard_verify(
    pairs: DataFrame,
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """Exact shingle-set jaccard for candidate pairs (the verify stage).

    The DOCUMENT table is LEFT-SEMI-joined against the candidate doc ids
    BEFORE shingling: at 100 TB the candidates are a tiny fraction of the
    corpus, so only they are tokenized at all — the filter sits below the
    explode, which Catalyst cannot do automatically through a Generate.
    Per-doc shingle counts are unchanged, so jaccard values are
    identical.

    Round-7 shape changes (all output-identical, guide §2.4):
    - ``pairs`` is materialized ONCE (eager localCheckpoint): it feeds
      three consumers (both sides of the id union + the intersection
      join) — without the cut each re-evaluates the whole LSH candidate
      pipeline from the parquet scan (the round-start plan audit showed
      44 scans of `documents` in ONE query, 0 ReusedExchange).  It is
      small by construction (|candidates| rows).
    - no .distinct() on the semi-join's id list: LEFT SEMI ignores
      right-side duplicates, the distinct was a pure extra exchange.
    - per-doc shingle dedup runs IN-ROW (shingles_exploded_distinct)
      instead of a dropDuplicates exchange."""
    pairs = pairs.select("id_a", "id_b").localCheckpoint(eager=True)
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .unionByName(pairs.select(F.col("id_b").alias(id_col)))
    )
    docs_c = df.select(id_col, text_col).join(cand_ids, id_col, "left_semi")
    toks = shingles_exploded_distinct(docs_c, id_col, text_col)
    sizes = toks.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    ta = toks.withColumnRenamed(id_col, "id_a")
    tb = toks.withColumnRenamed(id_col, "id_b")
    inter = (
        pairs.join(ta, "id_a")
        .join(tb, ["id_b", "token"])
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    out = (
        inter.join(sizes.withColumnRenamed(id_col, "id_a")
                   .withColumnRenamed("sz", "sz_a"), "id_a")
        .join(sizes.withColumnRenamed(id_col, "id_b")
              .withColumnRenamed("sz", "sz_b"), "id_b")
        .withColumn(
            "jaccard",
            F.expr(
                "cast(n_inter as double)"
                " / cast(sz_a + sz_b - n_inter as double)"
            ),
        )
    )
    return out.filter(F.col("jaccard") >= threshold).select(
        "id_a", "id_b", "n_inter", "sz_a", "sz_b", "jaccard"
    )


def _cc_numpy_labels(u, v):
    """Vectorized exact connected components over numpy id arrays:
    Shiloach-Vishkin-style min-label hooking + pointer doubling.
    np.unique's index order equals id order for ANY orderable dtype
    (ints, strings), so index-space minima ARE id-space minima.
    Returns (ids, root_ids).  O((E + V) log V) numpy passes — measured
    ~20x the throughput of a Python-dict union-find loop."""
    import numpy as np

    ids, idx = np.unique(np.concatenate([u, v]), return_inverse=True)
    iu, iv = idx[: len(u)], idx[len(u):]
    parent = np.arange(len(ids))
    while True:
        pu, pv = parent[iu], parent[iv]
        mn = np.minimum(pu, pv)
        before = parent.copy()
        # hook both endpoint roots toward the smaller neighbor root
        np.minimum.at(parent, pu, mn)
        np.minimum.at(parent, pv, mn)
        # pointer doubling (path compression)
        parent = parent[parent]
        parent = parent[parent]
        if np.array_equal(parent, before):
            break
    # final full compression to the fixpoint root
    while True:
        nxt = parent[parent]
        if np.array_equal(nxt, parent):
            break
        parent = nxt
    return ids, ids[parent]


def _cc_local_unionfind(edges: DataFrame) -> DataFrame:
    """Solve connected components in ONE task over the whole (coalesced)
    edge set via the vectorized numpy kernel.  Exact for any orderable
    id type; roots are component minima.  Output: (u, root) for every
    node incident to an edge."""
    import numpy as np
    import pandas as pd

    id_type = edges.schema["u"].dataType.simpleString()

    def solve(batches):
        us, vs = [], []
        for pdf in batches:
            us.append(pdf["u"].to_numpy())
            vs.append(pdf["v"].to_numpy())
        if not us:
            yield pd.DataFrame({"u": [], "root": []})
            return
        ids, roots = _cc_numpy_labels(
            np.concatenate(us), np.concatenate(vs)
        )
        yield pd.DataFrame({"u": ids, "root": roots})

    return edges.coalesce(1).mapInPandas(
        solve, f"u {id_type}, root {id_type}"
    )


def connected_components_star(
    nodes: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    max_iter: int = 30,
    local_threshold: int = 5_000_000,
) -> DataFrame:
    """Connected components over near-dup candidate pairs -> dedup GROUPS:
    every document labeled with the smallest doc id reachable through the
    pair graph (the canonical representative), isolated docs labeling
    themselves.  Output: (doc_id, group_id).

    Distributed path: alternating LARGE-STAR / SMALL-STAR contraction
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) — O(log n) rounds even on ADVERSARIAL graphs whose
    diameter is large (a 10^6-doc duplicate chain converges in ~20
    rounds, where per-hop label propagation would need 10^6).

    large-star: every node's strictly-LARGER neighbors re-attach to the
    minimum of its closed neighborhood; small-star: after orienting each
    edge large->small, the smaller-or-equal neighbors re-attach to that
    minimum.  Both keep components intact and monotonically shrink to
    per-component stars whose center is the component minimum.

    Requires ids orderable by min(); works for any orderable type
    (integers, strings, fractional doubles): convergence is detected by
    the edge-set checksum + count, with an exact exceptAll()-based
    confirmation before accepting it, so no id arithmetic is involved.

    Constant-factor shape (round-4 verdict task #7).  Measured reality:
    VERIFIED near-dup edge sets are tiny relative to the corpus (256
    pairs for 5000 sf0.1 docs), so distributed rounds on them are pure
    fixed overhead — per-round AQE stage barriers and job submissions
    dominated the old 4 s runtime.  The operator is therefore
    SCALE-ADAPTIVE, the filter-refine pattern applied to graph solve:

    - edge sets at or under ``local_threshold`` (default 5M — a few
      hundred MB of pairs, trivially one task's memory) are solved
      EXACTLY in one mapInPandas task by the vectorized min-root
      union-find of _cc_numpy_labels (same contract), one job total;
    - larger edge sets run the distributed star-contraction rounds:
      the iteration's shuffle width adapts to the edge count (~500k
      edges/partition, capped at the session default), each
      half-round's closed-neighborhood minimum is a WINDOW over
      partition(u) on an explicitly u-partitioned frame (one exchange,
      not groupBy + re-join), large-star feeds small-star
      undeduplicated (duplicate edges cannot change a min), the
      per-round dedup runs on the (u, v)-partitioned attach frame with
      no extra exchange, and lineage is cut every second round.

    Set ``local_threshold=0`` to force the distributed path (tests
    pin both paths against the same fixtures)."""
    edges = (
        pairs.selectExpr("id_a as u", "id_b as v")
        .filter("u != v")
        .distinct()
        # lazy: the _sig() aggregate just below is the materializing
        # action — one job for checkpoint + signature instead of two
        .localCheckpoint(eager=False)
    )

    def _sig(e: DataFrame):
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            # decimal sum: int64 hash sums overflow under ANSI mode
            F.sum(
                F.expr("cast(xxhash64(u, v) as decimal(38, 0))")
            ).alias("h"),
        ).first()
        return (row["n"], row["h"])

    prev = _sig(edges)
    n_edges = int(prev[0] or 0)
    if n_edges <= local_threshold:
        # the solved (node -> root) map is at most 2 * n_edges rows,
        # bounded by the threshold -> always broadcastable
        cc = F.broadcast(_cc_local_unionfind(edges))
        return (
            nodes.selectExpr(f"{id_col} as u")
            .join(cc, "u", "left")
            .selectExpr(f"u as {id_col}", "coalesce(root, u) as group_id")
        )
    spark = edges.sparkSession
    default_parts = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    parts = max(1, min(default_parts, n_edges // 500_000 + 1))

    def _large_star(e: DataFrame) -> DataFrame:
        sym = e.unionByName(e.selectExpr("v as u", "u as v")).repartition(
            parts, "u"
        )
        lab = sym.withColumn(
            "m",
            F.expr("least(min(v) over (partition by u), u)"),
        )
        return (
            lab.filter("v > u")
            .selectExpr("v as u", "m as v")
            .filter("u != v")
        )

    def _small_star(e: DataFrame) -> DataFrame:
        orient = e.selectExpr(
            "greatest(u, v) as u", "least(u, v) as v"
        ).repartition(parts, "u")
        lab = orient.withColumn(
            "m",
            F.expr("least(min(v) over (partition by u), u)"),
        )
        attach = lab.selectExpr("v as u", "m as v").unionByName(
            lab.selectExpr("u", "m as v")
        )
        return (
            attach.filter("u != v")
            .repartition(parts, "u", "v")
            .dropDuplicates()
        )

    for rnd in range(max_iter):
        edges_new = _small_star(_large_star(edges))
        if rnd % 2 == 1:
            # lazy: materialized by the _sig() aggregate on the next line
            edges_new = edges_new.localCheckpoint(eager=False)
        cur = _sig(edges_new)
        if cur == prev:
            # checksum equality is necessary but (2^-64-improbably) not
            # sufficient — confirm exactly before declaring convergence
            if (
                edges_new.exceptAll(edges).isEmpty()
                and edges.exceptAll(edges_new).isEmpty()
            ):
                edges = edges_new
                break
        edges, prev = edges_new, cur
    else:
        raise RuntimeError(
            f"star contraction did not converge within {max_iter} rounds"
            " — raise max_iter (expected O(log n))"
        )
    labels = (
        nodes.selectExpr(f"{id_col} as u")
        .join(edges, "u", "left")
        .selectExpr(f"u as {id_col}", "coalesce(v, u) as group_id")
    )
    return labels


def simhash64(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    backend: str = "md5",
) -> DataFrame:
    """64-bit simhash over word unigrams, output as FOUR 16-bit bands
    (band_0..band_3 bigint).

    Band b's 16 bits come from bits of an independent seed-b token hash:
    per bit, sign of sum(+/-1) across the document's distinct tokens.
    The near-dup kernel folds the bands into one bigint (BANDS_TO_FP).

    Per-doc token dedup runs IN-ROW (array_distinct before the explode,
    tokens_exploded_distinct) instead of a dropDuplicates exchange: the
    +/-1 sums see the same distinct token set, so bands are bit-identical
    while one full (id, token) shuffle disappears — the 64 sum
    aggregates' map-side partials then ride the single groupBy(id)
    exchange (guide §2.3/§2.4; measured 1.31 s -> 0.88 s at sf0.1)."""
    toks = tokens_exploded_distinct(df, id_col, text_col)
    toks = toks.withColumns(
        {
            f"h{b}": F.expr(token_hash_sql("token", b, backend))
            for b in range(4)
        }
    )
    # sum of (2*bit-1) per bit position; shiftright & 1 is sign-safe
    # (xxhash64 yields negative int64s; a modulo-based test would read
    # every bit of a negative hash as 0) and equals the DuckDB oracle's
    # (h % 2^(j+1)) >= 2^j formula on the non-negative md5 hashes
    aggs = [
        F.sum(
            F.expr(
                f"case when (shiftright(h{b}, {j}) & 1) = 1"
                f" then 1 else -1 end"
            )
        ).alias(f"s_{b}_{j}")
        for b in range(4)
        for j in range(16)
    ]
    sums = toks.groupBy(id_col).agg(*aggs)
    band_exprs = [
        "cast("
        + " + ".join(
            f"(case when s_{b}_{j} > 0 then {1 << j} else 0 end)"
            for j in range(16)
        )
        + f" as bigint) as band_{b}"
        for b in range(4)
    ]
    return sums.selectExpr(id_col, *band_exprs)


# The one place a 4x16-bit band signature (simhash64's output, the
# streaming alert input) becomes the single 64-bit fingerprint the
# near-dup kernel reads.  Bands are disjoint 16-bit fields, so they are
# OR-ed into place; band_3 may set bit 63 and leave fp negative, which
# the shift-then-mask block extraction of fingerprint_keys handles.
BANDS_TO_FP = "(" + " | ".join(
    f"shiftleft(cast(band_{b} as bigint), {16 * b})" for b in range(4)
) + ")"


def scheme_blocks(scheme: str, max_hamming: int) -> tuple[int, int]:
    """Manku (n_blocks, exact_blocks) of a candidate scheme — "refined"
    is (6, 3), "bands" (4, 1), the 4x16-bit pigeonhole blocking — after
    checking that it is complete for ``max_hamming``: k differing bits
    damage at most k blocks, so only pairs within n_blocks - exact_blocks
    are sure to share a key.  Wider thresholds would silently miss pairs,
    hence the raise."""
    n_blocks, exact_blocks = (6, 3) if scheme == "refined" else (4, 1)
    if max_hamming > n_blocks - exact_blocks:
        raise ValueError(
            "blocked candidate generation is only complete for"
            f" max_hamming <= {n_blocks - exact_blocks}; got {max_hamming}"
        )
    return n_blocks, exact_blocks


def fingerprint_keys(fp: str, n_blocks: int, exact_blocks: int) -> Column:
    """Candidate keys of the 64-bit fingerprint column ``fp``
    (Manku/Jain/Sarma, WWW 2007 §3): split it into ``n_blocks`` blocks
    and hash every ``exact_blocks``-sized block combination together with
    its combination index — an array of C(B, m) keys of ~64*m/B bits
    each, which callers explode and equi-join on.

    (4, 1) is the 4x16-bit band scheme: key b is
    xxhash64(b, 16-bit band b).  Its buckets hold ~n/65536 docs, so
    in-bucket pair counts grow as (n/65536)^2 — quadratic at 10^10+
    docs.  (6, 3) covers the same hamming <= 3 with ~32-bit keys
    (buckets ~n/2^32, near-linear at that scale) at the cost of
    C(6,3)=20 exploded rows per doc instead of 4.  Key hash collisions
    can only ADD candidates, which the exact hamming verify rejects."""
    if not 0 < exact_blocks <= n_blocks <= 64:
        raise ValueError(f"bad scheme ({n_blocks}, {exact_blocks})")
    base, rem = divmod(64, n_blocks)
    lens = [base + (1 if i < rem else 0) for i in range(n_blocks)]
    starts = [sum(lens[:i]) for i in range(n_blocks)]
    # mask AFTER the arithmetic shift clears the sign-extension bits
    blocks = [
        f"(shiftright({fp}, {starts[i]}) & {(1 << lens[i]) - 1})"
        for i in range(n_blocks)
    ]
    return F.array(
        *[
            F.expr(
                f"xxhash64(cast({ci} as bigint),"
                f" {', '.join(blocks[i] for i in combo)})"
            )
            for ci, combo in enumerate(
                itertools.combinations(range(n_blocks), exact_blocks)
            )
        ]
    )


def hamming_within(
    pairs: DataFrame, a_fp: str, b_fp: str, max_hamming: int
) -> DataFrame:
    """The exact near-dup verify: ``pairs`` plus a bigint ``hamming`` =
    popcount(a_fp XOR b_fp), keeping rows within ``max_hamming``."""
    return pairs.withColumn(
        "hamming", F.expr(f"cast(bit_count({a_fp} ^ {b_fp}) as bigint)")
    ).filter(F.col("hamming") <= max_hamming)


def simhash_candidate_pairs(
    sig: DataFrame,
    id_col: str = "doc_id",
    n_blocks: int = 6,
    exact_blocks: int = 3,
) -> DataFrame:
    """Near-dup candidate pairs (id_a < id_b) over the 64-bit fingerprint
    column ``fp``: one explode of fingerprint_keys + ONE long-key
    self-join, deduplicated (a pair sharing several keys is emitted
    once).  Complete for hamming <= n_blocks - exact_blocks."""
    keyed = sig.select(
        id_col,
        F.explode(fingerprint_keys("fp", n_blocks, exact_blocks)).alias("k"),
    )
    a = keyed.withColumnRenamed(id_col, "id_a")
    c = keyed.withColumnRenamed(id_col, "id_b")
    return (
        a.join(c, "k")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    backend: str = "md5",
    scheme: str = "bands",
) -> DataFrame:
    """End-to-end simhash near-dup pipeline: 64-bit signatures -> blocked
    candidates -> XOR-popcount hamming verify (<= max_hamming).

    ``scheme="bands"`` is the (4, 1) block scheme, ``scheme="refined"``
    the (6, 3) one — the 100 TB default (fingerprint_keys has the scale
    trade-off).  Both produce IDENTICAL verified output (any complete
    candidate superset does; the hamming filter is exact).
    Output: (id_a, id_b, hamming)."""
    # validate before touching df so callers get ValueError, not an
    # attribute/analysis error from building the signature plan
    scheme_blocks(scheme, max_hamming)
    sig = simhash64(df, id_col, text_col, backend).selectExpr(
        id_col, f"{BANDS_TO_FP} as fp"
    )
    return hamming_pairs_from_sig(sig, max_hamming, id_col, scheme)


def hamming_pairs_from_sig(
    sig: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    scheme: str = "bands",
) -> DataFrame:
    """Blocked candidates + exact XOR-popcount hamming verify over ANY
    64-bit fingerprint held in one bigint column ``fp`` next to
    ``id_col`` — the one near-dup kernel behind text simhash, image
    phash, audio fingerprints and video signatures.
    Output: (id_a, id_b, hamming), complete for max_hamming <= 3."""
    blocks = scheme_blocks(scheme, max_hamming)
    # materialize the signature table ONCE (eager localCheckpoint): it
    # feeds three consumers (both candidate-join sides via the key
    # explode + the two verify sides), each of which otherwise
    # re-evaluates the whole tokenize+4-hash+64-sum signature pipeline
    # from the scan (round-7 plan audit: the subtree appeared 3x, 0
    # ReusedExchange; guide §2.4).  |docs| x 2 columns — tiny.
    sig = sig.localCheckpoint(eager=True)
    cand = simhash_candidate_pairs(sig, id_col, *blocks)
    sa = sig.selectExpr(f"{id_col} as id_a", "fp as a_fp")
    sb = sig.selectExpr(f"{id_col} as id_b", "fp as b_fp")
    return hamming_within(
        cand.join(sa, "id_a").join(sb, "id_b"), "a_fp", "b_fp", max_hamming
    ).select("id_a", "id_b", "hamming")


def containment_pairs(
    docs: DataFrame,
    n: int = 3,
    min_containment: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_doc_freq: int | None = None,
) -> DataFrame:
    """ASYMMETRIC near-dup detection: shingle CONTAINMENT
    c(A->B) = |S(A) & S(B)| / |S(A)| (Broder's containment, the measure
    jaccard misses when sizes differ — a document quoted whole inside a
    10x larger one scores jaccard ~0.1 but containment ~1.0).  Emits
    (id_a, id_b, n_shared, n_a, n_b, containment_ab, containment_ba)
    for pairs where EITHER direction reaches ``min_containment`` — the
    sub-document-duplication hygiene pass of a web corpus.

    Scale shape: candidates come from the shingle INVERTED INDEX
    self-join (a < b) — never all-pairs, but the index join is
    quadratic IN EACH SHINGLE's document frequency: one boilerplate
    trigram in 1M docs alone makes ~5e11 intermediate rows (review
    finding — unlike the decontamination join, there is no small
    broadcast side here).  At corpus scale set ``max_doc_freq`` to
    drop shingles above that document frequency from the index before
    the join — the standard df-cap: hot shingles are boilerplate with
    no discriminative value, and capping bounds the join at
    sum(df_i^2) <= max_doc_freq * |index|.  The denominators n_a/n_b
    still count ALL shingles, so capping can only LOWER containment
    (never a false positive); the default None is exact and right for
    bench/gate scale."""
    # distinct per-doc shingles: dedup IN-ROW (array_distinct before the
    # explode — one less full-width exchange, guide §2.4), then
    # materialized ONCE (eager localCheckpoint): they feed the size
    # counts plus BOTH sides of the inverted-index self-join (and the
    # df-cap window) — without the cut each consumer re-tokenizes the
    # corpus from the scan.  Size = distinct shingles, the same order of
    # magnitude as the corpus tokens; at 100 TB this is the operator's
    # working set either way.
    sh = shingles_exploded_distinct(
        docs, id_col, text_col, n=n
    ).localCheckpoint(eager=True)
    counts = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    if max_doc_freq is not None:
        from pyspark.sql.window import Window

        df_w = Window.partitionBy("token")
        sh = (
            sh.withColumn("_df", F.count(F.lit(1)).over(df_w))
            .filter(F.col("_df") <= max_doc_freq)
            .drop("_df")
            # the capped index also feeds both self-join sides: cut once
            # more so the df window runs a single time
            .localCheckpoint(eager=True)
        )
    a = sh.selectExpr(f"{id_col} as id_a", "token")
    b = sh.selectExpr(f"{id_col} as id_b", "token")
    inter = (
        a.join(b, "token")
        .filter("id_a < id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = (
        inter.join(counts.selectExpr(f"{id_col} as id_a", "n_sh as n_a"), "id_a")
        .join(counts.selectExpr(f"{id_col} as id_b", "n_sh as n_b"), "id_b")
        .selectExpr(
            "id_a", "id_b", "n_shared", "n_a", "n_b",
            "cast(n_shared as double) / cast(n_a as double)"
            " as containment_ab",
            "cast(n_shared as double) / cast(n_b as double)"
            " as containment_ba",
        )
    )
    thr = f"cast({min_containment!r} as double)"
    return out.filter(
        f"containment_ab >= {thr} or containment_ba >= {thr}"
    )


# -------------------------------------------- group representative pick

REP_PACK_BITS = 41  # doc ids < 2^41; score_fp * 2^41 stays inside int64


def group_representatives(
    members: DataFrame,
    scored: DataFrame,
    id_col: str = "doc_id",
    group_col: str = "group_id",
    score_col: str = "score_fp",
) -> DataFrame:
    """Pick ONE document to keep per near-dup group — the step a real
    pipeline runs right after connected components: instead of the
    arbitrary min-id keeper, keep the BEST-quality member (ties broken
    by smallest id, so the choice is total and deterministic).

    members: (id, group) from connected_components_star; scored: (id,
    score_fp) with an int64 fixed-point score (e.g. floor(quality*1e6)
    — integers so cross-engine comparison is exact).  The argmax rides
    the tile_representative trick: pack (score_fp, 2^41-1-id) into ONE
    bigint, take MAX — a map-side-combining aggregation, no window
    sort, one shuffle of (group, packed) pairs.  score_fp must be
    non-negative and < 2^22 to keep the pack inside int64.

    Output: (group_id, n_members, rep_id, rep_score_fp)."""
    m = 1 << REP_PACK_BITS
    j = members.join(scored, id_col)
    # ADVICE r6: validate the documented pack preconditions at runtime —
    # a negative score or an over-range id would silently overflow the
    # packed int64 and elect a garbage representative.  raise_error in
    # the projection fails the job loudly instead (same idiom as the
    # shard checksum guard); for in-range inputs the branch is
    # constant-folded-cheap and the output is unchanged.
    guard = (
        f"case when {score_col} < 0 or {score_col} >= {1 << (63 - REP_PACK_BITS)}"
        f" or {id_col} < 0 or {id_col} >= {m}"
        f" then raise_error(concat('group_representatives pack overflow: '"
        f", 'score_fp=', cast({score_col} as string)"
        f", ' id=', cast({id_col} as string)"
        f", ' (need 0 <= score_fp < 2^{63 - REP_PACK_BITS},"
        f" 0 <= id < 2^{REP_PACK_BITS})'))"
        f" else {score_col} end"
    )
    packed = j.selectExpr(
        f"{group_col} as group_id",
        f"({guard}) * cast({m} as bigint)"
        f" + (cast({m} as bigint) - 1 - {id_col}) as _packed",
    )
    agg = packed.groupBy("group_id").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.max("_packed").alias("_pm"),
    )
    return agg.selectExpr(
        "group_id",
        "n_members",
        f"cast({m} as bigint) - 1 - (_pm % cast({m} as bigint)) as rep_id",
        f"_pm div cast({m} as bigint) as rep_score_fp",
    )


# ---------------------------------------- incremental (cross-epoch) dedup

def incremental_dedup(
    increment: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    m_bits: int = 4096,
    k: int = 5,
    backend: str = "md5",
) -> DataFrame:
    """NEW-CRAWL increment vs an EXISTING corpus — the cross-epoch exact
    dedup an ingestion pipeline runs on every increment: a Bloom filter
    over the corpus's content hashes (constant-size, mergeable,
    broadcastable) prefilters the increment; only bloom-positive
    candidates pay the exact verify join.

    At 100 TB the difference is the whole point: the naive anti-join
    shuffles |increment| x |corpus| key traffic; here the corpus is
    scanned ONCE into an m-bit bitmap (built incrementally / merged
    across corpus partitions via bit_or), the increment probes it with
    zero shuffle (broadcast filter table), and the exact join's left
    side shrinks to |true dups| + |false positives| (~ m,k-bounded).
    Zero false negatives by Bloom construction, so `is_dup` is EXACT.

    Output: one row per increment doc — (id, bloom_candidate, is_dup);
    is_dup = 1 implies bloom_candidate = 1; survivors are
    `is_dup = 0`."""
    from ionex_spark.operators.sketch import (
        bloom_build,
        bloom_collect_words,
        bloom_membership,
        bloom_membership_expr,
    )

    chash = f"md5({text_col})"
    corpus_hashes = corpus.selectExpr(f"{chash} as chash").dropDuplicates(
        ["chash"]
    )
    bloom = bloom_build(corpus_hashes, "chash", m_bits, k, backend)
    probes = increment.selectExpr(
        f"{id_col} as probe_id", f"{chash} as chash"
    )
    # membership as a NARROW projection over the inlined bitmap literal
    # when the filter is expression-sized (round 7): the bitmap is
    # constant-size by construction, so collecting its m/64 words is an
    # O(m) driver transfer — and the probe side then pays zero joins and
    # zero aggregation for the test (the old explode+broadcast-join+
    # groupBy shape re-evaluated the probe scan per consumer on top).
    # Very large filters (> 64k words = 512 KB of literal) keep the
    # broadcast-join path — plan size, not data size, is the limit.
    if m_bits <= 64 * 65536:
        words = bloom_collect_words(bloom, m_bits)
        # narrow projection — its two consumers (verify filter, output
        # join) just recompute the k hashes, cheaper than a barrier
        member = probes.selectExpr(
            "probe_id",
            "chash",
            f"{bloom_membership_expr(words, 'chash', m_bits, k, backend)}"
            " as maybe_present",
        )
    else:
        mm = bloom_membership(
            probes, bloom, "chash", m_bits, k, backend, id_col="probe_id"
        )
        member = probes.join(mm, "probe_id").localCheckpoint(eager=True)
    # NO broadcast hint on the verify join: at 100 TB the corpus-hash
    # side is the big one — it shuffles on chash once while the
    # candidate side is already bloom-shrunk; AQE may still broadcast
    # at small scale on its own
    cand = member.filter("maybe_present = 1")
    dups = cand.join(corpus_hashes, "chash", "left_semi").selectExpr(
        "probe_id", "1 as _dup"
    )
    return (
        member.join(dups, "probe_id", "left")
        .selectExpr(
            f"probe_id as {id_col}",
            "maybe_present as bloom_candidate",
            "coalesce(_dup, 0) as is_dup",
        )
    )


# ------------------------------------ contamination-safe dataset split

def contamination_safe_split(
    members: DataFrame,
    val_permille: int = 100,
    test_permille: int = 100,
    id_col: str = "doc_id",
    group_col: str = "group_id",
) -> DataFrame:
    """Train/val/test split that can NEVER leak near-duplicates across
    splits: the unit of assignment is the connected-components dup
    GROUP, not the document — every member inherits its group's split,
    so a training doc is never a near-dup of an eval doc (the
    train-on-eval contamination a doc-level random split silently
    commits whenever dup pairs exist).

    Deterministic via the portable sampling hash of the GROUP id
    (10000-gate): h < test_permille*10 -> 'test', < (test+val)*10 ->
    'val', else 'train'.  Narrow (one expression over the membership
    frame); the split proportions are exact-in-expectation over
    groups, so heavily duplicated content cannot bias eval upward.

    Input: (id, group) from connected_components_star.  Output adds
    ``split``."""
    from ionex_spark.operators.text import sample_hash_sql

    if val_permille < 0 or test_permille < 0 or (
        val_permille + test_permille > 1000
    ):
        raise ValueError(
            f"val_permille={val_permille} test_permille={test_permille}"
            " invalid: both must be >= 0 and sum to <= 1000"
        )
    t = test_permille * 10
    v = (test_permille + val_permille) * 10
    gate = sample_hash_sql(group_col, salt="split")
    return members.selectExpr(
        id_col,
        group_col,
        f"case when {gate} < {t} then 'test'"
        f" when {gate} < {v} then 'val'"
        " else 'train' end as split",
    )
