"""Similarity-search queries over the ``embeddings`` fixture.

Brute-force cosine top-k carries a DuckDB oracle (both engines compute
the same double-precision dot products; the similarity column is rounded
to 4 decimals, and rank ties break on vec_id — fully deterministic).
Since round 8 the LSH variant is ALSO value-checked: the portable
integer Rademacher sketch makes bucket assignment bit-reproducible in
SQL, so approximation is pinned to the exact same candidate sets in both
engines; recall floors vs brute force are additionally asserted in
tests/test_similarity.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import similarity
from ..sources import load_table
from .registry import query, scratch

def _cos2(x: str, y: str) -> str:
    """Pairwise round-4 cosine between two DuckDB list columns,
    mirroring functions.vectors.cosine's left-to-right double
    accumulation exactly — the ONE SQL twin every similarity oracle
    derives from (keep a single copy or the oracles de-synchronize)."""
    return f"""
round(
  list_sum(list_transform(list_zip({x}, {y}),
           z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform({x}, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))
   * sqrt(list_sum(list_transform({y}, e -> CAST(e AS DOUBLE) * CAST(e AS DOUBLE))))),
4)
"""


#: The (a, b)-aliased embedding-pair instance used by the knn oracles.
_COS_SQL = _cos2("a.embedding", "b.embedding")


@query(
    "knn_bruteforce_cosine",
    oracle=f"""
SELECT qid, cid, cosine, rank FROM (
  SELECT a.vec_id AS qid, b.vec_id AS cid,
         {_COS_SQL} AS cosine,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY {_COS_SQL} DESC, b.vec_id) AS rank
  FROM embeddings a, embeddings b
  WHERE a.vec_id < 10
) WHERE rank <= 5
ORDER BY qid, rank
""",
)
def knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors for query vectors vec_id<10 against
    the whole corpus (self-matches included — cosine 1.0 at rank 1 is a
    built-in sanity signal). Queries broadcast; corpus never shuffles."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.topk_cosine(
        emb, queries, corpus_id="vec_id", query_id="vec_id", k=5
    )


@query(
    "radius_search_cosine",
    oracle=f"""
SELECT qid, cid, cosine FROM (
  SELECT a.vec_id AS qid, b.vec_id AS cid,
         {_COS_SQL} AS cosine
  FROM embeddings a, embeddings b
  WHERE a.vec_id < 20
) WHERE cosine >= 0.35
ORDER BY qid, cid
""",
)
def radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine RANGE search (all neighbors within a similarity radius,
    the dual of top-k) for query vectors vec_id<20 against the whole
    corpus. Self-matches (cosine 1.0) are retained as a built-in sanity
    signal. No per-query window — the corpus side is map-only behind
    the broadcast; the plan's only exchange is the presentation sort of
    the threshold-bounded result, never the corpus."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 20)
    return similarity.radius_cosine(
        emb,
        queries,
        corpus_id="vec_id",
        query_id="vec_id",
    )


@query(
    "mmr_diversified_topk",
    oracle=f"""
WITH scored AS (
  SELECT a.vec_id AS qid, b.vec_id AS cid, b.embedding AS cv,
         {_cos2("a.embedding", "b.embedding")} AS rel
  FROM embeddings a, embeddings b
  WHERE a.vec_id < 5 AND b.vec_id != a.vec_id
),
cand AS (
  SELECT qid, cid, cv, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rnk
    FROM scored
  ) WHERE rnk <= 8
),
p1 AS (
  SELECT qid, cid, cv, rel FROM (
    SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rel DESC, cid) AS rn
    FROM cand
  ) WHERE rn = 1
),
c1 AS (
  SELECT c.qid, c.cid, c.cv, c.rel, {_cos2("c.cv", "p.cv")} AS sim1
  FROM cand c JOIN p1 p ON c.qid = p.qid AND c.cid != p.cid
),
p2 AS (
  SELECT qid, cid, cv, rel, sim1 FROM (
    SELECT *, row_number() OVER (
      PARTITION BY qid ORDER BY 0.7 * rel - 0.3 * sim1 DESC, cid) AS rn
    FROM c1
  ) WHERE rn = 1
),
c2 AS (
  SELECT c.qid, c.cid, c.rel, c.sim1, {_cos2("c.cv", "p.cv")} AS sim2
  FROM c1 c JOIN p2 p ON c.qid = p.qid AND c.cid != p.cid
),
p3 AS (
  SELECT qid, cid, rel FROM (
    SELECT *, row_number() OVER (
      PARTITION BY qid
      ORDER BY 0.7 * rel - 0.3 * greatest(sim1, sim2) DESC, cid) AS rn
    FROM c2
  ) WHERE rn = 1
)
SELECT qid, CAST(1 AS BIGINT) AS mmr_rank, cid, rel FROM p1
UNION ALL SELECT qid, CAST(2 AS BIGINT), cid, rel FROM p2
UNION ALL SELECT qid, CAST(3 AS BIGINT), cid, rel FROM p3
ORDER BY qid, mmr_rank
""",
)
def mmr_diversified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR-diversified top-3 (λ=0.7) from each query's 8-candidate
    relevance short-list — the re-ranking pass retrieval stacks run
    between ANN and the consumer. The oracle unrolls the identical 3
    greedy steps as chained window-argmax CTEs (no folds)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    return similarity.mmr_topk(
        emb,
        queries,
        corpus_id="vec_id",
        query_id="vec_id",
    )


#: The 8 seeded Rademacher planes of the portable sketch, interpolated
#: as ±1 literal arrays — the oracle recomputes the exact same integer
#: dot-product sign bits as the Spark plan (quantized embeddings, no
#: float summation-order hazard at the sign boundary).
_RP_SKETCH_SQL = " + ".join(
    f"""(CASE WHEN list_sum(list_transform(
            list_zip(ev, {plane}),
            x -> x[1] * x[2])) > 0 THEN {1 << i} ELSE 0 END)"""
    for i, plane in enumerate(similarity._rademacher_planes(64, 8))
)

_LSH_PROBES_SQL = "[bucket, " + ", ".join(
    f"xor(bucket, {1 << i})" for i in range(8)
) + "]"


@query(
    "knn_lsh_ann",
    oracle=f"""
WITH eq AS (
  SELECT vec_id, embedding,
         list_transform(
           embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {similarity.EMB_QUANT}
                           + 0.5) AS BIGINT)) AS ev
  FROM embeddings
),
sk AS (SELECT vec_id, embedding, CAST({_RP_SKETCH_SQL} AS BIGINT) AS bucket FROM eq),
qp AS (
  SELECT vec_id AS qid, embedding AS qemb, {_LSH_PROBES_SQL} AS probes
  FROM sk WHERE vec_id < 10
),
scored AS (
  SELECT qp.qid, c.vec_id AS cid,
         round(
           list_sum(list_transform(list_zip(qp.qemb, c.embedding),
                    x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(qp.qemb,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(c.embedding,
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         4) AS cosine
  FROM qp JOIN sk c ON list_contains(qp.probes, c.bucket)
)
SELECT qid, cid, cosine, rank FROM (
  SELECT *, row_number() OVER (
    PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
  FROM scored
) WHERE rank <= 5
ORDER BY qid, rank
""",
)
def knn_lsh_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate top-5 via 8-bit random-hyperplane LSH with hamming-1
    multi-probe — the PORTABLE integer Rademacher sketch, so bucket
    assignment, probing, and the cosine re-rank are value-checked
    against an exact DuckDB oracle (recall vs brute force additionally
    asserted in tests)."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.rp_lsh_ann(
        emb,
        queries,
        corpus_id="vec_id",
        query_id="vec_id",
        k=5,
    )


@query(
    "embedding_neardup_blocked",
    oracle=f"""
SELECT id_a, id_b, cosine FROM (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, {_COS_SQL} AS cosine
  FROM embeddings a
  JOIN embeddings b ON a.label = b.label AND a.vec_id < b.vec_id
)
WHERE cosine >= 0.2
ORDER BY id_a, id_b
""",
)
def embedding_neardup_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs blocked by ``label`` (the
    cluster-id/LSH-bucket stand-in): comparisons happen only within a
    block, which is what bounds pair count at scale.

    The per-block GEMM creates the pair keys, so no fan-out can sort its
    input by them: the pairs are checkpointed, and the sort samples its
    range bounds from the stored pairs instead of re-running the GEMM."""
    from ..operators import dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return (
        dedup.embedding_neardup_pairs(
            emb, "vec_id", "embedding", threshold=0.2, block_col="label"
        )
        .localCheckpoint(eager=True)
        .orderBy("id_a", "id_b")
    )


def _cos_u(x: str, y: str) -> str:
    """Unrounded DuckDB cosine mirroring functions.vectors.cosine's
    left-to-right double accumulation (same form as _COS_SQL)."""
    return f"""(
  list_sum(list_transform(list_zip({x}, {y}),
           p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform({x}, p -> CAST(p AS DOUBLE) * CAST(p AS DOUBLE))))
   * sqrt(list_sum(list_transform({y}, p -> CAST(p AS DOUBLE) * CAST(p AS DOUBLE))))))"""


@query(
    "knn_ivf_ann",
    oracle=f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
ca AS (
  SELECT vec_id, embedding, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_u DESC, centroid_id) AS pr
  FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           {_cos_u('e.embedding', 'c.cv')} AS cos_u
    FROM embeddings e CROSS JOIN cent c)
),
c_lists AS (SELECT vec_id AS cid, embedding AS cvec, centroid_id
            FROM ca WHERE pr = 1),
q_probes AS (SELECT vec_id AS qid, embedding AS qvec, centroid_id
             FROM ca WHERE vec_id < 10 AND pr <= 2),
scored AS (
  SELECT q.qid, l.cid, round({_cos_u('l.cvec', 'q.qvec')}, 4) AS cosine
  FROM c_lists l JOIN q_probes q USING (centroid_id)),
r AS (
  SELECT qid, cid, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, cid) AS rank
  FROM scored)
SELECT qid, cid, cosine, rank FROM r WHERE rank <= 5 ORDER BY qid, rank
""",
)
def knn_ivf_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat approximate top-5: corpus partitioned into 16 inverted
    lists by nearest centroid, queries probe their 2 nearest lists, exact
    cosine re-rank inside. Recall vs brute force asserted in
    tests/test_similarity.py; the partition-pruned layout twin is
    ivf_ann_partitioned (identical results, PartitionFilters evidence).

    Unlike LSH tiers, this IS value-checkable: the seed-free centroid
    construction (16 lowest-id vectors) makes every stage — assignment
    argmax, probe ranking, re-rank — a deterministic function the oracle
    replays with bit-identical double arithmetic."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.ivf_ann(
        emb,
        queries,
        corpus_id="vec_id",
        query_id="vec_id",
        n_centroids=16,
        nprobe=2,
        k=5,
    )


@query(
    "embedding_centroids",
    oracle="""
WITH pts AS (
  SELECT label, i - 1 AS dim_idx,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS sv
  FROM embeddings, generate_series(1, 64) AS s(i)
),
agg AS (
  SELECT label, dim_idx, sum(sv) AS s, count(*) AS n
  FROM pts GROUP BY label, dim_idx
)
SELECT label, dim_idx,
       CAST((s - ((s % (n * 100) + n * 100) % (n * 100))) // (n * 100)
            AS BIGINT) AS centroid_q
FROM agg
ORDER BY label, dim_idx
""",
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label dim-wise mean vector (the k-means update step / class
    prototype): posexplode to (label, dim, value), one partial-aggregated
    shuffle on (label, dim). At 100 TB the explode is a narrow 64×
    row expansion of a 2-column projection, never the full row — and the
    aggregate state is |labels| × dim, independent of corpus size."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "label", F.posexplode("embedding").alias("dim_idx", "v")
    )
    # Exact accumulation: each element is quantized to a BIGINT at 1e-6
    # (per-element op — order-independent and bit-identical across
    # engines: float→double is exact, *1e6 and floor are single
    # correctly-rounded IEEE ops), summed exactly as integers, then
    # floor-divided with pure integer arithmetic. A parallel DOUBLE
    # average is accumulation-order-dependent, so a last-ulp engine
    # difference at an integer boundary could flip the quantized value;
    # this path has no double accumulation at all. centroid_q ≈
    # floor(avg(v)*10000) (sum(sv)/(n*100), sv = floor(v*1e6)).
    sv = F.floor(F.col("v").cast("double") * 1000000).cast("long")
    agg = emb.groupBy("label", "dim_idx").agg(
        F.sum(sv).alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        agg.select(
            "label",
            "dim_idx",
            # (s - mod) is exactly divisible by d, so truncating integer
            # `div` equals floor division — no double arithmetic.
            F.expr(
                "(s - ((s % (n * 100) + n * 100) % (n * 100))) div (n * 100)"
            )
            .cast("bigint")
            .alias("centroid_q"),
        )
        .orderBy("label", "dim_idx")
    )


# --------------------------------------------------------------------------
# Int8 embedding quantization (symmetric max-abs scaling) — the storage/
# bandwidth step before shipping vectors to an ANN index or training
# shard: 4 bytes/dim float32 → 1 byte/dim int8 + one scale per vector.
# Map-only (no shuffle); every element is checked exactly — both engines
# run the identical correctly-rounded double ops (abs, max, *, /) and
# floor, so the quantized codes are bit-identical and the whole vector
# is compared via its CSV rendering. floor (not round-half-up) keeps the
# codes engine-invariant; codes lie in [-127, 127].
# --------------------------------------------------------------------------


@query(
    "embedding_quantize_int8",
    oracle="""
WITH base AS (
  SELECT vec_id, embedding,
         greatest(list_max(list_transform(embedding,
                  x -> abs(CAST(x AS DOUBLE)))), 1e-30) AS absmax
  FROM embeddings
)
SELECT vec_id,
       CAST(floor(absmax * 1000000) AS BIGINT) AS scale_q,
       array_to_string(list_transform(embedding,
         x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / absmax) AS INT)), ',')
         AS q_csv
FROM base
ORDER BY vec_id
""",
)
def embedding_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    absmax = F.greatest(
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double")))),
        F.lit(1e-30),
    )
    q = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * F.lit(127.0) / absmax)
        .cast("int")
        .cast("string"),
    )
    return (
        e.select(
            "vec_id",
            F.floor(absmax * 1000000).cast("long").alias("scale_q"),
            F.array_join(q, ",").alias("q_csv"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# k-means assignment step (E-step), completing the loop with
# embedding_centroids (the M-step): every vector goes to its
# highest-cosine label centroid. The centroids are quantized to integers
# via EXACT accumulation (per-element BIGINT codes summed exactly, then
# integer floor-division — no order-dependent double sum anywhere), and
# every downstream product/sum runs the same left-to-right double
# arithmetic in both engines, so the argmax is bit-deterministic (ties
# break on label). Scale shape: centroids are |labels|×dim (tiny,
# broadcast); the corpus is scanned once, map-side — no shuffle of the
# vectors at any corpus size.
# --------------------------------------------------------------------------


@query(
    "embedding_assign_nearest",
    oracle="""
WITH pts AS (
  SELECT label, i - 1 AS dim_idx,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS sv
  FROM embeddings, generate_series(1, 64) AS s(i)
),
cent AS (
  SELECT label, dim_idx,
         CAST((sum(sv) - ((sum(sv) % (count(*) * 100) + count(*) * 100)
                          % (count(*) * 100))) // (count(*) * 100)
              AS BIGINT) AS cq
  FROM pts GROUP BY label, dim_idx
),
carr AS (SELECT label, list(cq ORDER BY dim_idx) AS c FROM cent GROUP BY label),
scored AS (
  SELECT e.vec_id, e.label AS orig_label, c.label AS cand_label,
         list_sum(list_transform(list_zip(e.embedding, c.c),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(CAST(list_sum(list_transform(c.c, x -> x * x)) AS DOUBLE)))
           AS cos
  FROM embeddings e, carr c
),
r AS (
  SELECT vec_id, orig_label, cand_label, cos,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos DESC, cand_label) AS rn
  FROM scored
)
SELECT vec_id, orig_label, cand_label AS assigned_label,
       CAST(floor(cos * 10000) AS BIGINT) AS cos_q
FROM r WHERE rn = 1 ORDER BY vec_id
""",
)
def embedding_assign_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        similarity.label_centroid_assign(emb)
        .select(
            "vec_id",
            "orig_label",
            "assigned_label",
            F.floor(F.col("cos") * 10000).cast("long").alias("cos_q"),
        )
        .orderBy("vec_id")
    )


# --------------------------------------------------------------------------
# Cluster-density-equalized sampling (operators/similarity.py::
# label_centroid_assign + operators/sampling.py::
# stratum_equalized_sample): assign every vector to its nearest label
# centroid, then keep ~30 vectors per cluster in expectation with
# p = min(1, 30/|cluster|) decided by a salted integer hash rule — the
# SemDeDup/DataComp "prune the dense modes" curation step, with exact
# Horvitz-Thompson weights on every kept row. Scale shape: centroids
# are broadcast (|labels|×dim), cluster sizes are a |labels|-row
# aggregate broadcast back, and the inclusion rule is a map-side
# filter — the corpus shuffles zero times.
# --------------------------------------------------------------------------


@query(
    "cluster_balanced_sample",
    oracle="""
WITH pts AS (
  SELECT label, i - 1 AS dim_idx,
         CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS sv
  FROM embeddings, generate_series(1, 64) AS s(i)
),
cent AS (
  SELECT label, dim_idx,
         CAST((sum(sv) - ((sum(sv) % (count(*) * 100) + count(*) * 100)
                          % (count(*) * 100))) // (count(*) * 100)
              AS BIGINT) AS cq
  FROM pts GROUP BY label, dim_idx
),
carr AS (SELECT label, list(cq ORDER BY dim_idx) AS c FROM cent GROUP BY label),
scored AS (
  SELECT e.vec_id, c.label AS cand_label,
         list_sum(list_transform(list_zip(e.embedding, c.c),
                  x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
         / (sqrt(list_sum(list_transform(e.embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
          * sqrt(CAST(list_sum(list_transform(c.c, x -> x * x)) AS DOUBLE)))
           AS cos
  FROM embeddings e, carr c
),
asg AS (
  SELECT vec_id, cand_label AS assigned_label FROM (
    SELECT vec_id, cand_label, cos,
           row_number() OVER (PARTITION BY vec_id
                              ORDER BY cos DESC, cand_label) AS rn
    FROM scored)
  WHERE rn = 1
),
sz AS (SELECT assigned_label, count(*) AS csize FROM asg GROUP BY assigned_label),
j AS (
  SELECT a.vec_id, a.assigned_label, s.csize,
         CAST(CAST(concat('0x',
                substring(md5('cbs:' || CAST(a.vec_id AS VARCHAR)), 1, 4))
              AS INT) AS BIGINT) AS u16
  FROM asg a JOIN sz s USING (assigned_label)
)
SELECT vec_id, assigned_label, csize,
       CASE WHEN csize <= 30 THEN 1000000
            ELSE (csize * 1000000) // 30 END AS ipw_q
FROM j
WHERE u16 * csize < 30 * 65536
ORDER BY vec_id
""",
)
def cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import stratum_equalized_sample

    emb = load_table(spark, sf_dir, "embeddings")
    asg = similarity.label_centroid_assign(emb).select("vec_id", "assigned_label")
    kept = stratum_equalized_sample(
        asg, "vec_id", "assigned_label", target=30, salt="cbs:"
    )
    return kept.select(
        "vec_id",
        "assigned_label",
        F.col("_csize").alias("csize"),
        "ipw_q",
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# Product quantization (PQ): 64-dim vectors → 8 subspaces × 16 codewords
# (seed-free codebook = sub-vectors of the 16 lowest-id vectors, the
# same deterministic construction as the IVF centroids, so the encode
# argmin is fully value-checkable). Encoding is pure map-side codegen'd
# expressions — codebook inlined as literals, corpus scanned once, zero
# shuffles at any scale; 64 float32 dims compress to 8 nibbles per
# vector, the memory-bound trick behind billion-scale ANN (ADC search
# would scan these codes with a per-query distance lookup table).
# --------------------------------------------------------------------------


#: Dims per PQ subspace (8), as ``similarity.pq_codebook`` cuts them.
_PQ_SUB_DIM = similarity.PQ_DIM // similarity.PQ_SUBSPACES


def _pq_sq_chain(s: int) -> str:
    """Σ_j (e.embedding[i] − cw.cv[i])² as the same left-to-right double
    chain the Spark expression evaluates."""
    terms = []
    for j in range(_PQ_SUB_DIM):
        i = s * _PQ_SUB_DIM + j + 1  # DuckDB lists are 1-based
        x = (
            f"(CAST(e.embedding[{i}] AS DOUBLE) - "
            f"CAST(cw.cv[{i}] AS DOUBLE))"
        )
        terms.append(f"{x} * {x}")
    return " + ".join(terms)


def _pq_oracle() -> str:
    cases = "\n           ".join(
        f"WHEN {s} THEN {_pq_sq_chain(s)}" for s in range(8)
    )
    return f"""
WITH cw AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
dists AS (
  SELECT e.vec_id, t.s, cw.k,
         CASE t.s
           {cases}
         END AS d
  FROM embeddings e
  CROSS JOIN generate_series(0, 7) AS t(s)
  CROSS JOIN cw
),
best AS (
  SELECT vec_id, s, k,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d, k) AS rn
  FROM dists
)
SELECT vec_id,
       string_agg(CAST(k AS VARCHAR), ',' ORDER BY s) AS codes_csv
FROM best WHERE rn = 1
GROUP BY vec_id ORDER BY vec_id
"""


@query("embedding_pq_codes", oracle=_pq_oracle())
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-encode the corpus: per subspace, argmin squared-L2 codeword
    (ties to the lowest code), emitted as a comma-joined code string.
    The oracle replays the identical distance chains and argmin."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook(emb)
    coded = similarity.pq_encode(emb.select("vec_id", "embedding"), cb)
    return coded.select(
        "vec_id",
        F.concat_ws(
            ",", *[F.col(f"pq_{s}").cast("string") for s in range(8)]
        ).alias("codes_csv"),
    ).orderBy("vec_id")


def _pq_q_chain(s: int) -> str:
    """Query-side distance chain (q.embedding vs cw.cv), same form."""
    terms = []
    for j in range(_PQ_SUB_DIM):
        i = s * _PQ_SUB_DIM + j + 1
        x = (
            f"(CAST(q.embedding[{i}] AS DOUBLE) - "
            f"CAST(cw.cv[{i}] AS DOUBLE))"
        )
        terms.append(f"{x} * {x}")
    return " + ".join(terms)


def _pq_adc_oracle() -> str:
    corpus_cases = "\n           ".join(
        f"WHEN {s} THEN {_pq_sq_chain(s)}" for s in range(8)
    )
    query_cases = "\n           ".join(
        f"WHEN {s} THEN {_pq_q_chain(s)}" for s in range(8)
    )
    # Fixed-order sum: one value per subspace (max over the single row),
    # chained left-to-right exactly like the Spark lookup chain.
    chain = "max(CASE WHEN c.s = 0 THEN qd.d END)"
    for s in range(1, 8):
        chain = f"({chain} + max(CASE WHEN c.s = {s} THEN qd.d END))"
    return f"""
WITH cw AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
dists AS (
  SELECT e.vec_id, t.s, cw.k,
         CASE t.s
           {corpus_cases}
         END AS d
  FROM embeddings e
  CROSS JOIN generate_series(0, 7) AS t(s)
  CROSS JOIN cw
),
best AS (
  SELECT vec_id, s, k,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d, k) AS rn
  FROM dists
),
codes AS (SELECT vec_id, s, k FROM best WHERE rn = 1),
qd AS (
  SELECT q.vec_id AS qid, t.s, cw.k,
         CASE t.s
           {query_cases}
         END AS d
  FROM embeddings q
  CROSS JOIN generate_series(0, 7) AS t(s)
  CROSS JOIN cw
  WHERE q.vec_id < 10
),
scored AS (
  SELECT qd.qid, c.vec_id AS cid, {chain} AS ad
  FROM codes c JOIN qd ON qd.s = c.s AND qd.k = c.k
  GROUP BY qd.qid, c.vec_id
),
r AS (
  SELECT qid, cid, ad,
         row_number() OVER (PARTITION BY qid ORDER BY ad, cid) AS rank
  FROM scored
)
SELECT qid, cid, CAST(floor(ad * 1000000) AS BIGINT) AS adist_q, rank
FROM r WHERE rank <= 5 ORDER BY qid, rank
"""


@query("knn_pq_adc", oracle=_pq_adc_oracle())
def knn_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ asymmetric-distance top-5: queries (vec_id < 10) build literal
    lookup tables against the seed-free codebook; the corpus is scanned
    as 8 code columns only. Every distance is replayed exactly by the
    oracle (fixed-order chains, floor-quantized), so even the
    approximate search ranking is value-checked; recall vs brute force
    is asserted in tests/test_similarity.py."""
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook(emb)
    coded = similarity.pq_encode(emb.select("vec_id", "embedding"), cb)
    qrows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 10)
        .select("vec_id", "embedding")
        .collect()
    ]
    return similarity.pq_adc_topk(coded, qrows, cb, k=5)


# --------------------------------------------------------------------------
# SemDeDup semantic dedup (Abbas et al. 2023): cluster the embedding
# space (seed-free IVF centroids — deterministic), cosine near-dup pairs
# WITHIN clusters only (the paper's trick for bounding the pair count),
# connected components → keep the min-id representative per duplicate
# group. Every stage is deterministic, so unlike the LSH dedup tiers the
# whole pipeline — clustering, pair graph, transitive closure — is
# value-checked against a recursive-CTE oracle.
# --------------------------------------------------------------------------


@query(
    "semantic_dedup_semdedup",
    oracle=f"""
WITH RECURSIVE cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
ca AS (
  SELECT vec_id, embedding, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_u DESC, centroid_id) AS pr
  FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           {_cos_u('e.embedding', 'c.cv')} AS cos_u
    FROM embeddings e CROSS JOIN cent c)
),
members AS (SELECT vec_id, embedding, centroid_id AS cluster_id
            FROM ca WHERE pr = 1),
pairs AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM members a JOIN members b
    ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  WHERE round({_cos_u('a.embedding', 'b.embedding')}, 4) >= 0.2
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION ALL
  SELECT id_b, id_a FROM pairs
),
reach(node, label) AS (
  SELECT vec_id, vec_id FROM members
  UNION
  SELECT s.src, r.label FROM sym s JOIN reach r ON s.dst = r.node
)
SELECT m.vec_id, m.cluster_id,
       c.canonical_id, (m.vec_id = c.canonical_id) AS keep
FROM members m
JOIN (SELECT node, min(label) AS canonical_id FROM reach GROUP BY node) c
  ON c.node = m.vec_id
ORDER BY m.vec_id
""",
)
def semantic_dedup_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup over the embeddings corpus: 16 seed-free clusters,
    within-cluster cosine ≥ 0.2 pair graph, min-id canonical per
    component (operators/dedup.py::semantic_dedup)."""
    from ..operators import dedup

    emb = load_table(spark, sf_dir, "embeddings")
    return dedup.semantic_dedup(
        emb, "vec_id", "embedding", n_clusters=16, threshold=0.2
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# Integer-exact Lloyd k-means (operators/similarity.py::
# kmeans_lloyd_quantized): 2 update rounds, k=8, seeds = the 8 smallest
# vec_ids, all arithmetic on 1e-6 fixed-point components — the oracle
# unrolls the identical recurrence (quantize → assign → floor-mean
# update ×2 → final assign), so this ITERATIVE clustering is fully
# value-checked like the PageRank query, not rows-only.
# --------------------------------------------------------------------------

_KM_K = 8
_KM_DIM = 64

_KM_DIST = (
    "CAST(list_sum(list_transform(generate_series(1, {dim}),"
    " i -> (x.xq[i] - c.cq[i]) * (x.xq[i] - c.cq[i]))) AS BIGINT)"
).format(dim=_KM_DIM)


def _km_oracle() -> str:
    assign = """
a{j} AS (
  SELECT vec_id, cid AS cluster_id, d AS dist_q FROM (
    SELECT x.vec_id, c.cid, {dist} AS d,
           row_number() OVER (PARTITION BY x.vec_id
                              ORDER BY {dist}, c.cid) AS rn
    FROM x, c{i} c
  ) WHERE rn = 1
)"""
    update = """
u{j} AS (
  SELECT a.cluster_id AS cid, u.i AS dim,
         CAST(floor(sum(x.xq[u.i]) * 1.0 / count(*)) AS BIGINT) AS v
  FROM a{j} a JOIN x USING (vec_id),
       unnest(generate_series(1, {dim})) AS u(i)
  GROUP BY a.cluster_id, u.i
),
c{jn} AS (
  SELECT c.cid,
         CASE WHEN m.cq IS NULL THEN c.cq ELSE m.cq END AS cq
  FROM c{j} c LEFT JOIN (
    SELECT cid, list(v ORDER BY dim) AS cq FROM u{j} GROUP BY cid
  ) m USING (cid)
)"""
    parts = [
        """
WITH x AS (
  SELECT vec_id,
         list_transform(embedding,
             v -> CAST(floor(CAST(v AS DOUBLE) * 1000000) AS BIGINT)) AS xq
  FROM embeddings
),
c0 AS (
  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid, xq AS cq
  FROM (SELECT vec_id, xq FROM x ORDER BY vec_id LIMIT {k})
)"""
    ]
    for j in range(2):
        parts.append(assign.format(j=j, i=j, dist=_KM_DIST))
        parts.append(update.format(j=j, jn=j + 1, dim=_KM_DIM))
    parts.append(assign.format(j=2, i=2, dist=_KM_DIST))
    body = ",".join(parts)
    return (
        body.format(k=_KM_K)
        + """
SELECT vec_id, cluster_id, dist_q FROM a2 ORDER BY vec_id
"""
    )


@query("kmeans_lloyd_int", oracle=_km_oracle())
def kmeans_lloyd_int(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_lloyd_quantized(
        emb, id_col="vec_id", k=_KM_K, iters=2
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# IVF incremental maintenance (r5 verdict ask #4): the index is built
# and evolved ONLY through ivf_upsert — base load (seq 0), an insert
# batch (seq 1), then an update batch whose replaced embeddings can
# MOVE between inverted lists (seq 2) — and then probed through the
# partition-pruned path. The oracle is a from-scratch DuckDB rebuild of
# the final logical state: a hash match proves two incremental upserts
# land the index in exactly the state a full rebuild would.
#
# Deterministic update rule (both engines can replay it): a vector with
# vec_id % 16 == 0 gets the embedding of vec_id + 1 (its own if there
# is no successor). Centroids = the 16 lowest-id BASE vectors with
# their ORIGINAL embeddings (geometry fixed between rebuilds).
# --------------------------------------------------------------------------


@query(
    "ivf_upsert_probe",
    oracle=f"""
WITH repl AS (
  SELECT e.vec_id,
         CASE WHEN e.vec_id % 16 = 0
              THEN COALESCE(r.embedding, e.embedding)
              ELSE e.embedding END AS embedding
  FROM embeddings e LEFT JOIN embeddings r ON r.vec_id = e.vec_id + 1
),
cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings
        WHERE vec_id % 4 <> 3 ORDER BY vec_id LIMIT 16)
),
ca AS (
  SELECT vec_id, embedding, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_u DESC, centroid_id) AS pr
  FROM (
    SELECT e.vec_id, e.embedding, c.centroid_id,
           {_cos_u('e.embedding', 'c.cv')} AS cos_u
    FROM repl e CROSS JOIN cent c)
),
c_lists AS (SELECT vec_id AS cid, embedding AS cvec, centroid_id
            FROM ca WHERE pr = 1),
q_probes AS (SELECT vec_id AS qid, embedding AS qvec, centroid_id
             FROM ca WHERE vec_id < 10 AND pr <= 2),
scored AS (
  SELECT q.qid, l.cid, round({_cos_u('l.cvec', 'q.qvec')}, 4) AS cosine
  FROM c_lists l JOIN q_probes q USING (centroid_id)),
r AS (
  SELECT qid, cid, cosine,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cosine DESC, cid) AS rank
  FROM scored)
SELECT qid, cid, cosine, rank FROM r WHERE rank <= 5 ORDER BY qid, rank
""",
)
def ivf_upsert_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probe an IVF index after base load + insert batch + list-moving
    update batch, all through ivf_upsert; results must equal a full
    rebuild of the final state (the oracle computes exactly that)."""

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    path = scratch(sf_dir, "ivf_index")

    base = emb.filter(F.col("vec_id") % 4 != 3)
    centroids = similarity.ivf_centroids(
        base, corpus_id="vec_id", vec_col="embedding", n_centroids=16
    )
    similarity.ivf_upsert(
        spark, path, base, centroids, corpus_id="vec_id", seq=0
    )
    batch1 = emb.filter(F.col("vec_id") % 4 == 3)
    similarity.ivf_upsert(
        spark, path, batch1, centroids, corpus_id="vec_id", seq=1
    )

    def replaced(df: DataFrame) -> DataFrame:
        succ = emb.select(
            (F.col("vec_id") - 1).alias("vec_id"),
            F.col("embedding").alias("_succ"),
        )
        return (
            df.join(succ, "vec_id", "left")
            .select(
                "vec_id",
                F.when(
                    F.col("vec_id") % 16 == 0,
                    F.coalesce("_succ", "embedding"),
                )
                .otherwise(F.col("embedding"))
                .alias("embedding"),
            )
        )

    batch2 = replaced(emb.filter(F.col("vec_id") % 16 == 0))
    similarity.ivf_upsert(
        spark, path, batch2, centroids, corpus_id="vec_id", seq=2
    )

    queries = replaced(emb.filter(F.col("vec_id") < 10))
    return similarity.ivf_ann_partitioned(
        spark, path, queries, centroids,
        query_id="vec_id", k=5,
    )


# --------------------------------------------------------------------------
# IVF-PQ combined (the billion-scale ANN layout — FAISS IndexIVFPQ as
# relational ops): probe prunes to nprobe/n_centroids lists AND each
# candidate costs 8 code bytes instead of the vector. Both stages are
# seed-free/deterministic, so the oracle replays list assignment, PQ
# argmin encode, probe selection, and the per-(query, candidate) ADC
# lookup-sum chain exactly.
# --------------------------------------------------------------------------


def _ivfpq_oracle() -> str:
    corpus_cases = "\n           ".join(
        f"WHEN {s} THEN {_pq_sq_chain(s)}" for s in range(8)
    )
    query_cases = "\n           ".join(
        f"WHEN {s} THEN {_pq_q_chain(s)}" for s in range(8)
    )
    chain = "max(CASE WHEN c.s = 0 THEN qd.d END)"
    for s in range(1, 8):
        chain = f"({chain} + max(CASE WHEN c.s = {s} THEN qd.d END))"
    return f"""
WITH cent AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS centroid_id, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
ca AS (
  SELECT vec_id, centroid_id,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY cos_u DESC, centroid_id) AS pr
  FROM (
    SELECT e.vec_id, c.centroid_id,
           {_cos_u('e.embedding', 'c.cv')} AS cos_u
    FROM embeddings e CROSS JOIN cent c)
),
cw AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
dists AS (
  SELECT e.vec_id, t.s, cw.k,
         CASE t.s
           {corpus_cases}
         END AS d
  FROM embeddings e
  CROSS JOIN generate_series(0, 7) AS t(s)
  CROSS JOIN cw
),
best AS (
  SELECT vec_id, s, k,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d, k) AS rn
  FROM dists
),
codes AS (SELECT vec_id, s, k FROM best WHERE rn = 1),
qd AS (
  SELECT q.vec_id AS qid, t.s, cw.k,
         CASE t.s
           {query_cases}
         END AS d
  FROM embeddings q
  CROSS JOIN generate_series(0, 7) AS t(s)
  CROSS JOIN cw
  WHERE q.vec_id < 10
),
scored AS (
  SELECT qd.qid, c.vec_id AS cid, {chain} AS ad
  FROM codes c
  JOIN (SELECT vec_id, centroid_id FROM ca WHERE pr = 1) a
    ON a.vec_id = c.vec_id
  JOIN (SELECT vec_id AS qid, centroid_id FROM ca
        WHERE vec_id < 10 AND pr <= 2) qp
    ON qp.centroid_id = a.centroid_id
  JOIN qd ON qd.qid = qp.qid AND qd.s = c.s AND qd.k = c.k
  GROUP BY qd.qid, c.vec_id
),
r AS (
  SELECT qid, cid, ad,
         row_number() OVER (PARTITION BY qid ORDER BY ad, cid) AS rank
  FROM scored
)
SELECT qid, cid, CAST(floor(ad * 1000000) AS BIGINT) AS adist_q, rank
FROM r WHERE rank <= 5 ORDER BY qid, rank
"""


@query("knn_ivfpq_adc", oracle=_ivfpq_oracle())
def knn_ivfpq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ADC top-5: queries (vec_id < 10) probe their 2 nearest of
    16 inverted lists and rank ONLY those lists' members by 8-lookup ADC
    sums. Recall vs brute force asserted in tests/test_similarity.py;
    every surviving distance and rank is value-checked by the oracle."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.ivfpq_adc_topk(emb, emb.filter(F.col("vec_id") < 10))


# --------------------------------------------------------------------------
# Contrastive hard-negative mining (operators/similarity.py::
# hard_negative_pairs): per anchor, the 3 most-similar non-duplicate
# vectors — candidates blocked on the first 2 PQ codes (Σ block² pair
# cost, the LSH-band/SemDeDup-cluster bounding trick), exact cosine
# rounded to 4 digits before both the band filter and the ranking so
# threshold membership and tie order match the oracle bit-for-bit.
# --------------------------------------------------------------------------


def _hard_neg_oracle() -> str:
    cases = "\n           ".join(
        f"WHEN {s} THEN {_pq_sq_chain(s)}" for s in range(2)
    )
    return f"""
WITH cw AS (
  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS k, embedding AS cv
  FROM (SELECT vec_id, embedding FROM embeddings ORDER BY vec_id LIMIT 16)
),
dists AS (
  SELECT e.vec_id, t.s, cw.k,
         CASE t.s
           {cases}
         END AS d
  FROM embeddings e
  CROSS JOIN generate_series(0, 1) AS t(s)
  CROSS JOIN cw
),
best AS (
  SELECT vec_id, s, k,
         row_number() OVER (PARTITION BY vec_id, s ORDER BY d, k) AS rn
  FROM dists
),
codes AS (
  SELECT vec_id,
         max(CASE WHEN s = 0 THEN k END) AS c0,
         max(CASE WHEN s = 1 THEN k END) AS c1
  FROM best WHERE rn = 1 GROUP BY vec_id
),
pairs AS (
  SELECT a.vec_id AS anchor_id, b.vec_id AS negative_id,
         round({_cos_u('ea.embedding', 'eb.embedding')}, 4) AS cosine
  FROM codes a
  JOIN codes b ON a.c0 = b.c0 AND a.c1 = b.c1 AND a.vec_id != b.vec_id
  JOIN embeddings ea ON ea.vec_id = a.vec_id
  JOIN embeddings eb ON eb.vec_id = b.vec_id
),
banded AS (
  SELECT *, row_number() OVER (
           PARTITION BY anchor_id ORDER BY cosine DESC, negative_id) AS rnk
  FROM pairs WHERE cosine >= 0.05 AND cosine < 0.2
)
SELECT anchor_id, negative_id, cosine, rnk
FROM banded WHERE rnk <= 3 ORDER BY anchor_id, rnk
"""


@query("contrastive_hard_negatives", oracle=_hard_neg_oracle())
def contrastive_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    cb = similarity.pq_codebook(emb)
    return similarity.hard_negative_pairs(
        emb, cb, block_subspaces=2, lo=0.05, hi=0.2, per_anchor=3
    ).orderBy("anchor_id", "rnk")


# --------------------------------------------------------------------------
# Int8 scalar quantization (operators/similarity.py::
# quantize_embeddings_int8 — the FAISS SQ8 layout): per-dimension
# affine [min, max] → −128…127 codes, 4× smaller with no training
# step. Per-dim min/max are exact (no accumulation-order hazard), the
# code/reconstruction chains are written in the same association in
# both engines, and the per-vector max |error| is floor-quantized to
# 1e-6 — every code and every error value hash-checked.
# --------------------------------------------------------------------------


def _sq8_oracle() -> str:
    return """
WITH dims AS (
  SELECT t.i AS i,
         min(CAST(e.embedding[t.i] AS DOUBLE)) AS mn,
         max(CAST(e.embedding[t.i] AS DOUBLE)) AS mx
  FROM embeddings e CROSS JOIN generate_series(1, 64) AS t(i)
  GROUP BY t.i
),
arrs AS (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims
),
codes AS (
  SELECT e.vec_id, e.embedding, a.mns, a.mxs,
         list_transform(generate_series(1, 64), i ->
           CASE WHEN a.mxs[i] = a.mns[i] THEN 0
                ELSE CAST(floor((CAST(e.embedding[i] AS DOUBLE) - a.mns[i])
                          * 255.0 / (a.mxs[i] - a.mns[i]) + 0.5) AS BIGINT)
                     - 128
           END) AS c
  FROM embeddings e CROSS JOIN arrs a
),
errs AS (
  SELECT vec_id, c,
         list_max(list_transform(generate_series(1, 64), i ->
           abs(mns[i] + (c[i] + 128) * (mxs[i] - mns[i]) / 255.0
               - CAST(embedding[i] AS DOUBLE)))) AS max_abs_err
  FROM codes
)
SELECT vec_id,
       array_to_string(c, ',') AS codes_csv,
       CAST(floor(max_abs_err * 1000000) AS BIGINT) AS err_q
FROM errs ORDER BY vec_id
"""


@query("embedding_int8_codes", oracle=_sq8_oracle())
def embedding_int8_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.quantize_embeddings_int8(emb)
    return out.select(
        "vec_id",
        F.concat_ws(",", F.transform("codes", lambda c: c.cast("string"))).alias(
            "codes_csv"
        ),
        F.floor(F.col("max_abs_err") * 1000000).cast("long").alias("err_q"),
    ).orderBy("vec_id")


# --------------------------------------------------------------------------
# Two-stage SQ8 retrieval (operators/similarity.py::sq8_rerank_topk —
# the FAISS "SQ8 with refine" shape): stage 1 scans the int8
# RECONSTRUCTION (1 byte/dim at rest, map-side recon expression) for a
# per-query shortlist of 20; stage 2 broadcast-fetches only those
# |Q|·20 rows' fp32 vectors and re-ranks exactly. The oracle replays
# the affine code/recon chain (same association as the SQ8 codes
# oracle) and both ranking stages. Both stages' cosines are computed on
# the round-4 grid with cid tie-breaks, so the shortlist membership and
# the final ranks are engine-deterministic.
# --------------------------------------------------------------------------


@query(
    "knn_sq8_rerank",
    oracle=f"""
WITH dims AS (
  SELECT t.i AS i,
         min(CAST(e.embedding[t.i] AS DOUBLE)) AS mn,
         max(CAST(e.embedding[t.i] AS DOUBLE)) AS mx
  FROM embeddings e CROSS JOIN generate_series(1, 64) AS t(i)
  GROUP BY t.i
),
arrs AS (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims
),
recon AS (
  SELECT e.vec_id AS cid,
         list_transform(generate_series(1, 64), i ->
           a.mns[i]
           + ((CASE WHEN a.mxs[i] = a.mns[i] THEN 0
               ELSE CAST(floor((CAST(e.embedding[i] AS DOUBLE) - a.mns[i])
                         * 255.0 / (a.mxs[i] - a.mns[i]) + 0.5) AS BIGINT)
                    - 128 END) + 128)
             * (a.mxs[i] - a.mns[i]) / 255.0) AS rv
  FROM embeddings e CROSS JOIN arrs a
),
qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
approx AS (
  SELECT qid, cid, arnk FROM (
    SELECT q.qid, r.cid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round({_cos_u('r.rv', 'q.qv')}, 4) DESC, r.cid ASC
           ) AS arnk
    FROM recon r CROSS JOIN qs q)
  WHERE arnk <= 20
),
rer AS (
  SELECT a.qid, a.cid, a.arnk,
         round({_cos_u('c.embedding', 'q.qv')}, 4) AS cosine
  FROM approx a
  JOIN embeddings c ON c.vec_id = a.cid
  JOIN qs q ON q.qid = a.qid
)
SELECT qid, cid, cosine, rank, arnk FROM (
  SELECT qid, cid, cosine, arnk,
         row_number() OVER (
           PARTITION BY qid ORDER BY cosine DESC, cid ASC) AS rank
  FROM rer)
WHERE rank <= 5
ORDER BY qid, rank
""",
)
def knn_sq8_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return similarity.sq8_rerank_topk(
        emb, queries, shortlist=20, k=5
    )


# --------------------------------------------------------------------------
# SQ8-rerank recall evaluation: recall@5 of the two-stage retrieval
# against the exact brute-force top-5, per query — the index-trust
# check before swapping the fp32 scan out for the SQ8 store (recall <1
# means the true top-5 fell outside the stage-1 shortlist). Both sides
# are deterministic, so even the EVALUATION is value-checked. Scale
# shape: the exact side runs over a sampled query panel only, never the
# full query log (same convention as ann_recall_lsh_vs_exact).
# --------------------------------------------------------------------------


@query(
    "knn_recall_sq8_vs_exact",
    oracle=f"""
WITH dims AS (
  SELECT t.i AS i,
         min(CAST(e.embedding[t.i] AS DOUBLE)) AS mn,
         max(CAST(e.embedding[t.i] AS DOUBLE)) AS mx
  FROM embeddings e CROSS JOIN generate_series(1, 64) AS t(i)
  GROUP BY t.i
),
arrs AS (
  SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs FROM dims
),
recon AS (
  SELECT e.vec_id AS cid,
         list_transform(generate_series(1, 64), i ->
           a.mns[i]
           + ((CASE WHEN a.mxs[i] = a.mns[i] THEN 0
               ELSE CAST(floor((CAST(e.embedding[i] AS DOUBLE) - a.mns[i])
                         * 255.0 / (a.mxs[i] - a.mns[i]) + 0.5) AS BIGINT)
                    - 128 END) + 128)
             * (a.mxs[i] - a.mns[i]) / 255.0) AS rv
  FROM embeddings e CROSS JOIN arrs a
),
qs AS (SELECT vec_id AS qid, embedding AS qv FROM embeddings WHERE vec_id < 10),
approx AS (
  SELECT qid, cid FROM (
    SELECT q.qid, r.cid,
           row_number() OVER (
             PARTITION BY q.qid
             ORDER BY round({_cos_u('r.rv', 'q.qv')}, 4) DESC, r.cid ASC
           ) AS arnk
    FROM recon r CROSS JOIN qs q)
  WHERE arnk <= 20
),
sq8 AS (
  SELECT qid, cid FROM (
    SELECT a.qid, a.cid,
           row_number() OVER (
             PARTITION BY a.qid
             ORDER BY round({_cos_u('c.embedding', 'q.qv')}, 4) DESC,
                      a.cid ASC) AS rank
    FROM approx a
    JOIN embeddings c ON c.vec_id = a.cid
    JOIN qs q ON q.qid = a.qid)
  WHERE rank <= 5
),
exact AS (
  SELECT qid, cid FROM (
    SELECT a.vec_id AS qid, b.vec_id AS cid,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round({_cos_u('b.embedding', 'a.embedding')}, 4) DESC,
                      b.vec_id ASC) AS rank
    FROM embeddings a, embeddings b
    WHERE a.vec_id < 10
  ) WHERE rank <= 5
)
SELECT e.qid, CAST(count(s.cid) AS BIGINT) AS hits,
       round(count(s.cid) / 5.0, 2) AS recall_at_5
FROM exact e
LEFT JOIN sq8 s ON e.qid = s.qid AND e.cid = s.cid
GROUP BY e.qid ORDER BY e.qid
""",
)
def knn_recall_sq8_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    sq8 = similarity.sq8_rerank_topk(emb, queries, shortlist=20, k=5).select(
        "qid", "cid", F.lit(1).alias("hit")
    )
    exact = similarity.topk_cosine(
        emb, queries, corpus_id="vec_id", query_id="vec_id", k=5
    ).select("qid", "cid")
    return (
        exact.join(sq8, ["qid", "cid"], "left")
        .groupBy("qid")
        .agg(
            F.count("hit").alias("hits"),
            F.round(F.count("hit") / 5.0, 2).alias("recall_at_5"),
        )
        .orderBy("qid")
    )


# --------------------------------------------------------------------------
# Matryoshka (MRL) truncated retrieval: top-k cosine over only the
# FIRST 16 of 64 dims — the speed/recall dial MRL-trained embeddings
# expose (prefix dims carry the coarse signal). Cosine renormalizes per
# vector, so truncation needs no re-embedding: slice + the same exact
# top-k machinery, 4x less arithmetic and 4x less shuffle width when
# the sliced projection reaches the scan. Oracle slices the same prefix
# in SQL.
# --------------------------------------------------------------------------


@query(
    "knn_matryoshka_trunc16",
    oracle="""
SELECT qid, cid, cosine, rank FROM (
  SELECT q.vec_id AS qid, c.vec_id AS cid,
         round(
           list_sum(list_transform(
             list_zip(q.embedding[1:16], c.embedding[1:16]),
             x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
           / (sqrt(list_sum(list_transform(q.embedding[1:16],
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
            * sqrt(list_sum(list_transform(c.embedding[1:16],
                    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
         4) AS cosine,
         row_number() OVER (
           PARTITION BY q.vec_id
           ORDER BY round(
             list_sum(list_transform(
               list_zip(q.embedding[1:16], c.embedding[1:16]),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
             / (sqrt(list_sum(list_transform(q.embedding[1:16],
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
              * sqrt(list_sum(list_transform(c.embedding[1:16],
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
           4) DESC, c.vec_id ASC) AS rank
  FROM embeddings q, embeddings c
  WHERE q.vec_id < 10
) WHERE rank <= 5
ORDER BY qid, rank
""",
)
def knn_matryoshka_trunc16(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    trunc = emb.select(
        "vec_id", F.slice("embedding", 1, 16).alias("embedding")
    )
    queries = trunc.filter(F.col("vec_id") < 10)
    return similarity.topk_cosine(
        trunc, queries, corpus_id="vec_id", query_id="vec_id", k=5
    )


# --------------------------------------------------------------------------
# ANN recall evaluation harness: recall@5 of the portable LSH against
# the exact brute-force top-5, per query — the operational check every
# ANN deployment runs before trusting an index (and after every index
# rebuild). Because the portable sketch is bit-reproducible, even the
# EVALUATION is value-checked: the oracle recomputes both sides and the
# same per-query recall. Scale shape: the exact side is the expensive
# leg — run it over a sampled query panel (here: the vec_id<10 panel),
# never the full query log.
# --------------------------------------------------------------------------


@query(
    "ann_recall_lsh_vs_exact",
    oracle=f"""
WITH eq AS (
  SELECT vec_id, embedding,
         list_transform(
           embedding,
           x -> CAST(floor(CAST(x AS DOUBLE) * {similarity.EMB_QUANT}
                           + 0.5) AS BIGINT)) AS ev
  FROM embeddings
),
sk AS (SELECT vec_id, embedding, CAST({_RP_SKETCH_SQL} AS BIGINT) AS bucket FROM eq),
qp AS (
  SELECT vec_id AS qid, embedding AS qemb, {_LSH_PROBES_SQL} AS probes
  FROM sk WHERE vec_id < 10
),
lsh AS (
  SELECT qid, cid FROM (
    SELECT qp.qid, c.vec_id AS cid,
           row_number() OVER (
             PARTITION BY qp.qid
             ORDER BY round({_cos_u('qp.qemb', 'c.embedding')}, 4) DESC,
                      c.vec_id ASC) AS rank
    FROM qp JOIN sk c ON list_contains(qp.probes, c.bucket)
  ) WHERE rank <= 5
),
exact AS (
  SELECT qid, cid FROM (
    SELECT a.vec_id AS qid, b.vec_id AS cid,
           row_number() OVER (
             PARTITION BY a.vec_id
             ORDER BY round({_cos_u('a.embedding', 'b.embedding')}, 4) DESC,
                      b.vec_id ASC) AS rank
    FROM embeddings a, embeddings b
    WHERE a.vec_id < 10
  ) WHERE rank <= 5
)
SELECT e.qid, CAST(count(l.cid) AS BIGINT) AS hits,
       round(count(l.cid) / 5.0, 2) AS recall_at_5
FROM exact e
LEFT JOIN lsh l ON e.qid = l.qid AND e.cid = l.cid
GROUP BY e.qid ORDER BY e.qid
""",
)
def ann_recall_lsh_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = similarity.topk_cosine(
        emb, queries, corpus_id="vec_id", query_id="vec_id", k=5
    ).select("qid", "cid")
    ann = similarity.rp_lsh_ann(
        emb, queries, corpus_id="vec_id", query_id="vec_id", k=5
    ).select("qid", "cid", F.lit(1).alias("hit"))
    return (
        exact.join(ann, on=["qid", "cid"], how="left")
        .groupBy("qid")
        .agg(F.count("hit").alias("hits"))
        .select("qid", "hits", F.round(F.col("hits") / 5.0, 2).alias("recall_at_5"))
        .orderBy("qid")
    )


# --------------------------------------------------------------------------
# Filtered ANN (round 9): top-k under a metadata predicate — the
# vector-DB workhorse ("nearest products IN STOCK", "nearest docs in
# license class X"). The predicate is applied BEFORE any distance
# arithmetic: it lands in the parquet scan as a pushed filter, so at
# 100 TB the distance pass touches only the qualifying fraction — the
# post-filter formulation (top-k first, filter after) both over-reads
# and under-returns (< k survivors). Queries broadcast; the filtered
# corpus never shuffles.
# --------------------------------------------------------------------------


@query(
    "knn_filtered_label",
    oracle=f"""
SELECT qid, cid, cosine, rank FROM (
  SELECT a.vec_id AS qid, b.vec_id AS cid,
         {{cos}} AS cosine,
         row_number() OVER (
           PARTITION BY a.vec_id
           ORDER BY {{cos}} DESC, b.vec_id) AS rank
  FROM embeddings a, embeddings b
  WHERE a.vec_id < 5 AND b.label = 1
) WHERE rank <= 5
ORDER BY qid, rank
""".format(cos=_COS_SQL),
)
def knn_filtered_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact top-5 cosine neighbors with label = 1 for query vectors
    vec_id < 5. The label predicate is pushed into the corpus scan
    (PushedFilters), never applied post-ranking."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.topk_cosine(
        emb.filter(F.col("label") == 1),
        emb.filter(F.col("vec_id") < 5),
        corpus_id="vec_id",
        query_id="vec_id",
        k=5,
    )


# --------------------------------------------------------------------------
# Cross-modal retrieval (round 9): decoded IMAGE features querying the
# text-embedding index — the CLIP-style image→text lookup shape, with
# the real raster decoder standing in for the vision tower (the
# container has no model runtimes; the Spark-side plumbing — decode →
# feature vector → broadcast query → top-k over the corpus — is the
# real production shape). Query images are filtered BEFORE decode, so
# the mapInPandas stage touches exactly the query set; the embedding
# corpus never shuffles (queries broadcast into a
# TakeOrderedAndProject-per-query ranking).
# --------------------------------------------------------------------------


@query(
    "crossmodal_image_to_text_topk",
    oracle="""
WITH raw AS (
  SELECT doc_id,
         rpad(substr(lower(hex(encode(text))),1,1536),1536,'0') AS hx
  FROM documents WHERE doc_id < 5
),
b AS (
  SELECT doc_id,
    list_transform(range(0,768), i ->
      (ascii(substr(hx, CAST(2*i+1 AS INT), 1))
       - CASE WHEN ascii(substr(hx, CAST(2*i+1 AS INT), 1)) >= 97
              THEN 87 ELSE 48 END) * 16
      + (ascii(substr(hx, CAST(2*i+2 AS INT), 1))
       - CASE WHEN ascii(substr(hx, CAST(2*i+2 AS INT), 1)) >= 97
              THEN 87 ELSE 48 END)
    ) AS bytes
  FROM raw
),
f AS (
  SELECT doc_id,
    list_transform(range(0,64), c ->
      CAST(list_sum(list_transform(range(0,12), m ->
        bytes[3*(16*(2*(c//8) + m//6) + 2*(c%8) + (m%6)//3) + (m%3) + 1]
      )) * 1000 // 12 AS DOUBLE)
    ) AS fd
  FROM b
)
SELECT qid, cid, cosine, rank FROM (
  SELECT a.doc_id AS qid, e.vec_id AS cid,
    round(
      list_sum(list_transform(list_zip(e.embedding, a.fd),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
       * sqrt(list_sum(list_transform(a.fd, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
    4) AS cosine,
    row_number() OVER (
      PARTITION BY a.doc_id
      ORDER BY round(
        list_sum(list_transform(list_zip(e.embedding, a.fd),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
        / (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
         * sqrt(list_sum(list_transform(a.fd, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
      4) DESC, e.vec_id) AS rank
  FROM f a, embeddings e
) WHERE rank <= 5
ORDER BY qid, rank
""",
)
def crossmodal_image_to_text_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 text embeddings per query image (doc_id < 5), cosine over
    the REAL decoded 64-cell feature grid cast to double. Decode runs
    on the filtered query set only."""
    from ..operators.multimodal import attach_metadata, decode_features

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 5)
    header = F.encode(F.lit("P6\n16 16\n255\n"), "UTF-8")
    raster = F.rpad(
        F.substring(F.encode(F.col("text"), "UTF-8"), 1, 768),
        768,
        F.lit(b"\x00"),
    )
    m = attach_metadata(
        d.select(
            F.col("doc_id").alias("media_id"),
            F.concat(header, raster).alias("payload"),
        ),
        media_type="image",
    )
    q = decode_features(m).select(
        "media_id",
        F.expr("transform(features, v -> CAST(v AS DOUBLE))").alias("embedding"),
    )
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.topk_cosine(
        emb, q, corpus_id="vec_id", query_id="media_id", k=5
    )
