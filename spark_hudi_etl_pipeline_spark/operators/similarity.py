"""Similarity search over embedding columns (north-star extension).

Two tiers, per the build plan (SURVEY.md §7 Phase 4):

- :func:`topk_cosine` — exact brute-force top-k: broadcast the query
  set against the corpus, per-partition top-k via window/TakeOrdered.
  The correctness baseline, and genuinely the right plan whenever
  |queries| is small: one corpus scan, no shuffle of the corpus, cost
  |corpus|·|queries|·d map-side.
- :func:`rp_lsh_ann` — approximate NN with seeded integer (Rademacher)
  random-hyperplane sign LSH: corpus is bucketed by sketch bits; queries
  probe their own bucket + multi-probe neighbors at hamming distance 1,
  exact cosine re-rank inside the probed buckets. At 100 TB the bucketed
  corpus is written partitioned by sketch prefix, so a probe prunes to a
  few partitions — an IVF-style index expressed as plain partition
  pruning.

Vector math is Catalyst higher-order functions (functions/vectors.py) —
JVM-side; the one Python UDF is the LSH sketch's integer GEMM
(:func:`rp_sketch_portable_arrow`).
"""

from __future__ import annotations

import math
import random

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors


def topk_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str,
    query_id: str,
    k: int = 10,
) -> DataFrame:
    """Exact top-k by cosine for each query vector.

    Output: (query_id, corpus_id, cosine, rank) — rank 1..k, ties broken
    by corpus id for determinism.
    """
    q = F.broadcast(
        queries.select(F.col(query_id).alias("qid"), F.col("embedding").alias("qv"))
    )
    c = corpus.select(F.col(corpus_id).alias("cid"), F.col("embedding").alias("cv"))
    scored = c.crossJoin(q).select(
        "qid", "cid", F.round(vectors.cosine("cv", "qv"), 4).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def radius_cosine(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str,
    query_id: str,
) -> DataFrame:
    """Range search: every (query, corpus) pair whose cosine reaches
    0.35 (applied to the round-4 similarity, so the cut is the
    same grid value both engines hash). Queries broadcast, the corpus
    never shuffles, and — unlike top-k — there is no per-query window:
    scan → broadcast-nested-loop → filter is map-only on the corpus
    side; the one exchange in the plan is the final presentation sort
    over the (threshold-bounded) RESULT, not the corpus. Output size is
    bounded by the threshold, not k."""
    q = F.broadcast(
        queries.select(F.col(query_id).alias("qid"), F.col("embedding").alias("qv"))
    )
    c = corpus.select(F.col(corpus_id).alias("cid"), F.col("embedding").alias("cv"))
    return (
        c.crossJoin(q)
        .select("qid", "cid", F.round(vectors.cosine("cv", "qv"), 4).alias("cosine"))
        .filter(F.col("cosine") >= 0.35)
        .orderBy("qid", "cid")
    )


#: MMR shape: ``MMR_K`` picks per query from the ``MMR_CANDIDATES``
#: most relevant corpus vectors.
MMR_K = 3
MMR_CANDIDATES = 8


def mmr_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str,
    query_id: str,
) -> DataFrame:
    """Maximal-Marginal-Relevance re-ranked top-``MMR_K``: greedily pick,
    per query, the candidate maximizing ``0.7·rel − 0.3·max(sim to
    already picked)`` from the ``MMR_CANDIDATES`` relevance short-list
    (self-matches excluded). 0.3 is written out rather than computed as
    ``1 − 0.7`` so the double literal is bit-identical to the oracle's.

    The greedy recursion is unrolled into ``MMR_K`` relational steps
    (window argmax → broadcast the pick → score the survivors), so there
    is no fold and no per-row Python; every step's frame is bounded by
    |queries|·``MMR_CANDIDATES``. The expensive part — the short-list —
    is the same broadcast-queries scan as plain top-k, checkpointed once
    and consumed by all steps. All cosines round to 4 decimals BEFORE
    any MMR arithmetic, and argmax ties break on the corpus id, so the
    selection is deterministic and engine-portable.

    Output: (qid, mmr_rank 1..MMR_K, cid, rel)."""
    q = F.broadcast(
        queries.select(F.col(query_id).alias("qid"), F.col("embedding").alias("qv"))
    )
    c = corpus.select(F.col(corpus_id).alias("cid"), F.col("embedding").alias("cv"))
    scored = (
        c.crossJoin(q)
        .filter(F.col("cid") != F.col("qid"))
        .select(
            "qid", "cid", "cv", F.round(vectors.cosine("cv", "qv"), 4).alias("rel")
        )
    )
    w_rel = Window.partitionBy("qid").orderBy(F.desc("rel"), F.asc("cid"))
    cand = (
        scored.withColumn("rnk", F.row_number().over(w_rel))
        .filter(F.col("rnk") <= MMR_CANDIDATES)
        .drop("rnk")
        .localCheckpoint(eager=True)
    )
    picks: list[DataFrame] = []
    cur = cand
    sim_cols: list[str] = []
    for step in range(1, MMR_K + 1):
        if not sim_cols:
            score = F.col("rel")
        else:
            worst = (
                F.greatest(*[F.col(s) for s in sim_cols])
                if len(sim_cols) > 1
                else F.col(sim_cols[0])
            )
            score = F.lit(0.7) * F.col("rel") - F.lit(0.3) * worst
        w_s = Window.partitionBy("qid").orderBy(score.desc(), F.asc("cid"))
        pick = (
            cur.withColumn("rn", F.row_number().over(w_s))
            .filter(F.col("rn") == 1)
            .select(
                "qid",
                F.col("cid").alias("pick_cid"),
                F.col("cv").alias("pick_v"),
                F.col("rel").alias("pick_rel"),
            )
        )
        picks.append(
            pick.select(
                "qid",
                F.lit(step).cast("long").alias("mmr_rank"),
                F.col("pick_cid").alias("cid"),
                F.col("pick_rel").alias("rel"),
            )
        )
        if step < MMR_K:
            sim = f"sim{step}"
            cur = (
                cur.join(F.broadcast(pick.drop("pick_rel")), "qid")
                .filter(F.col("cid") != F.col("pick_cid"))
                .withColumn(sim, F.round(vectors.cosine("cv", "pick_v"), 4))
                .drop("pick_cid", "pick_v")
            )
            sim_cols.append(sim)
    out = picks[0]
    for p in picks[1:]:
        out = out.unionByName(p)
    return out.orderBy("qid", "mmr_rank")


# --------------------------------------------------------------------------
# Random-hyperplane LSH ANN
# --------------------------------------------------------------------------


# -- SQL-string literal renderers ------------------------------------------
# Building literal arrays as F.array(*[F.lit(v), ...]) costs one py4j
# round-trip PER ELEMENT (~2.5 ms each): the 8×16×8 PQ codebook alone was
# ~2.5 s of driver-side plan construction per query — the dominant cost of
# every PQ-bearing bench query (measured r13: knn_ivfpq_adc build 5-6 s vs
# 0.8 s execution). Rendering the same literals into ONE SQL string parsed
# JVM-side by F.expr() is ~0 ms and produces the identical expression tree:
# repr() emits the shortest round-trip decimal and the SQL parser's
# string→double conversion is correctly rounded, so every literal is
# bit-identical to the F.lit form (verified: 56-value random probe,
# struct-packed comparison).


def _dstr(v: float) -> str:
    """Shortest-round-trip SQL double literal (bit-exact vs F.lit).

    Non-finite values would render as ``infD``/``nanD``, which the SQL
    parser rejects — fail fast with a clear error instead (codebooks,
    ADC tables and SQ8 stats are all derived from finite input data, so
    a non-finite literal here is always an upstream bug)."""
    f = float(v)
    if not math.isfinite(f):
        raise ValueError(f"non-finite literal cannot be rendered to SQL: {f!r}")
    return f"{f!r}D"


def _sql_arr_d(vals) -> str:
    """array<double> literal."""
    return "array(" + ",".join(_dstr(v) for v in vals) + ")"


def _sql_arr_arr_d(rows) -> str:
    """array<array<double>> literal."""
    return "array(" + ",".join(_sql_arr_d(r) for r in rows) + ")"


def _sql_arr_l(vals) -> str:
    """array<bigint> literal."""
    return "array(" + ",".join(f"{int(v)}L" for v in vals) + ")"


#: Fixed-point quantization scale for the PORTABLE sign-LSH sketch:
#: embeddings quantize to integers via half-up rounding before the dot
#: product, so sign decisions are integer-exact — identical in Catalyst,
#: numpy, and a DuckDB oracle, with no summation-order float hazard at
#: the sign boundary. 64 dims × 10^6 × |e|≤O(10) stays far below 2^63.
EMB_QUANT = 1_000_000

#: Sketch shape of :func:`rp_lsh_ann`: the 64-dim embeddings hash to
#: ``RP_BITS``-bit buckets (2^RP_BITS of them).
RP_DIM = 64
RP_BITS = 8


def _rademacher_planes(dim: int, n_bits: int) -> list[list[int]]:
    """Seeded (101) ±1 hyperplanes. For sign-LSH, Rademacher entries are
    a standard drop-in for Gaussians (Achlioptas-style sparse/signed
    projections preserve the collision-probability ∝ angle property);
    integer entries are what make the sketch portable."""
    rng = random.Random(101)
    return [
        [1 if rng.random() < 0.5 else -1 for _ in range(dim)]
        for _ in range(n_bits)
    ]


def rp_sketch_portable_arrow(dim: int, n_bits: int = 8):
    """PORTABLE sign-LSH sketch UDF: an int in [0, 2^n_bits) whose bit i
    is (q(v) · s_i > 0) for seeded Rademacher plane s_i over the
    half-up quantized embedding q(v) = floor(v·EMB_QUANT + 0.5). One
    integer GEMM per batch — no float sign-boundary drift, so bucket
    assignments are bit-reproducible in DuckDB (exact oracle for
    knn_lsh_ann in plans/similarity_plans.py). The Catalyst-expression
    form is kept as the reference oracle in ``tests/test_similarity.py``
    (``_rp_sketch_portable``), which asserts bit-identical sketches."""
    import numpy as np
    import pandas as pd

    planes = np.array(_rademacher_planes(dim, n_bits), dtype=np.int64)
    weights = (1 << np.arange(n_bits)).astype(np.int64)

    # No type hints: this module uses `from __future__ import annotations`,
    # which stringifies them; pyspark can't resolve the local `pd` name at
    # decoration time. Hint-free functions take the scalar eval path.
    def sketch(vecs):
        m = np.array(vecs.tolist(), dtype=np.float64)
        q = np.floor(m * EMB_QUANT + 0.5).astype(np.int64)
        bits = (q @ planes.T) > 0
        return pd.Series((bits * weights).sum(axis=1).astype(np.int64))

    return F.pandas_udf(sketch, "long")


def rp_lsh_ann(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str,
    query_id: str,
    k: int = 10,
) -> DataFrame:
    """Approximate top-k: compare each query only against corpus vectors
    whose LSH sketch matches one of the query's probe sketches (own
    bucket + all hamming-1 neighbors — multi-probe).

    Plan shape: corpus sketching is map-only; the join key is the sketch
    (2^RP_BITS distinct values), so the probe is a bucket join touching
    ~(1+RP_BITS)/2^RP_BITS of the corpus per query instead of all of it;
    exact cosine + window re-rank inside the candidates.

    Both sides sketch with the integer Rademacher family
    (:func:`rp_sketch_portable_arrow`), so bucket assignments are
    bit-reproducible in DuckDB — which makes knn_lsh_ann an
    exact-oracle query rather than rows-only.
    """
    sketch_udf = rp_sketch_portable_arrow(RP_DIM, RP_BITS)
    c = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col("embedding").alias("cv"),
        sketch_udf(F.col("embedding")).alias("bucket"),
    )
    q = queries.select(
        F.col(query_id).alias("qid"),
        F.col("embedding").alias("qv"),
        sketch_udf(F.col("embedding")).alias("qsketch"),
    )
    probes = F.array(
        F.col("qsketch"),
        *[F.col("qsketch").bitwiseXOR(F.lit(1 << i)) for i in range(RP_BITS)],
    )
    q_probe = F.broadcast(
        q.select("qid", "qv", F.explode(probes).alias("bucket"))
    )
    scored = c.join(q_probe, on="bucket").select(
        "qid", "cid", F.round(vectors.cosine("cv", "qv"), 4).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


# --------------------------------------------------------------------------
# IVF (inverted-file) ANN
# --------------------------------------------------------------------------

#: IVF shape of the written-index and IVF-PQ paths: ``IVF_LISTS``
#: inverted lists, of which each query probes its ``IVF_NPROBE`` nearest.
IVF_LISTS = 16
IVF_NPROBE = 2


def ivf_assign(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    out_vec: str,
    nprobe: int = 1,
) -> DataFrame:
    """Assign each vector to its ``nprobe`` nearest centroids by cosine.

    Map-side: the centroid table (n_centroids rows) broadcasts, so
    assignment is a projection over the corpus — no shuffle of the data
    side. Output: (id, vec, centroid_id, probe_rank).

    The ``nprobe=1`` path (cluster assignment — what SemDeDup's auto-k
    runs with k ∝ corpus) is argmax-via-partial-agg, NOT a window: the
    n·k scored rows collapse map-side to one struct per vector before
    the shuffle, so the exchange carries n rows instead of n·k.
    Measured at the 64× curation probe this is the difference between
    the assignment step scaling with n·k (quadratic under k ∝ n) and
    with n. Tie-breaking (equal cosine → lowest centroid_id) matches
    the window ordering bit-for-bit — asserted by test_similarity.
    """
    c = F.broadcast(
        centroids.select(
            F.col("centroid_id"), F.col("centroid_vec")
        )
    )
    scored = df.select(
        F.col(id_col), F.col(vec_col).alias(out_vec)
    ).crossJoin(c).select(
        id_col,
        out_vec,
        "centroid_id",
        vectors.cosine(out_vec, "centroid_vec").alias("__csim"),
    )
    if nprobe == 1:
        best = scored.groupBy(id_col).agg(
            F.max(
                F.struct(
                    F.col("__csim").alias("c"),
                    (-F.col("centroid_id")).alias("nc"),
                    F.col(out_vec).alias("v"),
                )
            ).alias("b")
        )
        return best.select(
            id_col,
            F.col("b.v").alias(out_vec),
            (-F.col("b.nc")).alias("centroid_id"),
            F.lit(1).alias("probe_rank"),
        )
    w = Window.partitionBy(id_col).orderBy(F.desc("__csim"), F.asc("centroid_id"))
    return (
        scored.withColumn("probe_rank", F.row_number().over(w))
        .filter(F.col("probe_rank") <= nprobe)
        .drop("__csim")
    )


def ivf_assign_two_level(
    df: DataFrame,
    centroids: DataFrame,
    *,
    id_col: str,
    vec_col: str,
    out_vec: str,
) -> DataFrame:
    """Hierarchical nearest-centroid assignment — the coarse-quantizer
    trick (FAISS's IVF-on-IVF / SemDeDup-at-scale shape) that breaks the
    n·k assignment wall when k ∝ corpus makes flat assignment quadratic
    (measured: the 64× curation probe's superlinear tail is exactly this
    term). Two stages, each a broadcast crossJoin + partial-agg argmax:

    1. the √k lowest-id centroids act as COARSE representatives; every
       fine centroid maps to its nearest coarse rep (k·√k work, done on
       the k-row centroid relation);
    2. each corpus vector finds its nearest coarse rep (n·√k), then the
       nearest FINE centroid within that rep's group (n·E[group] ≈
       n·√k via the broadcast group map).

    Total ≈ n·2√k cosine evaluations instead of n·k — at k = 100k
    that is ~160× less compute. APPROXIMATE by design: a vector whose
    true nearest centroid lives in a different coarse group lands in a
    neighboring cluster instead (same tradeoff as any IVF probe; for
    SemDeDup this moves borderline vectors between clusters, which the
    paper's own k-means already does freely between runs). Output
    matches :func:`ivf_assign` nprobe=1: (id, vec, centroid_id,
    probe_rank).
    """
    cents = centroids.select("centroid_id", "centroid_vec")
    n_cents = cents.count()
    n_coarse = max(1, int(n_cents**0.5))
    coarse = F.broadcast(
        cents.orderBy("centroid_id")
        .limit(n_coarse)
        .select(
            F.col("centroid_id").alias("coarse_id"),
            F.col("centroid_vec").alias("coarse_vec"),
        )
    )

    def nearest(rel: DataFrame, rid: str, rvec: str, side: DataFrame,
                sid: str, svec: str, out: str) -> DataFrame:
        scored = rel.crossJoin(side).select(
            rid,
            rvec,
            F.col(sid),
            vectors.cosine(rvec, svec).alias("__c"),
        )
        best = scored.groupBy(rid).agg(
            F.max(
                F.struct(
                    F.col("__c").alias("c"),
                    (-F.col(sid)).alias("nc"),
                    F.col(rvec).alias("v"),
                )
            ).alias("b")
        )
        return best.select(
            rid,
            F.col("b.v").alias(rvec),
            (-F.col("b.nc")).alias(out),
        )

    # Fine-centroid → coarse-group map (k rows, broadcast downstream).
    fine_map = nearest(
        cents.select(
            F.col("centroid_id").alias("__fid"),
            F.col("centroid_vec").alias("__fvec"),
        ),
        "__fid", "__fvec", coarse, "coarse_id", "coarse_vec", "coarse_id",
    ).select("__fid", "__fvec", "coarse_id")

    corpus = df.select(F.col(id_col), F.col(vec_col).alias(out_vec))
    stage1 = nearest(
        corpus, id_col, out_vec, coarse, "coarse_id", "coarse_vec",
        "coarse_id",
    )
    # Stage 2: candidates = the vector's coarse group's fine centroids.
    grouped = stage1.join(F.broadcast(fine_map), "coarse_id").select(
        id_col,
        out_vec,
        "__fid",
        vectors.cosine(out_vec, "__fvec").alias("__c"),
    )
    best = grouped.groupBy(id_col).agg(
        F.max(
            F.struct(
                F.col("__c").alias("c"),
                (-F.col("__fid")).alias("nc"),
                F.col(out_vec).alias("v"),
            )
        ).alias("b")
    )
    return best.select(
        id_col,
        F.col("b.v").alias(out_vec),
        (-F.col("b.nc")).alias("centroid_id"),
        F.lit(1).alias("probe_rank"),
    )


def ivf_centroids(
    corpus: DataFrame, *, corpus_id: str, vec_col: str, n_centroids: int
) -> DataFrame:
    """Deterministic, seed-free centroid table: the ``n_centroids``
    lowest-id corpus vectors (a production index would k-means refine
    them — that changes recall, not any plan shape downstream).
    TakeOrderedAndProject (orderBy+limit) picks the seeds without a
    global sort; the single-partition row_number then runs over just
    n_centroids rows, never the corpus. Returned broadcast-hinted."""
    seeds = (
        corpus.select(F.col(corpus_id), F.col(vec_col))
        .orderBy(F.asc(corpus_id))
        .limit(n_centroids)
    )
    return F.broadcast(
        seeds.withColumn(
            "__rn", F.row_number().over(Window.orderBy(F.asc(corpus_id)))
        ).select(
            (F.col("__rn") - 1).alias("centroid_id"),
            F.col(vec_col).alias("centroid_vec"),
        )
    )


def _ivf_score_lists(
    c_lists: DataFrame, queries: DataFrame, centroids: DataFrame,
    *, query_id: str, vec_col: str, nprobe: int, k: int,
) -> DataFrame:
    """Shared IVF tail: probe each query's nprobe lists, exact cosine
    re-rank inside. ``c_lists`` columns: (cid, cv, centroid_id)."""
    q_probes = F.broadcast(
        ivf_assign(
            queries, centroids, id_col=query_id, vec_col=vec_col, out_vec="qv",
            nprobe=nprobe,
        ).select(F.col(query_id).alias("qid"), "qv", "centroid_id")
    )
    scored = c_lists.join(q_probes, on="centroid_id").select(
        "qid", "cid", F.round(vectors.cosine("cv", "qv"), 4).alias("cosine")
    )
    w = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .orderBy("qid", "rank")
    )


def ivf_ann(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    corpus_id: str,
    query_id: str,
    n_centroids: int = 16,
    nprobe: int = 2,
    k: int = 10,
) -> DataFrame:
    """IVF-flat approximate top-k: partition the corpus into
    ``n_centroids`` inverted lists (nearest-centroid assignment), probe
    each query's ``nprobe`` nearest lists, exact cosine re-rank inside.

    At 100 TB the corpus is written partitioned by ``centroid_id``
    (:func:`ivf_upsert`), so a probe is partition pruning: it
    reads nprobe/n_centroids of the data (the same IVF story as FAISS,
    expressed as a layout + bucket join) — see
    :func:`ivf_ann_partitioned` for that path, which this in-memory form
    must match row-for-row (asserted in tests/test_similarity.py).
    """
    centroids = ivf_centroids(
        corpus, corpus_id=corpus_id, vec_col="embedding", n_centroids=n_centroids
    )
    c_lists = ivf_assign(
        corpus, centroids, id_col=corpus_id, vec_col="embedding", out_vec="cv", nprobe=1
    ).select(F.col(corpus_id).alias("cid"), "cv", "centroid_id")
    return _ivf_score_lists(
        c_lists, queries, centroids,
        query_id=query_id, vec_col="embedding", nprobe=nprobe, k=k,
    )


def ivf_ann_partitioned(
    spark,
    path: str,
    queries: DataFrame,
    centroids: DataFrame,
    *,
    query_id: str,
    k: int = 10,
) -> DataFrame:
    """The scale path of :func:`ivf_ann`: probe a corpus materialized by
    :func:`ivf_upsert`. The probed list ids (≤ IVF_NPROBE ×
    |queries| values, metadata-scale) become a ``centroid_id IN (…)``
    filter that Catalyst turns into PartitionFilters — only the probed
    list directories are ever scanned (asserted on the scan's
    PartitionFilters in tests/test_similarity.py). Results are identical to the in-memory
    form: same centroids, same lists, same re-rank."""
    probe_ids = [
        r["centroid_id"]
        for r in ivf_assign(
            queries, centroids, id_col=query_id, vec_col="embedding", out_vec="qv",
            nprobe=IVF_NPROBE,
        )
        .select("centroid_id")
        .distinct()
        .collect()
    ]
    c_lists = spark.read.parquet(path).filter(F.col("centroid_id").isin(probe_ids))
    return _ivf_score_lists(
        c_lists, queries, centroids,
        query_id=query_id, vec_col="embedding", nprobe=IVF_NPROBE, k=k,
    )


def ivf_upsert(
    spark,
    path: str,
    batch: DataFrame,
    centroids: DataFrame,
    *,
    corpus_id: str,
    seq: int,
) -> int:
    """Incremental IVF index maintenance — the lakehouse-native ANN
    story (reference upsert semantics applied to the index, r5 verdict
    ask #4): assign only the NEW/UPDATED vectors to the EXISTING
    centroid table and key-upsert them into the list layout that
    :func:`ivf_ann_partitioned` probes (one ``centroid_id=`` directory
    per inverted list), instead of rebuilding the index from scratch per
    batch.

    Semantics: ``seq`` is the precombine version — a re-upserted id
    replaces its old row (latest batch wins); an updated embedding whose
    nearest centroid CHANGED moves to its new list directory (the
    global-index move of ``upsert_parquet_partitioned_global``, reused
    verbatim — the old list loses the vector, the new list gains it).
    Centroid geometry stays fixed between full rebuilds, standard IVF
    practice: recall drifts as the data distribution shifts and the
    periodic rebuild refreshes it; probes meanwhile stay correct
    because every vector is re-ranked by exact cosine inside its list.

    Scale shape: the batch assignment is map-only (broadcast
    centroids); the global-index lookup reads only (cid, centroid_id)
    of the index; only list partitions holding batch keys — or gaining
    them — are rewritten. A 100-TB index with a 1% daily refresh
    rewrites ~nprobe-sized slivers, never the corpus.

    Build the index through this function from the first batch
    (``seq=0`` creates the layout), so every row carries the version
    column and later upserts precombine against it.

    Returns rows written into touched list partitions.
    """
    from .tableops import upsert_parquet_partitioned_global

    lists = ivf_assign(
        batch, centroids, id_col=corpus_id, vec_col="embedding", out_vec="cv",
        nprobe=1,
    ).select(
        F.col(corpus_id).alias("cid"),
        "cv",
        "centroid_id",
        F.lit(seq).cast("long").alias("_seq"),
    )
    return upsert_parquet_partitioned_global(
        spark, lists, path, ["cid"], "_seq", "centroid_id"
    )


# --------------------------------------------------------------------------
# Product quantization (PQ)
# --------------------------------------------------------------------------

#: PQ layout of the 64-dim embeddings: PQ_SUBSPACES sub-vectors of
#: PQ_DIM // PQ_SUBSPACES dims, each coded as one of PQ_CODES codewords
#: (a nibble), so a vector is 8 codes at rest instead of 64 doubles. The
#: PQ queries' SQL oracles replay exactly this layout.
PQ_DIM = 64
PQ_SUBSPACES = 8
PQ_CODES = 16


def pq_codebook(emb: DataFrame) -> list[list[list[float]]]:
    """Seed-free PQ codebook of ``emb``'s ``embedding`` column: per
    subspace, the ``PQ_CODES`` codewords are the sub-vectors of the
    ``PQ_CODES`` lowest-``vec_id`` vectors (the same
    deterministic construction as the IVF centroids — no RNG, so every
    downstream stage is value-checkable against a SQL oracle; swap in
    per-subspace k-means updates for production recall).

    Returns ``codebook[s][k][j]`` as plain doubles. Driver-side collect
    is ``PQ_CODES`` rows — metadata-scale, the standard broadcast-dim
    pattern."""
    sub_dim = PQ_DIM // PQ_SUBSPACES
    rows = (
        emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("v"))
        .orderBy("i")
        .limit(PQ_CODES)
        .collect()
    )
    return [
        [
            [float(r["v"][s * sub_dim + j]) for j in range(sub_dim)]
            for r in rows
        ]
        for s in range(PQ_SUBSPACES)
    ]


def pq_encode(
    df: DataFrame,
    codebook: list[list[list[float]]],
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Attach per-subspace PQ codes as ``pq_0 … pq_{n_sub-1}``.

    Pure map-side expressions — the codebook is inlined as literal
    arrays (n_sub × n_codes × sub_dim doubles, a few KB), the corpus is
    scanned once, nothing shuffles at any scale. The distances run as
    higher-order functions (transform → zip_with → aggregate) instead
    of n_codes·sub_dim unrolled scalar terms: the arithmetic and its
    left-to-right accumulation order are IDENTICAL (oracle hashes
    unchanged), but the expression tree is ~100× smaller — the unrolled
    form cost ~14 s of driver-side analysis/codegen per plan at 8×16×8,
    dominating every PQ query's wall clock. Argmin per subspace via
    array_min over (distance, code) structs: lexicographic struct
    ordering gives min distance with ties to the lowest code."""
    cols = []
    for s, codewords in enumerate(codebook):
        sub_dim = len(codewords[0])
        # Whole per-subspace argmin as ONE JVM-parsed expression — the
        # n_codes × sub_dim literal codebook plus the HOF lambdas cost
        # ~2.5 s of py4j round-trips per plan when composed Column-wise
        # (measured; see _dstr). Identical expression tree, same fixed
        # left-to-right accumulation, bit-identical codes.
        cands = (
            f"transform({_sql_arr_arr_d(codewords)}, (cw, k) -> struct("
            f"aggregate(zip_with(slice(`{vec_col}`, {s * sub_dim + 1}, {sub_dim}), cw, "
            f"(a, b) -> (cast(a as double) - b) * (cast(a as double) - b)), "
            f"0.0D, (acc, x) -> acc + x) as d, k as k))"
        )
        cols.append(
            F.expr(f"array_min({cands}).k").alias(f"pq_{s}")
        )
    return df.select("*", *cols)


def _sql_adc_struct(
    qid: int,
    tbl: list[list[float]],
    probe_list: list[int] | None,
) -> str:
    """One per-query ADC struct as a SQL fragment: the fixed
    left-to-right 8-lookup sum chain over the literal distance tables
    (bit-identical to the old Column-composed form — see _dstr), plus
    the optional probe-list array. The qid literal mirrors F.lit(int):
    int32 when it fits, else bigint — so output schemas are unchanged."""
    terms = [
        f"element_at({_sql_arr_d(row)}, `pq_{s}` + 1)"
        for s, row in enumerate(tbl)
    ]
    chain = terms[0]
    for t in terms[1:]:
        chain = f"({chain} + {t})"
    q = str(qid) if -(1 << 31) <= qid < (1 << 31) else f"{qid}L"
    pl = (
        ""
        if probe_list is None
        else ", array(" + ",".join(str(int(c)) for c in probe_list) + ") as pl"
    )
    return f"struct({q} as qid, {chain} as ad{pl})"


def _adc_table(
    qvec: list[float], codebook: list[list[list[float]]]
) -> list[list[float]]:
    """Per-query ADC lookup table: query→codeword squared distances per
    subspace, accumulated left-to-right (the exact chain the SQL oracle
    replays)."""
    n_sub = len(codebook)
    sub_dim = len(codebook[0][0])
    tbl = []
    for s in range(n_sub):
        row = []
        for cw in codebook[s]:
            d = 0.0
            for j in range(sub_dim):
                t = float(qvec[s * sub_dim + j]) - cw[j]
                d = d + t * t
            row.append(d)
        tbl.append(row)
    return tbl


def pq_adc_topk(
    coded: DataFrame,
    queries: list[tuple[int, list[float]]],
    codebook: list[list[list[float]]],
    *,
    k: int = 5,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over PQ codes: per query, the
    query→codeword squared distances form an n_sub × n_codes lookup
    table (computed driver-side, inlined as literals — the classic ADC
    table build), and each corpus vector's approximate distance is the
    fixed left-to-right sum of 8 table lookups by its codes. The corpus
    scan touches ONLY the code columns — at billion scale that is 8
    bytes per vector instead of 256, the whole point of PQ — and the
    queries never join: they are a few KB of literals.

    Output: (qid, cid, adist_q, rank) — adist floor-quantized at 1e-6 so
    the value is integer-stable across engines."""
    per_query = [
        _sql_adc_struct(int(qid), _adc_table(qvec, codebook), probe_list=None)
        for qid, qvec in queries
    ]
    scored = coded.select(
        F.col("vec_id").alias("cid"),
        F.explode(F.expr("array(" + ",".join(per_query) + ")")).alias("q"),
    ).select("q.qid", "cid", "q.ad")
    w = Window.partitionBy("qid").orderBy(F.asc("ad"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            "qid",
            "cid",
            F.floor(F.col("ad") * 1000000).cast("long").alias("adist_q"),
            "rank",
        )
        .orderBy("qid", "rank")
    )


def ivfpq_adc_topk(corpus: DataFrame, queries: DataFrame) -> DataFrame:
    """IVF-PQ approximate top-5 of ``queries`` over ``corpus`` (both keyed
    by ``vec_id`` over ``embedding``) — the two index tiers COMPOSED,
    which is the billion-scale ANN layout (FAISS IndexIVFPQ expressed as
    Spark relational ops): the corpus is assigned to ``IVF_LISTS``
    inverted lists and PQ-encoded to ``PQ_SUBSPACES`` nibble codes; each
    query probes only its ``IVF_NPROBE`` nearest lists and ranks
    candidates by ADC lookup against its literal distance table.

    Scale shape multiplies the two tiers' savings: the probe prunes the
    scan to IVF_NPROBE/IVF_LISTS of the corpus (hive-partition the coded
    table by centroid_id, as :func:`ivf_upsert` does — and the pruning
    is PartitionFilters, no list data read at all), and inside a probed
    list only the 8-byte code columns are touched, never the vectors.
    At 1B×256d that is (2/16 partitions)·(8 B/vector) ≈ 1/512 of the
    flat-scan bytes. Queries never shuffle anything: centroid table and
    ADC tables are driver-held literals (metadata-scale by contract).

    Both stages are seed-free and deterministic, so the full ranking is
    value-checkable against a SQL oracle (plans/similarity_plans.py).
    Output: (qid, cid, adist_q, rank), rank 1..5, ADC-distance ties
    broken by cid.
    """
    centroids = ivf_centroids(
        corpus, corpus_id="vec_id", vec_col="embedding", n_centroids=IVF_LISTS
    )
    lists = ivf_assign(
        corpus, centroids, id_col="vec_id", vec_col="embedding",
        out_vec="cv", nprobe=1,
    ).select(F.col("vec_id").alias("cid"), "cv", "centroid_id")
    # No materialization barrier (r13 optimization round): the coded
    # relation is consumed exactly once by the scored scan below, so an
    # eager localCheckpoint only paid a full extra materialize+read-back
    # pass (measured 3.6 → 3.0 s at sf0.1, identical rows). The
    # written-index production shape lives in ivf_upsert /
    # ivf_ann_partitioned; this in-memory form is the one-shot query.
    cb = pq_codebook(corpus)
    coded = pq_encode(lists, cb, vec_col="cv").drop("cv", "probe_rank")

    # Per-query probe lists + vectors: |queries|·nprobe rows driver-held
    # (same metadata-scale contract as the ADC tables themselves).
    qrows = ivf_assign(
        queries, centroids, id_col="vec_id", vec_col="embedding",
        out_vec="qv", nprobe=IVF_NPROBE,
    ).select(F.col("vec_id").alias("qid"), "qv", "centroid_id").collect()
    probes: dict[int, list[int]] = {}
    qvecs: dict[int, list[float]] = {}
    for r in qrows:
        probes.setdefault(r["qid"], []).append(r["centroid_id"])
        qvecs[r["qid"]] = list(r["qv"])

    per_query = []
    for qid in sorted(qvecs):
        tbl = _adc_table(qvecs[qid], cb)
        per_query.append(
            _sql_adc_struct(int(qid), tbl, probe_list=sorted(probes[qid]))
        )
    scored = (
        coded.select(
            "cid",
            "centroid_id",
            F.explode(F.expr("array(" + ",".join(per_query) + ")")).alias("q"),
        )
        # The probe filter: at the partitioned layout this predicate is
        # what prunes list partitions before any code byte is read.
        .filter(F.array_contains(F.col("q.pl"), F.col("centroid_id")))
        .select("q.qid", "cid", "q.ad")
    )
    w = Window.partitionBy("qid").orderBy(F.asc("ad"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .select(
            "qid",
            "cid",
            F.floor(F.col("ad") * 1000000).cast("long").alias("adist_q"),
            "rank",
        )
        .orderBy("qid", "rank")
    )


def kmeans_lloyd_quantized(
    df: DataFrame,
    *,
    id_col: str,
    k: int = 8,
    iters: int = 2,
    scale: int = 1_000_000,
) -> DataFrame:
    """Lloyd k-means on 1e-6 FIXED-POINT vectors — every distance,
    every centroid update, and the final assignment are pure integer
    arithmetic, so the whole iteration is bit-exact across engines and
    aggregation orders (value-checkable against an unrolled SQL oracle,
    like the PageRank recurrence in plans/graph_plans.py).

    Semantics per round: assign each vector to the centroid minimizing
    the squared L2 distance on quantized components (ties → smallest
    centroid id), then each centroid moves to floor(mean) of its
    members' quantized components; a cluster that loses every member
    keeps its previous centroid. Seeds = the vectors of the ``k``
    smallest ids (deterministic, seed-free — same convention as
    :func:`ivf_centroids`). Returns the FINAL assignment
    ``(id, cluster_id, dist_q)`` after ``iters`` update rounds.

    Scale shape: the k·d centroid table lives on the DRIVER between
    rounds (metadata-scale, like the IVF centroid list — k=4096 × d=1024
    is 32 MB) and enters each round as literal arrays inside a MAP-ONLY
    assignment expression (zip_with + aggregate — JVM codegen, no UDF,
    no shuffle); the update is one posexplode + (cluster, dim) partial
    agg per round — the only shuffle, carrying k·d groups. The corpus is
    materialized once in quantized form and never reshuffled.
    """
    if k < 1 or iters < 0:
        raise ValueError("k must be >= 1 and iters >= 0")
    xq = df.select(
        F.col(id_col),
        F.transform(
            F.col("embedding"),
            lambda v: F.floor(v.cast("double") * scale).cast("long"),
        ).alias("xq"),
    ).localCheckpoint(eager=True)  # iters+1 passes over the quantized form

    # Overflow guard: dist_q sums d per-dim squares of quantized deltas.
    # |delta| <= 2*M (M = max |component| * scale), so the worst case is
    # d*(2M)^2; if that reaches 2^63 Spark (ANSI off for this agg path)
    # would wrap silently while DuckDB raises — the bit-exact-across-
    # engines contract breaks exactly where the advisor flagged
    # (unnormalized inputs with magnitude ≳1e3 at scale=1e6). One cheap
    # agg over the already-materialized checkpoint; fail loudly with the
    # fix (lower ``scale``) instead of returning wrapped distances.
    bound = xq.agg(
        F.max(
            F.aggregate(
                F.transform("xq", lambda v: F.abs(v)),
                F.lit(0).cast("long"),
                lambda acc, x: F.greatest(acc, x),
            )
        ).alias("m"),
        F.max(F.size("xq")).alias("d"),
        F.count(F.lit(1)).alias("n"),
    ).first()
    if bound["m"] is not None:
        worst = 4 * bound["m"] * bound["m"] * bound["d"]
        if bound["m"] > 2**30 or worst >= 2**63:
            raise ValueError(
                "kmeans_lloyd_quantized: quantized components reach "
                f"|{bound['m']}| over d={bound['d']} dims — the squared-"
                "L2 accumulator would overflow int64 and engines would "
                "disagree silently; lower `scale` (components must "
                f"satisfy d*(2*|x|*scale)^2 < 2^63; got worst case {worst})"
            )
        # Centroid-update path (r6 advisor): SUM(v) over a cluster can
        # itself overflow int64 — worst case n·M when every row lands in
        # one cluster. Guard it the same loud way (the mean below is pure
        # integer division, so 2^53 double precision is NOT a concern —
        # only the int64 sum is).
        if bound["n"] * bound["m"] >= 2**63:
            raise ValueError(
                "kmeans_lloyd_quantized: a single-cluster component sum "
                f"could reach {bound['n']}*{bound['m']} >= 2^63 — the "
                "centroid-update SUM would overflow int64; lower `scale` "
                "or partition the corpus"
            )

    seed_rows = xq.orderBy(id_col).limit(k).collect()
    if len(seed_rows) < k:
        raise ValueError(
            f"kmeans_lloyd_quantized: k={k} but the corpus has only "
            f"{len(seed_rows)} rows — fewer clusters than requested "
            "would be returned silently"
        )
    # cid = dense 0..k-1 in id order (the oracle mirrors this exactly).
    centroids: dict[int, list[int]] = {
        i: list(r["xq"]) for i, r in enumerate(seed_rows)
    }

    def assign(frame: DataFrame) -> DataFrame:
        # One JVM-parsed expression for the k-way argmin (see _dstr:
        # Column-composed literal arrays cost a py4j round-trip per
        # element, k·d of them per iteration).
        choices = F.expr(
            "array("
            + ",".join(
                f"struct(aggregate(zip_with(xq, {_sql_arr_l(cq)}, "
                "(a, b) -> (a - b) * (a - b)), 0L, (acc, x) -> acc + x) as d, "
                f"{int(cid)} as cid)"
                for cid, cq in sorted(centroids.items())
            )
            + ")"
        )
        best = F.array_min(choices)  # struct order: min dist, then min cid
        return frame.select(
            F.col(id_col),
            "xq",
            best["cid"].alias("cluster_id"),
            best["d"].alias("dist_q"),
        )

    for _ in range(iters):
        upd = (
            assign(xq)
            .select("cluster_id", F.posexplode("xq").alias("dim", "v"))
            .groupBy("cluster_id", "dim")
            .agg(F.sum("v").alias("s"), F.count(F.lit(1)).alias("n"))
            .select(
                "cluster_id",
                "dim",
                # floor(s/n) in PURE integer arithmetic: pmod makes
                # (s - pmod) exactly divisible, `div` is integral — no
                # double in the path, so the mean stays exact past 2^53
                # (the r6 advisor's precision hole in floor(s*1.0/n)).
                F.expr("(s - pmod(s, n)) div n").alias("c"),
            )
            .collect()  # k·d rows — driver-held centroid state by design
        )
        moved: dict[int, list[int]] = {}
        for r in upd:
            moved.setdefault(r["cluster_id"], [0] * len(centroids[0]))[
                r["dim"]
            ] = r["c"]
        centroids.update(moved)  # emptied clusters keep previous centroid

    return assign(xq).drop("xq")


def hard_negative_pairs(
    df: DataFrame,
    codebook: list[list[list[float]]],
    *,
    block_subspaces: int | None = None,
    target_block: int = 64,
    lo: float = 0.05,
    hi: float = 0.2,
    per_anchor: int = 3,
) -> DataFrame:
    """Contrastive hard-negative mining: for every anchor, the
    ``per_anchor`` most-similar vectors that are NOT near-duplicates —
    the pairs a contrastive objective (SimCLR/DPR-style) learns most
    from, since easy negatives contribute vanishing gradient and
    near-dups are false negatives.

    Candidate generation is BLOCKED on the first ``block_subspaces`` PQ
    codes (:func:`pq_encode` — same seed-free codebook as the ADC
    queries): coarsely-similar vectors collide, so the self-join costs
    Σ block² instead of n² — the same bounding trick as the LSH band
    join and the SemDeDup cluster blocking. At a FIXED granularity the
    expected block size grows with the corpus and the pair cost turns
    quadratic, so the default ``block_subspaces=None`` AUTO-SCALES it
    (the SemDeDup auto-k rule applied to blocking): the smallest m with
    ``n_codes^m · target_block ≥ n``, keeping expected block size
    ≤ ``target_block`` as the corpus grows. Recall degrades only for
    pairs whose similarity the first subspaces don't see, which for
    hard-NEGATIVE mining is acceptable by construction — we want
    representative hard pairs, not an exact top-k (use knn_* for
    that). Pass an explicit ``block_subspaces`` to pin the granularity
    (the oracle-checked query does, so its SQL twin stays valid at
    every fixture scale).

    Within a block, exact cosine (functions/vectors.py chain), rounded
    to 4 digits BEFORE the band filter and the ranking so threshold
    membership and tie order are bit-identical cross-engine. Band:
    ``lo <= cos < hi`` (above noise, below the dedup threshold); rank
    per anchor by (cosine DESC, negative id).
    """
    if block_subspaces is None:
        n = df.count()
        n_codes = len(codebook[0])
        block_subspaces = 1
        while (
            n_codes**block_subspaces * target_block < n
            and block_subspaces < len(codebook)
        ):
            block_subspaces += 1
    coded = pq_encode(df.select("vec_id", "embedding"), codebook)
    blocks = [f"pq_{s}" for s in range(block_subspaces)]
    a = coded.select(
        F.col("vec_id").alias("anchor_id"),
        F.col("embedding").alias("__va"),
        *[F.col(b).alias(f"__a_{b}") for b in blocks],
    )
    b = coded.select(
        F.col("vec_id").alias("negative_id"),
        F.col("embedding").alias("__vb"),
        *[F.col(c).alias(f"__b_{c}") for c in blocks],
    )
    cond = F.col("anchor_id") != F.col("negative_id")
    for c in blocks:
        cond = cond & (F.col(f"__a_{c}") == F.col(f"__b_{c}"))
    pairs = (
        a.join(b, cond)
        .withColumn("cosine", F.round(vectors.cosine("__va", "__vb"), 4))
        .filter((F.col("cosine") >= lo) & (F.col("cosine") < hi))
    )
    w = Window.partitionBy("anchor_id").orderBy(
        F.col("cosine").desc(), F.col("negative_id")
    )
    return (
        pairs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= per_anchor)
        .select("anchor_id", "negative_id", "cosine", "rnk")
    )


def label_centroid_assign(emb: DataFrame) -> DataFrame:
    """k-means E-step against the per-label mean centroids: every vector
    to its highest-cosine label centroid (ties → lowest label).

    The centroids are quantized to integers via EXACT accumulation
    (per-element BIGINT codes summed exactly, then integer floor-
    division — no order-dependent double sum anywhere), and every
    downstream product/sum runs the same left-to-right double
    arithmetic in both engines, so the argmax is bit-deterministic.
    Scale shape: centroids are |labels|×dim (tiny, broadcast); the
    corpus is scanned once, map-side — no shuffle of the vectors at any
    corpus size.

    Output: (vec_id, orig_label, assigned_label, cos) with ``cos``
    unquantized (callers quantize at their output grid).
    """
    sv = F.floor(F.col("v").cast("double") * 1000000).cast("long")
    cent = (
        emb.select("label", F.posexplode("embedding").alias("dim_idx", "v"))
        .groupBy("label", "dim_idx")
        .agg(F.sum(sv).alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "dim_idx",
            F.expr(
                "(s - ((s % (n * 100) + n * 100) % (n * 100))) div (n * 100)"
            )
            .cast("long")
            .alias("cq"),
        )
    )
    carr = (
        cent.groupBy("label")
        .agg(F.array_sort(F.collect_list(F.struct("dim_idx", "cq"))).alias("s"))
        .select(
            F.col("label").alias("cand_label"),
            F.transform("s", lambda x: x["cq"]).alias("c"),
        )
    )
    dot = F.aggregate(
        F.zip_with(
            "embedding", "c", lambda a, b: a.cast("double") * b.cast("double")
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    vnorm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    # Integer sum of squares (exact, fits BIGINT: |cq| ≤ ~2×10⁴ squared
    # × 64 dims), then one double sqrt — bit-identical across engines.
    cnorm = F.sqrt(
        F.aggregate(
            F.transform("c", lambda x: x * x), F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).cast("double")
    )
    scored = (
        emb.select("vec_id", F.col("label").alias("orig_label"), "embedding")
        .crossJoin(F.broadcast(carr))
        .select(
            "vec_id",
            "orig_label",
            "cand_label",
            (dot / (vnorm * cnorm)).alias("cos"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cos"), F.asc("cand_label"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "orig_label",
            F.col("cand_label").alias("assigned_label"),
            "cos",
        )
    )


def sq8_stats(df: DataFrame, *, dim: int = 64) -> tuple[list[float], list[float]]:
    """Per-dimension corpus [min, max] of ``embedding`` for SQ8 affine
    quantization, collected driver-side as 2·dim doubles (planning-scale
    state, the centroid-broadcast convention). min/max of doubles is exact — no
    accumulation-order hazard — so the stats are engine-invariant."""
    # One wide aggregate instead of posexplode + groupBy(dim): the old
    # shape materialized n·dim exploded rows and shuffled the per-dim
    # partials; 2·dim scalar min/max aggregates (rendered as one
    # JVM-parsed expression list, see _dstr) reduce map-side in a single
    # pass with no Generate and no exchange. min/max of doubles is
    # order-insensitive, so the stats are bit-identical.
    # try_element_at (not element_at): under ANSI mode (Spark 4 default)
    # element_at throws INVALID_ARRAY_INDEX_IN_ELEMENT_AT on a vector
    # shorter than dim, but ragged/short vectors are valid input here —
    # the old posexplode shape tolerated them (missing dims → all-NULL →
    # 0.0 fallback below), and the ValueError text documents dim > actual
    # length as supported. NULL out-of-bounds + null-ignoring min/max
    # reproduce that behavior exactly.
    over_len = F.expr("max(size(embedding))")
    aggs = [
        F.expr(
            f"{fn}(cast(try_element_at(embedding, {i + 1}) as double))"
        ).alias(f"{fn[:2]}_{i}")
        for i in range(dim)
        for fn in ("min", "max")
    ]
    row = df.agg(over_len.alias("_len"), *aggs).collect()[0]
    if row["_len"] is not None and row["_len"] > dim:
        raise ValueError(
            f"vector component {row['_len'] - 1} out of range: pass dim "
            f">= the actual vector length (got dim={dim})"
        )
    mn = [row[f"mi_{i}"] if row[f"mi_{i}"] is not None else 0.0 for i in range(dim)]
    mx = [row[f"ma_{i}"] if row[f"ma_{i}"] is not None else 0.0 for i in range(dim)]
    return mn, mx


def sq8_rerank_topk(
    corpus: DataFrame,
    queries: DataFrame,
    *,
    dim: int = 64,
    shortlist: int = 20,
    k: int = 10,
) -> DataFrame:
    """Two-stage retrieval: SQ8 approximate scan → exact re-rank (the
    FAISS "SQ8 with refine" production shape).

    Stage 1 scores every corpus vector against the broadcast query panel
    using its int8 RECONSTRUCTION — at rest the codes column is 1
    byte/dim (4× less scan I/O than fp32), and the reconstruction is a
    map-side expression over the codes, so the approximate pass never
    touches the full-precision column. Only (qid, cid, approx_cos)
    triples — 20 bytes/pair — flow through the per-query shortlist
    window. Stage 2 fetches the full-precision vectors for the
    |Q|·shortlist survivors via a BROADCAST of the shortlist against the
    corpus (the corpus never shuffles, at any size) and re-ranks them
    exactly. The expensive fp32 column is therefore read for
    |Q|·shortlist rows regardless of corpus size.

    Output: (qid, cid, cosine, rank, arnk) — exact-rerank rank 1..k with
    the stage-1 shortlist rank kept for recall auditing; ties break on
    corpus id in both stages.
    """
    mn, mx = sq8_stats(corpus, dim=dim)
    mns = F.expr(_sql_arr_d(mn))
    mxs = F.expr(_sql_arr_d(mx))

    def _code(x, i):
        lo, hi = F.element_at(mns, i + 1), F.element_at(mxs, i + 1)
        raw = F.floor(
            (x.cast("double") - lo) * 255.0 / (hi - lo) + F.lit(0.5)
        ).cast("long") - 128
        return F.when(hi == lo, F.lit(0).cast("long")).otherwise(raw)

    def _recon(c, i):
        lo, hi = F.element_at(mns, i + 1), F.element_at(mxs, i + 1)
        return lo + (c + 128).cast("double") * (hi - lo) / 255.0

    recon = F.transform(F.transform(F.col("embedding"), _code), _recon)
    c_sq8 = corpus.select(F.col("vec_id").alias("cid"), recon.alias("rv"))
    q = F.broadcast(
        queries.select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qv"))
    )
    approx = c_sq8.crossJoin(q).select(
        "qid", "cid", F.round(vectors.cosine("rv", "qv"), 4).alias("approx_cos")
    )
    w1 = Window.partitionBy("qid").orderBy(F.desc("approx_cos"), F.asc("cid"))
    cand = (
        approx.withColumn("arnk", F.row_number().over(w1))
        .filter(F.col("arnk") <= shortlist)
        .select("qid", "cid", "arnk")
    )
    fetched = corpus.select(
        F.col("vec_id").alias("cid"), F.col("embedding").alias("cv")
    ).join(F.broadcast(cand), "cid")
    rer = fetched.join(q, "qid").select(
        "qid", "cid", "arnk", F.round(vectors.cosine("cv", "qv"), 4).alias("cosine")
    )
    w2 = Window.partitionBy("qid").orderBy(F.desc("cosine"), F.asc("cid"))
    return (
        rer.withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("qid", "cid", "cosine", "rank", "arnk")
        .orderBy("qid", "rank")
    )


def quantize_embeddings_int8(df: DataFrame) -> DataFrame:
    """Scalar quantization to int8 (the FAISS SQ8 layout, the affine
    per-dimension complement to :func:`pq_encode`'s codebook route):
    each dimension maps through its own corpus-wide [min, max] to a
    −128…127 code, 4 bytes→1 byte per component with NO training step.

    Two passes, both scale-safe: (1) per-dim min/max over the 64
    dimensions — one aggregate, collected driver-side as 2·64 doubles
    (the centroid-broadcast pattern; min/max of doubles is exact, no
    accumulation-order hazard); (2) map-only encode with the stats
    inlined as literal arrays — the corpus is scanned once, nothing
    shuffles. Constant dimensions code to 0. Also emits the
    reconstruction and per-vector max |error|: the quantization-error
    audit a release gate checks before swapping the fp32 column out.
    """
    mn, mx = sq8_stats(df)
    mns = F.expr(_sql_arr_d(mn))
    mxs = F.expr(_sql_arr_d(mx))

    def _code(x, i):
        lo, hi = F.element_at(mns, i + 1), F.element_at(mxs, i + 1)
        raw = F.floor(
            (x.cast("double") - lo) * 255.0 / (hi - lo) + F.lit(0.5)
        ).cast("long") - 128
        return F.when(hi == lo, F.lit(0).cast("long")).otherwise(raw)

    coded = df.select(
        F.col("vec_id"),
        F.col("embedding"),
        F.transform(F.col("embedding"), _code).alias("codes"),
    )

    def _recon(c, i):
        lo, hi = F.element_at(mns, i + 1), F.element_at(mxs, i + 1)
        return lo + (c + 128).cast("double") * (hi - lo) / 255.0

    return coded.select(
        "vec_id",
        "codes",
        F.aggregate(
            F.zip_with(
                F.transform(F.col("codes"), _recon),
                F.col("embedding"),
                lambda r, x: F.abs(r - x.cast("double")),
            ),
            F.lit(0.0),
            lambda acc, e: F.greatest(acc, e),
        ).alias("max_abs_err"),
    )
