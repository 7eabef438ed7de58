"""Similarity search: brute-force exactness, ANN recall, vector math."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.functions import vectors
from spark_hudi_etl_pipeline_spark.operators import similarity
from tests.conftest import SF_SMALL


def l2_distance(a, b):
    """Euclidean distance of two equal-length float array columns: the
    exact reference the ADC and vector-math checks compare against."""
    diff = F.zip_with(
        F.col(a), F.col(b), lambda x, y: (x.cast("double") - y.cast("double")) ** 2
    )
    return F.sqrt(F.aggregate(diff, F.lit(0.0), lambda acc, x: acc + x))


def test_vector_math(spark):
    df = spark.createDataFrame(
        [([3.0, 4.0], [4.0, 3.0]), ([1.0, 0.0], [0.0, 1.0]), ([0.0, 0.0], [1.0, 1.0])],
        "a array<float>, b array<float>",
    )
    rows = df.select(
        vectors.dot("a", "b").alias("dot"),
        vectors.norm("a").alias("na"),
        vectors.cosine("a", "b").alias("cos"),
        l2_distance("a", "b").alias("l2"),
    ).collect()
    assert rows[0]["dot"] == pytest.approx(24.0)
    assert rows[0]["na"] == pytest.approx(5.0)
    assert rows[0]["cos"] == pytest.approx(24.0 / 25.0)
    assert rows[0]["l2"] == pytest.approx(math.sqrt(2.0))
    assert rows[1]["cos"] == pytest.approx(0.0)
    assert rows[2]["cos"] == 0.0  # zero-norm guard, not NaN


@pytest.fixture(scope="module")
def emb(spark):
    from spark_hudi_etl_pipeline_spark.sources import load_table

    return load_table(spark, SF_SMALL, "embeddings")


def test_bruteforce_self_match_rank1(spark, emb):
    queries = emb.filter(F.col("vec_id") < 5)
    out = similarity.topk_cosine(
        emb, queries, corpus_id="vec_id", query_id="vec_id", k=3
    ).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["qid"], []).append(r)
    for qid, rows in by_q.items():
        assert rows[0]["cid"] == qid and rows[0]["cosine"] == pytest.approx(1.0)
        # descending similarity
        sims = [r["cosine"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)


def test_ann_recall_vs_bruteforce(spark, emb):
    """Multi-probe RP-LSH must recover a solid fraction of true top-5
    neighbors on random data (self-match guarantees recall > 0; assert a
    practical floor measured with margin)."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.topk_cosine(emb, queries, corpus_id="vec_id", query_id="vec_id", k=5)
    ann = similarity.rp_lsh_ann(
        emb, queries, corpus_id="vec_id", query_id="vec_id", k=5
    )
    exact_set = {(r["qid"], r["cid"]) for r in exact.collect()}
    ann_set = {(r["qid"], r["cid"]) for r in ann.collect()}
    recall = len(exact_set & ann_set) / len(exact_set)
    assert recall >= 0.3, f"ANN recall {recall} below floor"
    # Self-match always survives (its bucket always probes itself).
    for qid in range(20):
        assert (qid, qid) in ann_set


def test_ann_is_subset_quality(spark, emb):
    """Every ANN hit's similarity is a real cosine (spot-check one query
    against brute force values)."""
    queries = emb.filter(F.col("vec_id") == 0)
    exact = {
        r["cid"]: r["cosine"]
        for r in similarity.topk_cosine(
            emb, queries, corpus_id="vec_id", query_id="vec_id", k=500
        ).collect()
    }
    ann = similarity.rp_lsh_ann(
        emb, queries, corpus_id="vec_id", query_id="vec_id", k=5
    ).collect()
    for r in ann:
        assert r["cid"] in exact
        assert abs(exact[r["cid"]] - r["cosine"]) < 1e-6


def test_ivf_recall_vs_bruteforce(spark, emb):
    """IVF with nprobe=2/16 lists must recover a practical fraction of
    true top-5 neighbors; self-match always survives (a vector's own
    list is its nearest centroid, which is always probed at nprobe>=1)."""
    queries = emb.filter(F.col("vec_id") < 20)
    exact = similarity.topk_cosine(
        emb, queries, corpus_id="vec_id", query_id="vec_id", k=5
    )
    ivf = similarity.ivf_ann(
        emb, queries, corpus_id="vec_id", query_id="vec_id",
        n_centroids=16, nprobe=2, k=5,
    )
    exact_set = {(r["qid"], r["cid"]) for r in exact.collect()}
    ivf_set = {(r["qid"], r["cid"]) for r in ivf.collect()}
    recall = len(exact_set & ivf_set) / len(exact_set)
    assert recall >= 0.3, f"IVF recall {recall} below floor"
    for qid in range(20):
        assert (qid, qid) in ivf_set


def test_ivf_probe_bounds(spark, emb):
    """IVF candidate set is bounded: every returned neighbor lives in one
    of the query's nprobe probed lists (subset property, not all-pairs)."""
    from spark_hudi_etl_pipeline_spark.operators.similarity import ivf_ann

    queries = emb.filter(F.col("vec_id") < 3)
    out = ivf_ann(
        emb, queries, corpus_id="vec_id", query_id="vec_id",
        n_centroids=8, nprobe=1, k=1000,
    )
    # nprobe=1 of 8 lists: candidates must be well under the full corpus.
    per_q = out.groupBy("qid").count().collect()
    total = emb.count()
    for r in per_q:
        assert r["count"] < total


def test_assign_nearest_shape(spark):
    """E-step output: one row per vector, labels from the corpus label
    set, quantized cosine within [-10000, 10000]."""
    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from spark_hudi_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    labels = {r["label"] for r in emb.select("label").distinct().collect()}
    rows = QUERIES["embedding_assign_nearest"](spark, SF_SMALL).collect()
    assert len(rows) == emb.count()
    assert len({r["vec_id"] for r in rows}) == len(rows)
    for r in rows:
        assert r["assigned_label"] in labels
        assert -10000 <= r["cos_q"] <= 10000


def test_ivf_partitioned_layout_prunes_and_matches(spark, tmp_path):
    """The partitioned-layout probe reads ONLY the probed list
    directories (partition pruning on disk) and returns exactly the
    in-memory ivf_ann result."""
    from spark_hudi_etl_pipeline_spark.operators.similarity import (
        ivf_ann,
        ivf_ann_partitioned,
        ivf_centroids,
        ivf_upsert,
    )
    from spark_hudi_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    path = str(tmp_path / "ivf")
    centroids = ivf_centroids(
        emb, corpus_id="vec_id", vec_col="embedding", n_centroids=16
    )
    ivf_upsert(spark, path, emb, centroids, corpus_id="vec_id", seq=0)
    got = ivf_ann_partitioned(
        spark, path, queries, centroids, query_id="vec_id", k=5
    )
    rows = got.collect()
    expected = ivf_ann(
        emb, queries, corpus_id="vec_id", query_id="vec_id",
        n_centroids=16, nprobe=2, k=5,
    ).collect()
    assert [tuple(r) for r in rows] == [tuple(r) for r in expected]
    # Pruning evidence: the probed list ids land in the scan's
    # PartitionFilters (inputFiles() can't be used — it reports the
    # UNPRUNED file index), so only those directories are scanned.
    two = emb.filter(F.col("vec_id") < 2)
    pruned = ivf_ann_partitioned(
        spark, path, two, centroids, query_id="vec_id", k=5
    )
    assert pruned.count() == 2 * 5
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "centroid_id" in plan
    import re as _re

    m = _re.search(r"PartitionFilters: \[[^\]]*centroid_id[^\]]*IN \(([^)]*)\)", plan)
    assert m, f"no IN partition filter in plan: {plan[:2000]}"
    assert len(m.group(1).split(",")) <= 4  # ≤ nprobe × |queries| lists


def test_pq_encode_self_reconstruction(spark):
    """Codebook vectors encode to zero quantization error: for query
    vectors that are themselves codewords, ADC distance to themselves is
    exactly 0 and they rank themselves first."""
    emb = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    cb = similarity.pq_codebook(emb)
    assert len(cb) == 8 and len(cb[0]) == 16 and len(cb[0][0]) == 8
    coded = similarity.pq_encode(emb, cb)
    qrows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 5).collect()
    ]
    top = similarity.pq_adc_topk(coded, qrows, cb, k=1).collect()
    for r in top:
        assert r["cid"] == r["qid"] and r["adist_q"] == 0


def test_pq_codes_partition_invariant(spark):
    """Codes are a pure function of the vector — repartitioning the
    corpus must not change a single code."""
    emb = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    cb = similarity.pq_codebook(emb)
    cols = [f"pq_{s}" for s in range(8)]
    a = {
        r["vec_id"]: tuple(r[c] for c in cols)
        for r in similarity.pq_encode(emb, cb).collect()
    }
    b = {
        r["vec_id"]: tuple(r[c] for c in cols)
        for r in similarity.pq_encode(emb.repartition(7), cb).collect()
    }
    assert a == b


def test_pq_adc_recall_vs_exact_l2(spark):
    """ADC top-5 must overlap the exact squared-L2 top-5 (recall floor;
    PQ with a 16-sample codebook is crude, so the floor is modest)."""
    emb = (
        spark.read.parquet(f"{SF_SMALL}/embeddings.parquet")
        .select("vec_id", "embedding")
    )
    cb = similarity.pq_codebook(emb)
    coded = similarity.pq_encode(emb, cb)
    qrows = [
        (r["vec_id"], list(r["embedding"]))
        for r in emb.filter(F.col("vec_id") < 10).collect()
    ]
    approx = similarity.pq_adc_topk(coded, qrows, cb, k=5).collect()
    got = {}
    for r in approx:
        got.setdefault(r["qid"], set()).add(r["cid"])

    q = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("qid"), F.col("embedding").alias("qv")
    )
    c = emb.select(F.col("vec_id").alias("cid"), F.col("embedding").alias("cv"))
    from pyspark.sql import Window

    w = Window.partitionBy("qid").orderBy("d2", "cid")
    exact = (
        c.crossJoin(F.broadcast(q))
        .select(
            "qid",
            "cid",
            (l2_distance("cv", "qv") ** 2).alias("d2"),
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 5)
        .collect()
    )
    truth = {}
    for r in exact:
        truth.setdefault(r["qid"], set()).add(r["cid"])
    recalls = [len(got[q0] & truth[q0]) / 5 for q0 in truth]
    assert sum(recalls) / len(recalls) >= 0.3


def test_kmeans_lloyd_quantized_planted_clusters(spark):
    """Three well-separated planted blobs: Lloyd converges to one
    cluster per blob; integer arithmetic ⇒ identical reruns."""
    from spark_hudi_etl_pipeline_spark.operators.similarity import (
        kmeans_lloyd_quantized,
    )

    blobs = {0: [10.0, 0.0], 1: [0.0, 10.0], 2: [-10.0, -10.0]}
    rows = []
    for vid in range(30):
        b = blobs[vid % 3]
        jit = ((vid * 37) % 7 - 3) / 10.0  # deterministic jitter
        rows.append((vid, [b[0] + jit, b[1] - jit]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = kmeans_lloyd_quantized(
        df, id_col="vec_id", k=3, iters=3
    )
    got = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    # Cluster labels are seed-dependent; membership must follow blobs.
    for vid in range(30):
        assert got[vid] == got[vid % 3]
    assert len({got[0], got[1], got[2]}) == 3
    rerun = {
        r["vec_id"]: r["cluster_id"]
        for r in kmeans_lloyd_quantized(
            df, id_col="vec_id", k=3, iters=3
        ).collect()
    }
    assert rerun == got


def test_kmeans_lloyd_zero_iters_is_seed_assignment(spark):
    """iters=0: pure nearest-seed assignment; each seed sits in its own
    cluster at distance 0."""
    from spark_hudi_etl_pipeline_spark.operators.similarity import (
        kmeans_lloyd_quantized,
    )

    rows = [(i, [float(i), 0.0]) for i in range(6)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {
        r["vec_id"]: (r["cluster_id"], r["dist_q"])
        for r in kmeans_lloyd_quantized(
            df, id_col="vec_id", k=2, iters=0
        ).collect()
    }
    assert out[0] == (0, 0) and out[1] == (1, 0)
    # Everything right of seed 1 joins cluster 1.
    assert all(out[i][0] == 1 for i in range(2, 6))


def test_kmeans_lloyd_rejects_k_above_corpus(spark):
    import pytest

    from spark_hudi_etl_pipeline_spark.operators.similarity import (
        kmeans_lloyd_quantized,
    )

    df = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "vec_id long, embedding array<float>"
    )
    with pytest.raises(ValueError, match="only 2 rows"):
        kmeans_lloyd_quantized(df, id_col="vec_id", k=5, iters=1)
    with pytest.raises(ValueError, match="only 0 rows"):
        kmeans_lloyd_quantized(
            df.filter("vec_id < 0"), id_col="vec_id", k=1, iters=1
        )


def test_kmeans_lloyd_rejects_overflow_prone_magnitudes(spark):
    """Components whose quantized squares could wrap int64 must raise
    (Spark would wrap silently where DuckDB errors — advisor finding,
    round 5) instead of returning engine-divergent distances."""
    import pytest

    from spark_hudi_etl_pipeline_spark.operators.similarity import (
        kmeans_lloyd_quantized,
    )

    df = spark.createDataFrame(
        [(0, [1.0e4, 0.0]), (1, [0.0, -2.0e4])],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="overflow int64"):
        kmeans_lloyd_quantized(df, id_col="vec_id", k=2, iters=1, scale=1_000_000)
    # The advertised fix — lower the scale — makes the same input legal.
    out = kmeans_lloyd_quantized(df, id_col="vec_id", k=2, iters=1, scale=100)
    assert sorted(r["cluster_id"] for r in out.collect()) == [0, 1]


def test_ivf_upsert_matches_full_rebuild_and_rewrites_only_touched_lists(
    spark, tmp_path
):
    """Two incremental upserts must land the index in exactly the state
    a full rebuild would (probe-for-probe), and an update batch must
    rewrite only the list partitions it touches."""
    import os
    import time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.similarity import (
        ivf_ann_partitioned,
        ivf_centroids,
        ivf_upsert,
    )
    from spark_hudi_etl_pipeline_spark.sources import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings").select(
        "vec_id", "embedding"
    )
    path = str(tmp_path / "ivf_idx")
    base = emb.filter(F.col("vec_id") % 4 != 3)
    cents = ivf_centroids(
        base, corpus_id="vec_id", vec_col="embedding", n_centroids=16
    )
    ivf_upsert(spark, path, base, cents, corpus_id="vec_id", seq=0)
    ivf_upsert(
        spark, path, emb.filter(F.col("vec_id") % 4 == 3), cents,
        corpus_id="vec_id", seq=1,
    )

    # Snapshot per-partition max mtime, then upsert a single-vector
    # update; only its source/target lists may change.
    def mtimes():
        out = {}
        for d in os.listdir(path):
            if d.startswith("centroid_id="):
                full = os.path.join(path, d)
                out[d] = max(
                    os.path.getmtime(os.path.join(full, f))
                    for f in os.listdir(full)
                )
        return out

    before = mtimes()
    time.sleep(1.05)  # mtime granularity
    upd = emb.filter(F.col("vec_id") == 16).select(
        "vec_id", F.expr("transform(embedding, x -> -x)").alias("embedding")
    )
    ivf_upsert(spark, path, upd, cents, corpus_id="vec_id", seq=2)
    after = mtimes()
    changed = {d for d in before if after.get(d) != before[d]}
    # old list + new list of the flipped vector: at most 2 partitions.
    assert 1 <= len(changed) <= 2, changed

    # Full-rebuild equivalence: in-memory IVF over the final logical
    # state with the same centroid table gives identical probe results.
    final = emb.withColumn(
        "embedding",
        F.when(
            F.col("vec_id") == 16, F.expr("transform(embedding, x -> -x)")
        ).otherwise(F.col("embedding")),
    )
    queries = final.filter(F.col("vec_id") < 8)
    got = ivf_ann_partitioned(
        spark, path, queries, cents, query_id="vec_id", k=5
    ).collect()
    # Full rebuild = one-shot load of the final logical state into a
    # fresh index under the SAME centroid table, probed identically.
    path2 = str(tmp_path / "ivf_rebuild")
    ivf_upsert(spark, path2, final, cents, corpus_id="vec_id", seq=0)
    want = ivf_ann_partitioned(
        spark, path2, queries, cents, query_id="vec_id", k=5
    ).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 8 * 5


def test_kmeans_centroid_mean_integer_floor_on_negatives(spark):
    """The centroid update is floor(mean) in PURE integer arithmetic
    (r6 advisor: floor(s*1.0/n) routed through a double, losing
    exactness past 2^53). Negative non-divisible sums exercise the
    floor-vs-truncate edge: mean of {-1, -2} must be -2, not -1."""
    from spark_hudi_etl_pipeline_spark.operators.similarity import (
        kmeans_lloyd_quantized,
    )

    df = spark.createDataFrame(
        [(1, [-1.0]), (2, [-2.0])], "id long, embedding array<double>"
    )
    out = {
        r["id"]: r["dist_q"]
        for r in kmeans_lloyd_quantized(
            df, id_col="id", k=1, iters=1, scale=1
        ).collect()
    }
    # centroid after 1 round = floor((-1 + -2)/2) = -2 (double-truncate
    # would give -1): dist_q from -2 is 1 for id1, 0 for id2.
    assert out == {1: 1, 2: 0}


def test_kmeans_centroid_mean_exact_past_double_precision(spark):
    """The exact floor-div expression used by the centroid update stays
    bit-exact where floor(s*1.0/n) diverges (s above 2^53)."""
    from pyspark.sql import functions as F

    s, n = (1 << 53) + 1, 3
    row = (
        spark.range(1)
        .select(
            F.lit(s).alias("s"),
            F.lit(n).cast("long").alias("n"),
        )
        .select(
            F.expr("(s - pmod(s, n)) div n").alias("exact"),
            F.floor(F.col("s") * 1.0 / F.col("n")).cast("long").alias("dbl"),
        )
        .first()
    )
    assert row["exact"] == s // n
    assert row["dbl"] != s // n  # the old path really was lossy here


def test_kmeans_guard_rejects_overflowing_cluster_sum(spark):
    """The overflow guard also covers the centroid-update SUM path:
    n·M >= 2^63 must raise loudly instead of overflowing mid-round."""
    import pytest

    from spark_hudi_etl_pipeline_spark.operators.similarity import (
        kmeans_lloyd_quantized,
    )

    # m = 2^30 passes the distance guard's component bound exactly, but
    # a corpus of 2^33 such rows would overflow SUM — simulate by
    # monkeypatching nothing: use many rows? too big for a unit test —
    # instead pick m just at the component cap and verify the guard
    # formula triggers via a tiny corpus with a huge scale.
    big = float(1 << 30)
    df = spark.createDataFrame(
        [(i, [big]) for i in range(4)], "id long, embedding array<double>"
    )
    # n*M = 4 * 2^60 = 2^62 < 2^63 → allowed; bump one component so the
    # per-component cap (2^30) is exceeded and the FIRST guard fires —
    # proving the guards compose rather than silently passing.
    df2 = spark.createDataFrame(
        [(0, [big * 2])], "id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="overflow"):
        kmeans_lloyd_quantized(
            df.unionByName(df2), id_col="id", k=1, iters=1, scale=1
        )


def test_ivfpq_recall_and_probe_bound(spark, emb):
    """IVF-PQ top-5: (a) overlaps the exact cosine top-5 at a modest
    floor (two approximations stacked — probe truncation AND PQ
    quantization), and (b) every candidate lives in one of the query's
    2 probed lists (the subset property that makes the partition
    pruning claim real)."""
    queries = emb.filter(F.col("vec_id") < 20)
    got = similarity.ivfpq_adc_topk(emb, queries).collect()
    got_set = {(r["qid"], r["cid"]) for r in got}

    exact = similarity.topk_cosine(
        emb, queries, corpus_id="vec_id", query_id="vec_id", k=5
    )
    exact_set = {(r["qid"], r["cid"]) for r in exact.collect()}
    recall = len(exact_set & got_set) / len(exact_set)
    assert recall >= 0.2, f"IVF-PQ recall {recall} below floor"

    centroids = similarity.ivf_centroids(
        emb, corpus_id="vec_id", vec_col="embedding", n_centroids=16
    )
    assign = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.ivf_assign(
            emb, centroids, id_col="vec_id", vec_col="embedding",
            out_vec="v", nprobe=1,
        ).collect()
    }
    probed = {}
    for r in similarity.ivf_assign(
        queries, centroids, id_col="vec_id", vec_col="embedding",
        out_vec="v", nprobe=2,
    ).collect():
        probed.setdefault(r["vec_id"], set()).add(r["centroid_id"])
    for qid, cid in got_set:
        assert assign[cid] in probed[qid], (qid, cid)


def test_ivf_assign_argmax_path_matches_window(spark, emb):
    """The nprobe=1 partial-agg argmax must equal the window ranking
    row-for-row, including cosine ties broken to the lowest centroid."""
    from pyspark.sql import Window as W

    centroids = similarity.ivf_centroids(
        emb, corpus_id="vec_id", vec_col="embedding", n_centroids=16
    )
    fast = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.ivf_assign(
            emb, centroids, id_col="vec_id", vec_col="embedding",
            out_vec="v", nprobe=1,
        ).collect()
    }
    c = centroids.select("centroid_id", "centroid_vec")
    scored = emb.select("vec_id", F.col("embedding").alias("v")).crossJoin(
        F.broadcast(c)
    ).select(
        "vec_id", "centroid_id",
        vectors.cosine("v", "centroid_vec").alias("s"),
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("s"), F.asc("centroid_id"))
    slow = {
        r["vec_id"]: r["centroid_id"]
        for r in scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .collect()
    }
    assert fast == slow

    # Synthetic exact tie: two identical centroids — lowest id must win.
    df = spark.createDataFrame(
        [(1, [1.0, 0.0])], "id long, embedding array<double>"
    )
    cents = spark.createDataFrame(
        [(5, [1.0, 0.0]), (2, [1.0, 0.0]), (9, [0.0, 1.0])],
        "centroid_id int, centroid_vec array<double>",
    )
    got = similarity.ivf_assign(
        df, cents, id_col="id", vec_col="embedding", out_vec="v", nprobe=1
    ).collect()
    assert got[0]["centroid_id"] == 2


def test_two_level_assignment_quality_and_determinism(spark, emb):
    """Two-level assignment must (a) agree with exact flat assignment on
    a large majority of vectors (only borderline vectors may land in a
    neighboring cluster), (b) be deterministic, and (c) assign every
    vector to a REAL centroid of the fine table."""
    centroids = similarity.ivf_centroids(
        emb, corpus_id="vec_id", vec_col="embedding", n_centroids=64
    )
    flat = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.ivf_assign(
            emb, centroids, id_col="vec_id", vec_col="embedding",
            out_vec="v", nprobe=1,
        ).collect()
    }
    two_a = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.ivf_assign_two_level(
            emb, centroids, id_col="vec_id", vec_col="embedding", out_vec="v"
        ).collect()
    }
    two_b = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.ivf_assign_two_level(
            emb.repartition(11), centroids, id_col="vec_id",
            vec_col="embedding", out_vec="v",
        ).collect()
    }
    assert two_a == two_b  # deterministic, partitioning-invariant
    assert set(two_a) == set(flat)  # every vector assigned exactly once
    valid = {r["centroid_id"] for r in centroids.collect()}
    assert set(two_a.values()) <= valid
    # Random embeddings are the WORST case for coarse pruning (no
    # cluster structure ⇒ nearest-centroid is near-arbitrary and the
    # true argmax often hides in a pruned group) — the floor here is a
    # sanity bound, not the operating point. What SemDeDup needs is the
    # co-clustering property asserted below: near-identical vectors
    # route through the SAME coarse group, so dup pairs stay blocked
    # together.
    agree = sum(1 for k in flat if flat[k] == two_a[k]) / len(flat)
    assert agree >= 0.25, f"two-level agreement {agree} too low"

    import numpy as np

    rng = np.random.default_rng(3)
    base = [[float(x) for x in rng.normal(size=16)] for _ in range(200)]
    rows = []
    for i, v in enumerate(base):
        rows.append((2 * i, v))
        rows.append((2 * i + 1, [x * 1.0001 for x in v]))  # near-dup twin
    ndf = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # Centroids from the EVEN ids only — seeding from the full relation
    # would make each twin pair a pair of (near-)duplicate centroids,
    # and the argmax between two identical centroids is last-ulp noise
    # for flat and two-level alike.
    cents = similarity.ivf_centroids(
        ndf.filter(F.col("vec_id") % 2 == 0),
        corpus_id="vec_id", vec_col="embedding", n_centroids=64,
    )
    cl = {
        r["vec_id"]: r["centroid_id"]
        for r in similarity.ivf_assign_two_level(
            ndf, cents, id_col="vec_id", vec_col="embedding", out_vec="v"
        ).collect()
    }
    co = sum(1 for i in range(200) if cl[2 * i] == cl[2 * i + 1]) / 200
    assert co >= 0.95, f"near-dup co-clustering {co} too low"


def test_semantic_dedup_two_level_switch(spark):
    """Above TWO_LEVEL_MIN_K clusters semantic_dedup still produces a
    valid dedup verdict (every id labeled, keepers = component minima)
    through the two-level path."""
    import numpy as np

    from spark_hudi_etl_pipeline_spark.operators.dedup import (
        TWO_LEVEL_MIN_K,
        semantic_dedup,
    )

    rng = np.random.default_rng(7)
    n = (TWO_LEVEL_MIN_K + 1) * 2  # auto-k with target 2 ⇒ k > threshold
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(n)]
    # plant one exact duplicate pair
    rows[1] = (1, rows[0][1])
    df = spark.createDataFrame(rows, "vid long, v array<double>")
    out = semantic_dedup(
        df, "vid", "v", target_cluster_size=2, threshold=0.999
    ).collect()
    assert len(out) == n
    got = {r["vid"]: (r["canonical_id"], r["keep"]) for r in out}
    assert got[0] == (0, True) and got[1] == (0, False)  # planted dup folds
    assert all(c == i if k else True for i, (c, k) in got.items())


def test_hard_negatives_structure(spark):
    """Per anchor: ranks contiguous from 1, cosine non-increasing and
    inside the [lo, hi) band, no self-pairs, and every pair really
    collides on the blocking PQ codes."""
    from spark_hudi_etl_pipeline_spark.operators import similarity
    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from spark_hudi_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_SMALL

    rows = QUERIES["contrastive_hard_negatives"](spark, SF_SMALL).collect()
    assert rows
    per_anchor: dict = {}
    for r in rows:
        assert r["anchor_id"] != r["negative_id"]
        assert 0.05 <= r["cosine"] < 0.2
        per_anchor.setdefault(r["anchor_id"], []).append(r)
    for aid, rs in per_anchor.items():
        rs.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rs] == list(range(1, len(rs) + 1))
        assert len(rs) <= 3
        cosines = [r["cosine"] for r in rs]
        assert cosines == sorted(cosines, reverse=True), (aid, cosines)

    emb = load_table(spark, SF_SMALL, "embeddings")
    cb = similarity.pq_codebook(emb)
    codes = {
        r["vec_id"]: (r["pq_0"], r["pq_1"])
        for r in similarity.pq_encode(emb, cb)
        .select("vec_id", "pq_0", "pq_1")
        .collect()
    }
    for r in rows:
        assert codes[r["anchor_id"]] == codes[r["negative_id"]], r


def test_hard_negatives_auto_blocking(spark):
    """Default block_subspaces auto-scales: smallest m with
    16^m * target_block >= n. With a tiny target_block the rule is
    forced up a level, and every emitted pair still collides on all m
    blocking codes."""
    from spark_hudi_etl_pipeline_spark.operators import similarity
    from spark_hudi_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    n = emb.count()
    cb = similarity.pq_codebook(emb)
    target = 4
    m = 1
    while 16**m * target < n and m < 8:
        m += 1
    assert m >= 2  # the fixture is big enough to force an escalation
    rows = similarity.hard_negative_pairs(
        emb, cb, target_block=target, lo=-1.0, hi=2.0, per_anchor=2
    ).collect()
    assert rows
    codes = {
        r["vec_id"]: tuple(r[f"pq_{s}"] for s in range(m))
        for r in similarity.pq_encode(emb, cb)
        .select("vec_id", *[f"pq_{s}" for s in range(m)])
        .collect()
    }
    for r in rows:
        assert codes[r["anchor_id"]] == codes[r["negative_id"]], r


def test_int8_quantization_bounds(spark):
    """Codes live in [-128, 127]; the reconstruction error of every
    vector is at most half a quantization step of the widest dimension
    (the SQ8 error bound); constant dims code to 0."""
    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators import similarity
    from spark_hudi_etl_pipeline_spark.sources import load_table
    from tests.conftest import SF_SMALL

    emb = load_table(spark, SF_SMALL, "embeddings")
    out = similarity.quantize_embeddings_int8(emb).collect()
    assert len(out) == emb.count()
    ranges = (
        emb.select(F.posexplode("embedding").alias("i", "x"))
        .groupBy("i")
        .agg((F.max("x") - F.min("x")).alias("r"))
        .collect()
    )
    half_step = max(r["r"] for r in ranges) / 255.0 / 2.0
    for r in out:
        assert all(-128 <= c <= 127 for c in r["codes"]), r["vec_id"]
        assert r["max_abs_err"] <= half_step * (1 + 1e-9), (
            r["vec_id"],
            r["max_abs_err"],
            half_step,
        )

    const = spark.createDataFrame(
        [(1, [5.0] * 64), (2, [5.0] * 64)], ["vec_id", "embedding"]
    )
    crows = similarity.quantize_embeddings_int8(const).collect()
    for r in crows:
        assert r["codes"] == [0] * 64
        assert r["max_abs_err"] == 0.0


def _quantize_embedding(vec_col):
    """array<float> → array<long>: half-up fixed-point at EMB_QUANT.
    floor(x*Q + 0.5) is the same IEEE-double op sequence in Spark,
    numpy, and DuckDB, so quantized values are bit-identical."""
    return F.transform(
        vec_col,
        lambda x: F.floor(
            x.cast("double") * similarity.EMB_QUANT + F.lit(0.5)
        ).cast("long"),
    )


def _rp_sketch_portable(vec_col, dim: int, n_bits: int = 8):
    """Reference oracle for ``similarity.rp_sketch_portable_arrow``:
    bit i = (q(v) · s_i > 0) for seeded Rademacher plane s_i over the
    quantized embedding, as Catalyst integer arithmetic end-to-end."""
    q = _quantize_embedding(vec_col)
    sketch = F.lit(0).cast("long")
    for i, plane in enumerate(similarity._rademacher_planes(dim, n_bits)):
        # one JVM-parsed literal array per plane, not dim py4j lit calls
        signs = F.expr(similarity._sql_arr_l(plane))
        d = F.aggregate(
            F.zip_with(q, signs, lambda e, s: e * s),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        sketch = sketch + F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0))
    return sketch


def test_portable_sketch_paths_identical(spark, emb):
    """The portable Rademacher sketch's expression oracle and Arrow path
    are bit-identical (integer arithmetic end-to-end — this is what
    makes knn_lsh_ann oracle-checkable). The ANN's recall over this
    sketch is test_ann_recall_vs_bruteforce."""
    both = emb.select(
        "vec_id",
        _rp_sketch_portable("embedding", 64, 8).alias("expr_b"),
        similarity.rp_sketch_portable_arrow(64, 8)(F.col("embedding")).alias(
            "arrow_b"
        ),
    ).collect()
    assert all(r["expr_b"] == r["arrow_b"] for r in both)
    assert {r["expr_b"] for r in both} != {both[0]["expr_b"]}  # not degenerate
