"""Data-quality tier (plans/quality_plans.py): the clean fixtures must
validate clean; profile stats must be internally consistent."""

from __future__ import annotations

from pyspark.sql import functions as F

from spark_hudi_etl_pipeline_spark.plans import QUERIES
from tests.conftest import SF_SMALL


def _language_id(col: str) -> F.Column:
    """Expression reference for ``text.language_id_arrow``: stopword
    hits per language (one tokenize, one filter+size per language), then
    a when-cascade argmax — ties → first language in sorted order, no
    hits → 'und'."""
    from spark_hudi_etl_pipeline_spark.functions.text import STOPWORDS, tokens

    toks = tokens(F.lower(F.col(col)))

    def hits(lang: str) -> F.Column:
        stop = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
        return F.size(F.filter(toks, lambda t: F.array_contains(stop, t)))

    scored = [(lang, hits(lang)) for lang in sorted(STOPWORDS)]
    best = F.greatest(*[s for _, s in scored])
    result = F.lit("und")
    # Reverse order + when-chain ⇒ first-listed language wins ties.
    for lang, score in reversed(scored):
        result = F.when((best > 0) & (score == best), F.lit(lang)).otherwise(result)
    return result


def test_constraints_clean_fixture(spark):
    rows = {r["check_name"]: r["n_violations"]
            for r in QUERIES["validate_constraints"](spark, SF_SMALL).collect()}
    assert set(rows) == {
        "lineitem_fk_orders", "orders_custkey_not_null",
        "orders_pk_unique", "orders_status_accepted",
    }
    # The driver fixtures are referentially intact and key-unique.
    assert rows["lineitem_fk_orders"] == 0
    assert rows["orders_pk_unique"] == 0
    assert rows["orders_custkey_not_null"] == 0


def test_constraints_detect_seeded_violations(spark):
    """Break a copy of orders and run the checker on it: seeded dup
    keys / nulls / bad statuses / orphans must surface with exact
    counts."""
    from spark_hudi_etl_pipeline_spark.plans.quality_plans import (
        constraint_report,
    )
    from spark_hudi_etl_pipeline_spark.sources import load_table

    o = load_table(spark, SF_SMALL, "orders")
    li = load_table(spark, SF_SMALL, "lineitem")
    broken = (
        o.unionByName(
            o.filter((F.col("o_orderkey") % 503 != 0) | (F.col("o_orderkey") == 0))
            .orderBy("o_orderkey")
            .limit(3)
        )
        .withColumn(
            "o_custkey",
            F.when((F.col("o_orderkey") % 701 == 0) & (F.col("o_orderkey") > 0), None).otherwise(
                F.col("o_custkey")
            ),
        )
        .withColumn(
            "o_orderstatus",
            F.when(F.col("o_orderkey") == 7, "X").otherwise(
                F.col("o_orderstatus")
            ),
        )
    )
    n_nulled = o.filter((F.col("o_orderkey") % 701 == 0) & (F.col("o_orderkey") > 0)).count()
    # Orphans: drop every order referenced by a lineitem key % 503 == 0.
    orphan_keys = li.filter((F.col("l_orderkey") % 503 == 0) & (F.col("l_orderkey") > 0))
    n_orphan_rows = orphan_keys.count()
    broken = broken.join(
        orphan_keys.select("l_orderkey").distinct(),
        broken["o_orderkey"] == F.col("l_orderkey"),
        "left_anti",
    )
    rows = {r["check_name"]: r["n_violations"]
            for r in constraint_report(broken, li).collect()}
    assert rows["orders_pk_unique"] == 3
    assert rows["orders_custkey_not_null"] >= n_nulled
    assert rows["orders_status_accepted"] >= 1
    assert rows["lineitem_fk_orders"] == n_orphan_rows


def test_profile_consistency(spark):
    from spark_hudi_etl_pipeline_spark.sources import load_table

    rows = {r["column_name"]: r
            for r in QUERIES["profile_orders"](spark, SF_SMALL).collect()}
    n = load_table(spark, SF_SMALL, "orders").count()
    for r in rows.values():
        assert 0 <= r["n_nulls"] <= n
        assert 1 <= r["n_distinct"] <= n
        assert r["min_s"] <= r["max_s"] or r["n_distinct"] == 1
    assert rows["o_orderkey"]["n_distinct"] == n  # primary key


def test_embedding_dim_stats_shape(spark):
    rows = QUERIES["embedding_dim_stats"](spark, SF_SMALL).collect()
    assert [r["dim"] for r in rows] == list(range(1, 65))
    for r in rows:
        assert r["dim_min"] <= r["mean_q"] <= r["dim_max"]
        assert r["std_q"] >= 0


def test_quarantine_split_partition(spark):
    """good ∪ bad = input; good breaks no rule; multi-violation rows
    list every rule; NULL rule results fail closed."""
    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.plans.quality_plans import quarantine_split

    df = spark.createDataFrame(
        [(1, 10, "F"), (2, -5, "F"), (3, 10, "X"), (4, -1, "X"), (5, None, "O")],
        "k int, price int, status string",
    )
    good, bad = quarantine_split(
        df,
        {
            "price_positive": F.col("price") >= 0,
            "status_accepted": F.col("status").isin("F", "O", "P"),
        },
    )
    assert [r["k"] for r in good.collect()] == [1]
    got = {r["k"]: r["violations"] for r in bad.collect()}
    assert got == {
        2: "price_positive",
        3: "status_accepted",
        4: "price_positive,status_accepted",
        5: "price_positive",  # NULL comparison fails closed
    }
    assert good.count() + bad.count() == df.count()


def test_k_anonymity_class_sizes(spark):
    """Every released equivalence class (level, published quasi combo)
    must reach k; suppressed rows publish nothing."""
    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from tests.conftest import SF_SMALL

    rows = QUERIES["k_anon_customer_release"](spark, SF_SMALL).collect()
    assert rows
    seen_levels = {r["released_level"] for r in rows}
    assert seen_levels <= {0, 1, -1}
    classes: dict = {}
    for r in rows:
        if r["released_level"] == -1:
            assert r["pub_segment"] is None
            assert r["pub_bal_bin"] is None
            assert r["group_n"] is None
        else:
            key = (r["released_level"], r["pub_segment"], r["pub_bal_bin"])
            classes.setdefault(key, []).append(r["group_n"])
    for key, ns in classes.items():
        assert len(ns) >= 4, (key, ns)
        assert all(n == len(ns) for n in ns), (key, ns)


def test_k_anonymity_coarse_class_excludes_released(spark):
    """A coarse class must count ONLY level-0 failures: rows released at
    full detail cannot pad a coarse class to k."""
    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.privacy import (
        k_anonymize_two_level,
    )

    # One fine class of 5 (passes k=4) and a sibling fine class of 3
    # (fails) that coarsens into the SAME bucket as the passing class.
    data = [("a", 0)] * 5 + [("a", 1)] * 3
    df = spark.createDataFrame(data, ["seg", "bin"])
    out = k_anonymize_two_level(
        df, ["seg", "bin"], 4, {"bin": F.floor(F.col("bin") / 2).cast("long")}
    ).collect()
    fine = [r for r in out if r["bin"] == 0]
    assert all(r["released_level"] == 0 and r["group_n"] == 5 for r in fine)
    # The 3 failures alone don't reach k even though 5 released rows
    # share their coarse bucket — they must be suppressed, not padded.
    coarse = [r for r in out if r["bin"] == 1]
    assert all(r["released_level"] == -1 for r in coarse)


def test_k_anonymity_arg_validation(spark):
    import pytest
    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.privacy import (
        k_anonymize_two_level,
    )

    df = spark.createDataFrame([("a", 1)], ["seg", "bin"])
    with pytest.raises(ValueError):
        k_anonymize_two_level(df, ["seg"], 0, {})
    with pytest.raises(ValueError):
        k_anonymize_two_level(df, ["seg"], 2, {"bin": F.col("bin")})


def test_l_diversity_blocks_homogeneous_classes(spark):
    """A class that is k-large but sensitive-homogeneous must NOT
    release (the homogeneity attack k-anonymity misses)."""
    import pytest

    from spark_hudi_etl_pipeline_spark.operators.privacy import (
        l_diversity_gate,
    )

    rows = (
        [(i, "seg1", "flu") for i in range(5)]           # homogeneous
        + [(10 + i, "seg2", ["flu", "cold", "ok"][i % 3]) for i in range(6)]
    )
    df = spark.createDataFrame(rows, "id long, seg string, dx string")
    out = {r["id"]: (r["released"], r["distinct_sensitive"], r["class_n"])
           for r in l_diversity_gate(df, ["seg"], "dx", 2).collect()}
    for i in range(5):
        assert out[i] == (0, 1, 5)
    for i in range(10, 16):
        assert out[i] == (1, 3, 6)
    with pytest.raises(ValueError):
        l_diversity_gate(df, ["seg"], "dx", 0)


def _quality_score(col: str) -> F.Column:
    """Expression reference for ``text.quality_score_arrow``: length
    sweet-spot, low punctuation, healthy stopword ratio, sane mean token
    length, weighted 0.3/0.2/0.3/0.2 and rounded to 6 digits."""
    from spark_hudi_etl_pipeline_spark.functions.text import (
        mean_token_length,
        punct_ratio,
        stopword_ratio,
    )

    c = F.col(col)
    n = F.length(c)
    len_ok = F.when((n >= 50) & (n <= 20000), F.lit(1.0)).otherwise(
        F.when(n < 50, n / F.lit(50.0)).otherwise(F.lit(20000.0) / n)
    )
    punct_ok = F.lit(1.0) - F.least(punct_ratio(c) * 4, F.lit(1.0))
    stop = stopword_ratio(c)
    stop_ok = F.when(stop >= 0.05, F.lit(1.0)).otherwise(stop / F.lit(0.05))
    mtl = mean_token_length(c)
    mtl_ok = F.when((mtl >= 2.5) & (mtl <= 12.0), F.lit(1.0)).otherwise(F.lit(0.4))
    return F.round(
        len_ok * 0.3 + punct_ok * 0.2 + stop_ok * 0.3 + mtl_ok * 0.2, 6
    )


def test_quality_score_arrow_parity(spark):
    """The Arrow twin (r13 default path of text_quality_scores) must be
    bit-identical to the expression form — length sweet-spot edges,
    punctuation, stopword and mean-token-length legs, HALF_UP round(6) —
    on adversarial local docs and the fixture corpus."""
    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.functions import text
    from spark_hudi_etl_pipeline_spark.sources import load_table

    d = spark.createDataFrame(
        [
            (1, "the of and to in is that it for a"),   # all stopwords
            (2, ""),                                      # empty
            (3, None),                                    # null
            (4, "x" * 49),                                # below length knee
            (5, "y " * 30000),                            # above sweet spot
            (6, "!!! ??? ;;; ::: ..."),                   # punctuation heavy
            (7, "  The   quick brown fox, it is a test of the scoring.  "),
            (8, "supercalifragilistic words exceeding mean token length limits everywhere"),
        ],
        ["doc_id", "text"],
    )
    expr = d.select("doc_id", _quality_score("text").alias("q")).collect()
    arrow = d.select("doc_id", text.quality_score_arrow().alias("q")).collect()
    assert [tuple(r) for r in expr] == [tuple(r) for r in arrow]

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    e = docs.select("doc_id", _quality_score("text").alias("q")).orderBy("doc_id").collect()
    a = docs.select("doc_id", text.quality_score_arrow().alias("q")).orderBy("doc_id").collect()
    assert [tuple(r) for r in e] == [tuple(r) for r in a]


def test_language_id_arrow_parity(spark):
    """The Arrow twin (r14 default path of text_language_id /
    text_lang_mismatch) must be bit-identical to the expression form —
    argmax tie-breaks (lexicographically first language), zero hits →
    'und', NULL text → 'und', hit counts over REPEATED tokens — on
    adversarial local docs and the fixture corpus."""
    from spark_hudi_etl_pipeline_spark.functions import text
    from spark_hudi_etl_pipeline_spark.sources import load_table

    d = spark.createDataFrame(
        [
            (1, "the of and to in is that it for"),       # en
            (2, "el la de que y en un una los por"),      # es ('de','en' also de/en hits)
            (3, "le la de et un une les des que pour"),   # fr
            (4, "der die das und ein eine zu von mit ist"),  # de
            (5, "de de de de"),                           # tie es/fr ('de' in both) → de? es? first sorted winner
            (6, ""),                                       # empty → und
            (7, None),                                     # null → und
            (8, "zzz qqq xxx"),                            # no hits → und
            (9, "  LA   QUE la de   "),                    # case + repeated tokens
            (10, "la la la le le"),                        # repeated-count tie-break
        ],
        ["doc_id", "text"],
    )
    expr = d.select("doc_id", _language_id("text").alias("p")).collect()
    arrow = d.select("doc_id", text.language_id_arrow().alias("p")).collect()
    assert [tuple(r) for r in expr] == [tuple(r) for r in arrow]

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    e = docs.select("doc_id", _language_id("text").alias("p")).orderBy("doc_id").collect()
    a = docs.select("doc_id", text.language_id_arrow().alias("p")).orderBy("doc_id").collect()
    assert [tuple(r) for r in e] == [tuple(r) for r in a]
