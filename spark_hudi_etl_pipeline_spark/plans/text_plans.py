"""Text-analysis queries over the ``documents`` fixture (north-star
extension): token stats, quality scoring, language ID, BPE-ish token
counts. All map-only codegen'd expressions (functions/text.py) — the
oracles replicate the same arithmetic in DuckDB SQL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import text
from ..session import fan_out
from ..sources import load_table
from .registry import query, scratch

_TOKS = r"string_split_regex(trim(text), '\s+')"
_LOWER_TOKS = r"string_split_regex(trim(lower(text)), '\s+')"


def _stop_list_sql(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in text.STOPWORDS[lang])
    return f"[{words}]"


_STOP_HITS = {
    lang: f"len(list_filter({_LOWER_TOKS}, t -> list_contains({_stop_list_sql(lang)}, t)))"
    for lang in sorted(text.STOPWORDS)
}


@query(
    "text_token_stats",
    oracle=f"""
SELECT doc_id,
       length(text) AS n_chars,
       len({_TOKS}) AS n_tokens,
       round(list_sum(list_transform({_TOKS}, t -> length(t)))
             / greatest(len({_TOKS}), 1), 4) AS mean_token_len,
       len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe_tokens
FROM documents
ORDER BY doc_id
""",
)
def text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token statistics: char count, whitespace-token count,
    mean token length, BPE-ish regex token count."""
    d = load_table(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        text.char_count("text").alias("n_chars"),
        text.token_count("text").alias("n_tokens"),
        F.round(text.mean_token_length("text"), 4).alias("mean_token_len"),
        F.size(text.bpe_tokens("text")).alias("n_bpe_tokens"),
    ).orderBy("doc_id")


@query(
    "text_quality_scores",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         length(text) AS n,
         length(regexp_replace(text, '[\\w\\s]', '', 'g'))
           / greatest(length(text), 1) AS punct_ratio,
         {_STOP_HITS['en']} / greatest(len({_LOWER_TOKS}), 1) AS stop_ratio,
         list_sum(list_transform({_TOKS}, t -> length(t)))
           / greatest(len({_TOKS}), 1) AS mtl
  FROM documents
)
SELECT doc_id,
       round(
         (CASE WHEN n BETWEEN 50 AND 20000 THEN 1.0
               WHEN n < 50 THEN n / 50.0 ELSE 20000.0 / n END) * 0.3
       + (1.0 - least(punct_ratio * 4, 1.0)) * 0.2
       + (CASE WHEN stop_ratio >= 0.05 THEN 1.0 ELSE stop_ratio / 0.05 END) * 0.3
       + (CASE WHEN mtl BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.4 END) * 0.2
       , 6) AS quality
FROM m
ORDER BY doc_id
""",
)
def text_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite heuristic quality score per document (length sweet-spot,
    punctuation, stopword ratio, mean token length)."""
    # One Arrow UDF pass per batch (parity-asserted against the expression
    # form kept in tests/test_quality.py, whose interpreted stopword/token
    # HOF chain cost ~0.7 s/pass at sf0.1). The scan is range-partitioned
    # by doc_id, one task per core, and sorted within partitions after
    # the UDF: an orderBy over the UDF's output would sample its range
    # bounds by running the UDF a second time.
    d = fan_out(load_table(spark, sf_dir, "documents"), "doc_id")
    return d.select(
        "doc_id", text.quality_score_arrow().alias("quality")
    ).sortWithinPartitions("doc_id")


# --------------------------------------------------------------------------
# Quality-threshold sweep: the filter-calibration table a curation run
# reads BEFORE committing to a cutoff — for every threshold on the 0.05
# grid, how many documents (and how many characters of training data)
# survive. One corpus scan folds each doc into its score bucket
# (round(quality·1e6) div 50000 — all-integer, engine-exact), then a
# 21-row dense grid takes a suffix-cumulative window. The sweep costs
# one groupBy to 21 rows at any corpus size; the window runs over the
# threshold DOMAIN, not the data.
# --------------------------------------------------------------------------


@query(
    "quality_threshold_sweep",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         length(text) AS n,
         length(regexp_replace(text, '[\\w\\s]', '', 'g'))
           / greatest(length(text), 1) AS punct_ratio,
         {_STOP_HITS['en']} / greatest(len({_LOWER_TOKS}), 1) AS stop_ratio,
         list_sum(list_transform({_TOKS}, t -> length(t)))
           / greatest(len({_TOKS}), 1) AS mtl
  FROM documents
),
q AS (
  SELECT n,
         CAST(round(round(
           (CASE WHEN n BETWEEN 50 AND 20000 THEN 1.0
                 WHEN n < 50 THEN n / 50.0 ELSE 20000.0 / n END) * 0.3
         + (1.0 - least(punct_ratio * 4, 1.0)) * 0.2
         + (CASE WHEN stop_ratio >= 0.05 THEN 1.0
                 ELSE stop_ratio / 0.05 END) * 0.3
         + (CASE WHEN mtl BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.4 END) * 0.2
         , 6) * 1000000) AS BIGINT) AS qi
  FROM m
),
b AS (SELECT qi // 50000 AS b, count(*) AS nd, sum(n) AS nc FROM q GROUP BY 1),
grid AS (SELECT i AS j FROM generate_series(0, 20) AS g(i)),
jn AS (
  SELECT j, coalesce(nd, 0) AS nd, coalesce(nc, 0) AS nc
  FROM grid LEFT JOIN b ON b.b = grid.j
),
cum AS (
  SELECT j,
         sum(nd) OVER (ORDER BY j
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS kept_docs,
         sum(nc) OVER (ORDER BY j
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS kept_chars,
         sum(nd) OVER () AS total_docs
  FROM jn
)
SELECT j * 5 AS threshold_pct,
       CAST(kept_docs AS BIGINT) AS kept_docs,
       CAST(kept_chars AS BIGINT) AS kept_chars,
       CAST((kept_docs * 10000) // total_docs AS BIGINT) AS keep_rate_q
FROM cum ORDER BY threshold_pct
""",
)
def quality_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from ..operators.dedup import barrier_col

    d = load_table(spark, sf_dir, "documents")
    qi = F.round(text.quality_score_arrow() * 1000000).cast("long")
    # barrier: the grid join's pushed isnotnull(b) filter otherwise
    # re-plans the Arrow UDF below it — two stacked ArrowEvalPython
    # nodes, every row scored twice (guide §4.4)
    agg = (
        barrier_col(d.select("text"), "qi", qi)
        .select(F.expr("qi div 50000").alias("b"),
                F.length("text").cast("long").alias("n"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("nd"), F.sum("n").alias("nc"))
    )
    grid = spark.range(0, 21).select(F.col("id").alias("j"))
    jn = grid.join(agg, grid["j"] == agg["b"], "left").select(
        "j",
        F.coalesce("nd", F.lit(0)).alias("nd"),
        F.coalesce("nc", F.lit(0)).alias("nc"),
    )
    # Suffix-cumulative over the 21-row threshold DOMAIN (bounded
    # relation — the global window never sees data-scale rows).
    wcum = Window.orderBy("j").rowsBetween(Window.currentRow, Window.unboundedFollowing)
    wall = Window.orderBy("j").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return (
        jn.select(
            (F.col("j") * 5).alias("threshold_pct"),
            F.sum("nd").over(wcum).alias("kept_docs"),
            F.sum("nc").over(wcum).alias("kept_chars"),
            F.sum("nd").over(wall).alias("total_docs"),
        )
        .select(
            "threshold_pct",
            "kept_docs",
            "kept_chars",
            F.expr("(kept_docs * 10000) div total_docs").alias("keep_rate_q"),
        )
        .orderBy("threshold_pct")
    )


def _gopher_gate_impl(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    ntok = F.size(text.tokens("text"))
    mtl = text.mean_token_length("text")
    pr = text.punct_ratio("text")
    sr = text.stopword_ratio("text")
    flags = d.select(
        "source",
        ((ntok < 30) | (ntok > 10000)).cast("long").alias("f_words"),
        ((mtl < 2.5) | (mtl > 12.0)).cast("long").alias("f_mwl"),
        (pr > 0.1).cast("long").alias("f_punct"),
        (sr < 0.05).cast("long").alias("f_stop"),
    )
    return (
        flags.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("f_words").alias("fail_words"),
            F.sum("f_mwl").alias("fail_mwl"),
            F.sum("f_punct").alias("fail_punct"),
            F.sum("f_stop").alias("fail_stop"),
            F.sum(
                (
                    F.col("f_words")
                    + F.col("f_mwl")
                    + F.col("f_punct")
                    + F.col("f_stop")
                    == 0
                ).cast("long")
            ).alias("n_keep"),
        )
        .select(
            "source",
            "n_docs",
            "fail_words",
            "fail_mwl",
            "fail_punct",
            "fail_stop",
            "n_keep",
            F.expr("(n_keep * 10000) div n_docs").alias("keep_rate_q"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Gopher-style HARD rule census (Rae et al. 2021 §A1.1 adapted to this
# corpus' grain): where text_quality_scores folds the heuristics into
# one soft score, this reports each rule's bite separately per source —
# word-count band, mean-word-length band, punctuation ratio, stopword
# floor — plus the all-rules keep rate. That per-rule breakdown is what
# a curation run reads to decide WHICH rule to relax; the soft score
# can't tell. One map-only pass (all four metrics from one tokenize /
# regex set, no UDFs) + a |sources|-row aggregate — a linear scan at
# any corpus size.
# --------------------------------------------------------------------------


@query(
    "text_gopher_gate",
    oracle=f"""
WITH m AS (
  SELECT source,
         len({_TOKS}) AS ntok,
         list_sum(list_transform({_TOKS}, t -> length(t)))
           / greatest(len({_TOKS}), 1) AS mtl,
         length(regexp_replace(text, '[\\w\\s]', '', 'g'))
           / greatest(length(text), 1) AS pr,
         {_STOP_HITS['en']} / greatest(len({_LOWER_TOKS}), 1) AS sr
  FROM documents
),
f AS (
  SELECT source,
         CASE WHEN ntok < 30 OR ntok > 10000 THEN 1 ELSE 0 END AS f_words,
         CASE WHEN mtl < 2.5 OR mtl > 12.0 THEN 1 ELSE 0 END AS f_mwl,
         CASE WHEN pr > 0.1 THEN 1 ELSE 0 END AS f_punct,
         CASE WHEN sr < 0.05 THEN 1 ELSE 0 END AS f_stop
  FROM m
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(f_words) AS BIGINT) AS fail_words,
       CAST(sum(f_mwl) AS BIGINT) AS fail_mwl,
       CAST(sum(f_punct) AS BIGINT) AS fail_punct,
       CAST(sum(f_stop) AS BIGINT) AS fail_stop,
       CAST(sum(CASE WHEN f_words + f_mwl + f_punct + f_stop = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
       CAST((sum(CASE WHEN f_words + f_mwl + f_punct + f_stop = 0
                      THEN 1 ELSE 0 END) * 10000) // count(*) AS BIGINT)
         AS keep_rate_q
FROM f GROUP BY source ORDER BY source
""",
)
def text_gopher_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _gopher_gate_impl(spark, sf_dir)



@query(
    "text_language_id",
    oracle=f"""
WITH h AS (
  SELECT doc_id, lang,
         {_STOP_HITS['de']} AS h_de,
         {_STOP_HITS['en']} AS h_en,
         {_STOP_HITS['es']} AS h_es,
         {_STOP_HITS['fr']} AS h_fr
  FROM documents
),
pred AS (
  SELECT doc_id, lang,
         CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
              WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
              WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
              WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM h
)
SELECT lang_pred, count(*) AS n_docs
FROM pred
GROUP BY lang_pred
ORDER BY lang_pred
""",
)
def text_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-scoring language ID (argmax over per-language hit counts,
    ties → lexicographically first, no hits → 'und'), aggregated to
    per-predicted-language document counts."""
    d = load_table(spark, sf_dir, "documents")
    # Arrow twin (parity-asserted): the 4-language interpreted
    # filter/array_contains HOF cascade cost ~4× one Python pass per batch
    return (
        d.select(text.language_id_arrow().alias("lang_pred"))
        .groupBy("lang_pred")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang_pred")
    )


# --------------------------------------------------------------------------
# Language confusion matrix: declared `lang` metadata × predicted
# language ID — the metadata-trust check a multilingual curation run
# reads before routing documents by their DECLARED language (mislabeled
# docs poison per-language tokenizers and mixture weights). Off-diagonal
# rows are the mislabel census. Same map-only classifier as
# text_language_id, one |langs|²-bounded aggregate.
# --------------------------------------------------------------------------


@query(
    "text_lang_mismatch",
    oracle=f"""
WITH h AS (
  SELECT doc_id, lang,
         {_STOP_HITS['de']} AS h_de,
         {_STOP_HITS['en']} AS h_en,
         {_STOP_HITS['es']} AS h_es,
         {_STOP_HITS['fr']} AS h_fr
  FROM documents
),
pred AS (
  SELECT doc_id, lang,
         CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
              WHEN h_de = greatest(h_de, h_en, h_es, h_fr) THEN 'de'
              WHEN h_en = greatest(h_de, h_en, h_es, h_fr) THEN 'en'
              WHEN h_es = greatest(h_de, h_en, h_es, h_fr) THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM h
)
SELECT lang, lang_pred, count(*) AS n_docs,
       CASE WHEN lang = lang_pred THEN 0 ELSE 1 END AS mismatch
FROM pred
GROUP BY lang, lang_pred
ORDER BY lang, lang_pred
""",
)
def text_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("lang", text.language_id_arrow().alias("lang_pred"))
        .groupBy("lang", "lang_pred")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max(
                F.when(F.col("lang") == F.col("lang_pred"), 0).otherwise(1)
            ).alias("mismatch"),
        )
        .orderBy("lang", "lang_pred")
    )


# --------------------------------------------------------------------------
# TF-IDF top terms per document — the keyword-extraction primitive of a
# training-data pipeline (doc fingerprinting / topic tagging at corpus
# scale). Three shuffles total, each on a natural key: (doc, term) for
# tf, term for df + the tf⋈df join, doc for the top-k window. The score
# is floor-quantized to 1e-4 (engine-invariant fixed point — ln() can
# differ in the last ulp between JVM and C libm) and the top-3 selection
# orders by the quantized integer with a term tie-break, so both engines
# pick identical rows.
# --------------------------------------------------------------------------


@query(
    "text_tfidf_top_terms",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE term <> ''
  GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.doc_id, tf.term, tf.tf, df.df,
         CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) * 10000)
              AS BIGINT) AS score_q
  FROM tf JOIN df USING (term), n
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY doc_id ORDER BY score_q DESC, term) AS rnk
  FROM scored
)
SELECT doc_id, term, tf, df, score_q, rnk
FROM ranked WHERE rnk <= 3
ORDER BY doc_id, rnk
""",
)
def text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document. idf = ln(N/df) over the corpus;
    the document-frequency side is an aggregate of the tf relation, so
    the corpus is tokenized exactly once."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            "tf",
            "df",
            F.floor(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * 10000
            )
            .cast("long")
            .alias("score_q"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("score_q"), F.asc("term"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", "tf", "df", "score_q", "rnk")
        .orderBy("doc_id", "rnk")
    )


# --------------------------------------------------------------------------
# Corpus vocabulary top-k: the highest-document-frequency terms with
# their corpus-wide term counts — the vocabulary-construction step of a
# tokenizer/training pipeline. Same single tokenize pass as TF-IDF; the
# final top-k is a TakeOrderedAndProject (no global sort) with a term
# tie-break so selection is deterministic.
# --------------------------------------------------------------------------


@query(
    "corpus_vocab_topk",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE term <> ''
  GROUP BY doc_id, term
)
SELECT term, count(*) AS df, CAST(sum(tf) AS BIGINT) AS total_tf
FROM tf
GROUP BY term
ORDER BY df DESC, term
LIMIT 100
""",
)
def corpus_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    return (
        tf.groupBy("term")
        .agg(F.count(F.lit(1)).alias("df"), F.sum("tf").alias("total_tf"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(100)
    )


# --------------------------------------------------------------------------
# PII redaction: regex scrubbing of emails and phone-like numbers — the
# standard privacy pass a pretraining corpus runs before anything else.
# The fixture text is synthetic (PII-free), so the plan deterministically
# plants PII first (emails on doc_id % 3 == 0, phones on doc_id % 5 == 0;
# the oracle plants the identical strings), making the redaction + counts
# non-vacuous. Map-only codegen'd expressions — no shuffle, trivially
# scales; the regexes avoid lookarounds so Java (Spark) and RE2 (DuckDB)
# agree.
# --------------------------------------------------------------------------

_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\b555-[0-9]{4}\b"


@query(
    "text_pii_redaction",
    oracle=rf"""
WITH planted AS (
  SELECT doc_id,
         text
         || CASE WHEN doc_id % 3 = 0
                 THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                 ELSE '' END
         || CASE WHEN doc_id % 5 = 0
                 THEN ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                 ELSE '' END AS text
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(text, '{_EMAIL_RE}')) AS n_emails,
       len(regexp_extract_all(text, '{_PHONE_RE}')) AS n_phones,
       regexp_replace(regexp_replace(text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                      '{_PHONE_RE}', '<PHONE>', 'g') AS clean_text
FROM planted
ORDER BY doc_id
""",
)
def text_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document PII scrub: count and redact planted emails/phone
    numbers. Spark regexp_replace replaces all matches (= DuckDB's 'g')."""
    d = load_table(spark, sf_dir, "documents")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(
                    F.lit(" contact user"),
                    F.col("doc_id").cast("string"),
                    F.lit("@example.com"),
                ),
            ).otherwise(F.lit("")),
            F.when(
                F.col("doc_id") % 5 == 0,
                F.concat(
                    F.lit(" call 555-"),
                    F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )
    return planted.select(
        "doc_id",
        F.regexp_count("text", F.lit(_EMAIL_RE)).alias("n_emails"),
        F.regexp_count("text", F.lit(_PHONE_RE)).alias("n_phones"),
        F.regexp_replace(
            F.regexp_replace("text", _EMAIL_RE, "<EMAIL>"),
            _PHONE_RE,
            "<PHONE>",
        ).alias("clean_text"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Quality-stratified downsampling: rank the corpus by the composite
# quality score, quartile it, and keep a deterministic hash-sample per
# quartile (all of the best quartile, progressively less of worse ones) —
# the standard "oversample high-quality data" curation step, as one
# declarative plan. Membership is a pure function of the row (md5 bucket,
# engine-portable), so the sample is stable under repartition/append.
# The ntile ranks by the ROUNDED score (what quality_score_arrow emits)
# with a doc_id tie-break — both engines order identical values
# identically.
# --------------------------------------------------------------------------


@query(
    "sample_by_quality_bucket",
    oracle=f"""
WITH m AS (
  SELECT doc_id,
         length(text) AS n,
         length(regexp_replace(text, '[\\w\\s]', '', 'g'))
           / greatest(length(text), 1) AS punct_ratio,
         {_STOP_HITS['en']} / greatest(len({_LOWER_TOKS}), 1) AS stop_ratio,
         list_sum(list_transform({_TOKS}, t -> length(t)))
           / greatest(len({_TOKS}), 1) AS mtl
  FROM documents
),
q AS (
  SELECT doc_id,
         round(
           (CASE WHEN n BETWEEN 50 AND 20000 THEN 1.0
                 WHEN n < 50 THEN n / 50.0 ELSE 20000.0 / n END) * 0.3
         + (1.0 - least(punct_ratio * 4, 1.0)) * 0.2
         + (CASE WHEN stop_ratio >= 0.05 THEN 1.0 ELSE stop_ratio / 0.05 END) * 0.3
         + (CASE WHEN mtl BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.4 END) * 0.2
         , 6) AS quality
  FROM m
),
b AS (
  SELECT doc_id,
         ntile(4) OVER (ORDER BY quality DESC, doc_id) AS bucket
  FROM q
)
SELECT bucket, count(*) AS n_docs,
       CAST(sum(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
                CASE bucket WHEN 1 THEN 'zzzz' WHEN 2 THEN '8000'
                            WHEN 3 THEN '4000' ELSE '2000' END
           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM b GROUP BY bucket ORDER BY bucket
""",
)
def sample_by_quality_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep 100%/50%/25%/12.5% of quality quartiles 1-4, deterministically
    by md5(doc_id) bucket; reports per-quartile corpus and kept counts.

    Exact ntile(4) WITHOUT a global single-partition window (the two-
    phase prefix-sum house pattern, value-range keyed): documents group
    by a deterministic quality bin (floor(quality*1000) — a pure
    function of the row, so no sampled range boundaries and no
    recompute hazard), rank locally inside each bin, and add the
    broadcast count of all higher-quality bins; the global rank then
    maps to ntile's bucket sizes (first N%4 buckets get the extra row)
    in closed form. Same result, rows never leave their map-side
    partition except for the one per-bin shuffle."""
    from pyspark.sql import Window

    from ..operators.sampling import hash_bucket, hex_threshold

    d = fan_out(load_table(spark, sf_dir, "documents"))
    scored = d.select("doc_id", text.quality_score_arrow().alias("quality"))
    # Materialize the scored projection once: it feeds both the local
    # window and the bin counts, and the quality score is a regex-heavy
    # scan worth paying exactly once (3 narrow columns at rest).
    binned = scored.withColumn(
        "qb", F.floor(F.col("quality") * 1000).cast("int")
    ).localCheckpoint(eager=True)
    wb = Window.partitionBy("qb").orderBy(F.desc("quality"), F.asc("doc_id"))
    local = binned.withColumn("rn_local", F.row_number().over(wb))
    # Offsets over the ≤1001-row bin relation only (tiny window), then
    # broadcast back; total rides along for the ntile arithmetic.
    wo = Window.orderBy(F.desc("qb")).rowsBetween(
        Window.unboundedPreceding, -1
    )
    bin_counts = binned.groupBy("qb").agg(F.count(F.lit(1)).alias("bn"))
    offsets = bin_counts.select(
        "qb", F.coalesce(F.sum("bn").over(wo), F.lit(0)).alias("off")
    )
    total = bin_counts.agg(F.sum("bn").alias("n_total"))
    rank = F.col("off") + F.col("rn_local")
    # ntile(4): q=N div 4, r=N mod 4; buckets 1..r hold q+1 rows.
    qsz = F.floor(F.col("n_total") / 4)
    rem = F.col("n_total") % 4
    big = rem * (qsz + 1)  # rows covered by the oversized buckets
    bucket = (
        F.when(rank <= big, F.ceil(rank / (qsz + 1)))
        .otherwise(rem + F.ceil((rank - big) / F.greatest(qsz, F.lit(1))))
        .cast("int")
    )
    b = (
        local.join(F.broadcast(offsets), "qb")
        .crossJoin(F.broadcast(total))
        .withColumn("bucket", bucket)
    )
    thr = (
        F.when(F.col("bucket") == 1, hex_threshold(1.0))
        .when(F.col("bucket") == 2, hex_threshold(0.5))
        .when(F.col("bucket") == 3, hex_threshold(0.25))
        .otherwise(hex_threshold(0.125))
    )
    keep = (hash_bucket(F.col("doc_id")) < thr).cast("int")
    return (
        b.select("bucket", keep.alias("keep"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"), F.sum("keep").alias("n_kept"))
        .orderBy("bucket")
    )


# --------------------------------------------------------------------------
# Token-id encoding: build the corpus vocabulary (top-100 terms by
# document frequency) and encode every document as its sequence of
# vocabulary ids (OOV → 0) — the text→ints step every training pipeline
# runs before batching. Scale shape: the vocab is a top-k (TakeOrdered,
# never a global sort), ids attach via a BROADCAST join against the
# exploded tokens (the corpus shuffles once, on doc_id, to reassemble
# ordered sequences), and the id sequence ships as a CSV string (scalar
# output contract).
# --------------------------------------------------------------------------


@query(
    "text_encode_ids",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
),
tok AS (
  SELECT doc_id, generate_subscripts(t, 1) AS pos, unnest(t) AS term
  FROM toks
),
df AS (
  SELECT term, count(DISTINCT doc_id) AS df
  FROM tok WHERE term <> '' GROUP BY term
),
vocab AS (
  SELECT term, row_number() OVER (ORDER BY df DESC, term) AS id
  FROM df ORDER BY df DESC, term LIMIT 100
),
enc AS (
  SELECT t.doc_id, t.pos, coalesce(v.id, 0) AS id
  FROM tok t LEFT JOIN vocab v USING (term)
)
SELECT doc_id,
       string_agg(CAST(id AS VARCHAR), ',' ORDER BY pos) AS ids_csv,
       count(*) AS n_tokens,
       CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
FROM enc GROUP BY doc_id ORDER BY doc_id
""",
)
def text_encode_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
    )
    tok = d.select("doc_id", F.posexplode("t").alias("pos0", "term")).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), "term"
    )
    df_rel = (
        tok.filter(F.col("term") != "")
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
    )
    # Top-k FIRST (TakeOrdered — no global sort/window over the full
    # term relation), then ids from a window over the 100-row result.
    top = df_rel.orderBy(F.desc("df"), F.asc("term")).limit(100)
    vocab = top.withColumn(
        "id", F.row_number().over(Window.orderBy(F.desc("df"), F.asc("term")))
    ).select("term", "id")
    enc = tok.join(F.broadcast(vocab), on="term", how="left").select(
        "doc_id", "pos", F.coalesce(F.col("id"), F.lit(0)).alias("id")
    )
    return (
        enc.groupBy("doc_id")
        .agg(
            F.concat_ws(
                ",",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "id"))),
                    lambda x: x["id"].cast("string"),
                ),
            ).alias("ids_csv"),
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.when(F.col("id") == 0, 1).otherwise(0)).alias("n_oov"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Model-based quality filtering: a linear "fastText-style" quality
# classifier scoring each document from cheap engineered features — the
# second stage of the standard curation funnel (heuristic filters →
# learned quality model). Weights are fixed (a stand-in for trained
# coefficients); the whole scorer is integer fixed-point arithmetic
# (score scaled 1e6) so Spark and DuckDB agree bit-exactly — no float
# accumulation anywhere. Map-only codegen'd expressions; at 100 TB this
# is a pure scan with zero shuffles.
# --------------------------------------------------------------------------


@query(
    "quality_model_filter",
    oracle=f"""
WITH feat AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len({_TOKS}) AS n_tok,
         len(regexp_extract_all(text, '\\w+|[^\\w\\s]')) AS n_bpe,
         length(regexp_replace(text, '[\\w\\s]', '', 'g')) AS n_punct,
         {_STOP_HITS['en']} AS stop_hits
  FROM documents
)
SELECT doc_id,
       CAST(2000000
            + 1500 * least(n_bpe, 1000)
            + (3000000 * stop_hits) // greatest(n_tok, 1)
            - (5000000 * n_punct) // greatest(n_chars, 1)
            - 400 * least(n_chars, 2000) AS BIGINT) AS score_q,
       (2000000
            + 1500 * least(n_bpe, 1000)
            + (3000000 * stop_hits) // greatest(n_tok, 1)
            - (5000000 * n_punct) // greatest(n_chars, 1)
            - 400 * least(n_chars, 2000)) >= 2500000 AS keep
FROM feat
ORDER BY doc_id
""",
)
def quality_model_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear quality-classifier filter: integer-feature dot product with
    fixed weights (bias 2.0; +0.0015/BPE-token capped at 1000; +3.0 ×
    stopword ratio; −5.0 × punctuation ratio; −0.0004/char capped at
    2000), score in 1e6 fixed point, keep ⇔ score ≥ 2.5. Every term is
    integer arithmetic with floor division on non-negative operands, so
    the oracle matches bit-exactly."""
    d = load_table(spark, sf_dir, "documents")
    stop = F.array(*[F.lit(w) for w in text.STOPWORDS["en"]])
    low_toks = F.split(F.trim(F.lower(F.col("text"))), r"\s+")
    feats = d.select(
        "doc_id",
        text.char_count("text").alias("n_chars"),
        text.token_count("text").alias("n_tok"),
        F.size(text.bpe_tokens("text")).alias("n_bpe"),
        F.length(F.regexp_replace(F.col("text"), r"[\w\s]", "")).alias("n_punct"),
        F.size(F.filter(low_toks, lambda t: F.array_contains(stop, t))).alias(
            "stop_hits"
        ),
    )
    # integer floor-div via expr DIV (both operands non-negative here, so
    # DIV's truncation == DuckDB //'s floor)
    score_q = (
        F.lit(2000000).cast("long")
        + F.lit(1500) * F.least(F.col("n_bpe"), F.lit(1000)).cast("long")
        + F.expr("(3000000 * stop_hits) DIV greatest(n_tok, 1)")
        - F.expr("(5000000 * n_punct) DIV greatest(n_chars, 1)")
        - F.lit(400) * F.least(F.col("n_chars"), F.lit(2000)).cast("long")
    )
    return feats.select(
        "doc_id",
        score_q.alias("score_q"),
        (score_q >= F.lit(2500000)).alias("keep"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# BM25 retrieval ranking for a fixed query — the standard lexical
# retrieval scorer (Robertson k1/b form, +1 idf so scores stay
# positive). Cross-engine safety: the per-(doc,term) contribution is ONE
# double expression written textually identically in both engines
# (IEEE ops in the same order; ln is correctly rounded in both, the same
# contract text_tfidf_top_terms already relies on), then floor-quantized
# to a 1e4 fixed-point BIGINT **before** the per-doc sum — integer sums
# are accumulation-order-independent, so Spark's parallel partials can
# never drift from DuckDB's serial fold.
#
# Scale: the corpus side reduces to (doc_id, dl) — one tokenize
# aggregate; the query-term tf relation is filtered to |query| terms
# before any shuffle; df and the global length stats are metadata-scale
# broadcasts. Nothing all-pairs, nothing driver-side.
# --------------------------------------------------------------------------

_BM25_TERMS = ("stream", "window", "merge")

#: One shared contribution expression — keep this string IDENTICAL in
#: Spark and DuckDB (only the integer-cast spellings differ via format).
_BM25_CONTRIB = (
    "CAST(floor(ln((CAST(n_docs AS DOUBLE) - df + 0.5) / (df + 0.5) + 1.0)"
    " * (tf * 2.2)"
    " / (tf + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)"
    " / (CAST(total_tokens AS DOUBLE) / CAST(n_docs AS DOUBLE))))"
    " * 10000) AS BIGINT)"
)


@query(
    "bm25_rank_docs",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
nz AS (SELECT doc_id, term FROM toks WHERE term <> ''),
lens AS (SELECT doc_id, count(*) AS dl FROM nz GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT CAST(count(*) AS BIGINT) FROM nz) AS total_tokens
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM nz WHERE term IN ('stream', 'window', 'merge')
  GROUP BY doc_id, term
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id, {_BM25_CONTRIB} AS c
  FROM tf JOIN df USING (term) JOIN lens USING (doc_id), stats
),
scored AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_q,
         CAST(count(*) AS BIGINT) AS n_terms
  FROM contrib GROUP BY doc_id
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY score_q DESC, doc_id) AS rnk
  FROM scored
)
SELECT doc_id, score_q, n_terms, rnk FROM ranked
WHERE rnk <= 20 ORDER BY rnk
""",
)
def bm25_rank_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 documents by BM25 (k1=1.2, b=0.75, ln((N-df+0.5)/(df+0.5)+1)
    idf) for the fixed query {stream, window, merge}. Per-term
    contributions are 1e4 fixed-point quantized before the per-doc sum so
    the score is integer-exact regardless of aggregation order."""
    return _bm25_topk(spark, sf_dir)


def _bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    lens = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    # n_docs counts ALL documents (mirror the oracle exactly — a doc
    # tokenizing to nothing must still count toward N and avgdl)
    stats = d.agg(F.count(F.lit(1)).alias("n_docs")).crossJoin(
        toks.agg(F.count(F.lit(1)).alias("total_tokens"))
    )
    tf = (
        toks.filter(F.col("term").isin(*_BM25_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    contrib = (
        tf.join(F.broadcast(dfreq), "term")
        .join(lens, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select("doc_id", F.expr(_BM25_CONTRIB).alias("c"))
    )
    scored = contrib.groupBy("doc_id").agg(
        F.sum("c").alias("score_q"), F.count(F.lit(1)).alias("n_terms")
    )
    # Top-k FIRST (TakeOrderedAndProject — per-partition heaps, never a
    # single-partition window over all scored docs), then the rank
    # column from a window over the 20-row result (same shape as the
    # vocab top-k above).
    top = scored.orderBy(F.desc("score_q"), F.asc("doc_id")).limit(20)
    ranked = top.withColumn(
        "rnk",
        F.row_number().over(Window.orderBy(F.desc("score_q"), F.asc("doc_id"))),
    )
    return ranked.orderBy("rnk")


# --------------------------------------------------------------------------
# Hybrid retrieval via Reciprocal Rank Fusion (Cormack et al., the
# standard lexical+dense fusion every RAG stack ships): the BM25 top-20
# (lexical) and the embedding-cosine top-20 for a fixed query vector
# (dense; docs join vectors on doc_id = vec_id) are fused by
# score = Σ_systems 1/(60 + rank), realized as the integer
# 1000000 // (60 + rank) so the fused score — and therefore the final
# ranking — is exact in both engines. Docs ranked by only one system
# still score (the outer join), which is RRF's whole point.
#
# Scale: each system's candidate list is top-k'd BEFORE fusion
# (TakeOrderedAndProject per system — never a global window), so the
# fusion join touches 2k rows regardless of corpus size; both sides
# broadcast.
# --------------------------------------------------------------------------

_RRF_COS = """
round(
  list_sum(list_transform(list_zip(q.embedding, e.embedding),
           x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
  / (sqrt(list_sum(list_transform(q.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))
   * sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))),
4)
"""


@query(
    "hybrid_rrf_retrieval",
    oracle=rf"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
nz AS (SELECT doc_id, term FROM toks WHERE term <> ''),
lens AS (SELECT doc_id, count(*) AS dl FROM nz GROUP BY doc_id),
stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT CAST(count(*) AS BIGINT) FROM nz) AS total_tokens
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM nz WHERE term IN ('stream', 'window', 'merge')
  GROUP BY doc_id, term
),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
contrib AS (
  SELECT tf.doc_id, {_BM25_CONTRIB} AS c
  FROM tf JOIN df USING (term) JOIN lens USING (doc_id), stats
),
scored AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS score_q FROM contrib GROUP BY doc_id
),
bm AS (
  SELECT doc_id, CAST(row_number() OVER (ORDER BY score_q DESC, doc_id) AS BIGINT) AS rnk_bm25
  FROM scored ORDER BY score_q DESC, doc_id LIMIT 20
),
vec AS (
  SELECT e.vec_id AS doc_id,
         CAST(row_number() OVER (ORDER BY {_RRF_COS} DESC, e.vec_id) AS BIGINT) AS rnk_vec
  FROM embeddings e, embeddings q
  WHERE q.vec_id = 0
  ORDER BY {_RRF_COS} DESC, e.vec_id LIMIT 20
),
fused AS (
  SELECT coalesce(b.doc_id, v.doc_id) AS doc_id,
         b.rnk_bm25, v.rnk_vec,
         CAST(coalesce(1000000 // (60 + b.rnk_bm25), 0)
            + coalesce(1000000 // (60 + v.rnk_vec), 0) AS BIGINT) AS rrf_score
  FROM bm b FULL OUTER JOIN vec v ON b.doc_id = v.doc_id
)
SELECT doc_id, rrf_score, rnk_bm25, rnk_vec
FROM fused ORDER BY rrf_score DESC, doc_id LIMIT 10
""",
)
def hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-10 fused (BM25 ⊕ dense-cosine) retrieval for the fixed query:
    terms {stream, window, merge} + the vec_id-0 query vector. RRF with
    k=60, integer fixed-point so the fusion is engine-exact."""
    from ..operators import similarity

    bm = _bm25_topk(spark, sf_dir).select(
        "doc_id", F.col("rnk").cast("long").alias("rnk_bm25")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    vec = (
        similarity.topk_cosine(
            emb,
            emb.filter(F.col("vec_id") == 0),
            corpus_id="vec_id",
            query_id="vec_id",
            k=20,
        )
        .select(
            F.col("cid").alias("doc_id"),
            F.col("rank").cast("long").alias("rnk_vec"),
        )
    )
    fused = (
        bm.join(vec, "doc_id", "full_outer")
        .select(
            "doc_id",
            (
                F.coalesce(
                    F.expr("1000000 div (60 + rnk_bm25)"), F.lit(0)
                )
                + F.coalesce(F.expr("1000000 div (60 + rnk_vec)"), F.lit(0))
            )
            .cast("long")
            .alias("rrf_score"),
            "rnk_bm25",
            "rnk_vec",
        )
    )
    return fused.orderBy(F.desc("rrf_score"), "doc_id").limit(10)


# --------------------------------------------------------------------------
# Streaming curation twin: the quality filter as a REAL Structured
# Streaming job — documents staged to a file source, scored with the
# SAME map-only quality expression (stateless, so the stream plan is a
# pure projection ahead of one complete-mode agg), per-source keep
# counts drained with availableNow into a memory sink. The oracle is
# the batch SQL — the engine's batch/streaming-parity contract extended
# to the curation tier (a production pipeline scores documents as they
# land, not in nightly batches).
# --------------------------------------------------------------------------


@query(
    "streaming_quality_filter",
    oracle=f"""
WITH m AS (
  SELECT doc_id, source,
         length(text) AS n,
         length(regexp_replace(text, '[\\w\\s]', '', 'g'))
           / greatest(length(text), 1) AS punct_ratio,
         {_STOP_HITS['en']} / greatest(len({_LOWER_TOKS}), 1) AS stop_ratio,
         list_sum(list_transform({_TOKS}, t -> length(t)))
           / greatest(len({_TOKS}), 1) AS mtl
  FROM documents
),
q AS (
  SELECT source,
         round(
           (CASE WHEN n BETWEEN 50 AND 20000 THEN 1.0
                 WHEN n < 50 THEN n / 50.0 ELSE 20000.0 / n END) * 0.3
         + (1.0 - least(punct_ratio * 4, 1.0)) * 0.2
         + (CASE WHEN stop_ratio >= 0.05 THEN 1.0 ELSE stop_ratio / 0.05 END) * 0.3
         + (CASE WHEN mtl BETWEEN 2.5 AND 12.0 THEN 1.0 ELSE 0.4 END) * 0.2
         , 6) AS quality
  FROM m
)
SELECT source, count(*) AS n_docs,
       CAST(sum(CASE WHEN quality >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
FROM q GROUP BY source ORDER BY source
""",
)
def streaming_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    # Fanned out before staging, so the stage holds at least a file per
    # core and the micro-batch runs the Arrow UDF one task per core.
    d = fan_out(load_table(spark, sf_dir, "documents")).select(
        "doc_id", "source", "text"
    )
    stage = scratch(sf_dir, "stream_docs")
    tag = os.path.basename(stage)
    d.write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(d.schema).parquet(stage)
    scored = stream.select("source", text.quality_score_arrow().alias("quality"))
    agg = scored.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("quality") >= 0.5, 1).otherwise(0)).alias("n_kept"),
    )
    qname = f"stream_quality_{tag}"
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("source")


# --------------------------------------------------------------------------
# TF-IDF cosine similarity SEARCH (sparse-vector ANN without an
# embedding model): top-5 most similar documents per query doc via an
# inverted-index join on informative terms (df <= 50 — the cap that
# bounds candidate pairs the way LSH bucket caps do; ubiquitous terms
# carry no signal and would otherwise make the self-join quadratic).
# Weights are the fixed-point tf·idf integers the top-terms query
# already pins, so dot products and norms are exact integers and the
# final cosine is an identical double expression in both engines.
# --------------------------------------------------------------------------


@query(
    "tfidf_similar_docs",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, count(*) AS tf
  FROM toks WHERE term <> ''
  GROUP BY doc_id, term
),
df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
n AS (SELECT count(*) AS n_docs FROM documents),
w AS (
  SELECT tf.doc_id, tf.term,
         CAST(floor(tf.tf * ln(CAST(n.n_docs AS DOUBLE) / df.df) * 10000)
              AS BIGINT) AS w
  FROM tf JOIN df USING (term), n
  WHERE df.df <= 50
),
wnz AS (SELECT * FROM w WHERE w > 0),
nrm AS (SELECT doc_id, sum(w * w) AS n2 FROM wnz GROUP BY doc_id),
dots AS (
  SELECT q.doc_id AS qid, c.doc_id AS cid, sum(q.w * c.w) AS dot
  FROM wnz q JOIN wnz c ON q.term = c.term AND q.doc_id <> c.doc_id
  WHERE q.doc_id < 10
  GROUP BY q.doc_id, c.doc_id
),
scored AS (
  SELECT d.qid, d.cid,
         CAST(floor(CAST(d.dot AS DOUBLE)
                    / (sqrt(CAST(a.n2 AS DOUBLE)) * sqrt(CAST(b.n2 AS DOUBLE)))
                    * 10000) AS BIGINT) AS cos_q
  FROM dots d
  JOIN nrm a ON a.doc_id = d.qid
  JOIN nrm b ON b.doc_id = d.cid
),
r AS (
  SELECT qid, cid, cos_q,
         row_number() OVER (PARTITION BY qid
                            ORDER BY cos_q DESC, cid) AS rank
  FROM scored
)
SELECT qid, cid, cos_q, rank FROM r WHERE rank <= 5 ORDER BY qid, rank
""",
)
def tfidf_similar_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n = d.agg(F.count(F.lit(1)).alias("n_docs"))
    w = (
        tf.join(dfreq, "term")
        .filter(F.col("df") <= 50)
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.floor(
                F.col("tf")
                * F.log(F.col("n_docs").cast("double") / F.col("df"))
                * 10000
            )
            .cast("long")
            .alias("w"),
        )
        .filter(F.col("w") > 0)
    )
    # Weights feed three consumers (norms, query side, corpus side) —
    # materialize the tokenize+join subtree once.
    w = w.localCheckpoint(eager=True)
    nrm = w.groupBy("doc_id").agg(F.sum(F.col("w") * F.col("w")).alias("n2"))
    q = (
        w.filter(F.col("doc_id") < 10)
        .select(
            F.col("doc_id").alias("qid"), "term", F.col("w").alias("qw")
        )
    )
    dots = (
        w.join(F.broadcast(q), "term")
        .filter(F.col("doc_id") != F.col("qid"))
        .groupBy("qid", F.col("doc_id").alias("cid"))
        .agg(F.sum(F.col("qw") * F.col("w")).alias("dot"))
    )
    # Only the QUERY norms broadcast (|queries| rows); the corpus-sized
    # norm relation joins the candidate side by key like any fact join.
    scored = (
        dots.join(
            F.broadcast(
                nrm.filter(F.col("doc_id") < 10)
                .withColumnRenamed("doc_id", "qid")
                .withColumnRenamed("n2", "qn2")
            ),
            "qid",
        )
        .join(nrm.withColumnRenamed("doc_id", "cid"), "cid")
        .select(
            "qid",
            "cid",
            F.floor(
                F.col("dot").cast("double")
                / (
                    F.sqrt(F.col("qn2").cast("double"))
                    * F.sqrt(F.col("n2").cast("double"))
                )
                * 10000
            )
            .cast("long")
            .alias("cos_q"),
        )
    )
    win = Window.partitionBy("qid").orderBy(F.desc("cos_q"), F.asc("cid"))
    return (
        scored.withColumn("rank", F.row_number().over(win))
        .filter(F.col("rank") <= 5)
        .orderBy("qid", "rank")
    )


# --------------------------------------------------------------------------
# Count-Min heavy hitters (operators/sketch.py — Cormode &
# Muthukrishnan 2005). The 100-TB frequent-items shape: sketch state is
# depth×width cells REGARDLESS of corpus size (here 3×512), built in
# one bounded-key-space shuffle whose map-side partials are already
# complete local sketches; estimation broadcasts the tiny cell
# relation. Output = the top-20 tokens with BOTH their exact count and
# their CMS estimate, so the one-sided guarantee (estimate ≥ truth,
# overshoot = hash-collision mass) is itself value-checked: the oracle
# rebuilds the identical sketch cell-for-cell from the same md5 bucket
# arithmetic. Production swaps md5 for xxhash64 — one cheaper hash,
# the same plan.
# --------------------------------------------------------------------------

_CMS_W = 512
_CMS_D = 3


def _cms_cell_sql(item: str, row: str) -> str:
    return (
        f"CAST(('0x' || substring(md5(CAST({row} AS VARCHAR) || '|' || {item}), "
        f"1, 8)) AS BIGINT) % {_CMS_W}"
    )


@query(
    "heavy_hitters_cms",
    oracle=f"""
WITH toks AS (
  SELECT unnest({_TOKS}) AS token FROM documents
),
truth AS (SELECT token, count(*) AS true_cnt FROM toks GROUP BY token),
top AS (SELECT token, true_cnt FROM truth ORDER BY true_cnt DESC, token LIMIT 20),
rows_ AS (SELECT unnest([0, 1, 2]) AS r),
cells AS (
  SELECT r, {_cms_cell_sql('token', 'r')} AS c, count(*) AS cnt
  FROM toks CROSS JOIN rows_ GROUP BY 1, 2
),
est AS (
  SELECT t.token, t.true_cnt, min(coalesce(cl.cnt, 0)) AS cms_cnt
  FROM top t
  CROSS JOIN rows_ r
  LEFT JOIN cells cl
    ON cl.r = r.r AND cl.c = {_cms_cell_sql('t.token', 'r.r')}
  GROUP BY t.token, t.true_cnt
)
SELECT token, true_cnt, cms_cnt FROM est ORDER BY true_cnt DESC, token
""",
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sketch import cms_build, cms_estimate

    toks = (
        load_table(spark, sf_dir, "documents")
        .select(F.explode(text.tokens("text")).alias("token"))
    )
    truth_top = (
        toks.groupBy("token")
        .agg(F.count(F.lit(1)).alias("true_cnt"))
        .orderBy(F.desc("true_cnt"), "token")
        .limit(20)
    )
    cms = cms_build(toks, "token", width=_CMS_W, depth=_CMS_D)
    return cms_estimate(
        cms, truth_top, "token", width=_CMS_W, depth=_CMS_D
    ).orderBy(F.desc("true_cnt"), "token")


# --------------------------------------------------------------------------
# Persisted inverted index + conjunctive query (round 9): the classic
# IR architecture BM25-on-the-fly skips — tokenize ONCE into a
# (term, doc_id, tf) posting table, lay it out range-clustered by term
# (disjoint term ranges per file), and answer AND-queries by reading
# ONLY the query terms' posting lists: the term predicate pushes into
# the parquet scan and the clustering turns it into file-level
# skipping. Conjunction = groupBy(doc) HAVING count(DISTINCT term) = k
# over the |postings(q)| rows — corpus size never re-enters at query
# time. The oracle recomputes from raw text; a hash match proves the
# index round-trip is lossless.
# --------------------------------------------------------------------------


@query(
    "inverted_index_conjunctive",
    oracle=r"""
WITH toks AS (
  SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
  FROM documents
),
tf AS (
  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM toks WHERE term IN ('stream', 'window', 'merge')
  GROUP BY doc_id, term
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_terms,
       CAST(sum(tf) AS BIGINT) AS total_tf
FROM tf GROUP BY doc_id
HAVING count(*) = 3
ORDER BY doc_id
""",
)
def inverted_index_conjunctive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing ALL of {stream, window, merge}, answered from a
    persisted term-clustered posting index — the query scan touches the
    three posting lists, not the corpus."""
    from ..operators.clustering import cluster_linear, write_clustered

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    path = scratch(sf_dir, "inv_index")
    postings = (
        d.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
        )
        .filter(F.col("term") != "")
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    write_clustered(cluster_linear(postings, ["term", "doc_id"], 16), path)
    idx = spark.read.parquet(path).filter(
        F.col("term").isin("stream", "window", "merge")
    )
    return (
        idx.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_terms"),
            F.sum("tf").alias("total_tf"),
        )
        .filter(F.col("n_terms") == 3)
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Keyword-in-context (KWIC) snippets (round 9): the search-result
# snippet / concordance primitive — every occurrence of the query term
# with ±3 tokens of context. Occurrence positions and window slicing
# happen INSIDE the row with higher-order functions; the 1→N expansion
# is a map-only posexplode. At 100 TB this composes with the inverted
# index: resolve the doc set from posting lists first, snippet only
# the hits.
# --------------------------------------------------------------------------


@query(
    "kwic_snippets",
    oracle=r"""
WITH t AS (
  SELECT doc_id,
         list_filter(string_split_regex(trim(lower(text)), '\s+'), x -> x <> '') AS toks
  FROM documents
),
p AS (
  SELECT doc_id, toks, len(toks) AS n,
         list_filter(range(0, len(toks)), i -> toks[i + 1] = 'merge') AS hits
  FROM t
)
SELECT doc_id,
       CAST(h AS BIGINT) AS pos,
       array_to_string(
         list_slice(toks, greatest(h - 3, 0) + 1, least(h + 3, n - 1) + 1),
         ' ') AS snippet
FROM p, unnest(hits) AS u(h)
ORDER BY doc_id, pos
""",
)
def kwic_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every occurrence of 'merge' with ±3 tokens of context:
    (doc_id, pos, snippet) rows, map-only."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.expr(
            r"filter(split(trim(lower(text)), '\\s+'), x -> x != '')"
        ).alias("toks"),
    )
    hits = d.select(
        "doc_id",
        "toks",
        F.size("toks").alias("n"),
        F.expr("filter(sequence(0, size(toks) - 1), i -> toks[i] = 'merge')").alias(
            "hits"
        ),
    ).filter(F.size("hits") > 0)
    return (
        hits.select(
            "doc_id",
            F.explode("hits").alias("pos"),
            "toks",
            "n",
        )
        .select(
            "doc_id",
            F.col("pos").cast("long").alias("pos"),
            F.expr(
                "array_join(slice(toks, greatest(pos - 3, 0) + 1,"
                " least(pos + 3, n - 1) - greatest(pos - 3, 0) + 1), ' ')"
            ).alias("snippet"),
        )
        .orderBy("doc_id", "pos")
    )


# --------------------------------------------------------------------------
# Per-source KL divergence vs the corpus (round 11): domain-shift
# diagnostics for mixture planning — KL(P_source ‖ P_corpus) over the
# top-100 corpus vocabulary. Each term's contribution is floor-quantized
# to 1e-8 fixed point BEFORE the sum, so the aggregate is an
# order-invariant integer sum (no parallel-vs-sequential float drift);
# ln() runs on identical exact-integer ratios in both engines (the
# TF-IDF/BM25 quantize-the-transcendental idiom).
# --------------------------------------------------------------------------


@query(
    "source_kl_divergence",
    oracle=f"""
WITH toks AS (
  SELECT source, unnest({_LOWER_TOKS}) AS tok FROM documents
),
cc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c_cnt FROM toks GROUP BY tok),
topv AS (SELECT tok, c_cnt FROM cc ORDER BY c_cnt DESC, tok LIMIT 100),
tot AS (SELECT CAST(sum(c_cnt) AS BIGINT) AS c_tot FROM topv),
sc AS (
  SELECT t.source, t.tok, v.c_cnt, CAST(count(*) AS BIGINT) AS s_cnt
  FROM toks t JOIN topv v USING (tok)
  GROUP BY t.source, t.tok, v.c_cnt
),
st AS (SELECT source, CAST(sum(s_cnt) AS BIGINT) AS s_tot FROM sc GROUP BY source)
SELECT sc.source, st.s_tot AS n_tokens_topv,
       CAST(sum(CAST(floor(round(
         (s_cnt / CAST(s_tot AS DOUBLE))
         * ln((s_cnt / CAST(s_tot AS DOUBLE)) / (c_cnt / CAST(c_tot AS DOUBLE)))
         * 100000000, 3)) AS BIGINT)) AS BIGINT) AS kl_q8
FROM sc JOIN st USING (source) CROSS JOIN tot
GROUP BY sc.source, st.s_tot
ORDER BY sc.source
""",
)
def source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One tokenize pass per aggregate (map-side explode, never
    checkpointed — re-scanning beats materializing the token stream at
    corpus scale); the 100-row vocabulary and per-source totals
    broadcast back. Positive KL ⇒ the source's unigram mix diverges
    from the corpus head."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "source",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("tok"),
    )
    cc = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c_cnt"))
    topv = cc.orderBy(F.desc("c_cnt"), F.asc("tok")).limit(100)
    tot = topv.agg(F.sum("c_cnt").alias("c_tot"))
    sc = (
        toks.join(F.broadcast(topv), "tok")
        .groupBy("source", "tok", "c_cnt")
        .agg(F.count(F.lit(1)).alias("s_cnt"))
        # |sources|·100 rows, consumed by both the per-source totals and
        # the final fold — checkpoint so the token stream is scanned
        # once for it, not once per consumer
        .localCheckpoint(eager=True)
    )
    st = sc.groupBy("source").agg(F.sum("s_cnt").alias("s_tot"))
    term = (
        (F.col("s_cnt") / F.col("s_tot").cast("double"))
        * F.log(
            (F.col("s_cnt") / F.col("s_tot").cast("double"))
            / (F.col("c_cnt") / F.col("c_tot").cast("double"))
        )
        * F.lit(100000000)
    )
    # floor-of-float-log hardening (r11 verdict): a term landing within
    # one libm ulp of an integer could floor differently between Spark's
    # and DuckDB's ln. Quantize to 1e-3 (of the 1e8-scaled value, i.e.
    # relative 1e-11) BEFORE flooring on both engines, so only a value
    # within an ulp of an x.0005 rounding boundary — not a "natural"
    # landing spot for a log of rational ratios, unlike exact integers —
    # could ever diverge.
    return (
        sc.join(F.broadcast(st), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source", F.col("s_tot").alias("n_tokens_topv"))
        .agg(
            F.sum(F.floor(F.round(term, 3)).cast("long"))
            .cast("long")
            .alias("kl_q8")
        )
        .orderBy("source")
    )
