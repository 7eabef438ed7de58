"""Training-data pipeline tier (north-star extensions beyond the
reference surface, per BASELINE.json): Gopher-style repetition/quality
filters, benchmark decontamination via n-gram overlap, fixed-token-window
document chunking, per-user daily gap-fill, staged funnel conversion,
and rank-distribution windows.

Scale notes (100 TB design):
- Every per-document metric is computed from ONE tokenize pass; n-gram
  relations are exploded map-side and aggregated on natural keys
  ``(doc_id, gram)`` — a single shuffle each, no self-joins.
- Decontamination broadcasts the (small, distinct) benchmark shingle
  set; the corpus side never shuffles.
- The gap-fill spine is built from the *aggregated* per-user span (tiny)
  and exploded map-side, so spine size is O(users × days), never
  O(events).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions import text as textfns
from ..session import fan_out
from ..sources import load_table
from .registry import query, scratch

_TOKS = r"string_split_regex(trim(lower(text)), '\s+')"


def _tokens(col: str = "text") -> F.Column:
    return F.split(F.trim(F.lower(col)), r"\s+")


def _gram_starts(n: F.Column, k: int) -> F.Column:
    """1-based start indices for word k-grams: [1 .. n-k+1], EMPTY when
    the document has fewer than ``k`` tokens. The guard matters: Spark's
    ``sequence(1, stop)`` REVERSES when ``stop < 1`` (e.g. ``[1, 0]``),
    so an unguarded short document would emit negative-start slices
    (runtime error / bogus grams) where DuckDB's ``generate_series``
    yields nothing."""
    return F.when(
        n >= k, F.sequence(F.lit(1), n - (k - 1))
    ).otherwise(F.array().cast("array<int>"))


# --------------------------------------------------------------------------
# Gopher-style repetition filters: fraction of bigram occurrences taken
# by the most frequent bigram, fraction of trigram occurrences whose
# trigram is duplicated, distinct-word ratio. The classic "remove
# boilerplate / looping text" gate of a pretraining corpus pipeline.
# --------------------------------------------------------------------------


@query(
    "text_repetition_filters",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks
),
bic AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g),
bim AS (
  SELECT doc_id,
         round(max(c) * 1.0 / sum(c), 6) AS top_bigram_frac
  FROM bic GROUP BY doc_id
),
tri AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
  FROM toks
),
tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g),
trim_ AS (
  SELECT doc_id,
         round(sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c), 6)
           AS dup_trigram_frac
  FROM tric GROUP BY doc_id
),
dw AS (
  SELECT doc_id,
         round(len(list_distinct(t)) * 1.0 / len(t), 6) AS distinct_word_ratio
  FROM toks
)
SELECT doc_id, top_bigram_frac, dup_trigram_frac, distinct_word_ratio,
       (top_bigram_frac <= 0.2 AND dup_trigram_frac <= 0.6
        AND distinct_word_ratio >= 0.3) AS keep
FROM bim JOIN trim_ USING (doc_id) JOIN dw USING (doc_id)
ORDER BY doc_id
""",
)
def text_repetition_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition metrics and a keep/drop gate.

    MAP-ONLY: every metric is a function of one document's own grams, so
    nothing shuffles but the fan-out to one task per core. Counting grams
    in one Python/Counter pass per batch beats the interpreted Catalyst
    HOF form ~4× on the same rows (guide §4.2); that expression form is
    the parity oracle in tests/test_training.py."""
    return repetition_metrics_arrow(fan_out(load_table(spark, sf_dir, "documents")))


def repetition_metrics_arrow(docs: DataFrame) -> DataFrame:
    """Per-document repetition metrics and the keep gate, one
    Python/Counter pass per document batch instead of an interpreted
    sort/run-length HOF pipeline (the expression twin in
    tests/test_training.py, asserted bit-identical).

    Exactness contract (same conventions as
    ``operators/dedup.py::minhash_signature_arrow``, which is asserted
    bit-identical to its expression twin): tokenize replays
    ``split(trim(lower(text)), '\\s+')`` — Spark ``trim`` strips ASCII
    spaces only (``strip(' ')``), Java-regex ``\\s`` is the ASCII class
    (``re.ASCII``); gram counting is on the STRINGS themselves (the
    expression path compares xxhash64 codes — string equality is the
    oracle's semantics, so this twin is if anything strictly safer);
    ``round(x, 6)`` replays Spark's Round on DoubleType, i.e.
    ``BigDecimal.valueOf(x).setScale(6, HALF_UP)`` — Python ``repr`` and
    Java ``Double.toString`` both emit the shortest round-trip decimal,
    so ``Decimal(repr(x)).quantize(1e-6, ROUND_HALF_UP)`` is the same
    arithmetic."""
    import re as _re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    import pandas as pd

    _ws = _re.compile(r"\s+", _re.ASCII)
    _q6 = Decimal("0.000001")

    def _round6(x: float) -> float:
        return float(Decimal(repr(x)).quantize(_q6, rounding=ROUND_HALF_UP))

    @F.pandas_udf(
        "struct<top_bigram_frac:double,dup_trigram_frac:double,"
        "distinct_word_ratio:double>"
    )
    # hint-free: `from __future__ import annotations` stringifies hints
    # and pyspark cannot resolve the local `pd` name at decoration time
    # (same convention as operators/similarity.py::rp_sketch_arrow)
    def metrics(texts):
        tb, dt, dw = [], [], []
        for s in texts:
            if s is None:  # expression twin: null text → null metrics
                tb.append(None)
                dt.append(None)
                dw.append(None)
                continue
            t = _ws.split(s.lower().strip(" "))
            n = len(t)
            dw.append(_round6(len(set(t)) / n) if n else None)
            if n >= 2:
                c2 = Counter(zip(t, t[1:]))
                tb.append(_round6(max(c2.values()) / (n - 1)))
            else:
                tb.append(None)
            if n >= 3:
                c3 = Counter(zip(t, t[1:], t[2:]))
                dup = sum(v for v in c3.values() if v > 1)
                dt.append(_round6(dup / (n - 2)))
            else:
                dt.append(None)
        return pd.DataFrame(
            {
                "top_bigram_frac": tb,
                "dup_trigram_frac": dt,
                "distinct_word_ratio": dw,
            }
        )

    m = docs.select("doc_id", metrics("text").alias("m"))
    return m.select(
        "doc_id",
        "m.top_bigram_frac",
        "m.dup_trigram_frac",
        "m.distinct_word_ratio",
        (
            (F.col("m.top_bigram_frac") <= 0.2)
            & (F.col("m.dup_trigram_frac") <= 0.6)
            & (F.col("m.distinct_word_ratio") >= 0.3)
        ).alias("keep"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Benchmark decontamination: flag corpus documents sharing any word
# 8-gram with a held-out benchmark set (here: a deterministic doc_id
# slice standing in for an eval suite). The benchmark shingle set is
# distinct + broadcast — the corpus side computes its shingles map-side
# and never shuffles for the join.
# --------------------------------------------------------------------------


@query(
    "decontaminate_ngram_overlap",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 7),
             i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS g
  FROM toks
),
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 29 = 0),
hits AS (
  SELECT sh.doc_id, count(DISTINCT sh.g) AS n_shared
  FROM sh JOIN bench USING (g)
  WHERE sh.doc_id % 29 <> 0
  GROUP BY sh.doc_id
)
SELECT doc_id, n_shared FROM hits ORDER BY doc_id
""",
)
def decontaminate_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus docs contaminated by 8-gram overlap with the benchmark
    slice (doc_id % 29 == 0), with the count of distinct shared 8-grams.
    Join side: broadcast of the distinct benchmark shingles."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("t")
    )
    n = F.size("t")
    sh = d.select(
        "doc_id",
        F.explode(
            F.transform(
                _gram_starts(n, 8),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 8)),
            )
        ).alias("g"),
    )
    bench = (
        sh.filter(F.col("doc_id") % 29 == 0).select("g").distinct()
    )
    return (
        sh.filter(F.col("doc_id") % 29 != 0)
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count_distinct("g").alias("n_shared"))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Fixed-token-window chunking: split every document into 32-token chunks
# (final partial chunk kept) — the sequence-packing precursor of an LLM
# training pipeline. Map-only: sequence + transform + posexplode, no
# shuffle at all until the presentation sort.
# --------------------------------------------------------------------------

_CHUNK = 32


@query(
    "doc_chunk_token_windows",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(generate_series(0,
             CAST(floor((len(t) - 1) / {_CHUNK}) AS BIGINT))) AS chunk_idx,
         t
  FROM toks
)
SELECT doc_id, chunk_idx,
       len(list_slice(t, chunk_idx * {_CHUNK} + 1,
                      least((chunk_idx + 1) * {_CHUNK}, len(t)))) AS n_tokens,
       array_to_string(list_slice(t, chunk_idx * {_CHUNK} + 1,
                       least((chunk_idx + 1) * {_CHUNK}, len(t))), ' ')
         AS chunk_text
FROM chunks
ORDER BY doc_id, chunk_idx
""",
)
def doc_chunk_token_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explode each document into 32-token chunks with the chunk index,
    token count, and reconstructed chunk text."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("t")
    )
    n = F.size("t")
    nchunks = F.floor((n - 1) / F.lit(_CHUNK)).cast("long")
    chunks = d.select(
        "doc_id",
        F.col("t"),
        F.explode(F.sequence(F.lit(0).cast("long"), nchunks)).alias(
            "chunk_idx"
        ),
    )
    piece = F.slice(
        F.col("t"), (F.col("chunk_idx") * _CHUNK + 1).cast("int"), _CHUNK
    )
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.size(piece).alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    ).orderBy("doc_id", "chunk_idx")


# --------------------------------------------------------------------------
# Per-user daily gap-fill: a dense date spine per user between their own
# first and last active day, missing days zero-filled — the time-series
# densification step before any rolling-window feature. Spine derives
# from the aggregated span (O(users)), exploded map-side.
# --------------------------------------------------------------------------


@query(
    "events_gapfill_daily",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day, count(*) AS n_events,
         CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS total_value_cents
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
)
SELECT s.user_id, s.day,
       coalesce(d.n_events, 0) AS n_events,
       coalesce(d.total_value_cents, 0) AS total_value_cents
FROM spine s LEFT JOIN daily d USING (user_id, day)
ORDER BY user_id, day
""",
)
def events_gapfill_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense per-user daily activity: one row per user per calendar day
    in [first_active, last_active], zeros on silent days."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count(F.lit(1)).alias("n_events"),
        # half-up integer cents BEFORE the sum (repo hash convention:
        # never hash a rounded float sum over raw doubles — the
        # accumulation order can flip the last cent across engines)
        F.sum(
            F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
        ).alias("total_value_cents"),
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    return (
        spine.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            "day",
            F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
            F.coalesce("total_value_cents", F.lit(0)).cast("long").alias(
                "total_value_cents"
            ),
        )
        .orderBy("user_id", "day")
    )


# --------------------------------------------------------------------------
# Staged funnel conversion: users progressing signup → view → click →
# purchase in strict timestamp order (stage timestamps = per-type minima).
# One conditional-aggregation pass over events, then a single-row fold.
# --------------------------------------------------------------------------


@query(
    "funnel_conversion_stages",
    oracle="""
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
         min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
         min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
         min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
  FROM events GROUP BY user_id
)
SELECT
  count(CASE WHEN t_signup IS NOT NULL THEN 1 END) AS n_signup,
  count(CASE WHEN t_signup < t_view THEN 1 END) AS n_view,
  count(CASE WHEN t_signup < t_view AND t_view < t_click THEN 1 END) AS n_click,
  count(CASE WHEN t_signup < t_view AND t_view < t_click
              AND t_click < t_purchase THEN 1 END) AS n_purchase
FROM per_user
""",
)
def funnel_conversion_stages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict-order funnel counts (NULL stage timestamps never satisfy
    the < comparisons, matching SQL three-valued logic)."""
    e = load_table(spark, sf_dir, "events")

    def stage(t: str) -> F.Column:
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    per_user = e.groupBy("user_id").agg(
        stage("signup").alias("t_signup"),
        stage("view").alias("t_view"),
        stage("click").alias("t_click"),
        stage("purchase").alias("t_purchase"),
    )
    s1 = F.col("t_signup").isNotNull()
    s2 = F.col("t_signup") < F.col("t_view")
    s3 = s2 & (F.col("t_view") < F.col("t_click"))
    s4 = s3 & (F.col("t_click") < F.col("t_purchase"))
    return per_user.agg(
        F.count(F.when(s1, 1)).alias("n_signup"),
        F.count(F.when(s2, 1)).alias("n_view"),
        F.count(F.when(s3, 1)).alias("n_click"),
        F.count(F.when(s4, 1)).alias("n_purchase"),
    )


# --------------------------------------------------------------------------
# Rank-distribution windows: percent_rank / cume_dist / dense_rank of
# customer balance within market segment — the remaining ranking-family
# window functions not covered by the rank/ntile queries.
# --------------------------------------------------------------------------


@query(
    "window_rank_distribution",
    oracle="""
SELECT c_custkey, c_mktsegment, c_acctbal,
       round(percent_rank() OVER w, 6) AS pct_rank,
       round(cume_dist() OVER w, 6) AS cume_d,
       dense_rank() OVER w AS dense_rnk
FROM customer
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC)
ORDER BY c_mktsegment, c_acctbal DESC, c_custkey
""",
)
def window_rank_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"))
    return (
        c.select(
            "c_custkey",
            "c_mktsegment",
            "c_acctbal",
            F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
            F.round(F.cume_dist().over(w), 6).alias("cume_d"),
            F.dense_rank().over(w).alias("dense_rnk"),
        )
        .orderBy("c_mktsegment", F.desc("c_acctbal"), "c_custkey")
    )


# --------------------------------------------------------------------------
# Sequence packing: assign documents to fixed-token-budget training
# sequences by cutting a deterministic global concatenation order at
# token boundaries. The global prefix sum is computed the scalable way:
# per-bucket cumulative sums (parallel windows over doc_id % B buckets)
# plus a broadcast of the tiny per-bucket offset table — never a
# single-partition global window. The oracle IS the single global
# window, proving the two-phase decomposition exact.
# --------------------------------------------------------------------------

_PACK_BUDGET = 512
_PACK_BUCKETS = 8


@query(
    "pack_sequences_token_budget",
    oracle=f"""
WITH t AS (
  SELECT doc_id, doc_id % {_PACK_BUCKETS} AS b,
         len({_TOKS}) AS n_tokens
  FROM documents
),
c AS (
  SELECT *, sum(n_tokens) OVER (
    ORDER BY b, doc_id
    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM t
)
SELECT CAST(floor((cum - n_tokens) * 1.0 / {_PACK_BUDGET}) AS BIGINT) AS seq_id,
       count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
FROM c GROUP BY seq_id ORDER BY seq_id
""",
)
def pack_sequences_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pack documents into 512-token training sequences: a document
    belongs to the sequence its global token offset starts in. Two-phase
    prefix sum — O(rows/B) window state per bucket, O(B) driver-free
    offset join."""
    return pack_sequences(load_table(spark, sf_dir, "documents"))


def pack_sequences(docs: DataFrame) -> DataFrame:
    """DataFrame-level core of ``pack_sequences_token_budget`` (timed on
    replicated corpora by ``tools/scale_probe.py --queries
    pack_sequences_token_budget``)."""
    d = docs.select(
        "doc_id",
        (F.col("doc_id") % _PACK_BUCKETS).alias("b"),
        F.size(_tokens()).alias("n_tokens"),
    )
    wb = (
        Window.partitionBy("b")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    local = d.withColumn("cum_local", F.sum("n_tokens").over(wb))
    wo = (
        Window.orderBy("b")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    offsets = (
        d.groupBy("b")
        .agg(F.sum("n_tokens").alias("bucket_total"))
        .select(
            "b",
            F.coalesce(F.sum("bucket_total").over(wo), F.lit(0)).alias("off"),
        )
    )
    packed = local.join(F.broadcast(offsets), "b").select(
        "doc_id",
        "n_tokens",
        F.floor(
            (F.col("off") + F.col("cum_local") - F.col("n_tokens"))
            / F.lit(_PACK_BUDGET)
        )
        .cast("long")
        .alias("seq_id"),
    )
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
        )
        .orderBy("seq_id")
    )


# --------------------------------------------------------------------------
# Cohort retention: users grouped by first-active day, distinct-user
# counts at each day offset 0..7 — the classic activation/retention
# triangle. Per-user-day dedup first (shrinks events to its distinct
# grain before any join); the cohort relation joins back on user_id.
# --------------------------------------------------------------------------


@query(
    "cohort_retention_daily",
    oracle="""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
c AS (SELECT user_id, min(day) AS day0 FROM ud GROUP BY user_id)
SELECT c.day0 AS cohort_day,
       datediff('day', c.day0, ud.day) AS offset_days,
       count(DISTINCT ud.user_id) AS n_users
FROM ud JOIN c USING (user_id)
WHERE datediff('day', c.day0, ud.day) <= 7
GROUP BY cohort_day, offset_days
ORDER BY cohort_day, offset_days
""",
)
def cohort_retention_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    c = ud.groupBy("user_id").agg(F.min("day").alias("day0"))
    j = ud.join(c, "user_id").withColumn(
        "offset_days", F.datediff("day", "day0")
    )
    return (
        j.filter(F.col("offset_days") <= 7)
        .groupBy(F.col("day0").alias("cohort_day"), "offset_days")
        .agg(F.count_distinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "offset_days")
    )


# --------------------------------------------------------------------------
# Trailing-window anomaly score: per-user daily event-count z-score
# against the user's own preceding 7 days, computed on the gap-filled
# dense series so the ROWS frame equals the calendar window. NULL where
# the trailing window is empty or constant (std = 0). Composes the
# gap-fill operator — window state is bounded (8 rows/key) at any scale.
# --------------------------------------------------------------------------


@query(
    "events_anomaly_zscore",
    oracle="""
WITH daily AS (
  SELECT user_id, CAST(ts AS DATE) AS day,
         count(*) AS n_events
  FROM events GROUP BY user_id, CAST(ts AS DATE)
),
span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY user_id),
spine AS (
  SELECT user_id,
         CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
  FROM span
),
dense AS (
  SELECT s.user_id, s.day, coalesce(d.n_events, 0) AS n_events
  FROM spine s LEFT JOIN daily d USING (user_id, day)
),
scored AS (
  SELECT user_id, day, n_events,
         avg(n_events) OVER w AS mu,
         stddev_samp(n_events) OVER w AS sd
  FROM dense
  WINDOW w AS (PARTITION BY user_id ORDER BY day
               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
)
SELECT user_id, day, n_events,
       CASE WHEN sd > 0 THEN round((n_events - mu) / sd, 4) END AS z_q
FROM scored
ORDER BY user_id, day
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy("user_id", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    dense = spine.join(daily, ["user_id", "day"], "left").select(
        "user_id",
        "day",
        F.coalesce("n_events", F.lit(0)).cast("long").alias("n_events"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    scored = dense.select(
        "user_id",
        "day",
        "n_events",
        F.avg("n_events").over(w).alias("mu"),
        F.stddev_samp("n_events").over(w).alias("sd"),
    )
    return scored.select(
        "user_id",
        "day",
        "n_events",
        F.when(
            F.col("sd") > 0,
            F.round((F.col("n_events") - F.col("mu")) / F.col("sd"), 4),
        ).alias("z_q"),
    ).orderBy("user_id", "day")


# --------------------------------------------------------------------------
# Balanced round-robin sharding: global row_number over a deterministic
# order, mod n_shards — shard sizes exact to ±1 (hash-mod only gives
# binomial balance). Same two-phase decomposition as sequence packing:
# per-bucket row_number + broadcast bucket offsets; the oracle is the
# single global window.
# --------------------------------------------------------------------------

_N_SHARDS = 16


@query(
    "shard_round_robin",
    oracle=f"""
WITH t AS (SELECT doc_id, doc_id % {_PACK_BUCKETS} AS b FROM documents),
r AS (
  SELECT doc_id,
         row_number() OVER (ORDER BY b, doc_id) AS rn
  FROM t
)
SELECT CAST((rn - 1) % {_N_SHARDS} AS BIGINT) AS shard_id,
       count(*) AS n_docs
FROM r GROUP BY shard_id ORDER BY shard_id
""",
)
def shard_round_robin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-balance shard assignment without a global window: local
    row_number per bucket + running count of earlier buckets."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", (F.col("doc_id") % _PACK_BUCKETS).alias("b")
    )
    wb = Window.partitionBy("b").orderBy("doc_id")
    local = d.withColumn("rn_local", F.row_number().over(wb))
    wo = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, -1)
    offsets = (
        d.groupBy("b")
        .agg(F.count(F.lit(1)).alias("bn"))
        .select("b", F.coalesce(F.sum("bn").over(wo), F.lit(0)).alias("off"))
    )
    return (
        local.join(F.broadcast(offsets), "b")
        .select(
            ((F.col("off") + F.col("rn_local") - 1) % _N_SHARDS)
            .cast("long")
            .alias("shard_id")
        )
        .groupBy("shard_id")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("shard_id")
    )


# --------------------------------------------------------------------------
# Equal-width histogram of document token counts: 10 bins over the
# corpus [min, max], top edge folded into the last bin. Bin arithmetic
# is pure integer math (engine-exact); min/max come from one tiny
# broadcast aggregate.
# --------------------------------------------------------------------------


@query(
    "hist_token_counts",
    oracle=f"""
WITH t AS (SELECT doc_id, len({_TOKS}) AS n FROM documents),
mm AS (SELECT min(n) AS lo, max(n) AS hi FROM t)
SELECT CAST(least((t.n - mm.lo) * 10 // greatest(mm.hi - mm.lo, 1), 9) AS BIGINT) AS bin,
       count(*) AS n_docs, min(t.n) AS bin_min, max(t.n) AS bin_max
FROM t, mm
GROUP BY bin ORDER BY bin
""",
)
def hist_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(_tokens()).alias("n")
    )
    mm = d.agg(F.min("n").alias("lo"), F.max("n").alias("hi"))
    return (
        d.crossJoin(F.broadcast(mm))
        .select(
            F.least(
                F.expr("(n - lo) * 10 div greatest(hi - lo, 1)"), F.lit(9)
            )
            .cast("long")
            .alias("bin"),
            "n",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n").alias("bin_min"),
            F.max("n").alias("bin_max"),
        )
        .orderBy("bin")
    )


# --------------------------------------------------------------------------
# Rolling 7-day distinct active users: sliding-window COUNT(DISTINCT)
# cannot be a window function — the scalable idiom is contribution
# explosion: each (user, active day) contributes to the 7 report days it
# falls in (bounded 7× map-side fan-out of the user-day grain, which is
# already tiny relative to raw events), then one exact distinct agg.
# --------------------------------------------------------------------------


@query(
    "rolling_7d_active_users",
    oracle="""
WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
mx AS (SELECT max(day) AS dmax FROM ud),
contrib AS (
  SELECT user_id,
         CAST(unnest(generate_series(day, day + INTERVAL 6 DAY,
                                     INTERVAL 1 DAY)) AS DATE) AS rday
  FROM ud
)
SELECT c.rday AS day, count(DISTINCT c.user_id) AS active_7d
FROM contrib c, mx
WHERE c.rday <= mx.dmax
GROUP BY c.rday ORDER BY c.rday
""",
)
def rolling_7d_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    ud = e.select("user_id", F.to_date("ts").alias("day")).distinct()
    mx = ud.agg(F.max("day").alias("dmax"))
    contrib = ud.select(
        "user_id",
        F.explode(
            F.expr("sequence(day, date_add(day, 6), interval 1 day)")
        ).alias("rday"),
    )
    return (
        contrib.crossJoin(F.broadcast(mx))
        .filter(F.col("rday") <= F.col("dmax"))
        .groupBy(F.col("rday").alias("day"))
        .agg(F.count_distinct("user_id").alias("active_7d"))
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Last-touch attribution: each purchase credited to the user's most
# recent preceding click/view (IGNORE NULLS last_value over an unbounded
# preceding frame — per-key sequential state, no self-join), then folded
# to per-touch-channel revenue. The deterministic (ts, event_id) order
# makes tie handling engine-exact.
# --------------------------------------------------------------------------


@query(
    "attribution_last_touch",
    oracle="""
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type, value,
         last_value(CASE WHEN event_type IN ('click', 'view')
                         THEN event_type END IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS touch_type
  FROM events
)
SELECT coalesce(touch_type, 'none') AS touch_type,
       count(*) AS n_purchases,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT)
         AS total_value_cents
FROM tagged
WHERE event_type = 'purchase'
GROUP BY coalesce(touch_type, 'none')
ORDER BY touch_type
""",
)
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = e.withColumn(
        "touch_type",
        F.last(
            F.when(
                F.col("event_type").isin("click", "view"), F.col("event_type")
            ),
            ignorenulls=True,
        ).over(w),
    )
    return (
        tagged.filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce("touch_type", F.lit("none")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            # half-up cents before summing (hash convention — see
            # events_gapfill_daily)
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("total_value_cents"),
        )
        .orderBy("touch_type")
    )


# --------------------------------------------------------------------------
# PMI collocations: pointwise mutual information of adjacent token
# pairs, ln(N_bi * c(ab) / (c(a) * c(b))) over corpus-wide counts.
# Unigram and bigram counts come from the same single tokenize pass;
# the unigram side is broadcast twice (left/right word). Fixed-point
# floor quantization + term tie-break keeps top-k selection
# engine-exact.
# --------------------------------------------------------------------------


@query(
    "pmi_collocations_topk",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
uni AS (
  SELECT g AS w, count(*) AS c
  FROM (SELECT unnest(t) AS g FROM toks) GROUP BY g
),
bi AS (
  SELECT g, count(*) AS c
  FROM (
    SELECT unnest(list_transform(generate_series(1, len(t) - 1),
                                 i -> t[i] || ' ' || t[i + 1])) AS g
    FROM toks
  ) GROUP BY g
),
nb AS (SELECT sum(c) AS n_bi FROM bi),
scored AS (
  SELECT bi.g AS pair, bi.c AS c_pair,
         CAST(floor(ln(nb.n_bi * bi.c * 1.0 / (u1.c * u2.c)) * 10000)
              AS BIGINT) AS pmi_q
  FROM bi, nb
  JOIN uni u1 ON u1.w = string_split(bi.g, ' ')[1]
  JOIN uni u2 ON u2.w = string_split(bi.g, ' ')[2]
  WHERE bi.c >= 5
)
SELECT pair, c_pair, pmi_q
FROM scored
ORDER BY pmi_q DESC, pair
LIMIT 20
""",
)
def pmi_collocations_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("t")
    )
    n = F.size("t")
    uni = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    bi = (
        d.select(
            F.explode(
                F.transform(
                    _gram_starts(n, 2),
                    lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 2)),
                )
            ).alias("g")
        )
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nb = bi.agg(F.sum("c").alias("n_bi"))
    w1 = F.split(F.col("g"), " ").getItem(0)
    w2 = F.split(F.col("g"), " ").getItem(1)
    scored = (
        bi.filter(F.col("c") >= 5)
        .withColumn("w1", w1)
        .withColumn("w2", w2)
        .join(F.broadcast(uni.withColumnRenamed("c", "c1")), F.col("w1") == uni["w"])
        .drop("w")
        .join(
            F.broadcast(
                uni.withColumnRenamed("c", "c2").withColumnRenamed("w", "w_r")
            ),
            F.col("w2") == F.col("w_r"),
        )
        .crossJoin(F.broadcast(nb))
        .select(
            F.col("g").alias("pair"),
            F.col("c").alias("c_pair"),
            F.floor(
                F.log(
                    F.col("n_bi") * F.col("c") / (F.col("c1") * F.col("c2"))
                )
                * 10000
            )
            .cast("long")
            .alias("pmi_q"),
        )
    )
    return scored.orderBy(F.desc("pmi_q"), "pair").limit(20)


# --------------------------------------------------------------------------
# Source mixture weights: per-source document/token counts and a
# sampling weight proportional to sqrt(tokens) — the dataset-mixing
# step of corpus assembly. sqrt is IEEE-correctly-rounded, so the
# weights are bit-identical across engines before rounding.
# --------------------------------------------------------------------------


@query(
    "source_mixture_weights",
    oracle=f"""
WITH s AS (
  SELECT source, count(*) AS n_docs, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(sqrt(n_tokens)) AS z FROM s)
SELECT s.source, s.n_docs, s.n_tokens,
       round(sqrt(s.n_tokens) / tot.z, 6) AS weight
FROM s, tot
ORDER BY s.source
""",
)
def source_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(_tokens()).alias("n")
    )
    s = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n").alias("n_tokens")
    )
    tot = s.agg(F.sum(F.sqrt("n_tokens")).alias("z"))
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.sqrt("n_tokens") / F.col("z"), 6).alias("weight"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# End-to-end corpus curation: the tiers composed into ONE declarative
# plan — repetition gate ∧ not-contaminated ∧ lang = 'en', folded to
# per-source kept-doc/token counts. Catalyst fuses the shared tokenize
# across the metric and shingle branches; the contaminated set stays a
# broadcast semi-join; nothing materializes between stages.
# --------------------------------------------------------------------------


@query(
    "corpus_curation_pipeline",
    oracle=f"""
WITH toks AS (SELECT doc_id, source, lang, {_TOKS} AS t FROM documents),
bi AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks
),
bic AS (SELECT doc_id, g, count(*) AS c FROM bi GROUP BY doc_id, g),
bim AS (SELECT doc_id, max(c) * 1.0 / sum(c) AS top_bigram_frac
        FROM bic GROUP BY doc_id),
tri AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 2),
                               i -> t[i] || ' ' || t[i + 1] || ' ' || t[i + 2])) AS g
  FROM toks
),
tric AS (SELECT doc_id, g, count(*) AS c FROM tri GROUP BY doc_id, g),
trim_ AS (SELECT doc_id,
                 sum(CASE WHEN c > 1 THEN c ELSE 0 END) * 1.0 / sum(c)
                   AS dup_trigram_frac
          FROM tric GROUP BY doc_id),
dw AS (SELECT doc_id, len(list_distinct(t)) * 1.0 / len(t) AS distinct_word_ratio
       FROM toks),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 7),
             i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS g
  FROM toks
),
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 29 = 0),
contaminated AS (
  SELECT DISTINCT sh.doc_id FROM sh JOIN bench USING (g)
  WHERE sh.doc_id % 29 <> 0
),
kept AS (
  SELECT toks.doc_id, toks.source, len(toks.t) AS n_tokens
  FROM toks
  JOIN bim USING (doc_id) JOIN trim_ USING (doc_id) JOIN dw USING (doc_id)
  WHERE toks.lang = 'en'
    AND bim.top_bigram_frac <= 0.2
    AND trim_.dup_trigram_frac <= 0.6
    AND dw.distinct_word_ratio >= 0.3
    AND toks.doc_id % 29 <> 0
    AND toks.doc_id NOT IN (SELECT doc_id FROM contaminated)
)
SELECT source, count(*) AS n_docs_kept, CAST(sum(n_tokens) AS BIGINT) AS n_tokens_kept
FROM kept GROUP BY source ORDER BY source
""",
)
def corpus_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source counts of documents surviving the full curation
    gauntlet (benchmark slice itself excluded from the corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    metrics = repetition_metrics_arrow(docs).select("doc_id", "keep")

    d = docs.select("doc_id", "source", "lang", _tokens().alias("t"))
    n = F.size("t")
    sh = d.select(
        "doc_id",
        F.explode(
            F.transform(
                _gram_starts(n, 8),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 8)),
            )
        ).alias("g"),
    )
    bench = sh.filter(F.col("doc_id") % 29 == 0).select("g").distinct()
    contaminated = (
        sh.filter(F.col("doc_id") % 29 != 0)
        .join(F.broadcast(bench), "g")
        .select("doc_id")
        .distinct()
    )
    kept = (
        d.filter((F.col("lang") == "en") & (F.col("doc_id") % 29 != 0))
        .join(metrics.filter(F.col("keep")), "doc_id")
        .join(contaminated, "doc_id", "left_anti")
        .select("source", n.alias("n_tokens"))
    )
    return (
        kept.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs_kept"),
            F.sum("n_tokens").alias("n_tokens_kept"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Unigram-LM log-probability scoring: mean per-token ln p(w) under the
# corpus's own unigram distribution — the cheap stand-in for the KenLM
# perplexity filter of a pretraining pipeline. One tokenize pass: tf is
# aggregated per (doc, term), the term distribution is an aggregate of
# tf, and the probability join broadcasts the vocabulary. Fixed-point
# floor at 1e-4 keeps ln() engine-exact.
# --------------------------------------------------------------------------


@query(
    "text_unigram_logprob",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
tf AS (
  SELECT doc_id, g AS term, count(*) AS tf
  FROM (SELECT doc_id, unnest(t) AS g FROM toks)
  GROUP BY doc_id, g
),
vocab AS (SELECT term, sum(tf) AS c FROM tf GROUP BY term),
n AS (SELECT sum(c) AS total FROM vocab)
SELECT tf.doc_id,
       CAST(floor(sum(tf.tf * ln(vocab.c * 1.0 / n.total))
                  / sum(tf.tf) * 10000) AS BIGINT) AS mean_logprob_q
FROM tf JOIN vocab USING (term), n
GROUP BY tf.doc_id
ORDER BY tf.doc_id
""",
)
def text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("t")
    )
    tf = (
        d.select("doc_id", F.explode("t").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    vocab = tf.groupBy("term").agg(F.sum("tf").alias("c"))
    n = vocab.agg(F.sum("c").alias("total"))
    return (
        tf.join(F.broadcast(vocab), "term")
        .crossJoin(F.broadcast(n))
        .groupBy("doc_id")
        .agg(
            F.floor(
                F.sum(
                    F.col("tf")
                    * F.log(F.col("c") * F.lit(1.0) / F.col("total"))
                )
                / F.sum("tf")
                * 10000
            )
            .cast("long")
            .alias("mean_logprob_q")
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Boilerplate fraction: share of a document's 8-grams that are corpus-
# frequent (appear in >= 3 distinct documents) — the cross-document
# complement of the within-document repetition gate. The frequent-
# shingle set is an aggregate of the same shingle relation (one
# tokenize) and broadcasts into a map-side membership join.
# --------------------------------------------------------------------------


@query(
    "text_boilerplate_fraction",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 7),
             i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS g
  FROM toks
),
freq AS (
  SELECT g FROM (SELECT g, count(DISTINCT doc_id) AS df FROM sh GROUP BY g)
  WHERE df >= 3
)
SELECT sh.doc_id,
       count(*) AS n_shingles,
       round(count(CASE WHEN freq.g IS NOT NULL THEN 1 END) * 1.0
             / count(*), 6) AS boilerplate_frac
FROM sh LEFT JOIN freq ON sh.g = freq.g
GROUP BY sh.doc_id
ORDER BY sh.doc_id
""",
)
def text_boilerplate_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("t")
    )
    n = F.size("t")
    # Shingles travel as xxhash64 codes: the df-count shuffle and the
    # frequent-set broadcast carry 8 bytes per gram instead of ~50-char
    # strings (a collision needs two distinct grams inside one shuffle
    # key, P ≈ grams²/2⁶⁴; the string-shingle oracle verifies none).
    sh = d.select(
        "doc_id",
        F.explode(
            F.transform(
                _gram_starts(n, 8),
                lambda i: F.xxhash64(
                    F.concat_ws(" ", F.slice(F.col("t"), i, 8))
                ),
            )
        ).alias("g"),
    )
    freq = (
        sh.groupBy("g")
        .agg(F.count_distinct("doc_id").alias("df"))
        .filter(F.col("df") >= 3)
        .select("g", F.lit(True).alias("is_freq"))
    )
    return (
        sh.join(F.broadcast(freq), "g", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.round(
                F.count(F.when(F.col("is_freq"), 1)) * F.lit(1.0)
                / F.count(F.lit(1)),
                6,
            ).alias("boilerplate_frac"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# HLL sketch rollup: the scale twin of rolling_7d_active_users. The
# exact form explodes the USER-DAY grain 7× and re-counts distinct per
# window; this form sketches each day ONCE (hll_sketch_agg — Spark
# 3.5+'s Apache DataSketches HLL), then unions 7 daily sketches per
# window day. What shuffles is |days|×7 sketches of a few KB each,
# independent of user cardinality — the pattern that turns a
# 100 TB distinct-users rollup into a metadata-sized merge, and the
# sketches are reusable for ANY window length without touching raw
# events again. Rows-only by design (HLL is an estimator; DuckDB's
# approx_count_distinct is a different HLL implementation) — the ±2%
# accuracy contract vs the exact twin is pytest-asserted.
# --------------------------------------------------------------------------


@query("rolling_7d_active_hll")  # rows-only: estimator, no cross-engine twin
def rolling_7d_active_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(F.to_date("ts").alias("day")).agg(
        F.hll_sketch_agg("user_id").alias("sk")
    )
    mx = daily.agg(F.max("day").alias("dmax"))
    contrib = daily.select(
        "sk",
        F.explode(
            F.expr("sequence(day, date_add(day, 6), interval 1 day)")
        ).alias("rday"),
    )
    return (
        contrib.crossJoin(F.broadcast(mx))
        .filter(F.col("rday") <= F.col("dmax"))
        .groupBy(F.col("rday").alias("day"))
        .agg(
            F.hll_sketch_estimate(F.hll_union_agg("sk"))
            .cast("long")
            .alias("active_7d_approx")
        )
        .orderBy("day")
    )


# --------------------------------------------------------------------------
# Token-budget mixture plan: the step after mixture weights — given a
# training budget B (here 20× the corpus), the per-source EPOCH count
# that realizes the α=0.5 power-law weights: epochs_src = B·w_src /
# tokens_src = B / (Z·√tokens_src). Small sources repeat more (the
# standard up-sampling recipe); the whole plan is one aggregate +
# broadcast scalar — driver never sees data. Same fixed-op double chain
# in both engines, rounded away from the ulp boundary.
# --------------------------------------------------------------------------


@query(
    "mixture_epoch_plan",
    oracle=f"""
WITH s AS (
  SELECT source, CAST(sum(len({_TOKS})) AS BIGINT) AS n_tokens
  FROM documents GROUP BY source
),
tot AS (SELECT sum(sqrt(n_tokens)) AS z, sum(n_tokens) AS corpus FROM s)
SELECT s.source, s.n_tokens,
       round(sqrt(s.n_tokens) / tot.z, 6) AS weight,
       round(20.0 * tot.corpus / (tot.z * sqrt(s.n_tokens)), 4) AS epochs
FROM s, tot
ORDER BY s.source
""",
)
def mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", F.size(_tokens()).alias("n")
    )
    s = d.groupBy("source").agg(F.sum("n").alias("n_tokens"))
    tot = s.agg(
        F.sum(F.sqrt("n_tokens")).alias("z"),
        F.sum("n_tokens").alias("corpus"),
    )
    return (
        s.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_tokens",
            F.round(F.sqrt("n_tokens") / F.col("z"), 6).alias("weight"),
            F.round(
                F.lit(20.0) * F.col("corpus") / (F.col("z") * F.sqrt("n_tokens")), 4
            ).alias("epochs"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# Cross-source contamination matrix: for every ordered source pair, the
# fraction of the target source's distinct 8-grams that also occur in
# the other source — the leakage diagnostic run BEFORE deciding split/
# mixture boundaries (a high off-diagonal says two "sources" are really
# one). Distinct (source, gram) first — one shuffle on the gram — then
# the pair join runs on the deduplicated gram universe; with few
# sources the output is |sources|², driver-scale. Fractions are
# floor-quantized at 1e6 (integer counts divided per the fixed rule),
# engine-exact.
# --------------------------------------------------------------------------


@query(
    "source_contamination_matrix",
    oracle=f"""
WITH toks AS (SELECT source, {_TOKS} AS t FROM documents),
sh AS (
  SELECT DISTINCT source,
         unnest(list_transform(generate_series(1, len(t) - 7),
             i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS g
  FROM toks
),
sizes AS (SELECT source, count(*) AS n_grams FROM sh GROUP BY source),
pairs AS (
  SELECT a.source AS src_a, b.source AS src_b, count(*) AS n_shared
  FROM sh a JOIN sh b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT p.src_a, p.src_b, p.n_shared,
       CAST(floor(p.n_shared * 1000000.0 / sa.n_grams) AS BIGINT) AS frac_of_a_q,
       CAST(floor(p.n_shared * 1000000.0 / sb.n_grams) AS BIGINT) AS frac_of_b_q
FROM pairs p
JOIN sizes sa ON sa.source = p.src_a
JOIN sizes sb ON sb.source = p.src_b
ORDER BY src_a, src_b
""",
)
def source_contamination_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "source", _tokens().alias("t")
    )
    n = F.size("t")
    sh = d.select(
        "source",
        F.explode(
            F.transform(
                _gram_starts(n, 8),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 8)),
            )
        ).alias("g"),
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_grams"))
    a = sh.select(F.col("source").alias("src_a"), "g")
    b = sh.select(F.col("source").alias("src_b"), "g")
    pairs = (
        a.join(b, on="g")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        pairs.join(
            F.broadcast(sizes.select(F.col("source").alias("src_a"),
                                     F.col("n_grams").alias("na"))),
            on="src_a",
        )
        .join(
            F.broadcast(sizes.select(F.col("source").alias("src_b"),
                                     F.col("n_grams").alias("nb"))),
            on="src_b",
        )
        .select(
            "src_a",
            "src_b",
            "n_shared",
            F.floor(F.col("n_shared") * 1000000.0 / F.col("na"))
            .cast("long")
            .alias("frac_of_a_q"),
            F.floor(F.col("n_shared") * 1000000.0 / F.col("nb"))
            .cast("long")
            .alias("frac_of_b_q"),
        )
        .orderBy("src_a", "src_b")
    )


# --------------------------------------------------------------------------
# DSIR-style data selection (Xie et al. 2023, arXiv:2302.03169):
# importance weights for every raw-pool document as the log-likelihood
# ratio of a target-domain n-gram LM over a raw-pool n-gram LM —
# "Data Selection for Language Models via Importance Resampling". The
# feature space here is word BIGRAMS (the paper hashes n-grams into a
# fixed bucket count purely to bound feature dimensionality — at 100 TB
# swap the gram key for xxhash64(g) % n_buckets, which changes only the
# grouping key width, not the plan shape). Laplace-smoothed log
# probabilities over the joint vocabulary, per-occurrence contributions
# 1e4 fixed-point quantized BEFORE the per-doc sum (the BM25 trick) so
# doc weights are integer-exact under any aggregation order.
#
# Scale shape: one tokenize pass; grams shuffle once (as xxhash64 codes)
# for the conditional target/raw count agg; the per-gram log-ratio table
# joins back on the gram code (vocab-sized — Catalyst/AQE picks BHJ
# while it fits, SMJ beyond); one doc-keyed agg. Nothing is quadratic
# and the corpus text never shuffles.
# --------------------------------------------------------------------------

_DSIR_TARGET = ("src0", "src1")

#: Platform assumption (audited, not hoped-for): the compared columns
#: floor a transcendental (ln), and JVM Math.log / DuckDB libm are each
#: allowed ~1-ulp error, so a pre-floor value essentially ON a
#: quantization boundary could floor differently across platforms.
#: tests/test_dsir_gate_robustness.py asserts every pre-floor value in
#: the fixtures keeps a margin orders of magnitude above that drift
#: (and that the xxhash64 gram codes are collision-free at gate scale).

#: Shared CTE chain producing the per-raw-doc weight relation ``w`` —
#: the weights query selects it directly; the resampling query ranks it.
_DSIR_CTES = f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
bi AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 1),
             i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks
),
stats AS (
  SELECT g,
         CAST(sum(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(sum(CASE WHEN source IN ('src0', 'src1') THEN 0 ELSE 1 END) AS BIGINT) AS cr
  FROM bi GROUP BY g
),
tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr, count(*) AS v FROM stats),
lp AS (
  SELECT g,
         CAST(floor((ln((ct + 1.0) / (tot.nt + tot.v))
                   - ln((cr + 1.0) / (tot.nr + tot.v))) * 10000) AS BIGINT) AS c
  FROM stats, tot
),
w AS (
  SELECT bi.doc_id,
         count(*) AS n_bigrams,
         CAST(sum(lp.c) AS BIGINT) AS weight_q
  FROM bi JOIN lp USING (g)
  WHERE bi.source NOT IN ('src0', 'src1')
  GROUP BY bi.doc_id
)"""


@query(
    "dsir_importance_weights",
    oracle=_DSIR_CTES
    + """
SELECT doc_id, n_bigrams, weight_q FROM w ORDER BY doc_id
""",
)
def dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document DSIR importance weight (1e4 fixed-point log-ratio)
    for every raw-pool document, target domain = sources src0/src1."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _tokens().alias("t")
    )
    n = F.size("t")
    # Grams travel as xxhash64 codes (8 bytes, no-collision argument as
    # elsewhere — the string-gram oracle verifies it end-to-end).
    # Materialized once: the exploded gram relation feeds BOTH the
    # target/raw count agg and the final per-doc join — lazy, the
    # tokenize+explode (the expensive stage) would replay per consumer.
    # At rest it is three narrow columns (8-byte codes, no strings).
    bi = d.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                _gram_starts(n, 2),
                lambda i: F.xxhash64(F.concat_ws(" ", F.slice(F.col("t"), i, 2))),
            )
        ).alias("g"),
    ).localCheckpoint(eager=True)
    is_tgt = F.col("source").isin(*_DSIR_TARGET)
    stats = bi.groupBy("g").agg(
        F.sum(F.when(is_tgt, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(is_tgt, 0).otherwise(1)).alias("cr"),
    )
    tot = stats.agg(
        F.sum("ct").alias("nt"), F.sum("cr").alias("nr"), F.count(F.lit(1)).alias("v")
    )
    lp = stats.crossJoin(F.broadcast(tot)).select(
        "g",
        F.floor(
            (
                F.log((F.col("ct") + 1.0) / (F.col("nt") + F.col("v")))
                - F.log((F.col("cr") + 1.0) / (F.col("nr") + F.col("v")))
            )
            * 10000
        )
        .cast("long")
        .alias("c"),
    )
    return (
        bi.filter(~is_tgt)
        .join(lp, "g")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c").alias("weight_q"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Hashed-feature DSIR (the paper's actual memory trick): the bigram
# vocabulary is folded into a FIXED bucket count before the LM fit, so
# the per-bucket count table — the only state that is not O(docs) — is
# bounded at B rows regardless of corpus size (arXiv:2302.03169 §2.2
# hashes n-grams into 10k buckets for exactly this reason). This twin
# proves the hashed path end-to-end with a value-checking oracle: the
# bucket hash here is engine-portable md5 (first 8 hex chars → int mod
# B, computable identically in DuckDB); the production key at 100 TB is
# xxhash64(g) % B — one cheaper hash, the identical plan.
# --------------------------------------------------------------------------

_DSIR_BUCKETS = 4096

#: Engine-portable bucket id for a gram string g: first 8 md5 hex chars
#: as an integer, mod the bucket count. Spark's conv(…,16,10) and
#: DuckDB's '0x…' BIGINT cast agree because the value fits in 32 bits.
_DSIR_BUCKET_SQL = (
    "CAST(('0x' || substring(md5(g), 1, 8)) AS BIGINT) % {b}"
).format(b=_DSIR_BUCKETS)


@query(
    "dsir_weights_hashed",
    oracle=f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
bi AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 1),
             i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks
),
bk AS (SELECT doc_id, source, {_DSIR_BUCKET_SQL} AS b FROM bi),
stats AS (
  SELECT b,
         CAST(sum(CASE WHEN source IN ('src0', 'src1') THEN 1 ELSE 0 END) AS BIGINT) AS ct,
         CAST(sum(CASE WHEN source IN ('src0', 'src1') THEN 0 ELSE 1 END) AS BIGINT) AS cr
  FROM bk GROUP BY b
),
tot AS (SELECT sum(ct) AS nt, sum(cr) AS nr FROM stats),
lp AS (
  SELECT b,
         CAST(floor((ln((ct + 1.0) / (tot.nt + {_DSIR_BUCKETS}))
                   - ln((cr + 1.0) / (tot.nr + {_DSIR_BUCKETS}))) * 10000) AS BIGINT) AS c
  FROM stats, tot
)
SELECT bk.doc_id,
       count(*) AS n_bigrams,
       CAST(sum(lp.c) AS BIGINT) AS weight_q
FROM bk JOIN lp USING (b)
WHERE bk.source NOT IN ('src0', 'src1')
GROUP BY bk.doc_id
ORDER BY bk.doc_id
""",
)
def dsir_weights_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights over hashed bigram buckets — the bounded-
    state variant: LM state is exactly ``_DSIR_BUCKETS`` rows however
    large the corpus grows (smoothing V is the bucket count — every
    bucket is in-vocabulary by construction)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _tokens().alias("t")
    )
    n = F.size("t")
    bucket = (
        F.conv(F.substring(F.md5(F.col("g")), 1, 8), 16, 10).cast("long")
        % _DSIR_BUCKETS
    )
    # Materialized once — same two-consumer shape as the unhashed twin.
    bk = (
        d.select(
            "doc_id",
            "source",
            F.explode(
                F.transform(
                    _gram_starts(n, 2),
                    lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 2)),
                )
            ).alias("g"),
        )
        .select("doc_id", "source", bucket.alias("b"))
        .localCheckpoint(eager=True)
    )
    is_tgt = F.col("source").isin(*_DSIR_TARGET)
    stats = bk.groupBy("b").agg(
        F.sum(F.when(is_tgt, 1).otherwise(0)).alias("ct"),
        F.sum(F.when(is_tgt, 0).otherwise(1)).alias("cr"),
    )
    tot = stats.agg(F.sum("ct").alias("nt"), F.sum("cr").alias("nr"))
    lp = stats.crossJoin(F.broadcast(tot)).select(
        "b",
        F.floor(
            (
                F.log((F.col("ct") + 1.0) / (F.col("nt") + _DSIR_BUCKETS))
                - F.log((F.col("cr") + 1.0) / (F.col("nr") + _DSIR_BUCKETS))
            )
            * 10000
        )
        .cast("long")
        .alias("c"),
    )
    return (
        bk.filter(~is_tgt)
        .join(F.broadcast(lp), "b")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.sum("c").alias("weight_q"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Decontamination APPLY — the action half of decontaminate_ngram_overlap:
# drop every corpus document whose contaminated fraction (distinct
# shared 8-grams / its distinct 8-grams) reaches the threshold, and
# report the per-source survivor counts a curation run logs. Same scale
# shape as the stats query (benchmark shingles broadcast, corpus never
# reshuffled as strings) plus one per-doc distinct-gram count — the
# fraction denominator — folded into the same tokenize pass.
# --------------------------------------------------------------------------

_DECON_FRAC_Q = 100_000  # 1e5 fixed-point contamination fraction
_DECON_THRESHOLD_Q = 20_000  # drop at >= 20% shared distinct 8-grams


@query(
    "decontaminate_apply",
    oracle=f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 7),
             i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS g
  FROM toks
),
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 29 = 0),
corpus AS (SELECT DISTINCT doc_id, source, g FROM sh WHERE doc_id % 29 <> 0),
frac AS (
  SELECT doc_id, source,
         CAST(count(*) AS BIGINT) AS n_grams,
         CAST(floor(sum(CASE WHEN bench.g IS NOT NULL THEN 1 ELSE 0 END)
                    * {_DECON_FRAC_Q}.0 / count(*)) AS BIGINT) AS frac_q
  FROM corpus LEFT JOIN bench USING (g)
  GROUP BY doc_id, source
)
SELECT source,
       count(*) AS n_docs,
       CAST(sum(CASE WHEN frac_q < {_DECON_THRESHOLD_Q} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN frac_q >= {_DECON_THRESHOLD_Q} THEN 1 ELSE 0 END)
            AS BIGINT) AS n_dropped
FROM frac GROUP BY source ORDER BY source
""",
)
def decontaminate_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _tokens().alias("t")
    )
    n = F.size("t")
    sh = d.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                _gram_starts(n, 8),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 8)),
            )
        ).alias("g"),
    )
    bench = sh.filter(F.col("doc_id") % 29 == 0).select("g").distinct()
    corpus = (
        sh.filter(F.col("doc_id") % 29 != 0)
        .select("doc_id", "source", "g")
        .distinct()
    )
    frac = (
        corpus.join(
            F.broadcast(bench.select("g", F.lit(True).alias("hit"))),
            "g",
            "left",
        )
        .groupBy("doc_id", "source")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.floor(
                F.sum(F.when(F.col("hit"), 1).otherwise(0))
                * float(_DECON_FRAC_Q)
                / F.count(F.lit(1))
            )
            .cast("long")
            .alias("frac_q"),
        )
    )
    kept = F.col("frac_q") < _DECON_THRESHOLD_Q
    return (
        frac.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(kept, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(~kept, 1).otherwise(0)).alias("n_dropped"),
        )
        .orderBy("source")
    )


# --------------------------------------------------------------------------
# DSIR resampling — the paper's SELECTION step executed: sample-without-
# replacement proportional to exp(importance weight) via the Gumbel
# top-k rule (key = log-weight + Gumbel noise; take the k largest).
# The Gumbel draw is DETERMINISTIC and engine-portable: u = (md5-hash32
# of the doc id + 0.5) / 2^32, g = -ln(-ln(u)) — both engines compute
# identical IEEE doubles from identical integers, and the key is 1e6
# fixed-point-quantized before ranking so the order (doc_id tie-break)
# is exact. Scale shape: the weight relation is O(raw docs); selection
# is TakeOrderedAndProject (per-partition heaps) — no global sort.
# --------------------------------------------------------------------------

_DSIR_K = 64


@query(
    "dsir_resample_topk",
    oracle=_DSIR_CTES
    + f"""
, keyed AS (
  SELECT doc_id, weight_q,
         CAST(floor((weight_q / 10000.0
             - ln(-ln((CAST(('0x' || substring(md5('doc' || CAST(doc_id AS VARCHAR)), 1, 8))
                       AS BIGINT) + 0.5) / 4294967296.0))) * 1000000)
              AS BIGINT) AS key_q
  FROM w
),
ranked AS (
  SELECT doc_id, weight_q, key_q,
         row_number() OVER (ORDER BY key_q DESC, doc_id) AS rnk
  FROM keyed
)
SELECT doc_id, weight_q, key_q, rnk FROM ranked
WHERE rnk <= {_DSIR_K} ORDER BY rnk
""",
)
def dsir_resample_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = dsir_importance_weights(spark, sf_dir).select("doc_id", "weight_q")
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("doc"), F.col("doc_id").cast("string"))), 1, 8
        ),
        16,
        10,
    ).cast("long")
    u = (h + F.lit(0.5)) / F.lit(4294967296.0)
    key_q = (
        F.floor(
            (F.col("weight_q") / 10000.0 - F.log(-F.log(u))) * 1000000
        ).cast("long")
    )
    keyed = w.withColumn("key_q", key_q)
    top = keyed.orderBy(F.desc("key_q"), F.asc("doc_id")).limit(_DSIR_K)
    return (
        top.withColumn(
            "rnk",
            F.row_number().over(Window.orderBy(F.desc("key_q"), F.asc("doc_id"))),
        )
        .select("doc_id", "weight_q", "key_q", "rnk")
        .orderBy("rnk")
    )


# --------------------------------------------------------------------------
# Fill-forward imputation (LOCF — last observation carried forward): the
# missing-value repair step of a telemetry/feature pipeline. Missingness
# is planted deterministically (value whose integer part ≡ 0 mod 7 →
# NULL) so both engines see identical holes; the fill is one
# per-key ordered window with IGNORE NULLS — partitioned by user, so no
# single-partition funnel at any scale. Output aggregates per user
# (events are ~10⁴ rows/user-day at 100 TB; the per-user roll-up is the
# realistic report grain) with the filled sum 1e2 fixed-point quantized.
# --------------------------------------------------------------------------


@query(
    "events_fill_forward",
    oracle="""
WITH nulled AS (
  SELECT user_id, event_id, ts,
         CASE WHEN CAST(floor(value) AS INT) % 7 = 0 THEN NULL ELSE value END AS v
  FROM events
),
filled AS (
  SELECT user_id, v,
         last_value(v IGNORE NULLS) OVER (
           PARTITION BY user_id ORDER BY ts, event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f
  FROM nulled
)
SELECT user_id,
       count(*) AS n_events,
       CAST(sum(CASE WHEN v IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulled,
       CAST(sum(CASE WHEN f IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_unfilled,
       CAST(sum(CASE WHEN f IS NOT NULL THEN CAST(floor(f * 100) AS BIGINT)
                ELSE 0 END) AS BIGINT) AS sum_filled_q
FROM filled GROUP BY user_id ORDER BY user_id
""",
)
def events_fill_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    e = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "value"
    )
    v = F.when(
        F.floor("value").cast("int") % 7 == 0, F.lit(None)
    ).otherwise(F.col("value"))
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    filled = e.withColumn("v", v).withColumn(
        "f", F.last("v", ignorenulls=True).over(w)
    )
    return (
        filled.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("v").isNull(), 1).otherwise(0)).alias("n_nulled"),
            F.sum(F.when(F.col("f").isNull(), 1).otherwise(0)).alias("n_unfilled"),
            F.sum(
                F.when(
                    F.col("f").isNotNull(),
                    F.floor(F.col("f") * 100).cast("long"),
                ).otherwise(0)
            ).alias("sum_filled_q"),
        )
        .orderBy("user_id")
    )


# --------------------------------------------------------------------------
# Bigram-LM scoring (add-one smoothed): mean ln p(w_i | w_{i-1}) with
# p = (c(w1 w2) + 1) / (c(w1) + V) — the KenLM-perplexity-shaped filter
# one tier up from text_unigram_logprob (context-sensitive: word salad
# with a plausible unigram mix now scores low). One tokenize pass feeds
# doc bigrams, corpus bigram counts, unigram counts, and V; the bigram
# count join is the only corpus-keyed shuffle, the unigram/V sides
# broadcast. Fixed-point floor at 1e-4 keeps ln() engine-exact.
# --------------------------------------------------------------------------


@query(
    "bigram_lm_score",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
db AS (
  SELECT doc_id,
         unnest(list_transform(generate_series(1, len(t) - 1),
                               i -> t[i] || ' ' || t[i + 1])) AS g
  FROM toks
),
bi AS (SELECT g, count(*) AS cb FROM db GROUP BY g),
uni AS (
  SELECT g AS w, count(*) AS c
  FROM (SELECT unnest(t) AS g FROM toks) GROUP BY g
),
v AS (SELECT count(*) AS v FROM uni)
SELECT db.doc_id,
       count(*) AS n_bigrams,
       CAST(floor(sum(ln((bi.cb + 1) * 1.0 / (uni.c + v.v)))
                  / count(*) * 10000) AS BIGINT) AS mean_logprob_q
FROM db
JOIN bi USING (g)
JOIN uni ON uni.w = string_split(db.g, ' ')[1], v
GROUP BY db.doc_id
ORDER BY db.doc_id
""",
)
def bigram_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("t")
    )
    n = F.size("t")
    db = d.select(
        "doc_id",
        F.explode(
            F.transform(
                _gram_starts(n, 2),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 2)),
            )
        ).alias("g"),
    )
    bi = db.groupBy("g").agg(F.count(F.lit(1)).alias("cb"))
    uni = (
        d.select(F.explode("t").alias("w"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    v = uni.agg(F.count(F.lit(1)).alias("v"))
    return (
        db.join(bi, "g")
        .withColumn("w1", F.split("g", " ").getItem(0))
        .join(F.broadcast(uni), F.col("w1") == F.col("w"))
        .crossJoin(F.broadcast(v))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            F.floor(
                F.sum(
                    F.log(
                        (F.col("cb") + 1)
                        * F.lit(1.0)
                        / (F.col("c") + F.col("v"))
                    )
                )
                / F.count(F.lit(1))
                * 10000
            )
            .cast("long")
            .alias("mean_logprob_q"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# OHLC time-series downsampling + fixed-point EWMA (the TimescaleDB
# continuous-aggregate / financial-bars shape). Raw events collapse to
# one bar per (event_type, day): open/close are the values at the
# MIN/MAX of a deterministic order key — zero-padded epoch-micros ‖
# event_id rendered as a string, because lexicographic order on the
# padding equals numeric order and both engines' arg_min/min_by accept
# VARCHAR keys (ties at identical timestamps break by event_id, so the
# bars are reproducible under any partitioning). volume sums as
# DECIMAL(18,2). ewma_num is a 10-bar half-life-1 exponential moving
# average in PURE INTEGER form: sum of lag-j cents × 2^(9-j) — the
# 2^k weights make the usual order-dependent FP recurrence an exact
# integer (divide by 102400.0 client-side for the float EWMA). One
# groupBy shuffle for the bars + one window exchange on event_type for
# the EWMA; at 100 TB bars are ~types×days rows — tiny — so the window
# runs on the DOWNSAMPLED relation, never the raw events.
# --------------------------------------------------------------------------


@query(
    "events_ohlc_daily",
    oracle="""
WITH keyed AS (
  SELECT event_type, date_trunc('day', ts) AS bar_ts, value,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ok
  FROM events
),
bars AS (
  SELECT event_type, bar_ts,
         arg_min(value, ok) AS open,
         max(value) AS high,
         min(value) AS low,
         arg_max(value, ok) AS close,
         count(*) AS n_events,
         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
  FROM keyed GROUP BY event_type, bar_ts
),
ew AS (
  SELECT *,
    (SELECT CAST(sum(CAST(floor(b2.close * 100 + 0.5) AS BIGINT)
                     * CAST(pow(2, 9 - (b.rn - b2.rn)) AS BIGINT)) AS BIGINT)
     FROM (SELECT event_type, bar_ts, close,
                  row_number() OVER (PARTITION BY event_type ORDER BY bar_ts) AS rn
           FROM bars) b2
     WHERE b2.event_type = b.event_type
       AND b2.rn BETWEEN b.rn - 9 AND b.rn) AS ewma_num
  FROM (SELECT *, row_number() OVER (PARTITION BY event_type ORDER BY bar_ts) AS rn
        FROM bars) b
)
SELECT event_type, bar_ts, open, high, low, close, n_events, volume, ewma_num
FROM ew ORDER BY event_type, bar_ts
""",
)
def events_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    ok = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    bars = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").cast("date").alias("bar_ts"),
            "value",
            ok.alias("ok"),
        )
        .groupBy("event_type", "bar_ts")
        .agg(
            F.min_by("value", F.col("ok")).alias("open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("ok")).alias("close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)"))
            .cast("double")
            .alias("volume"),
        )
    )
    w = Window.partitionBy("event_type").orderBy("bar_ts")
    cents = F.floor(F.col("close") * 100 + F.lit(0.5)).cast("long")
    ewma = None
    for j in range(10):
        term = F.coalesce(F.lag(cents, j).over(w) * (1 << (9 - j)), F.lit(0))
        ewma = term if ewma is None else ewma + term
    # The first 9 bars of each series average over fewer than 10 terms
    # in BOTH engines identically (missing lags contribute nothing).
    return bars.withColumn("ewma_num", ewma).orderBy("event_type", "bar_ts")


# --------------------------------------------------------------------------
# Cascading rollup (the TimescaleDB continuous-aggregate hierarchy /
# materialized-rollup reuse): MONTHLY bars are derived from the DAILY
# bars' mergeable partial state — never from the raw events. The daily
# state carries its arg keys (ok at the open, ok at the close), so the
# monthly open/close are min_by/max_by over DAILY rows on those carried
# keys — exactly the merge a partial-aggregate combiner performs. At
# 100 TB the raw relation is touched once for the daily tier; every
# coarser tier is a metadata-scale fold over ~types×days rows. The
# oracle computes monthly bars DIRECTLY from raw events: a hash match
# proves the cascade is lossless, i.e. the state really is mergeable.
# --------------------------------------------------------------------------


@query(
    "events_ohlc_monthly_cascade",
    oracle="""
WITH keyed AS (
  SELECT event_type, date_trunc('month', ts) AS m, value,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ok
  FROM events
)
SELECT event_type, CAST(m AS DATE) AS month,
       arg_min(value, ok) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, ok) AS close,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
FROM keyed GROUP BY event_type, m
ORDER BY event_type, month
""",
)
def events_ohlc_monthly_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    ok = F.concat(
        F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
        F.lpad(F.col("event_id").cast("string"), 12, "0"),
    )
    # Daily tier: the one raw-relation pass. Carries the arg keys so
    # its state merges exactly into any coarser granularity.
    daily = (
        ev.select(
            "event_type",
            F.date_trunc("day", "ts").alias("bar_ts"),
            "value",
            ok.alias("ok"),
        )
        .groupBy("event_type", "bar_ts")
        .agg(
            F.min_by("value", F.col("ok")).alias("open"),
            F.min("ok").alias("ok_open"),
            F.max("value").alias("high"),
            F.min("value").alias("low"),
            F.max_by("value", F.col("ok")).alias("close"),
            F.max("ok").alias("ok_close"),
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("vol_dec"),
        )
    )
    # Monthly tier: a fold over the DAILY partials only.
    return (
        daily.groupBy(
            "event_type",
            F.date_trunc("month", "bar_ts").cast("date").alias("month"),
        )
        .agg(
            F.min_by("open", F.col("ok_open")).alias("open"),
            F.max("high").alias("high"),
            F.min("low").alias("low"),
            F.max_by("close", F.col("ok_close")).alias("close"),
            F.sum("n_events").alias("n_events"),
            F.sum("vol_dec").cast("double").alias("volume"),
        )
        .orderBy("event_type", "month")
    )


# --------------------------------------------------------------------------
# OVERLAPPING retrieval chunks (the RAG passage-window shape): 32-token
# windows on a 16-token stride, so every token boundary has context on
# both sides of some chunk. Start positions run s = 0, 16, 32, … while
# s == 0 or s + 16 < n — a start whose window adds no tokens beyond the
# previous chunk's coverage is suppressed (it would be a pure suffix of
# its predecessor: dead weight in the index and a duplicate retrieval
# hit). Map-only: sequence + posexplode + slice inside the row — chunk
# count is the only amplification, no shuffle until the caller's sink.
# --------------------------------------------------------------------------

_STRIDE = 16


@query(
    "doc_chunk_overlap_windows",
    oracle=f"""
WITH toks AS (SELECT doc_id, {_TOKS} AS t FROM documents),
chunks AS (
  SELECT doc_id,
         unnest(generate_series(0,
             CAST(floor(greatest(len(t) - {_STRIDE} - 1, 0)
                        / {_STRIDE}) AS BIGINT))) AS win_idx,
         t
  FROM toks
)
SELECT doc_id, win_idx,
       win_idx * {_STRIDE} AS start_tok,
       len(list_slice(t, win_idx * {_STRIDE} + 1,
                      least(win_idx * {_STRIDE} + {_CHUNK}, len(t))))
         AS n_tokens,
       array_to_string(list_slice(t, win_idx * {_STRIDE} + 1,
                       least(win_idx * {_STRIDE} + {_CHUNK}, len(t))), ' ')
         AS chunk_text
FROM chunks
ORDER BY doc_id, win_idx
""",
)
def doc_chunk_overlap_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", _tokens().alias("t")
    )
    n = F.size("t")
    # Last emitted start: the largest multiple of _STRIDE strictly below
    # n - _STRIDE, floored at 0 (a lone short doc still emits window 0).
    last = F.floor(
        F.greatest(n - F.lit(_STRIDE) - 1, F.lit(0)) / F.lit(_STRIDE)
    ).cast("long")
    wins = d.select(
        "doc_id",
        F.col("t"),
        F.explode(F.sequence(F.lit(0).cast("long"), last)).alias("win_idx"),
    )
    piece = F.slice(
        F.col("t"), (F.col("win_idx") * _STRIDE + 1).cast("int"), _CHUNK
    )
    return wins.select(
        "doc_id",
        "win_idx",
        (F.col("win_idx") * _STRIDE).alias("start_tok"),
        F.size(piece).alias("n_tokens"),
        F.concat_ws(" ", piece).alias("chunk_text"),
    ).orderBy("doc_id", "win_idx")


# --------------------------------------------------------------------------
# Per-key frequency capping (the RefinedWeb/CommonCrawl rate-cap shape
# applied to events): keep at most 3 events per (user, day) — the
# EARLIEST ones, deterministic tiebreak on event_id — so heavy users
# can't dominate a training extract. ONE window on the (user, day)
# exchange; the report is per-key (kept, dropped) so the cap's bite is
# auditable before anyone drops data.
# --------------------------------------------------------------------------


@query(
    "frequency_cap_events",
    oracle="""
WITH ranked AS (
  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
         row_number() OVER (
           PARTITION BY user_id, date_trunc('day', ts)
           ORDER BY ts, event_id) AS rn
  FROM events
)
SELECT user_id, day,
       count(*) AS n_events,
       CAST(sum(CASE WHEN rn <= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN rn > 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
FROM ranked GROUP BY user_id, day
ORDER BY user_id, day
""",
)
def frequency_cap_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.date_trunc("day", "ts").cast("date").alias("day"),
        "ts",
        "event_id",
    )
    w = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.when(F.col("rn") <= 3, 1).otherwise(0)).alias("n_kept"),
            F.sum(F.when(F.col("rn") > 3, 1).otherwise(0)).alias("n_dropped"),
        )
        .orderBy("user_id", "day")
    )


# --------------------------------------------------------------------------
# Co-purchase affinity pairs (pairwise frequent itemsets / the
# market-basket building block): distinct (order, part) first, then the
# within-order self-join emits each unordered pair once (a < b) — pair
# cost is Σ basket(basket−1)/2, bounded by real basket sizes (max 13 in
# the fixture; a hot-basket cap would bound adversarial data the same
# way the LSH bucket cap does), NEVER parts². One shuffle for the
# distinct, one for the pair count; top-20 via TakeOrdered, no global
# sort.
# --------------------------------------------------------------------------


@query(
    "copurchase_pairs_topk",
    oracle="""
WITH items AS (
  SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
),
pairs AS (
  SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
         count(*) AS n_orders
  FROM items a
  JOIN items b ON a.l_orderkey = b.l_orderkey
              AND a.l_partkey < b.l_partkey
  GROUP BY 1, 2
),
ranked AS (
  SELECT *, row_number() OVER (
           ORDER BY n_orders DESC, part_a, part_b) AS rnk
  FROM pairs
)
SELECT part_a, part_b, n_orders, rnk FROM ranked
WHERE rnk <= 20 ORDER BY rnk
""",
)
def copurchase_pairs_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    a = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_a")
    )
    b = items.select(
        F.col("l_orderkey"), F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    top = pairs.orderBy(
        F.col("n_orders").desc(), "part_a", "part_b"
    ).limit(20)
    from pyspark.sql import Window

    w = Window.orderBy(F.col("n_orders").desc(), "part_a", "part_b")
    return top.withColumn("rnk", F.row_number().over(w)).orderBy("rnk")


# --------------------------------------------------------------------------
# TWAP: time-weighted daily average (operators/maintenance.py::
# twap_daily) — the observation-holds-until-the-next-one average the
# plain mean gets wrong under irregular sampling. Cents × integer-μs
# durations keep the weighted sums integer-exact (Σ ≤ max_cents · day-μs
# ≈ 2^52 per group), so the final double division reproduces bit-for-bit
# in DuckDB. One shuffle: the lead() window and the groupBy share the
# (type, day) key.
# --------------------------------------------------------------------------


@query(
    "events_twap_daily",
    oracle="""
WITH seq AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS bar_ts,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents,
         epoch_us(ts) AS us,
         lead(epoch_us(ts)) OVER (
           PARTITION BY event_type, CAST(date_trunc('day', ts) AS DATE)
           ORDER BY ts, event_id) AS next_us
  FROM events
),
agg AS (
  SELECT event_type, bar_ts,
         CAST(sum(cents * coalesce(next_us - us, 0)) AS BIGINT) AS num,
         CAST(sum(coalesce(next_us - us, 0)) AS BIGINT) AS den,
         count(*) AS n_events
  FROM seq GROUP BY event_type, bar_ts
)
SELECT event_type, bar_ts,
       CASE WHEN den > 0
            THEN round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE) / 100, 4)
       END AS twap,
       n_events
FROM agg ORDER BY event_type, bar_ts
""",
)
def events_twap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import twap_daily

    return twap_daily(load_table(spark, sf_dir, "events"))


# --------------------------------------------------------------------------
# Robust anomaly detection: median/MAD z-scores per event type — the
# outlier-resistant twin of events_anomaly_zscore (mean/stddev move with
# the outliers they hunt; median/MAD do not). Exact interpolating
# medians in both engines (Spark percentile(0.5) == DuckDB
# quantile_cont on DOUBLE). Two aggregation passes over the same
# (event_type) key + one broadcast join back; no window over raw rows.
# --------------------------------------------------------------------------


@query(
    "events_anomaly_mad",
    oracle="""
WITH med AS (
  SELECT event_type, quantile_cont(CAST(value AS DOUBLE), 0.5) AS med
  FROM events GROUP BY event_type
),
dev AS (
  SELECT e.event_type, e.event_id, CAST(e.value AS DOUBLE) AS value, m.med,
         abs(CAST(e.value AS DOUBLE) - m.med) AS adev
  FROM events e JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       round(d.med, 4) AS med,
       round(m.mad, 4) AS mad,
       CAST(count(CASE WHEN d.adev > 8 * m.mad THEN 1 END) AS BIGINT)
         AS n_anomalies,
       count(*) AS n_events
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type, d.med, m.mad
ORDER BY d.event_type
""",
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", "event_id", F.col("value").cast("double").alias("value")
    )
    med = ev.groupBy("event_type").agg(
        F.percentile("value", 0.5).alias("med")
    )
    dev = ev.join(F.broadcast(med), on="event_type").withColumn(
        "adev", F.abs(F.col("value") - F.col("med"))
    )
    mad = dev.groupBy("event_type").agg(
        F.percentile("adev", 0.5).alias("mad")
    )
    return (
        dev.join(F.broadcast(mad), on="event_type")
        .groupBy("event_type", "med", "mad")
        .agg(
            F.count(
                F.when(F.col("adev") > 8 * F.col("mad"), F.lit(1))
            ).alias("n_anomalies"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            F.round("med", 4).alias("med"),
            F.round("mad", 4).alias("mad"),
            "n_anomalies",
            "n_events",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Holt double-exponential smoothing (level + linear trend, α = β = ½)
# over each event type's daily count series — the forecasting primitive
# one tier above the EWMA kernel in events_ohlc_daily. The α = ½ choice
# makes every recursion step an arithmetic right-shift on integers
# (s_t = (x_t + s + b) >> 1; b_t = ((s_t − s) + b) >> 1; >> floors in
# BOTH engines, including on negatives), so the entire recursion —
# inherently serial per key — is bit-exact across engines with no float
# state. The series is folded INSIDE the row (sort_array + aggregate /
# list_reduce): per-key state is O(days), bounded by the calendar
# regardless of corpus size, and the only shuffle is the daily-count
# groupBy the fold rides on.
# --------------------------------------------------------------------------


@query(
    "events_holt_forecast",
    # Recursion via RECURSIVE CTE, not ``list_reduce`` (DuckDB 1.0.0's
    # grouped fold is corrupt — r10 verdict): one row per (type, day
    # index) advances the (level, trend) state; the same >> floor-shift
    # arithmetic keeps it bit-exact with the Spark in-row fold.
    oracle="""
WITH RECURSIVE daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
idxd AS (
  SELECT event_type,
         CAST(row_number() OVER (PARTITION BY event_type ORDER BY d)
              AS BIGINT) AS i,
         x
  FROM daily
),
n AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days
  FROM idxd GROUP BY event_type
),
rec AS (
  SELECT event_type, i, x AS s, CAST(0 AS BIGINT) AS b
  FROM idxd WHERE i = 1
  UNION ALL
  SELECT d.event_type, d.i,
         (d.x + r.s + r.b) >> 1,
         ((((d.x + r.s + r.b) >> 1) - r.s) + r.b) >> 1
  FROM rec r JOIN idxd d ON d.event_type = r.event_type AND d.i = r.i + 1
)
SELECT r.event_type, n.n_days, r.s AS level, r.b AS trend,
       r.s + r.b AS forecast_1
FROM rec r JOIN n USING (event_type)
WHERE r.i = n.n_days
ORDER BY r.event_type
""",
)
def events_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type Holt level/trend state after folding the ordered daily
    count series, plus the 1-step-ahead forecast (level + trend)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    series = daily.groupBy("event_type").agg(
        F.expr("transform(sort_array(collect_list(struct(d, x))), e -> e.x)").alias(
            "xs"
        )
    )
    folded = series.select(
        "event_type",
        F.size("xs").cast("long").alias("n_days"),
        F.expr(
            """
            CASE WHEN size(xs) = 1 THEN array(xs[0], 0L)
            ELSE aggregate(
              slice(xs, 2, size(xs) - 1), array(xs[0], 0L),
              (a, x) -> array(
                shiftright(x + a[0] + a[1], 1),
                shiftright((shiftright(x + a[0] + a[1], 1) - a[0]) + a[1], 1)
              ))
            END
            """
        ).alias("sb"),
    )
    return folded.select(
        "event_type",
        "n_days",
        F.expr("sb[0]").alias("level"),
        F.expr("sb[1]").alias("trend"),
        F.expr("sb[0] + sb[1]").alias("forecast_1"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Linear multi-touch attribution (round 9): each purchase's value is
# split ACROSS ALL touches (click/view) in its 7-day lookback, credit
# proportional to per-channel touch counts — the fairness upgrade over
# last-touch. No purchase×touch self-join: per-channel touch counts
# come from two RANGE-frame window counts over the same (user, time)
# ordering (value-bounded frames, engine-exact), so the cost is one
# keyed shuffle shared with the last-touch query's shape. Credits are
# integer cents (value_cents · n_channel div k) — truncation per
# purchase, deterministic in both engines.
# --------------------------------------------------------------------------


@query(
    "attribution_linear_multi_touch",
    oracle="""
WITH base AS (
  SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tm, event_type,
         CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents
  FROM events
),
cnt AS (
  SELECT *,
    count(CASE WHEN event_type = 'click' THEN 1 END) OVER w AS n_click,
    count(CASE WHEN event_type = 'view' THEN 1 END) OVER w AS n_view
  FROM base
  WINDOW w AS (PARTITION BY user_id ORDER BY tm
               RANGE BETWEEN 604800000000 PRECEDING AND 1 PRECEDING)
),
p AS (
  SELECT cents, n_click, n_view, n_click + n_view AS k
  FROM cnt WHERE event_type = 'purchase'
),
credits AS (
  SELECT 'click' AS channel, CAST(cents * n_click // k AS BIGINT) AS credit, 1 AS np
  FROM p WHERE n_click > 0
  UNION ALL
  SELECT 'view', CAST(cents * n_view // k AS BIGINT), 1 FROM p WHERE n_view > 0
  UNION ALL
  SELECT 'none', cents, 1 FROM p WHERE k = 0
)
SELECT channel,
       CAST(sum(np) AS BIGINT) AS n_purchases,
       CAST(sum(credit) AS BIGINT) AS credit_cents
FROM credits GROUP BY channel ORDER BY channel
""",
)
def attribution_linear_multi_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    base = e.select(
        "user_id",
        F.unix_micros("ts").alias("tm"),
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("cents"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("tm")
        .rangeBetween(-604_800_000_000, -1)
    )
    cnt = base.select(
        "*",
        F.count(F.when(F.col("event_type") == "click", 1)).over(w).alias("n_click"),
        F.count(F.when(F.col("event_type") == "view", 1)).over(w).alias("n_view"),
    )
    p = cnt.filter(F.col("event_type") == "purchase").select(
        "cents",
        "n_click",
        "n_view",
        (F.col("n_click") + F.col("n_view")).alias("k"),
    )
    credits = (
        p.filter(F.col("n_click") > 0)
        .select(
            F.lit("click").alias("channel"),
            F.expr("cents * n_click div k").alias("credit"),
        )
        .unionByName(
            p.filter(F.col("n_view") > 0).select(
                F.lit("view").alias("channel"),
                F.expr("cents * n_view div k").alias("credit"),
            )
        )
        .unionByName(
            p.filter(F.col("k") == 0).select(
                F.lit("none").alias("channel"), F.col("cents").alias("credit")
            )
        )
    )
    return (
        credits.groupBy("channel")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum("credit").alias("credit_cents"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Windowed SEQUENTIAL funnel (round 10): the Amplitude/match_recognize
# semantics — the FIRST view starts the funnel, a click qualifies only
# within 7 days OF THAT VIEW, a purchase only within 7 days of the
# qualifying click. Min-per-stage timestamps (funnel_conversion_stages)
# get this wrong whenever a stray early click precedes the qualifying
# view; the correct form needs the ordered scan, folded INSIDE the row:
# events encode to one BIGINT (epoch_µs·4 + stage code, so array sort
# is (time, stage) order), and a 3-slot integer state walks the
# sequence. Per-key state is O(user's funnel events), one groupBy
# shuffle, no self-joins. Cohorts keyed by the entry view's day.
# --------------------------------------------------------------------------

_FUNNEL_WEEK_US = 604_800_000_000


@query(
    "funnel_windowed_sequence",
    # The oracle deliberately avoids folding (DuckDB 1.0.0's grouped
    # ``list_reduce`` silently corrupts multi-group folds — r10 verdict).
    # The sequential fold reduces EXACTLY to chained conditional mins
    # because events fold in (ts, stage) order: the entry view is the
    # user's min view; the qualifying click is the min click with
    # ts >= v (the stage tiebreak makes click-after-view at equal ts
    # fold in order, i.e. x_click > x_view ⟺ ts_click >= ts_view) and
    # ts <= v + 7d; the qualifying purchase likewise off the click.
    # Later candidates can never beat an earlier in-window one (time is
    # monotone along the fold), so min = first-qualifying.
    oracle="""
WITH ev AS (
  SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events WHERE event_type IN ('view', 'click', 'purchase')
),
v AS (
  SELECT user_id, min(us) AS v_us FROM ev WHERE event_type = 'view'
  GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.us) AS c_us
  FROM ev e JOIN v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.us >= v.v_us AND e.us <= v.v_us + 604800000000
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.us) AS p_us
  FROM ev e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.us >= c.c_us AND e.us <= c.c_us + 604800000000
  GROUP BY e.user_id
)
SELECT CAST(make_timestamp(v.v_us) AS DATE) AS cohort_day,
       CAST(count(*) AS BIGINT) AS n_entered,
       CAST(count(c.c_us) AS BIGINT) AS n_clicked,
       CAST(count(p.p_us) AS BIGINT) AS n_purchased,
       CAST(count(p.p_us) * 1000 // count(*) AS BIGINT) AS conv_pm
FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
GROUP BY cohort_day ORDER BY cohort_day
""",
)
def funnel_windowed_sequence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily cohorts of the first-view → click(≤7d) → purchase(≤7d)
    sequence; conversion in integer per-mille."""
    e = load_table(spark, sf_dir, "events")
    enc = e.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        (
            F.unix_micros("ts") * 4
            + F.when(F.col("event_type") == "view", 1)
            .when(F.col("event_type") == "click", 2)
            .otherwise(3)
        ).alias("x"),
    )
    folded = enc.groupBy("user_id").agg(
        F.expr(
            f"""
            aggregate(
              sort_array(collect_list(x)), array(-1L, -1L, -1L),
              (a, e) -> CASE
                WHEN e % 4 = 1 AND a[0] = -1L
                  THEN array(e div 4, a[1], a[2])
                WHEN e % 4 = 2 AND a[1] = -1L AND a[0] != -1L
                     AND e div 4 <= a[0] + {_FUNNEL_WEEK_US}L
                  THEN array(a[0], e div 4, a[2])
                WHEN e % 4 = 3 AND a[2] = -1L AND a[1] != -1L
                     AND e div 4 <= a[1] + {_FUNNEL_WEEK_US}L
                  THEN array(a[0], a[1], e div 4)
                ELSE a END)
            """
        ).alias("st")
    )
    entered = folded.filter(F.expr("st[0] != -1L"))
    return (
        entered.groupBy(
            F.to_date(F.timestamp_micros(F.expr("st[0]"))).alias("cohort_day")
        )
        .agg(
            F.count(F.lit(1)).alias("n_entered"),
            F.count(F.when(F.expr("st[1] != -1L"), 1)).alias("n_clicked"),
            F.count(F.when(F.expr("st[2] != -1L"), 1)).alias("n_purchased"),
        )
        .select(
            "cohort_day",
            "n_entered",
            "n_clicked",
            "n_purchased",
            F.expr("n_purchased * 1000 div n_entered").alias("conv_pm"),
        )
        .orderBy("cohort_day")
    )


# --------------------------------------------------------------------------
# CUSUM change-point detection (round 10): the classic one-sided CUSUM
# over each event type's daily count series — s_t = max(0, s_{t-1} +
# (x_t − mean)), alarm when s_t exceeds 3·mean. Pure integer recursion
# (mean = total div days), folded INSIDE the row like the Holt kernel:
# per-key state O(calendar days), one shuffle, engine-exact.
# --------------------------------------------------------------------------


@query(
    "events_cusum_changepoint",
    # No fold in the oracle (DuckDB 1.0.0 grouped ``list_reduce`` is
    # corrupt — r10 verdict): the CUSUM recursion has a closed form.
    # With y_t = x_t − mean and prefix P_t = Σ_{i≤t} y_i,
    #   s_t = max(0, s_{t-1} + y_t)  ⟺  s_t = P_t − min(0, min_{j≤t} P_j)
    # (s_t is the best suffix-sum ending at t; the running prefix-min
    # realizes it). Two window passes, engine-exact integers.
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY event_type, date_trunc('day', ts)
),
stats AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
         CAST(sum(x) // count(*) AS BIGINT) AS mean_daily
  FROM daily GROUP BY event_type
),
pref AS (
  SELECT d.event_type, s.n_days, s.mean_daily,
         CAST(row_number() OVER w AS BIGINT) AS idx,
         CAST(sum(d.x - s.mean_daily) OVER w AS BIGINT) AS p
  FROM daily d JOIN stats s USING (event_type)
  WINDOW w AS (PARTITION BY d.event_type ORDER BY d.d)
),
cusum AS (
  SELECT event_type, n_days, mean_daily, idx,
         p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY idx)) AS s
  FROM pref
)
SELECT event_type, max(n_days) AS n_days, max(mean_daily) AS mean_daily,
       CAST(max(s) AS BIGINT) AS max_cusum,
       CAST(coalesce(min(CASE WHEN s > 3 * mean_daily THEN idx END), -1)
            AS BIGINT) AS alarm_day_idx
FROM cusum GROUP BY event_type ORDER BY event_type
""",
)
def events_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type CUSUM fold: (max excursion, 1-based first alarm index,
    -1 = never alarmed)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").cast("date").alias("d")
    ).agg(F.count(F.lit(1)).alias("x"))
    series = daily.groupBy("event_type").agg(
        F.expr("transform(sort_array(collect_list(struct(d, x))), e -> e.x)").alias(
            "xs"
        )
    ).select(
        "event_type",
        "xs",
        F.expr(
            "aggregate(xs, 0L, (a, x) -> a + x) div cast(size(xs) as long)"
        ).alias("mean_daily"),
    )
    folded = series.select(
        "event_type",
        F.size("xs").cast("long").alias("n_days"),
        "mean_daily",
        F.expr(
            """
            aggregate(xs, array(0L, 0L, -1L, 0L),
              (a, x) -> array(
                greatest(0L, a[0] + x - mean_daily),
                greatest(a[1], greatest(0L, a[0] + x - mean_daily)),
                CASE WHEN a[2] = -1L
                          AND greatest(0L, a[0] + x - mean_daily) > 3 * mean_daily
                     THEN a[3] + 1L ELSE a[2] END,
                a[3] + 1L))
            """
        ).alias("st"),
    )
    return folded.select(
        "event_type",
        "n_days",
        "mean_daily",
        F.expr("st[1]").alias("max_cusum"),
        F.expr("st[2]").alias("alarm_day_idx"),
    ).orderBy("event_type")


# --------------------------------------------------------------------------
# Winsorized robust stats (round 10): per-type mean after clipping to
# the exact disc p05/p95 — the outlier-taming step a metrics pipeline
# runs before averaging heavy-tailed values. Exact percentiles WITHOUT
# a per-type global sort: the (cents, freq) HISTOGRAM two-level fold
# (the skew_diagnostic trick) — the window runs over the histogram
# (domain-bounded), never over rows, so a billion-row type costs the
# same window as a thousand-row one; bounds broadcast back (O(types)).
# All integer: cents domain, ceil-index percentiles, div means.
# --------------------------------------------------------------------------


@query(
    "winsorized_event_stats",
    oracle="""
WITH cents AS (
  SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c
  FROM events
),
hist AS (
  SELECT event_type, c, CAST(count(*) AS BIGINT) AS cnt
  FROM cents GROUP BY event_type, c
),
cum AS (
  SELECT event_type, c, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY c) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS n
  FROM hist
),
bounds AS (
  SELECT event_type, CAST(max(n) AS BIGINT) AS n,
         CAST(min(CASE WHEN cum >= (n + 19) // 20 THEN c END) AS BIGINT) AS p05,
         CAST(min(CASE WHEN cum >= (19 * n + 19) // 20 THEN c END) AS BIGINT) AS p95
  FROM cum GROUP BY event_type
)
SELECT s.event_type, b.n, b.p05 AS p05_cents, b.p95 AS p95_cents,
       CAST(sum(least(greatest(s.c, b.p05), b.p95)) // max(b.n) AS BIGINT)
         AS winsorized_mean_cents,
       CAST(count(CASE WHEN s.c < b.p05 THEN 1 END) AS BIGINT) AS n_clipped_low,
       CAST(count(CASE WHEN s.c > b.p95 THEN 1 END) AS BIGINT) AS n_clipped_high
FROM cents s JOIN bounds b USING (event_type)
GROUP BY s.event_type, b.n, b.p05, b.p95
ORDER BY s.event_type
""",
)
def winsorized_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact disc-percentile winsorization via the histogram fold; the
    clip + mean pass re-reads the rows with the tiny bounds broadcast."""
    ev = load_table(spark, sf_dir, "events")
    cents = ev.select(
        "event_type",
        F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long").alias("c"),
    )
    hist = cents.groupBy("event_type", "c").agg(F.count(F.lit(1)).alias("cnt"))
    w_cum = (
        Window.partitionBy("event_type").orderBy("c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("event_type")
    cum = hist.select(
        "event_type",
        "c",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(w_all).alias("n"),
    )
    bounds = cum.groupBy("event_type").agg(
        F.max("n").alias("n"),
        # integer ceil-index thresholds — (n+19) div 20 = ceil(n/20),
        # matching the oracle's // exactly (a double divide would shift
        # the threshold whenever n is not a multiple of 20)
        F.min(
            F.when(F.col("cum") >= F.expr("(n + 19L) div 20L"), F.col("c"))
        ).alias("p05"),
        F.min(
            F.when(F.col("cum") >= F.expr("(19L * n + 19L) div 20L"), F.col("c"))
        ).alias("p95"),
    )
    joined = cents.join(F.broadcast(bounds), "event_type")
    return (
        joined.groupBy("event_type")
        .agg(
            F.max("n").alias("n"),
            F.max("p05").alias("p05_cents"),
            F.max("p95").alias("p95_cents"),
            F.expr(
                "sum(least(greatest(c, p05), p95)) div max(n)"
            ).alias("winsorized_mean_cents"),
            F.count(F.when(F.col("c") < F.col("p05"), 1)).alias("n_clipped_low"),
            F.count(F.when(F.col("c") > F.col("p95"), 1)).alias("n_clipped_high"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Token-budget dataset selection (round 11): greedily take the
# highest-quality documents until the token budget (half the corpus) is
# spent — the core operation of quality-pruned pretraining mixes.
# Greedy order = (quality DESC, doc_id ASC), a document is selected iff
# the running token total INCLUDING it stays within budget.
#
# The scale trick: the oracle's single global running sum decomposes
# into (a) a cumulative sum over the QUALITY-BUCKET histogram (domain
# ≤ 1001 rows — quality is an integer permille), which wholly selects
# every bucket whose prefix fits, plus (b) one doc-level window inside
# the single boundary bucket. No global row-ordered window anywhere.
# Quality = alpha-chars per mille (integer floor division — exact in
# both engines); tokens = the whitespace count every text query uses.
# --------------------------------------------------------------------------


@query(
    "token_budget_selection",
    oracle=r"""
WITH m AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
         CAST((1000 * length(regexp_replace(text, '[^A-Za-z]', '', 'g')))
              // greatest(length(text), 1) AS BIGINT) AS quality_pm
  FROM documents
),
b AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget FROM m),
cum AS (
  SELECT doc_id, quality_pm, n_tokens,
         sum(n_tokens) OVER (ORDER BY quality_pm DESC, doc_id) AS running
  FROM m
)
SELECT doc_id, quality_pm, n_tokens
FROM cum, b
WHERE running <= b.budget
ORDER BY doc_id
""",
)
def token_budget_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-threshold greedy selection: buckets whose histogram
    prefix fits are selected whole; only the one boundary bucket runs a
    doc-level window (partitioned to that bucket). Equivalent to the
    oracle's global cumsum because within a bucket the greedy order is
    doc_id and every document has ≥1 token (so nothing past the budget
    can re-qualify)."""
    d = load_table(spark, sf_dir, "documents")
    # One scan of documents: the (doc, tokens, quality) projection is
    # consumed by the budget scalar, the bucket histogram, and both
    # selection branches — checkpoint the 3-column materialization.
    m = d.select(
        "doc_id",
        textfns.token_count("text").cast("long").alias("n_tokens"),
        F.expr(
            "CAST((1000L * length(regexp_replace(text, '[^A-Za-z]', '')))"
            " div greatest(length(text), 1L) AS BIGINT)"
        ).alias("quality_pm"),
    ).localCheckpoint(eager=True)
    budget = m.agg(
        F.expr("CAST(sum(n_tokens) div 2L AS BIGINT)").alias("budget")
    )
    # (a) bucket histogram + prefix sum over the quality domain
    hist = m.groupBy("quality_pm").agg(F.sum("n_tokens").alias("btok"))
    w_b = Window.orderBy(F.desc("quality_pm")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    bcum = (
        hist.select(
            "quality_pm",
            F.sum("btok").over(w_b).alias("bcum"),
            (F.sum("btok").over(w_b) - F.col("btok")).alias("bprev"),
        )
        .crossJoin(F.broadcast(budget))
    )
    full = bcum.filter(F.col("bcum") <= F.col("budget")).select("quality_pm")
    boundary = bcum.filter(
        (F.col("bcum") > F.col("budget")) & (F.col("bprev") < F.col("budget"))
    ).select("quality_pm", "bprev", "budget")
    # (b) whole buckets join + the one boundary bucket's local window
    sel_full = m.join(F.broadcast(full), "quality_pm")
    w_doc = Window.partitionBy("quality_pm").orderBy("doc_id").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    sel_bnd = (
        m.join(F.broadcast(boundary), "quality_pm")
        .withColumn("cumw", F.sum("n_tokens").over(w_doc))
        .filter(F.col("bprev") + F.col("cumw") <= F.col("budget"))
    )
    cols = ["doc_id", "quality_pm", "n_tokens"]
    return (
        sel_full.select(*cols)
        .unionByName(sel_bnd.select(*cols))
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Curriculum epoch plan (round 11): stage documents easiest-first for
# curriculum training — difficulty = token count, binned into 4 stages
# by strict-rank quartiles (operators/binning.py: thresholds from the
# token-count HISTOGRAM, windows over the domain, never a global rank
# over documents), plus a portable seeded shuffle position (md5-60bit)
# for deterministic within-stage order at any parallelism.
# --------------------------------------------------------------------------


@query(
    "curriculum_difficulty_epochs",
    oracle=r"""
WITH m AS (
  SELECT doc_id,
         CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents
),
r AS (
  SELECT doc_id, n_tokens,
         rank() OVER (ORDER BY n_tokens) - 1 AS lt,
         count(*) OVER () AS n
  FROM m
)
SELECT doc_id, n_tokens,
       1 + CAST(lt >= (n + 3) // 4 AS BIGINT) + CAST(lt >= (n + 1) // 2 AS BIGINT)
         + CAST(lt >= (3 * n + 3) // 4 AS BIGINT) AS stage,
       CAST('0x' || substring(md5('cur:' || CAST(doc_id AS VARCHAR)), 1, 15)
            AS BIGINT) AS shuffle_pos
FROM r
ORDER BY doc_id
""",
)
def curriculum_difficulty_epochs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stage 1 = shortest quartile … stage 4 = longest; ties share a
    stage (strict-rank binning, provably equal to the oracle's rank()
    form — operators/binning.py). shuffle_pos is the engine-portable
    md5-60bit of 'cur:<doc_id>' — map-only, reproducible across runs
    and cluster sizes."""
    from ..functions.text import portable_hash60
    from ..operators.binning import quartile_score, quartile_thresholds

    d = load_table(spark, sf_dir, "documents")
    m = d.select(
        "doc_id",
        textfns.token_count("text").cast("long").alias("n_tokens"),
    ).localCheckpoint(eager=True)  # consumed by thresholds + output
    scored = m.crossJoin(
        # per-document token counts are small-domain (bounded by the
        # longest document, far under the 2^20 bucket width) — the hint
        # skips the range-probe job.
        F.broadcast(
            quartile_thresholds(m, F.col("n_tokens"), "d", small_domain=True)
        )
    )
    return scored.select(
        "doc_id",
        "n_tokens",
        quartile_score(F.col("n_tokens"), "d").alias("stage"),
        portable_hash60(
            F.concat(F.lit("cur:"), F.col("doc_id").cast("string"))
        ).alias("shuffle_pos"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Burst detection via gaps-and-islands (round 11): per event type, find
# runs of consecutive days whose event count strictly exceeds 2× the
# type's median daily count. The median comes from the (count, freq)
# histogram (the winsorized idiom — window over the count DOMAIN, never
# over days); islands anchor on day − row_number, the classic
# shuffle-light formulation (one window over the qualifying days).
# The fixture's daily counts are uniform (no organic bursts at
# sf ≥ 0.01), so — like the dedup corpus's injected near-copies — both
# engines first inject a deterministic burst: every 'error' event on
# the LAST calendar day is replayed 4× (shifted event_ids), making the
# gate row non-trivial at every sf while planted pytest fixtures cover
# the multi-island/gap semantics.
# --------------------------------------------------------------------------


@query(
    "events_burst_islands",
    oracle="""
WITH mx AS (SELECT max(CAST(ts AS DATE)) AS d FROM events),
injected AS (
  SELECT event_id, ts, event_type FROM events
  UNION ALL
  SELECT e.event_id + 1000000000 * g.i AS event_id, e.ts, e.event_type
  FROM events e CROSS JOIN mx CROSS JOIN range(1, 5) g(i)
  WHERE e.event_type = 'error' AND CAST(e.ts AS DATE) = mx.d
),
daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM injected GROUP BY event_type, CAST(ts AS DATE)
),
hist AS (
  SELECT event_type, n AS v, CAST(count(*) AS BIGINT) AS cnt
  FROM daily GROUP BY event_type, n
),
cum AS (
  SELECT event_type, v, cnt,
         sum(cnt) OVER (PARTITION BY event_type ORDER BY v) AS cum,
         sum(cnt) OVER (PARTITION BY event_type) AS nn
  FROM hist
),
med AS (
  SELECT event_type,
         CAST(min(CASE WHEN cum >= (nn + 1) // 2 THEN v END) AS BIGINT) AS med
  FROM cum GROUP BY event_type
),
qual AS (
  SELECT d.event_type, d.day, d.n,
         row_number() OVER (PARTITION BY d.event_type ORDER BY d.day) AS rn
  FROM daily d JOIN med m USING (event_type)
  WHERE d.n > 2 * m.med
)
SELECT event_type, min(day) AS start_day, max(day) AS end_day,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(max(n) AS BIGINT) AS peak_daily,
       CAST(sum(n) AS BIGINT) AS total_events
FROM qual
GROUP BY event_type, day - CAST(rn AS INT)
ORDER BY event_type, start_day
""",
)
def events_burst_islands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg-lite burst runs: strictly-above-2×-median days grouped
    into maximal consecutive islands. Every ordered window runs over
    the daily grain or the count domain; the per-type median broadcast
    joins back (O(types) rows). Injects the deterministic last-day
    'error' burst first (see the block comment above)."""
    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    mx = e.agg(F.max(F.to_date("ts")).alias("d"))
    replay = (
        e.crossJoin(F.broadcast(mx))
        .filter(
            (F.col("event_type") == "error") & (F.to_date("ts") == F.col("d"))
        )
        .crossJoin(F.broadcast(spark.range(1, 5).select(F.col("id").alias("i"))))
        .select(
            (F.col("event_id") + F.lit(1_000_000_000) * F.col("i")).alias(
                "event_id"
            ),
            "ts",
            "event_type",
        )
    )
    injected = e.unionByName(replay)
    daily = injected.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    hist = daily.groupBy("event_type", F.col("n").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w_cum = Window.partitionBy("event_type").orderBy("v").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    cum = hist.select(
        "event_type",
        "v",
        F.sum("cnt").over(w_cum).alias("cum"),
        F.sum("cnt").over(Window.partitionBy("event_type")).alias("nn"),
    )
    med = cum.groupBy("event_type").agg(
        F.min(
            F.when(F.col("cum") >= F.expr("(nn + 1L) div 2L"), F.col("v"))
        ).alias("med")
    )
    w_day = Window.partitionBy("event_type").orderBy("day")
    qual = (
        daily.join(F.broadcast(med), "event_type")
        .filter(F.col("n") > 2 * F.col("med"))
        .withColumn("rn", F.row_number().over(w_day))
    )
    return (
        qual.groupBy(
            "event_type", F.date_sub("day", F.col("rn")).alias("anchor")
        )
        .agg(
            F.min("day").alias("start_day"),
            F.max("day").alias("end_day"),
            F.count(F.lit(1)).alias("n_days"),
            F.max("n").alias("peak_daily"),
            F.sum("n").alias("total_events"),
        )
        .drop("anchor")
        .select(
            "event_type", "start_day", "end_day", "n_days", "peak_daily",
            "total_events",
        )
        .orderBy("event_type", "start_day")
    )


# --------------------------------------------------------------------------
# Sessionized funnel ATTRIBUTION (round 12; r11 verdict "optional
# widening" #1): compose the windowed sequential funnel with last-touch
# attribution — each COMPLETED first-view → click(≤7d) → purchase(≤7d)
# funnel is credited to the user's last acquisition touch (click or
# signup) STRICTLY BEFORE the funnel-entry view, answering "which
# channel brought converting users into the funnel". Everything is
# user-keyed: the funnel fold is the one groupBy(user) shuffle, the
# touch argmax and the purchase-value lookup are user-keyed aggregates
# over co-partitioned joins — no self-join over events, no window over
# the full stream.
# --------------------------------------------------------------------------


@query(
    "funnel_attributed_conversions",
    # Same chained-conditional-min funnel oracle as
    # funnel_windowed_sequence (fold ⇒ min equivalence documented
    # there); the attribution leg is a row_number pick of the latest
    # (us, event_id) click/signup before the entry view, and the
    # revenue leg sums purchase cents at exactly the qualifying
    # purchase's microsecond (deterministic in both engines).
    oracle="""
WITH ev AS (
  SELECT user_id, event_id, event_type, value,
         epoch_us(CAST(ts AS TIMESTAMP)) AS us
  FROM events
),
v AS (
  SELECT user_id, min(us) AS v_us FROM ev WHERE event_type = 'view'
  GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.us) AS c_us
  FROM ev e JOIN v USING (user_id)
  WHERE e.event_type = 'click'
    AND e.us >= v.v_us AND e.us <= v.v_us + 604800000000
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.us) AS p_us
  FROM ev e JOIN c USING (user_id)
  WHERE e.event_type = 'purchase'
    AND e.us >= c.c_us AND e.us <= c.c_us + 604800000000
  GROUP BY e.user_id
),
done AS (
  SELECT v.user_id, v.v_us, p.p_us
  FROM v JOIN c USING (user_id) JOIN p USING (user_id)
),
touch AS (
  SELECT user_id, event_type AS channel FROM (
    SELECT e.user_id, e.event_type,
           row_number() OVER (PARTITION BY e.user_id
                              ORDER BY e.us DESC, e.event_id DESC) AS rn
    FROM ev e JOIN done d USING (user_id)
    WHERE e.event_type IN ('click', 'signup') AND e.us < d.v_us
  ) WHERE rn = 1
),
rev AS (
  SELECT e.user_id,
         CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
           AS cents
  FROM ev e JOIN done d USING (user_id)
  WHERE e.event_type = 'purchase' AND e.us = d.p_us
  GROUP BY e.user_id
)
SELECT coalesce(t.channel, 'none') AS channel,
       CAST(count(*) AS BIGINT) AS n_conversions,
       CAST(sum(r.cents) AS BIGINT) AS revenue_cents,
       CAST(sum((d.p_us - d.v_us) // 1000000) AS BIGINT) AS ttc_sec_total
FROM done d LEFT JOIN touch t USING (user_id) JOIN rev r USING (user_id)
GROUP BY coalesce(t.channel, 'none')
ORDER BY channel
""",
)
def funnel_attributed_conversions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-acquisition-channel conversion counts, revenue (cents of the
    qualifying purchase), and total time-to-convert seconds for users
    completing the windowed funnel. Channel = last click/signup strictly
    before the entry view; 'none' when the view was organic."""
    e = load_table(spark, sf_dir, "events")
    enc = e.filter(
        F.col("event_type").isin("view", "click", "purchase")
    ).select(
        "user_id",
        (
            F.unix_micros("ts") * 4
            + F.when(F.col("event_type") == "view", 1)
            .when(F.col("event_type") == "click", 2)
            .otherwise(3)
        ).alias("x"),
    )
    done = (
        enc.groupBy("user_id")
        .agg(
            F.expr(
                f"""
                aggregate(
                  sort_array(collect_list(x)), array(-1L, -1L, -1L),
                  (a, e) -> CASE
                    WHEN e % 4 = 1 AND a[0] = -1L
                      THEN array(e div 4, a[1], a[2])
                    WHEN e % 4 = 2 AND a[1] = -1L AND a[0] != -1L
                         AND e div 4 <= a[0] + {_FUNNEL_WEEK_US}L
                      THEN array(a[0], e div 4, a[2])
                    WHEN e % 4 = 3 AND a[2] = -1L AND a[1] != -1L
                         AND e div 4 <= a[1] + {_FUNNEL_WEEK_US}L
                      THEN array(a[0], a[1], e div 4)
                    ELSE a END)
                """
            ).alias("st")
        )
        .filter(F.expr("st[2] != -1L"))
        .select(
            "user_id",
            F.expr("st[0]").alias("v_us"),
            F.expr("st[2]").alias("p_us"),
        )
        # |converting users| rows, consumed by three user-keyed legs —
        # materialize once instead of re-folding events per leg.
        .localCheckpoint(eager=True)
    )
    base = e.select(
        "user_id", "event_id", "event_type", "value", F.unix_micros("ts").alias("us")
    )
    touch = (
        base.filter(F.col("event_type").isin("click", "signup"))
        .join(done.select("user_id", "v_us"), "user_id")
        .filter(F.col("us") < F.col("v_us"))
        .groupBy("user_id")
        .agg(F.max_by("event_type", F.struct("us", "event_id")).alias("channel"))
    )
    rev = (
        base.filter(F.col("event_type") == "purchase")
        .join(done.select("user_id", "p_us"), "user_id")
        .filter(F.col("us") == F.col("p_us"))
        .groupBy("user_id")
        .agg(
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")).alias(
                "cents"
            )
        )
    )
    return (
        done.join(touch, "user_id", "left")
        .join(rev, "user_id")
        .groupBy(F.coalesce("channel", F.lit("none")).alias("channel"))
        .agg(
            F.count(F.lit(1)).alias("n_conversions"),
            F.sum("cents").alias("revenue_cents"),
            F.sum(F.expr("(p_us - v_us) div 1000000L")).alias("ttc_sec_total"),
        )
        .orderBy("channel")
    )


# --------------------------------------------------------------------------
# Bloom-gated decontamination (round 12; r11 verdict "optional widening"
# #3): the corpus-vs-benchmark shape that survives 100 TB. Exact
# decontamination (decontaminate_apply) must get every corpus 8-gram to
# the benchmark gram set; at 100 TB you want the corpus side MAP-ONLY.
# This query gates on a Bloom-style position filter first: benchmark
# grams hash (portable md5-60bit) to TWO positions in a 2^20 slot space;
# the distinct position set broadcasts; a corpus gram is SUSPECTED only
# if both its positions hit. Docs with zero suspected grams are cleared
# map-side without ever touching the exact set; only the suspected
# sliver (false-positive rate ≈ (fill ratio)² per gram) reaches the
# exact gram join, so the final verdict is EXACT — the Bloom gate
# changes cost, never output. Both hash legs are engine-portable, so
# the oracle replays the identical gate (n_fast_clean is
# deterministic, not approximate).
# --------------------------------------------------------------------------

_BLOOM_M = 1 << 20  # position-space slots
_BLOOM_SQL_H = "CAST('0x' || substr(md5(g), 1, 15) AS BIGINT)"


def _doc_grams(d):
    """Exploded distinct-able 8-gram rows ``(doc_id, source, g)`` from a
    ``(doc_id, source, t=tokens)`` relation."""
    n = F.size("t")
    return d.select(
        "doc_id",
        "source",
        F.explode(
            F.transform(
                _gram_starts(n, 8),
                lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 8)),
            )
        ).alias("g"),
    )


def _bloom_positions(bench):
    """Distinct two-hash position set of the benchmark grams. Second
    position via shiftright (M = 2^20): exact on the 60-bit long and
    identical to the oracle's BIGINT ``// M`` on positives — a double
    division here would round above 2^53 and truncate off by one."""
    from ..functions.text import portable_hash60

    return (
        bench.select((portable_hash60("g") % _BLOOM_M).alias("p"))
        .unionAll(
            bench.select(
                (F.shiftright(portable_hash60("g"), 20) % _BLOOM_M).alias("p")
            )
        )
        .distinct()
    )


def _bloom_gate_verdicts(docs, bench, bloom):
    """Per-doc gate verdicts ``(doc_id, source, n_toks, fast_clean,
    dropped)`` from a ``(doc_id, source, t=tokens)`` relation: Bloom
    position prefilter (both hash positions must hit the broadcast set)
    then exact verification of ONLY the suspected grams. Stateless
    across documents — every gram of a doc rides in its row — so the
    same function serves the batch query and each streaming micro-batch.

    r13 shape (guide §2.3/§2.4): a document's grams all come from its
    own row, so the per-doc DISTINCT gram set is ``array_distinct`` over
    a map-side transform — the old explode → corpus-wide 3-key DISTINCT
    EXCHANGE shuffled every gram string of every document for a purely
    per-document computation; now the explode feeding the broadcast
    joins is map-side and the only exchange left is the per-doc count
    aggregate, which partial-aggregates to ≤ one row per document before
    it ships (a doc's exploded grams never span input partitions). The
    relation also carries ``n_toks`` so downstream consumers do not
    re-tokenize. Verdict values are identical: same distinct-gram
    counts, same exact verify, same fixed-point drop rule.

    (A per-gram packed-bitmap HOF probe was tried first and reverted:
    inlining the 2^20-slot bitmap as a 16384-long literal array costs
    seconds of analysis/constant-folding PER ACTION, and attaching it as
    a cross-joined column memcpys 128 KB into every document row —
    both ~6× slower than the broadcast hash joins they replaced.)"""
    from ..functions.text import portable_hash60
    from ..operators.dedup import barrier_col

    n = F.size("t")
    garr = F.array_distinct(
        F.transform(
            _gram_starts(n, 8),
            lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, 8)),
        )
    )
    h = portable_hash60("g")
    # barrier: ga is referenced by the size filter, n_grams, AND the
    # explode — without a Generate boundary CollapseProject inlines the
    # whole gram build once per reference (measured 6×: 3.2 s vs 0.55 s)
    corpus = (
        barrier_col(
            docs.select("doc_id", "source", n.alias("n_toks"), "t"),
            "ga",
            garr,
        )
        .drop("t")
        .filter(F.size("ga") > 0)
        .select(
            "doc_id",
            "source",
            "n_toks",
            F.size("ga").alias("n_grams"),
            F.explode("ga").alias("g"),
        )
        .select(
            "doc_id",
            "source",
            "n_toks",
            "n_grams",
            "g",
            (h % _BLOOM_M).alias("p1"),
            (F.shiftright(h, 20) % _BLOOM_M).alias("p2"),
        )
    )
    gated = (
        corpus.join(
            F.broadcast(bloom.select(F.col("p").alias("p1"), F.lit(1).alias("h1"))),
            "p1",
            "left",
        )
        .join(
            F.broadcast(bloom.select(F.col("p").alias("p2"), F.lit(1).alias("h2"))),
            "p2",
            "left",
        )
        .select(
            "doc_id",
            "source",
            "n_toks",
            "n_grams",
            "g",
            F.when(F.col("h1").isNotNull() & F.col("h2").isNotNull(), 1)
            .otherwise(0)
            .alias("suspected"),
        )
    )
    bench_hit = F.broadcast(
        bench.select(F.col("g").alias("bg"), F.lit(1).alias("hit"))
    )
    per_doc = (
        gated.join(
            bench_hit,
            (F.col("suspected") == 1) & (F.col("g") == F.col("bg")),
            "left",
        )
        .groupBy("doc_id", "source", "n_toks", "n_grams")
        .agg(
            F.sum("suspected").alias("n_suspected"),
            F.sum(
                F.when((F.col("suspected") == 1) & F.col("hit").isNotNull(), 1)
                .otherwise(0)
            ).alias("n_hits"),
        )
    )
    return per_doc.select(
        "doc_id",
        "source",
        "n_toks",
        F.when(F.col("n_suspected") == 0, 1).otherwise(0).alias("fast_clean"),
        F.when(
            F.floor(
                F.col("n_hits") * float(_DECON_FRAC_Q) / F.col("n_grams")
            ).cast("long")
            >= _DECON_THRESHOLD_Q,
            1,
        )
        .otherwise(0)
        .alias("dropped"),
    )


def _gate_rollup(verdicts):
    return (
        verdicts.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("fast_clean").cast("long").alias("n_fast_clean"),
            F.sum(1 - F.col("dropped")).cast("long").alias("n_kept"),
            F.sum("dropped").cast("long").alias("n_dropped"),
        )
        .orderBy("source")
    )



#: Shared by the batch and streaming gate queries — the final state is
#: identical regardless of micro-batching, so one oracle serves both.
_BLOOM_GATE_ORACLE = f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 7),
             i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS g
  FROM toks
),
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 29 = 0),
bloom AS (
  SELECT DISTINCT p FROM (
    SELECT {_BLOOM_SQL_H} % {_BLOOM_M} AS p FROM bench
    UNION ALL
    SELECT ({_BLOOM_SQL_H} // {_BLOOM_M}) % {_BLOOM_M} AS p FROM bench
  )
),
corpus AS (
  SELECT DISTINCT doc_id, source, g,
         {_BLOOM_SQL_H} % {_BLOOM_M} AS p1,
         ({_BLOOM_SQL_H} // {_BLOOM_M}) % {_BLOOM_M} AS p2
  FROM sh WHERE doc_id % 29 <> 0
),
gated AS (
  SELECT c.doc_id, c.source, c.g,
         CASE WHEN b1.p IS NOT NULL AND b2.p IS NOT NULL
              THEN 1 ELSE 0 END AS suspected
  FROM corpus c
  LEFT JOIN bloom b1 ON b1.p = c.p1
  LEFT JOIN bloom b2 ON b2.p = c.p2
),
per_doc AS (
  SELECT g2.doc_id, g2.source,
         count(*) AS n_grams,
         sum(g2.suspected) AS n_suspected,
         sum(CASE WHEN g2.suspected = 1 AND bench.g IS NOT NULL
                  THEN 1 ELSE 0 END) AS n_hits
  FROM gated g2 LEFT JOIN bench ON g2.suspected = 1 AND bench.g = g2.g
  GROUP BY g2.doc_id, g2.source
),
verdicts AS (
  SELECT source,
         CASE WHEN n_suspected = 0 THEN 1 ELSE 0 END AS fast_clean,
         CASE WHEN CAST(floor(n_hits * {_DECON_FRAC_Q}.0 / n_grams) AS BIGINT)
                   >= {_DECON_THRESHOLD_Q} THEN 1 ELSE 0 END AS dropped
  FROM per_doc
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(fast_clean) AS BIGINT) AS n_fast_clean,
       CAST(sum(1 - dropped) AS BIGINT) AS n_kept,
       CAST(sum(dropped) AS BIGINT) AS n_dropped
FROM verdicts GROUP BY source ORDER BY source
"""


@query("decontaminate_bloom_gate", oracle=_BLOOM_GATE_ORACLE)
def decontaminate_bloom_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-phase decontamination: broadcast Bloom position gate (two
    portable-hash positions per gram, 2^20 slots) clears untainted docs
    map-side; only suspected grams reach the exact benchmark-gram join.
    Output is exact; n_fast_clean reports how many docs the gate cleared
    without an exact lookup (the 100 TB win)."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _tokens().alias("t")
    )
    bench = (
        _doc_grams(d)
        .filter(F.col("doc_id") % 29 == 0).select("g").distinct()
        # consumed twice (bloom positions + exact verify) — tiny
        .localCheckpoint(eager=True)
    )
    bloom = _bloom_positions(bench)
    verdicts = _bloom_gate_verdicts(
        d.filter(F.col("doc_id") % 29 != 0), bench, bloom
    )
    return _gate_rollup(verdicts)


# --------------------------------------------------------------------------
# Seasonally-adjusted anomaly detection (round 12): compose the
# seasonal-naive DOW profile with robust MAD outlier flagging — the
# day-of-week mean is removed from each event type's daily count series
# FIRST, so a busy-Monday pattern is not repeatedly flagged the way a
# raw-count MAD gate (events_anomaly_mad) would. Every aggregate runs
# over the calendar domain (one row per (type, day)): one shuffle to
# daily grain regardless of event volume, then |types|·|days|-sized
# median/MAD reductions with broadcast joins back — the monitoring
# query you run on a 100 TB event stream for the cost of its daily
# rollup.
# --------------------------------------------------------------------------


@query(
    "events_seasonal_anomaly",
    # Residuals are exact integers (count − floor-mean), so the
    # interpolated medians land on .0/.5 halves — exactly representable
    # doubles, comparison-safe in both engines (same convention as
    # events_anomaly_mad).
    oracle="""
WITH daily AS (
  SELECT event_type, CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, CAST(ts AS DATE)
),
prof AS (
  SELECT event_type, day, n,
         CAST(sum(n) OVER (PARTITION BY event_type, isodow(day))
              // count(*) OVER (PARTITION BY event_type, isodow(day))
              AS BIGINT) AS mu
  FROM daily
),
resid AS (SELECT event_type, day, n - mu AS r FROM prof),
med AS (
  SELECT event_type, quantile_cont(CAST(r AS DOUBLE), 0.5) AS med_r
  FROM resid GROUP BY event_type
),
dev AS (
  SELECT r.event_type, r.r, m.med_r,
         abs(CAST(r.r AS DOUBLE) - m.med_r) AS adev
  FROM resid r JOIN med m USING (event_type)
),
mad AS (
  SELECT event_type, quantile_cont(adev, 0.5) AS mad
  FROM dev GROUP BY event_type
)
SELECT d.event_type,
       CAST(count(*) AS BIGINT) AS n_days,
       round(d.med_r, 4) AS med_resid,
       round(m.mad, 4) AS mad,
       CAST(count(CASE WHEN d.adev > 6 * m.mad THEN 1 END) AS BIGINT)
         AS n_anomalous_days
FROM dev d JOIN mad m USING (event_type)
GROUP BY d.event_type, d.med_r, m.mad
ORDER BY d.event_type
""",
)
def events_seasonal_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type anomalous-day counts after removing the day-of-week
    seasonal mean: residual r = daily count − floor-mean(count | type,
    iso dow); a day is anomalous when |r − median(r)| > 6·MAD(r)."""
    e = load_table(spark, sf_dir, "events")
    daily = e.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("n"))
    daily = daily.withColumn(
        "iso_dow", (F.weekday("day") + F.lit(1)).cast("long")
    )
    # counts are non-negative, so the truncating div IS floor division
    # (matches DuckDB //)
    prof = daily.select(
        "event_type",
        "day",
        "n",
        F.expr(
            "sum(n) OVER (PARTITION BY event_type, iso_dow)"
            " div count(*) OVER (PARTITION BY event_type, iso_dow)"
        ).alias("mu"),
    )
    resid = prof.select(
        "event_type", "day", (F.col("n") - F.col("mu")).alias("r")
    # |types|·|days| rows, consumed by the median, deviation, and MAD
    # branches — checkpoint so the event stream is rolled up ONCE, not
    # once per branch (the 100 TB cost is the daily rollup scan).
    ).localCheckpoint(eager=True)
    med = resid.groupBy("event_type").agg(
        F.percentile(F.col("r").cast("double"), 0.5).alias("med_r")
    )
    dev = resid.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med_r",
        F.abs(F.col("r").cast("double") - F.col("med_r")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(F.percentile("adev", 0.5).alias("mad"))
    return (
        dev.join(F.broadcast(mad), "event_type")
        .groupBy("event_type", "med_r", "mad")
        .agg(
            F.count(F.lit(1)).alias("n_days"),
            F.count(F.when(F.col("adev") > 6 * F.col("mad"), 1)).alias(
                "n_anomalous_days"
            ),
        )
        .select(
            "event_type",
            "n_days",
            F.round("med_r", 4).alias("med_resid"),
            F.round("mad", 4).alias("mad"),
            "n_anomalous_days",
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# STREAMING decontamination (round 12): the Bloom gate as a real
# Structured Streaming job — corpus documents staged to a file source
# and drained in maxFilesPerTrigger=1 micro-batches; each batch runs
# the SAME _bloom_gate_verdicts the batch query runs (the gate is
# stateless across documents — a doc's grams ride in its row), against
# the STATIC checkpointed benchmark gram/position sets built once
# before the stream starts. Per-batch verdicts land in deterministic
# per-batch-id directories (overwrite ⇒ a replayed micro-batch is
# idempotent); the rollup reads them recursively. The oracle is the
# batch SQL — final state is invariant to micro-batching, extending the
# engine's batch/streaming-parity contract to continuous-ingest
# decontamination.
# --------------------------------------------------------------------------


@query("streaming_decontaminate_gate", oracle=_BLOOM_GATE_ORACLE)
def streaming_decontaminate_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _tokens().alias("t")
    )
    bench = (
        _doc_grams(d)
        .filter(F.col("doc_id") % 29 == 0)
        .select("g")
        .distinct()
        # static side of every micro-batch — materialize ONCE, not per
        # batch
        .localCheckpoint(eager=True)
    )
    bloom = _bloom_positions(bench).localCheckpoint(eager=True)

    corpus_docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 29 != 0)
        .select("doc_id", "source", "text")
    )
    stage = scratch(sf_dir, "strm_decon")
    vpath = scratch(sf_dir, "strm_decon_verdicts")
    chk = scratch(sf_dir, "strm_decon_chk")
    corpus_docs.repartition(4).write.mode("overwrite").parquet(stage)

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        toks = batch_df.select("doc_id", "source", _tokens().alias("t"))
        _bloom_gate_verdicts(toks, bench, bloom).write.mode(
            "overwrite"
        ).parquet(f"{vpath}/b{batch_id}")

    q = (
        spark.readStream.schema(corpus_docs.schema)
        .option("maxFilesPerTrigger", 1)  # force a multi-batch drain
        .parquet(stage)
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", chk)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    verdicts = spark.read.option("recursiveFileLookup", "true").parquet(vpath)
    return _gate_rollup(verdicts)


# --------------------------------------------------------------------------
# Continuously-decontaminated corpus stats (round 13; r12 verdict
# "optional widening" #2): compose the Bloom decontamination gate with
# the incremental aggregate-refresh operator. Corpus batches arrive
# incrementally against a FIXED benchmark set; each batch is gated
# (map-side Bloom clear + exact verify of the suspected sliver), and
# only its KEPT docs' token stats fold into the materialized per-source
# summary — the gate is per-doc stateless, so the refreshed state is
# provably identical to gating the full corpus at once, which is
# exactly what the oracle computes. At 100 TB this is the maintenance
# loop of a training-corpus dashboard: no batch ever re-reads history,
# and the state table stays |sources| rows.
# --------------------------------------------------------------------------


_DECON_STATS_ORACLE = f"""
WITH toks AS (SELECT doc_id, source, {_TOKS} AS t FROM documents),
sh AS (
  SELECT doc_id, source,
         unnest(list_transform(generate_series(1, len(t) - 7),
             i -> array_to_string(list_slice(t, i, i + 7), ' '))) AS g
  FROM toks
),
bench AS (SELECT DISTINCT g FROM sh WHERE doc_id % 29 = 0),
bloom AS (
  SELECT DISTINCT p FROM (
    SELECT {_BLOOM_SQL_H} % {_BLOOM_M} AS p FROM bench
    UNION ALL
    SELECT ({_BLOOM_SQL_H} // {_BLOOM_M}) % {_BLOOM_M} AS p FROM bench
  )
),
corpus AS (
  SELECT DISTINCT doc_id, source, g,
         {_BLOOM_SQL_H} % {_BLOOM_M} AS p1,
         ({_BLOOM_SQL_H} // {_BLOOM_M}) % {_BLOOM_M} AS p2
  FROM sh WHERE doc_id % 29 <> 0
),
gated AS (
  SELECT c.doc_id, c.source, c.g,
         CASE WHEN b1.p IS NOT NULL AND b2.p IS NOT NULL
              THEN 1 ELSE 0 END AS suspected
  FROM corpus c
  LEFT JOIN bloom b1 ON b1.p = c.p1
  LEFT JOIN bloom b2 ON b2.p = c.p2
),
per_doc AS (
  SELECT g2.doc_id, g2.source,
         count(*) AS n_grams,
         sum(CASE WHEN g2.suspected = 1 AND bench.g IS NOT NULL
                  THEN 1 ELSE 0 END) AS n_hits
  FROM gated g2 LEFT JOIN bench ON g2.suspected = 1 AND bench.g = g2.g
  GROUP BY g2.doc_id, g2.source
),
kept AS (
  SELECT p.doc_id, p.source, len(t.t) AS n_toks
  FROM per_doc p JOIN toks t ON t.doc_id = p.doc_id
  WHERE CAST(floor(p.n_hits * {_DECON_FRAC_Q}.0 / p.n_grams) AS BIGINT)
        < {_DECON_THRESHOLD_Q}
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(n_toks) AS BIGINT) AS sum_tokens
FROM kept GROUP BY source ORDER BY source
"""


@query("decontaminated_stats_refresh", oracle=_DECON_STATS_ORACLE)
def decontaminated_stats_refresh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus ingest through the Bloom gate: two doc_id-split
    batches are gated independently against the fixed benchmark (the
    gate is per-doc stateless — batch verdicts equal full-corpus
    verdicts), and each batch's kept-doc token stats fold into the
    materialized per-source summary via refresh_aggregate_parquet. The
    returned state must equal the oracle's one-shot gated GROUP BY."""

    from ..operators.maintenance import refresh_aggregate_parquet

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", _tokens().alias("t")
    )
    bench = (
        _doc_grams(d)
        .filter(F.col("doc_id") % 29 == 0).select("g").distinct()
        .localCheckpoint(eager=True)
    )
    bloom = _bloom_positions(bench)
    path = scratch(sf_dir, "decon_stats")
    # ONE gate pass over both batches (r14, guide §6): the gate is
    # per-doc stateless, so gating the halves separately produced
    # identical verdicts while scanning the documents file twice (the
    # %2 batch filter does not prune parquet row groups — each
    # half-batch paid a full corpus I/O pass plus its own gram-gate
    # job). Gate once, checkpoint the narrow kept-doc rows (source,
    # n_toks, half ≈ 20 B/doc), and feed each refresh its half from the
    # checkpoint — the refresh operator still folds batch-by-batch, so
    # the state-table evolution (and result) is unchanged.
    verdicts = _bloom_gate_verdicts(
        d.filter(F.col("doc_id") % 29 != 0), bench, bloom
    )
    kept = (
        verdicts.filter(F.col("dropped") == 0)
        .select("source", "n_toks", (F.col("doc_id") % 2).alias("half"))
        .localCheckpoint(eager=True)
    )
    for half in (0, 1):
        state = refresh_aggregate_parquet(
            spark,
            kept.filter(F.col("half") == half).select("source", "n_toks"),
            path,
            keys=["source"],
            sums={"n_toks": "sum_tokens"},
            count_alias="n_docs",
        )
    return state.select(
        "source",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("sum_tokens").cast("long").alias("sum_tokens"),
    ).orderBy("source")
