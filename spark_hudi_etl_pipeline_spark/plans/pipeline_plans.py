"""Pipeline-semantics, temporal, streaming-parity, and multimodal plans.

Covers the operators that make the reference what it is — keyed upsert
with precombine (SURVEY.md §1.4, the one non-built-in semantic) — plus
the temporal tier (as-of join, tumbling/sliding event-time windows), a
real Structured Streaming run checked against the same SQL oracle as its
batch twin, and the multimodal-column plumbing (north-star extension).

Scale notes (100 TB):
- the upsert merge broadcasts batch-side keys so the table side is never
  shuffled (operators/merge.py docstring for the bucketed-layout story);
- the as-of join is the union-window form — one shuffle on the join key,
  no range cross-product (operators/latest.py);
- event-time windows are partial-aggregated map-side before the single
  keyed shuffle; streaming state is bounded by the watermark horizon;
- multimodal payloads never reach the driver: metadata predicates prune
  on the typed struct column via parquet statistics without reading
  payload bytes, and feature extraction is Arrow-batched mapInPandas.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.latest import asof_join
from ..operators.merge import merge_upsert, upsert_parquet_partitioned
from ..operators.multimodal import attach_metadata, decode_features
from ..session import fan_out
from ..sources import load_table
from .registry import query, scratch

# --------------------------------------------------------------------------
# Keyed upsert with precombine (reference :179-194, :241-256, DDL :92-96).
# Two overlapping batches land on the orders table: precombine must pick
# the later o_orderdate within the batch (batch2 beats batch1 on keys
# divisible by 6) AND against the table (every batch row beats its
# original). Oracle is the canonical window-dedup formulation.
# --------------------------------------------------------------------------


@query(
    "upsert_precombine",
    oracle="""
WITH batch AS (
  -- ×2 / ×4 are exact in binary floating point, so round(…, 2) cannot
  -- land on a tie where Spark (HALF_UP) and DuckDB disagree.
  SELECT o_orderkey, o_custkey, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 4.0,
         o_orderdate + INTERVAL 60 DAY, 1
  FROM orders WHERE o_orderkey % 6 = 0
),
unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price, o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def upsert_precombine(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    existing = load_table(spark, sf_dir, "orders").select(*cols)
    b1 = (
        existing.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    b2 = (
        existing.filter(F.col("o_orderkey") % 6 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 4.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
    )
    merged = merge_upsert(
        existing, b1.unionByName(b2), keys=["o_orderkey"], precombine="o_orderdate"
    )
    return merged.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total_price"),
        "o_orderdate",
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# As-of join (SURVEY.md §2.3): each purchase event picks up the value of
# that user's latest click at-or-before it. DuckDB's native ASOF JOIN is
# the oracle. Right side pre-aggregated to one row per (user_id, ts) so
# the at-tie pick is deterministic in both engines; both sides cast to
# microsecond timestamps so the <= comparison agrees (the events parquet
# is nanosecond-precision, Spark truncates to µs on load).
# --------------------------------------------------------------------------


@query(
    "asof_purchase_prior_click",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, round(max(value), 3) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, CAST(ts AS TIMESTAMP)
)
SELECT p.event_id, p.user_id, p.ts, c.click_value
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND c.ts <= p.ts
ORDER BY p.event_id
""",
)
def asof_purchase_prior_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 3).alias("click_value"))
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_values=["click_value"],
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Event-time windows (streaming tier semantics on the batch path; the
# reference's README promises "Event Streams", README.md:19).
# --------------------------------------------------------------------------

TUMBLING_ORACLE = """
SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w_start,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
GROUP BY w_start
ORDER BY w_start
"""


@query("window_tumbling_event_stats", oracle=TUMBLING_ORACLE)
def window_tumbling_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_value_cents"),
        )
        .select(F.col("window.start").alias("w_start"), "n_events", "sum_value_cents")
        .orderBy("w_start")
    )


@query(
    "window_sliding_event_counts",
    oracle="""
WITH expanded AS (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w_start, value
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR,
         value
  FROM events
)
SELECT w_start, count(*) AS n_events, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM expanded
GROUP BY w_start
ORDER BY w_start
""",
)
def window_sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-hour window sliding by 1 hour: every event lands in exactly two
    windows (starts at floor_1h(ts) and floor_1h(ts) − 1h) — the oracle
    materializes that expansion explicitly."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_value_cents"),
        )
        .select(F.col("window.start").alias("w_start"), "n_events", "sum_value_cents")
        .orderBy("w_start")
    )


@query("streaming_tumbling_counts", oracle=TUMBLING_ORACLE)
def streaming_tumbling_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Structured Streaming run checked against the same SQL oracle
    as the batch twin above: events staged to a file-source directory,
    read as a stream with a 1-hour watermark, windowed-aggregated, and
    drained with an availableNow trigger into a memory sink. Batch and
    stream must agree exactly — the engine's batch/streaming-parity
    contract (streaming/windows.py holds the operator library)."""
    ev = load_table(spark, sf_dir, "events")
    stage = scratch(sf_dir, "stream_tumbling")
    ev.write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(ev.schema).parquet(stage)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_value_cents"),
        )
    )
    qname = os.path.basename(stage)
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(qname)
        .select(F.col("window.start").alias("w_start"), "n_events", "sum_value_cents")
        .orderBy("w_start")
    )


# --------------------------------------------------------------------------
# Multimodal columns (north-star extension; operators/multimodal.py).
# Payload = the document text bytes (the container has no media libs —
# TESTDATA gives no binary fixture — so documents stand in; the plumbing
# is payload-agnostic).
# --------------------------------------------------------------------------


def _media_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return attach_metadata(
        d.select(
            F.col("doc_id").alias("media_id"),
            F.encode(F.col("text"), "UTF-8").alias("payload"),
        ),
        media_type="image",
    )


@query(
    "multimodal_metadata_prune",
    oracle="""
SELECT doc_id AS media_id, octet_length(encode(text)) AS n_bytes
FROM documents
WHERE octet_length(encode(text)) > 200
ORDER BY media_id
""",
)
def multimodal_metadata_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filter on the typed metadata struct WITHOUT touching payload bytes
    — at scale this prunes via parquet column statistics, which is the
    whole point of carrying metadata beside an opaque payload."""
    m = _media_table(spark, sf_dir)
    return (
        m.filter(F.col("meta.n_bytes") > 200)
        .select("media_id", F.col("meta.n_bytes").alias("n_bytes"))
        .orderBy("media_id")
    )


# The raster framing is deterministic JVM-side byte arithmetic over
# documents.text, and the decoder's 8×8 mean-pool + checksum are pure
# integer ops — so the ENTIRE image pipeline has an exact DuckDB twin
# (r5 verdict ask #7): bytes via hex-pair → lookup-table join, grid
# cells by index arithmetic, the polynomial checksum via a HUGEINT
# list_reduce (the 62-bit modulus exceeds int64 mid-fold).
# Byte extraction stays INSIDE each row as a list comprehension over the
# row's own hex string — an explode-then-join formulation carries the
# 1.5-4 KB string through a 768-1024-way row expansion and ran ~60×
# slower (measured: 57s → 1s for 500 docs).
_HEX_NIBBLE = (
    "(ascii(substr(hx, CAST({p} AS INT), 1))"
    " - CASE WHEN ascii(substr(hx, CAST({p} AS INT), 1)) >= 97"
    " THEN 87 ELSE 48 END)"
)
_HEX_BYTE = f"({_HEX_NIBBLE.format(p='{lo}')} * 16 + {_HEX_NIBBLE.format(p='{hi}')})"

_CHECKSUM_FOLD = (
    "CAST(list_reduce(f, (a,x) -> "
    "CAST((CAST(a AS HUGEINT)*1000003 + x) % 4611686018427387904 AS BIGINT)"
    ") AS BIGINT)"
)

_IMG_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         rpad(substr(lower(hex(encode(text))),1,1536),1536,'0') AS hx
  FROM documents
),
b AS (
  SELECT doc_id,
    list_transform(range(0,768), i ->
      {_HEX_BYTE.format(lo="2*i+1", hi="2*i+2")}
    ) AS bytes
  FROM raw
),
f AS (
  SELECT doc_id,
    list_transform(range(0,64), c ->
      CAST(list_sum(list_transform(range(0,12), m ->
        bytes[3*(16*(2*(c//8) + m//6) + 2*(c%8) + (m%6)//3) + (m%3) + 1]
      )) * 1000 // 12 AS BIGINT)
    ) AS f
  FROM b
)
SELECT doc_id AS media_id, 64 AS feature_dim,
  {_CHECKSUM_FOLD} AS feature_checksum,
  'ppm' AS codec, 16 AS width, 16 AS height,
  array_to_string(f, ',') AS features_csv
FROM f ORDER BY media_id
"""


@query("multimodal_decode_features", oracle=_IMG_ORACLE)
def multimodal_decode_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas feature extraction through the REAL
    raster decoder: each document's bytes are framed as a valid 16×16
    binary PPM (header + 768 raster bytes, built JVM-side with binary
    concat/rpad — no Python in the framing), so decode_features runs an
    actual header parse + pixel decode + exact 8×8 mean-pool per row.
    Features/dimensions in the output derive from real pixel data."""
    d = load_table(spark, sf_dir, "documents")
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
    return (
        decode_features(m)
        .select(
            "media_id",
            "feature_dim",
            "feature_checksum",
            "codec",
            "width",
            "height",
            # scalar-output rule: render the exact integer feature grid
            # as CSV (values are engine-invariant integers, so the
            # rendering is deterministic)
            F.array_join("features", ",").alias("features_csv"),
        )
        .orderBy("media_id")
    )


# --------------------------------------------------------------------------
# Perceptual image near-dup (average hash): the canonical image-dedup
# primitive a training-data pipeline runs before CLIP-style embedding
# dedup — cheap, exact-arithmetic, and catches resized/re-encoded
# copies. aHash is computed from the REAL decode path's 8×8 mean-pool
# grid (integer cells): bit = cell > floor(mean(cells)), packed into
# FOUR 16-bit bands.
#
# The SCALE-critical design choice: pairs are NEVER enumerated at the
# image level. Images first collapse into EXACT-hash clusters (one
# groupBy — members of a cluster are Hamming-0 duplicates by
# construction, reported via the cluster size, never as O(size²)
# pairs); the banded pigeonhole join (any pair within Hamming 3 of 64
# bits shares one of 4 bands ⇒ EXACT recall at the threshold) then
# runs over cluster REPRESENTATIVES only. On a dup-heavy corpus — this
# fixture's 5000 framed images collapse to 97 distinct hashes at
# sf0.1 — that is the difference between 2.4M output pairs (measured,
# image-level formulation) and ~1.1k representative pairs; join cost
# is bounded by distinct hashes, not corpus size. Verification is
# Σ bit_count(xor(band)) — pure integer ops, same text in both engines.
# --------------------------------------------------------------------------

_AHASH_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         rpad(substr(lower(hex(encode(text))),1,1536),1536,'0') AS hx
  FROM documents
),
b AS (
  SELECT doc_id,
    list_transform(range(0,768), i ->
      {_HEX_BYTE.format(lo="2*i+1", hi="2*i+2")}
    ) AS bytes
  FROM raw
),
f AS (
  SELECT doc_id,
    list_transform(range(0,64), c ->
      CAST(list_sum(list_transform(range(0,12), m ->
        bytes[3*(16*(2*(c//8) + m//6) + 2*(c%8) + (m%6)//3) + (m%3) + 1]
      )) * 1000 // 12 AS BIGINT)
    ) AS f
  FROM b
),
bands AS (
  SELECT doc_id,
    list_transform(range(0,4), j ->
      CAST(list_sum(list_transform(range(0,16), k ->
        CASE WHEN f[16*j+k+1] > avg THEN (1<<k) ELSE 0 END)) AS BIGINT)
    ) AS bd
  FROM (SELECT doc_id, f, list_sum(f) // 64 AS avg FROM f)
),
g AS (
  SELECT bd, min(doc_id) AS rep, CAST(count(*) AS BIGINT) AS sz
  FROM bands GROUP BY bd
),
eb AS (
  SELECT rep, j AS band_idx, bd[j+1] AS band_val
  FROM g, (SELECT unnest([0,1,2,3]) AS j)
),
pairs AS (
  SELECT DISTINCT a.rep AS ra, b.rep AS rb
  FROM eb a JOIN eb b
    ON a.band_idx = b.band_idx AND a.band_val = b.band_val
   AND a.rep < b.rep
),
ham AS (
  SELECT p.ra, p.rb, x.sz AS size_a, y.sz AS size_b,
    CAST(bit_count(xor(x.bd[1], y.bd[1])) + bit_count(xor(x.bd[2], y.bd[2]))
       + bit_count(xor(x.bd[3], y.bd[3])) + bit_count(xor(x.bd[4], y.bd[4]))
     AS BIGINT) AS hamming
  FROM pairs p
  JOIN g x ON x.rep = p.ra
  JOIN g y ON y.rep = p.rb
)
SELECT ra AS media_a, rb AS media_b, hamming, size_a, size_b
FROM ham WHERE hamming <= 3 ORDER BY media_a, media_b
"""


@query("image_ahash_neardup", oracle=_AHASH_ORACLE)
def image_ahash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate image CLUSTER pairs (Hamming ≤ 3 over the 64-bit
    average hash) through the REAL raster decode: frame →
    decode_features → integer aHash bands → exact-hash clustering →
    pigeonhole band join over representatives → xor/bit_count verify.
    Exact-dup volume rides in size_a/size_b instead of pair blow-up."""
    d = load_table(spark, sf_dir, "documents")
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
    m = fan_out(m)
    hashes = decode_features(m).select(
        "media_id",
        F.expr("aggregate(features, 0L, (a, x) -> a + x) div 64").alias("avg"),
        "features",
    ).select(
        "media_id",
        *[
            F.expr(
                f"aggregate(sequence(0, 15), 0L, (a, k) -> a + "
                f"CASE WHEN features[16*{j}+k] > avg "
                f"THEN shiftleft(1L, k) ELSE 0L END)"
            ).alias(f"b{j}")
            for j in range(4)
        ],
    )
    groups = (
        hashes.groupBy("b0", "b1", "b2", "b3")
        .agg(
            F.min("media_id").alias("rep"),
            F.count(F.lit(1)).cast("long").alias("sz"),
        )
        # consumed by the band explode AND both sides of the verify
        # join — materialize the (tiny: one row per distinct hash)
        # cluster relation once instead of re-decoding per consumer
        .localCheckpoint(eager=True)
    )
    eb = groups.select(
        "rep",
        F.posexplode(F.array("b0", "b1", "b2", "b3")).alias(
            "band_idx", "band_val"
        ),
    )
    rhs = eb.select(
        F.col("rep").alias("rb"),
        F.col("band_idx").alias("bi2"),
        F.col("band_val").alias("bv2"),
    )
    pairs = (
        eb.join(
            rhs,
            (F.col("band_idx") == F.col("bi2"))
            & (F.col("band_val") == F.col("bv2"))
            & (F.col("rep") < F.col("rb")),
        )
        .select(F.col("rep").alias("ra"), "rb")
        .distinct()
    )
    ga = groups.select(
        F.col("rep").alias("ra"),
        F.col("sz").alias("size_a"),
        *[F.col(f"b{j}").alias(f"a{j}") for j in range(4)],
    )
    gb = groups.select(
        F.col("rep").alias("rb"),
        F.col("sz").alias("size_b"),
        *[F.col(f"b{j}").alias(f"c{j}") for j in range(4)],
    )
    hamming = sum(
        F.bit_count(F.expr(f"a{j} ^ c{j}")) for j in range(4)
    ).cast("long")
    return (
        pairs.join(ga, "ra")
        .join(gb, "rb")
        .select(
            F.col("ra").alias("media_a"),
            F.col("rb").alias("media_b"),
            hamming.alias("hamming"),
            "size_a",
            "size_b",
        )
        .filter(F.col("hamming") <= 3)
        .orderBy("media_a", "media_b")
    )


# --------------------------------------------------------------------------
# Video scene-cut detection through the REAL Y4M path: each document's
# bytes become an 8-frame 8×8 Y4M clip (header + FRAME markers built
# JVM-side; each 96-byte chunk = 64 luma + 32 chroma), sample_frames
# extracts REAL frames re-encoded as PGM, decode_features runs the REAL
# raster decoder on each, and a cut fires where consecutive frames'
# integer mean-luma (millis) jump by ≥ 40 levels — the classic
# frame-difference shot-boundary detector, exact-arithmetic end to end.
#
# Scale: decode + per-frame stats are Arrow mapInPandas (iterator →
# iterator: a long video never materializes whole); the only shuffle is
# the per-media lag window, keyed and bounded by frames-per-clip.
# --------------------------------------------------------------------------

_SCENE_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         rpad(substr(lower(hex(encode(text))),1,1536),1536,'0') AS hx
  FROM documents
),
b AS (
  SELECT doc_id,
    list_transform(range(0,768), i ->
      {_HEX_BYTE.format(lo="2*i+1", hi="2*i+2")}
    ) AS bytes
  FROM raw
),
m AS (
  SELECT doc_id,
    list_transform(range(0,8), fi ->
      CAST(list_sum(list_transform(range(0,64), p ->
        bytes[96*fi + p + 1])) * 1000 // 64 AS BIGINT)
    ) AS mm
  FROM b
),
c AS (
  SELECT doc_id, fi,
         CAST(abs(mm[fi+1] - mm[fi]) AS BIGINT) AS diff_millis
  FROM m, (SELECT unnest([1,2,3,4,5,6,7]) AS fi)
)
SELECT doc_id AS media_id, CAST(fi AS BIGINT) AS frame_idx, diff_millis
FROM c WHERE diff_millis >= 40000 ORDER BY media_id, frame_idx
"""


@query("video_scene_cuts", oracle=_SCENE_ORACLE)
def video_scene_cuts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shot boundaries per clip: frames whose mean luma jumps ≥ 40
    levels (×1000 fixed point) from the previous frame, through real
    Y4M → frame sample → PGM decode. Output (media_id, frame_idx,
    diff_millis) for each cut."""
    from pyspark.sql import Window

    from ..operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents")
    header = F.encode(F.lit("YUV4MPEG2 W8 H8 F25:1 Ip A1:1 C420\n"), "UTF-8")
    fmark = F.encode(F.lit("FRAME\n"), "UTF-8")
    body = F.rpad(
        F.substring(F.encode(F.col("text"), "UTF-8"), 1, 768),
        768,
        F.lit(b"\x00"),
    )
    payload = F.concat(
        header,
        *[
            F.concat(fmark, F.substring(body, 96 * i + 1, 96))
            for i in range(8)
        ],
    )
    m = attach_metadata(
        d.select(
            F.col("doc_id").alias("media_id"), payload.alias("payload")
        ),
        media_type="video",
    )
    # the documents fixture is one parquet file -> one input split;
    # fan_out rescues exactly that case and is a no-op on a
    # well-split scan (at real payload volume: repartition_for_payloads)
    m = fan_out(m)
    frames = sample_frames(m, n_frames=8)
    imgs = attach_metadata(
        frames.select(
            # frame identity rides through decode_features in the id
            # (same carrier trick as multimodal_video_frames)
            (F.col("media_id") * 10 + F.col("frame_idx")).alias("media_id"),
            F.col("frame_payload").alias("payload"),
        ),
        media_type="image",
    )
    means = decode_features(imgs).select(
        F.expr("media_id div 10").alias("clip_id"),
        (F.col("media_id") % 10).cast("long").alias("frame_idx"),
        # 8×8 frame ⇒ one pixel per grid cell, cell = pixel·1000, so
        # the frame's mean luma (millis) is an exact integer
        F.expr("aggregate(features, 0L, (a, x) -> a + x) div 64").alias(
            "mean_millis"
        ),
    )
    w = Window.partitionBy("clip_id").orderBy("frame_idx")
    diffs = means.withColumn(
        "diff_millis",
        F.abs(F.col("mean_millis") - F.lag("mean_millis").over(w)),
    )
    return (
        diffs.filter(F.col("diff_millis") >= 40000)
        .select(
            F.col("clip_id").alias("media_id"), "frame_idx", "diff_millis"
        )
        .orderBy("media_id", "frame_idx")
    )


# --------------------------------------------------------------------------
# Session windows (F.session_window — the built-in the batch sessionize
# query re-derives by hand with lag+cumsum; both run on the batch path,
# and the operator is streaming-ready via streaming/windows.py).
# Window end = last event + gap, which the oracle reproduces explicitly.
# --------------------------------------------------------------------------


@query(
    "session_window_stats",
    oracle="""
WITH gaps AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value,
         CASE WHEN lag(ts) OVER w IS NULL
                OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
              THEN 1 ELSE 0 END AS is_new
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, user_id)
),
sess AS (
  SELECT user_id, ts, value,
         sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, user_id
                           ROWS UNBOUNDED PRECEDING) AS session_id
  FROM gaps
)
SELECT user_id,
       min(ts) AS session_start,
       max(ts) + INTERVAL 30 MINUTE AS session_end,
       count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM sess
GROUP BY user_id, session_id
ORDER BY user_id, session_start
""",
)
def session_window_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("win"), "user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_value_cents"),
        )
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
            "sum_value_cents",
        )
        .orderBy("user_id", "session_start")
    )


# --------------------------------------------------------------------------
# Streaming within-watermark dedup (streaming/windows.py::stream_dedup):
# duplicated events staged to a stream, dropDuplicatesWithinWatermark on
# the full row key drains to exactly one copy per event — oracle is
# SELECT DISTINCT. The streaming form of the precombine dedup: state for
# a key is evicted once the watermark passes it, so state is bounded by
# horizon × arrival rate, not corpus size.
# --------------------------------------------------------------------------


@query(
    "streaming_dedup_within_watermark",
    oracle="""
SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts, event_type
FROM events
ORDER BY event_id
""",
)
def streaming_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", "event_type"
    )
    doubled = ev.unionByName(ev)  # every event arrives twice
    stage = scratch(sf_dir, "stream_dedup")
    doubled.write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(doubled.schema).parquet(stage)
    deduped = stream.withWatermark("ts", "1 hour").dropDuplicatesWithinWatermark(
        ["event_id"]
    )
    qname = os.path.basename(stage)
    q = (
        deduped.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("event_id")


# --------------------------------------------------------------------------
# Custom stateful streaming (applyInPandasWithState): per-user running
# totals held in the state store. Staged as ONE file so availableNow
# drains in a single micro-batch and each user emits exactly one final
# row — which makes the run oracle-checkable against a plain GROUP BY.
# --------------------------------------------------------------------------


@query(
    "streaming_stateful_user_stats",
    oracle="""
SELECT user_id, count(*) AS n_events, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
GROUP BY user_id
ORDER BY user_id
""",
)
def streaming_stateful_user_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.stateful import user_running_stats

    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    stage = scratch(sf_dir, "stream_state")
    ev.coalesce(1).write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(ev.schema).parquet(stage)
    qname = os.path.basename(stage)
    q = (
        user_running_stats(stream)
        .writeStream.format("memory")
        .queryName(qname)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(qname)
        .select("user_id", "n_events", "sum_value_cents")
        .orderBy("user_id")
    )


@query(
    "streaming_sliding_counts",
    oracle="""
WITH expanded AS (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) AS w_start, value
  FROM events
  UNION ALL
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)) - INTERVAL 1 HOUR,
         value
  FROM events
)
SELECT w_start, count(*) AS n_events, CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM expanded
GROUP BY w_start
ORDER BY w_start
""",
)
def streaming_sliding_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window streaming parity: same 2h/1h windows as the batch
    twin (window_sliding_event_counts), executed as a REAL stream and
    checked against the same expansion oracle."""
    ev = load_table(spark, sf_dir, "events")
    stage = scratch(sf_dir, "stream_sliding")
    ev.write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(ev.schema).parquet(stage)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_value_cents"),
        )
    )
    qname = os.path.basename(stage)
    q = (
        agg.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(qname)
        .select(F.col("window.start").alias("w_start"), "n_events", "sum_value_cents")
        .orderBy("w_start")
    )


# --------------------------------------------------------------------------
# Stream-stream interval join (streaming/windows.py::interval_join): click
# and purchase streams joined on user within a 1-hour event-time bound —
# the watermarked two-stream shape the batch-incremental reference loop
# cannot express. Staged as ONE file so availableNow drains in a single
# micro-batch (no cross-batch watermark races); the oracle is the plain
# batch self-join, which must agree exactly (inner interval joins emit
# matches independent of state eviction timing).
# --------------------------------------------------------------------------


@query(
    "streaming_interval_join",
    oracle="""
SELECT c.event_id AS click_id, p.event_id AS purchase_id,
       c.user_id AS user_id,
       round(p.value, 2) AS purchase_value
FROM events c JOIN events p ON c.user_id = p.user_id
WHERE c.event_type = 'click' AND p.event_type = 'purchase'
  AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
  AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR
ORDER BY click_id, purchase_id
""",
)
def streaming_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import interval_join

    ev = load_table(spark, sf_dir, "events")
    stage = scratch(sf_dir, "stream_ssj")
    ev.coalesce(1).write.mode("overwrite").parquet(stage)
    schema = ev.schema
    clicks = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            "user_id",
        )
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("p_user_id"),
            F.col("value").alias("p_value"),
        )
    )
    joined = interval_join(
        clicks,
        purchases,
        F.col("user_id") == F.col("p_user_id"),
        left_time="click_ts",
        right_time="purchase_ts",
        upper="1 HOUR",
    )
    qname = os.path.basename(stage)
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(qname)
        .select(
            "click_id",
            "purchase_id",
            "user_id",
            F.round("p_value", 2).alias("purchase_value"),
        )
        .orderBy("click_id", "purchase_id")
    )


# --------------------------------------------------------------------------
# Upsert with delete records (Hudi `_hoodie_is_deleted` semantics): a
# batch row flagged deleted competes by precombine like any update — a
# winning delete removes the key, a stale delete (older than the table
# row) is ignored. Keys %5 update (+30d), %7 delete (+60d, wins), %11
# stale-delete (−30d, loses); composite keys exercise in-batch
# delete-vs-update precedence (e.g. %35: the +60d delete beats the +30d
# update, so the key disappears).
# --------------------------------------------------------------------------


@query(
    "upsert_precombine_delete",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, o_custkey, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate,
         FALSE AS deleted, 1 AS is_batch
  FROM orders WHERE o_orderkey % 5 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice,
         o_orderdate + INTERVAL 60 DAY, TRUE, 1
  FROM orders WHERE o_orderkey % 7 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice,
         o_orderdate - INTERVAL 30 DAY, TRUE, 1
  FROM orders WHERE o_orderkey % 11 = 0
),
unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate,
         FALSE AS deleted, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price, o_orderdate
FROM ranked WHERE rn = 1 AND NOT deleted
ORDER BY o_orderkey
""",
)
def upsert_precombine_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    existing = load_table(spark, sf_dir, "orders").select(*cols)
    updates = (
        existing.filter(F.col("o_orderkey") % 5 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .withColumn("deleted", F.lit(False))
    )
    deletes = (
        existing.filter(F.col("o_orderkey") % 7 == 0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS"))
        .withColumn("deleted", F.lit(True))
    )
    stale_deletes = (
        existing.filter(F.col("o_orderkey") % 11 == 0)
        .withColumn("o_orderdate", F.col("o_orderdate") - F.expr("INTERVAL 30 DAYS"))
        .withColumn("deleted", F.lit(True))
    )
    batch = updates.unionByName(deletes).unionByName(stale_deletes)
    merged = merge_upsert(
        existing,
        batch,
        keys=["o_orderkey"],
        precombine="o_orderdate",
        delete_col="deleted",
    )
    return merged.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total_price"),
        "o_orderdate",
    ).orderBy("o_orderkey")


# --------------------------------------------------------------------------
# Partition-pruned upsert (the Hudi partitioned-COW write path,
# reference :183-192): the orders table lives hive-partitioned by
# o_orderstatus; the batch updates only status-'O' rows (keys %4, price
# ×2, +30d) and inserts cloned keys into status 'P' — so the 'F'
# partition is never scanned or rewritten (asserted file-level in
# tests/test_merge_partitioned.py). Merge key is (key, partition) —
# Hudi's non-global index. The oracle is the window-dedup formulation of
# the same merge over the whole table; equality proves pruning loses
# nothing.
# --------------------------------------------------------------------------


@query(
    "upsert_partition_pruned",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 4 = 0
  UNION ALL
  SELECT o_orderkey + 1000000000, 'P', o_totalprice, o_orderdate, 1
  FROM orders WHERE o_orderkey % 500 = 0
),
unioned AS (
  SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey, o_orderstatus
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_orderstatus, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey, o_orderstatus
""",
)
def upsert_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    path = scratch(sf_dir, "part_upsert")
    upsert_parquet_partitioned(
        spark, orders, path, ["o_orderkey"], "o_orderdate", "o_orderstatus"
    )
    updates = (
        orders.filter(
            (F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 4 == 0)
        )
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    inserts = orders.filter(F.col("o_orderkey") % 500 == 0).select(
        (F.col("o_orderkey") + 1000000000).alias("o_orderkey"),
        F.lit("P").alias("o_orderstatus"),
        "o_totalprice",
        "o_orderdate",
    )
    upsert_parquet_partitioned(
        spark,
        updates.unionByName(inserts),
        path,
        ["o_orderkey"],
        "o_orderdate",
        "o_orderstatus",
    )
    return (
        spark.read.parquet(path)
        .select(
            "o_orderkey",
            "o_orderstatus",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey", "o_orderstatus")
    )


# --------------------------------------------------------------------------
# File-level indexed upsert (operators/merge.py::upsert_parquet_indexed
# — Hudi SIMPLE-index COW write): orders is linear-clustered by key so
# parquet footers give disjoint key ranges, then a batch of updates
# (keys %9, ×2, +30d) and out-of-range inserts merges in, rewriting only
# intersecting files (file-mtime evidence in
# tests/test_merge_partitioned.py). Oracle = the canonical window-dedup
# merge over the whole table.
# --------------------------------------------------------------------------


@query(
    "upsert_file_indexed",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, o_custkey, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderkey % 9 = 0
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice, o_orderdate, 1
  FROM orders WHERE o_orderkey % 333 = 0
),
unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def upsert_file_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.clustering import cluster_linear, write_clustered
    from ..operators.merge import upsert_parquet_indexed

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    path = scratch(sf_dir, "idx_upsert")
    write_clustered(cluster_linear(orders, ["o_orderkey"], 16), path)
    updates = (
        orders.filter(F.col("o_orderkey") % 9 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    inserts = orders.filter(F.col("o_orderkey") % 333 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 1000000000
    )
    upsert_parquet_indexed(
        spark,
        updates.unionByName(inserts),
        path,
        "o_orderkey",
        "o_orderdate",
    )
    return (
        spark.read.parquet(path)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Bloom-indexed upsert (operators/merge.py::upsert_parquet_bloom_indexed
# — Hudi BLOOM-index COW write, Hudi's default index): orders is written
# hash-scattered (repartition by key — every file's key RANGE spans the
# domain, so range pruning would degrade to a full rewrite), then the
# same update/insert batch merges in; per-file bloom bitsets still
# rewrite only the files that can contain a batch key (mtime evidence in
# tests/test_merge_partitioned.py). Oracle = the same canonical
# window-dedup merge — the index must never change the result.
# --------------------------------------------------------------------------


@query(
    "upsert_bloom_indexed",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, o_custkey, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderkey % 9 = 0
  UNION ALL
  SELECT o_orderkey + 1000000000, o_custkey, o_totalprice, o_orderdate, 1
  FROM orders WHERE o_orderkey % 333 = 0
),
unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price,
       o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def upsert_bloom_indexed(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.merge import upsert_parquet_bloom_indexed

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    path = scratch(sf_dir, "bloom_upsert")
    orders.repartition(16, F.col("o_orderkey")).write.mode("overwrite").parquet(path)
    updates = (
        orders.filter(F.col("o_orderkey") % 9 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
    )
    inserts = orders.filter(F.col("o_orderkey") % 333 == 0).withColumn(
        "o_orderkey", F.col("o_orderkey") + 1000000000
    )
    upsert_parquet_bloom_indexed(
        spark,
        updates.unionByName(inserts),
        path,
        "o_orderkey",
        "o_orderdate",
    )
    return (
        spark.read.parquet(path)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Stream-static join: the unbounded event stream enriched with a static
# dimension (per-user segment derived from customer) — the most common
# streaming enrichment shape. The static side is a plain DataFrame
# re-read per micro-batch (so dim updates are picked up between
# batches); Spark broadcasts it into each batch's plan — stream rows
# never shuffle for the join. Oracle = the identical batch join.
# --------------------------------------------------------------------------


@query(
    "streaming_static_enrich",
    oracle="""
WITH dim AS (
  SELECT c_custkey % 100 AS user_id,
         min(c_mktsegment) AS segment
  FROM customer GROUP BY c_custkey % 100
)
SELECT d.segment, count(*) AS n_events, CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events e JOIN dim d USING (user_id)
GROUP BY d.segment
ORDER BY d.segment
""",
)
def streaming_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL stream-static join drain: events staged as a file stream,
    joined to a static user->segment dimension, aggregated per segment
    in complete mode, and checked against the batch join oracle."""
    ev = load_table(spark, sf_dir, "events")
    dim = (
        load_table(spark, sf_dir, "customer")
        .groupBy((F.col("c_custkey") % 100).alias("user_id"))
        .agg(F.min("c_mktsegment").alias("segment"))
    )
    stage = scratch(sf_dir, "stream_enrich")
    ev.write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(ev.schema).parquet(stage)
    enriched = (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_value_cents"),
        )
    )
    qname = os.path.basename(stage)
    q = (
        enriched.writeStream.format("memory")
        .queryName(qname)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("segment")


# --------------------------------------------------------------------------
# Dynamic partition pruning (S7/layout tier): the fact table is laid out
# hive-partitioned on event_date; the dim-side predicate (day_mod = 2)
# is NOT a fact column, so static pruning can't touch the fact scan —
# only DPP can, by broadcasting the filtered dim's join keys into the
# fact scan's PartitionFilters at runtime. At 100 TB this is the
# difference between scanning every date partition and scanning 1/7 of
# them; the `dynamicpruningexpression` in the fact scan is asserted in
# tests/test_plans.py.
# --------------------------------------------------------------------------


@query(
    "dpp_partition_pruned_join",
    oracle="""
WITH fact AS (
  SELECT event_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS event_date, value
  FROM events
),
dim AS (
  SELECT event_date,
         date_diff('day', DATE '1970-01-01', event_date) % 7 AS day_mod
  FROM (SELECT DISTINCT event_date FROM fact)
)
SELECT f.event_date, count(*) AS n_events, CAST(sum(CAST(floor(f.value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM fact f JOIN dim d USING (event_date)
WHERE d.day_mod = 2
GROUP BY f.event_date
ORDER BY f.event_date
""",
)
def dpp_partition_pruned_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join a date-partitioned fact layout to a filtered calendar dim:
    the dim filter reaches the fact scan only via dynamic partition
    pruning (runtime subquery → PartitionFilters), never statically.
    day_mod is engine-neutral day-of-week (epoch-day mod 7)."""
    fact_df, dim_df = _dpp_tables(spark, sf_dir)
    return (
        fact_df.join(dim_df.filter(F.col("day_mod") == 2), "event_date")
        .groupBy("event_date")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_value_cents"),
        )
        .orderBy("event_date")
    )


def _dpp_tables(spark: SparkSession, sf_dir: str):
    """Stage the date-partitioned fact + calendar dim layouts (shared by
    the query above and the plan-shape test)."""
    ev = load_table(spark, sf_dir, "events")
    fact_path = scratch(sf_dir, "dpp_fact")
    dim_path = scratch(sf_dir, "dpp_dim")
    fact = ev.select(
        "event_id", "value", F.to_date("ts").alias("event_date")
    )
    fact.write.mode("overwrite").partitionBy("event_date").parquet(fact_path)
    dim = (
        fact.select("event_date")
        .distinct()
        .withColumn(
            "day_mod", F.datediff("event_date", F.lit("1970-01-01")) % 7
        )
    )
    dim.write.mode("overwrite").parquet(dim_path)
    return spark.read.parquet(fact_path), spark.read.parquet(dim_path)


# --------------------------------------------------------------------------
# Chained stateful aggregation (Spark 3.4+ multiple stateful operators in
# one streaming query): hourly per-type windows rolled up into 4-hour
# windows via window_time — both stages watermark-bounded, run as a REAL
# availableNow drain in append mode. Append mode only emits a window
# once the watermark passes its end, so the drain appends one future
# sentinel event that pushes the final watermark past every real window
# (the standard finalize trick); sentinel windows are filtered out by
# the known real max timestamp. Oracle = the same two-level rollup in
# batch SQL.
# --------------------------------------------------------------------------


def _with_future_sentinels(spark: SparkSession, ev: DataFrame, rows):
    """Union deterministic far-future sentinel rows onto the events
    frame: (event_id, user_id, event_type, hours_past_max)."""
    max_ts = ev.agg(F.max("ts")).first()[0]
    sent = spark.range(1).select(
        *[
            F.struct(
                F.lit(eid).cast("long").alias("event_id"),
                (
                    F.lit(max_ts) + F.expr(f"INTERVAL {hours} HOURS")
                ).alias("ts"),
                F.lit(uid).cast("long").alias("user_id"),
                F.lit(etype).alias("event_type"),
                F.lit(0.0).alias("value"),
                F.lit(None).cast("string").alias("props"),
            ).alias(f"s{i}")
            for i, (eid, uid, etype, hours) in enumerate(rows)
        ]
    )
    sent = sent.select(
        F.explode(F.array(*[f"s{i}" for i in range(len(rows))])).alias("r")
    ).select("r.*")
    return ev.unionByName(sent.select(*ev.columns)), max_ts


@query(
    "streaming_chained_rollup",
    oracle="""
WITH fine AS (
  SELECT time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP),
                     TIMESTAMP '1970-01-01') AS w1,
         event_type, count(*) AS n_events,
         sum(CAST(value AS DECIMAL(18, 2))) AS sv
  FROM events GROUP BY 1, 2
)
SELECT time_bucket(INTERVAL '4 hours', w1, TIMESTAMP '1970-01-01') AS w_start,
       count(*) AS n_type_hours,
       CAST(sum(n_events) AS BIGINT) AS n_events,
       CAST(sum(sv) * 100 AS BIGINT) AS sum_value_cents
FROM fine GROUP BY 1 ORDER BY 1
""",
)
def streaming_chained_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL two-stage stateful streaming drain: hourly per-type counts →
    4-hour rollup, one query, append mode, value summed as exact
    DECIMAL cents (streaming/windows.py::chained_window_rollup)."""
    from ..streaming.windows import chained_window_rollup

    ev = load_table(spark, sf_dir, "events")
    staged, max_ts = _with_future_sentinels(
        spark, ev, [(-1, -1, "sentinel", 10)]
    )
    stage = scratch(sf_dir, "stream_chain")
    staged.coalesce(1).write.mode("overwrite").parquet(stage)
    stream = spark.readStream.schema(staged.schema).parquet(stage)
    rollup = chained_window_rollup(stream).filter(
        F.col("w_start") <= F.lit(max_ts)
    )
    qname = os.path.basename(stage)
    q = (
        rollup.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).orderBy("w_start")


# --------------------------------------------------------------------------
# Stream-stream LEFT OUTER interval join: clicks with no purchase within
# the hour emit null purchase columns — but only once the purchase-side
# watermark proves no match can still arrive (state eviction doubles as
# the no-match proof). Sentinels on both streams advance both watermarks
# past every real row so the availableNow drain flushes all outer
# results; oracle = the batch LEFT JOIN.
# --------------------------------------------------------------------------


@query(
    "streaming_interval_join_outer",
    oracle="""
SELECT c.event_id AS click_id, c.user_id AS user_id,
       p.event_id AS purchase_id, round(p.value, 2) AS purchase_value
FROM events c LEFT JOIN events p
  ON c.user_id = p.user_id AND p.event_type = 'purchase'
  AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
  AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR
WHERE c.event_type = 'click'
ORDER BY click_id, purchase_id
""",
)
def streaming_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import interval_join

    ev = load_table(spark, sf_dir, "events")
    staged, _ = _with_future_sentinels(
        spark, ev, [(-1, -1, "click", 10), (-2, -2, "purchase", 10)]
    )
    stage = scratch(sf_dir, "stream_ssj_outer")
    staged.coalesce(1).write.mode("overwrite").parquet(stage)
    schema = staged.schema
    clicks = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            "user_id",
        )
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("p_user_id"),
            F.col("value").alias("p_value"),
        )
    )
    joined = interval_join(
        clicks,
        purchases,
        F.col("user_id") == F.col("p_user_id"),
        left_time="click_ts",
        right_time="purchase_ts",
        upper="1 HOUR",
        how="left_outer",
    )
    qname = os.path.basename(stage)
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(qname)
        .filter(F.col("user_id") >= 0)  # drop the watermark sentinels
        .select(
            "click_id",
            "user_id",
            "purchase_id",
            F.round("p_value", 2).alias("purchase_value"),
        )
        .orderBy("click_id", "purchase_id")
    )


# --------------------------------------------------------------------------
# Write-Audit-Publish (operators/wap.py): the upsert_precombine
# transformation routed through a quality gate — the merged candidate is
# staged as uncommitted files, audited (PK uniqueness + not-null), and
# only then published via one atomic manifest write. Same oracle as
# upsert_precombine: a passing audit must be a pure pass-through. The
# rejection path (violations abort with the live table untouched) is
# exercised in tests/test_wap.py.
# --------------------------------------------------------------------------


@query(
    "wap_publish_clean",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, o_custkey, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, o_custkey, o_totalprice * 4.0,
         o_orderdate + INTERVAL 60 DAY, 1
  FROM orders WHERE o_orderkey % 6 = 0
),
unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total_price, o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def wap_publish_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.wap import wap_upsert

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    existing = load_table(spark, sf_dir, "orders").select(*cols)
    batch = (
        existing.filter(F.col("o_orderkey") % 3 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn("o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS"))
        .unionByName(
            existing.filter(F.col("o_orderkey") % 6 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") * 4.0)
            .withColumn(
                "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
            )
        )
    )

    def audit(candidate: DataFrame) -> DataFrame:
        dup = (
            candidate.groupBy("o_orderkey")
            .count()
            .filter(F.col("count") > 1)
            .select(
                F.lit("pk_unique").alias("check_name"),
                F.col("o_orderkey").cast("long").alias("bad_key"),
            )
        )
        nn = candidate.filter(F.col("o_custkey").isNull()).select(
            F.lit("custkey_not_null").alias("check_name"),
            F.col("o_orderkey").cast("long").alias("bad_key"),
        )
        return dup.unionByName(nn)

    path = scratch(sf_dir, "wap")
    # Seed commit (no audit needed for the bootstrap), then the audited
    # batch publish.
    wap_upsert(
        spark, existing, path, keys=["o_orderkey"], precombine="o_orderdate"
    )
    wap_upsert(
        spark,
        batch,
        path,
        keys=["o_orderkey"],
        precombine="o_orderdate",
        audit=audit,
    )
    from ..operators.merge import read_indexed_table

    return (
        read_indexed_table(spark, path)
        .select(
            "o_orderkey",
            "o_custkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# SCD Type-2 dimension build from an event/CDC log — the classic warehouse
# op a Hudi ETL user reaches for right after upsert (reference README.md
# pitches the pipeline as the ingest layer for exactly this): collapse a
# change log into versioned dimension rows with effective_from /
# effective_to validity intervals and an is_current flag.
#
# Scale: two window passes over the SAME (user_id) partitioning — Spark
# plans one Exchange and reuses it for both windows (change detection and
# interval close), so the whole build is a single shuffle keyed by the
# dimension's natural key. No global window, no driver state.
# --------------------------------------------------------------------------


@query(
    "scd2_user_status",
    oracle="""
WITH ordered AS (
  SELECT user_id, ts, event_id, event_type,
         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
  FROM events
),
chg AS (
  SELECT user_id, ts, event_id, event_type
  FROM ordered
  WHERE prev IS NULL OR prev <> event_type
)
SELECT user_id,
       event_type AS status,
       ts AS effective_from,
       lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS effective_to,
       (lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL)
         AS is_current
FROM chg
ORDER BY user_id, effective_from
""",
)
def scd2_user_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 dimension from the event log: per user, keep only rows where
    event_type changed vs the previous event (change-point detection via
    lag), then close each version's validity interval with the next
    change's timestamp (lead); the open interval is the current row.
    Tie-break on event_id makes same-timestamp ordering deterministic."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "user_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    chg = ev.withColumn("prev", F.lag("event_type").over(w)).filter(
        F.col("prev").isNull() | (F.col("prev") != F.col("event_type"))
    )
    return chg.select(
        "user_id",
        F.col("event_type").alias("status"),
        F.col("ts").alias("effective_from"),
        F.lead("ts").over(w).alias("effective_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
    ).orderBy("user_id", "effective_from")


# --------------------------------------------------------------------------
# Partial-column upsert (Hudi PartialUpdateAvroPayload): the batch
# updates keys %4 carrying a NEW custkey (+5) and a newer orderdate
# (+30d, the precombine) but a NULL totalprice — the winning row keeps
# the table's price instead of nulling it (the sparse-update pattern
# where a source system owns a column subset). Oracle: a left join with
# per-field CASE — price never changes, custkey/date change on matched
# keys only.
# --------------------------------------------------------------------------


@query(
    "upsert_partial_update",
    oracle="""
SELECT o.o_orderkey,
       CASE WHEN b.o_orderkey IS NOT NULL THEN o.o_custkey + 5
            ELSE o.o_custkey END AS o_custkey,
       round(o.o_totalprice, 2) AS total_price,
       CASE WHEN b.o_orderkey IS NOT NULL
            THEN o.o_orderdate + INTERVAL 30 DAY
            ELSE o.o_orderdate END AS o_orderdate
FROM orders o
LEFT JOIN (SELECT o_orderkey FROM orders WHERE o_orderkey % 4 = 0) b
  USING (o_orderkey)
ORDER BY o_orderkey
""",
)
def upsert_partial_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    existing = load_table(spark, sf_dir, "orders").select(*cols)
    batch = existing.filter(F.col("o_orderkey") % 4 == 0).select(
        "o_orderkey",
        (F.col("o_custkey") + 5).alias("o_custkey"),
        F.lit(None).cast("double").alias("o_totalprice"),
        (F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")).alias("o_orderdate"),
    )
    merged = merge_upsert(
        existing, batch, keys=["o_orderkey"], precombine="o_orderdate",
        partial_update=True,
    )
    return merged.select(
        "o_orderkey",
        "o_custkey",
        F.round("o_totalprice", 2).alias("total_price"),
        "o_orderdate",
    ).orderBy("o_orderkey")


# Audio twin of _IMG_ORACLE (r5 verdict ask #7): the 2048-byte PCM data
# chunk is deterministic byte framing over documents.text, and the
# decoder's 64-segment energy profile is integer-exact — sample j is
# little-endian int16 from bytes (2j, 2j+1), segment = 16 samples,
# feature = floor(Σ|sample| · 1000 / (16·32768)).
_WAV_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         rpad(substr(lower(hex(encode(text))),1,4096),4096,'0') AS hx
  FROM documents
),
s AS (
  SELECT doc_id,
    list_transform(range(0,1024), j ->
      abs({_HEX_BYTE.format(lo="4*j+1", hi="4*j+2")}
          + 256*{_HEX_BYTE.format(lo="4*j+3", hi="4*j+4")}
          - CASE WHEN {_HEX_BYTE.format(lo="4*j+3", hi="4*j+4")} >= 128
                 THEN 65536 ELSE 0 END)
    ) AS mags
  FROM raw
),
f AS (
  SELECT doc_id,
    list_transform(range(0,64), g ->
      CAST(list_sum(list_transform(range(0,16), m ->
        mags[16*g + m + 1]
      )) * 1000 // 524288 AS BIGINT)
    ) AS f
  FROM s
)
SELECT doc_id AS media_id, 64 AS feature_dim,
  {_CHECKSUM_FOLD} AS feature_checksum,
  'pcm_s16le' AS codec,
  array_to_string(f, ',') AS energy_profile
FROM f ORDER BY media_id
"""


@query("multimodal_audio_features", oracle=_WAV_ORACLE)
def multimodal_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio twin of multimodal_decode_features, through the REAL WAV
    decoder: each document's bytes become the PCM data chunk of a valid
    16-bit mono WAV (fixed 1024-sample data section ⇒ the 44-byte RIFF
    header is a constant, prepended JVM-side with binary concat — no
    Python in the framing), so decode_features runs an actual chunk walk
    + sample decode + exact 64-segment energy profile per row."""
    import numpy as np

    from ..operators.multimodal import encode_wav

    header = bytes(
        encode_wav(np.zeros(1024, dtype=np.int16), 8000)[:44]
    )
    d = load_table(spark, sf_dir, "documents")
    raster = F.rpad(
        F.substring(F.encode(F.col("text"), "UTF-8"), 1, 2048),
        2048,
        F.lit(b"\x00"),
    )
    m = attach_metadata(
        d.select(
            F.col("doc_id").alias("media_id"),
            F.concat(F.lit(header), raster).alias("payload"),
        ),
        media_type="audio",
    )
    return (
        decode_features(m)
        .select(
            "media_id",
            "feature_dim",
            "feature_checksum",
            "codec",
            F.array_join(F.transform("features", lambda x: x.cast("string")), ",").alias(
                "energy_profile"
            ),
        )
        .orderBy("media_id")
    )


# --------------------------------------------------------------------------
# Audio VAD segmentation (round 9): voice-activity spans from the REAL
# WAV path's 64-segment energy profile — the silence-split primitive an
# audio-curation pipeline runs before transcription (drop dead air,
# bound utterance length). A cell is ACTIVE if its energy ≥ half the
# clip's max (per-clip adaptive threshold, integer exact); runs of
# equal activity collapse to segments. Segmentation happens INSIDE the
# row with higher-order functions, then posexplode emits segment rows —
# map-only (the audited plan's one exchange is the presentation
# sort); per-clip state is the fixed 64-cell profile
# however long the audio is (the decoder already pooled it).
# --------------------------------------------------------------------------

_VAD_ORACLE = f"""
WITH raw AS (
  SELECT doc_id,
         rpad(substr(lower(hex(encode(text))),1,4096),4096,'0') AS hx
  FROM documents
),
s AS (
  SELECT doc_id,
    list_transform(range(0,1024), j ->
      abs({_HEX_BYTE.format(lo="4*j+1", hi="4*j+2")}
          + 256*{_HEX_BYTE.format(lo="4*j+3", hi="4*j+4")}
          - CASE WHEN {_HEX_BYTE.format(lo="4*j+3", hi="4*j+4")} >= 128
                 THEN 65536 ELSE 0 END)
    ) AS mags
  FROM raw
),
f AS (
  SELECT doc_id,
    list_transform(range(0,64), g ->
      CAST(list_sum(list_transform(range(0,16), m ->
        mags[16*g + m + 1]
      )) * 1000 // 524288 AS BIGINT)
    ) AS f
  FROM s
),
a AS (
  SELECT doc_id, f, list_max(f) // 2 AS t FROM f
),
act AS (
  SELECT doc_id,
    list_transform(f, x -> CASE WHEN x >= t THEN 1 ELSE 0 END) AS act
  FROM a
),
seg AS (
  SELECT doc_id, act,
    list_filter(range(0, 64), i -> i = 0 OR act[i + 1] != act[i]) AS starts
  FROM act
)
SELECT doc_id AS media_id,
       CAST(j AS BIGINT) AS seg_idx,
       CAST(starts[j + 1] AS BIGINT) AS start_cell,
       CAST((CASE WHEN j + 1 < len(starts) THEN starts[j + 2] ELSE 64 END)
            - starts[j + 1] AS BIGINT) AS n_cells,
       CAST(act[starts[j + 1] + 1] AS BIGINT) AS active
FROM seg, (SELECT unnest(range(0, 64)) AS j)
WHERE j < len(starts)
ORDER BY media_id, seg_idx
"""


@query("audio_vad_segments", oracle=_VAD_ORACLE)
def audio_vad_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity segments per clip from the REAL WAV decode's energy
    profile: per-clip threshold = max//2, runs of equal activity →
    (seg_idx, start_cell, n_cells, active) rows. Map-only."""
    import numpy as np

    from ..operators.multimodal import encode_wav

    header = bytes(encode_wav(np.zeros(1024, dtype=np.int16), 8000)[:44])
    d = load_table(spark, sf_dir, "documents")
    raster = F.rpad(
        F.substring(F.encode(F.col("text"), "UTF-8"), 1, 2048),
        2048,
        F.lit(b"\x00"),
    )
    m = attach_metadata(
        d.select(
            F.col("doc_id").alias("media_id"),
            F.concat(F.lit(header), raster).alias("payload"),
        ),
        media_type="audio",
    )
    m = fan_out(m)
    seg = (
        decode_features(m)
        .select(
            "media_id",
            "features",
            F.expr(
                "aggregate(features, 0L, (a, x) -> greatest(a, x)) div 2"
            ).alias("t"),
        )
        .select(
            "media_id",
            F.expr(
                "transform(features, x -> IF(x >= t, 1, 0))"
            ).alias("act"),
        )
        .select(
            "media_id",
            "act",
            F.expr(
                "filter(sequence(0, 63), i -> i = 0 OR act[i] != act[i - 1])"
            ).alias("starts"),
        )
        .select(
            "media_id",
            F.posexplode(
                F.expr(
                    """
                    transform(sequence(0, size(starts) - 1), j -> struct(
                      CAST(starts[j] AS BIGINT) AS start_cell,
                      CAST((IF(j + 1 < size(starts), starts[j + 1], 64))
                           - starts[j] AS BIGINT) AS n_cells,
                      CAST(act[starts[j]] AS BIGINT) AS active))
                    """
                )
            ).alias("seg_idx", "s"),
        )
    )
    return seg.select(
        "media_id",
        F.col("seg_idx").cast("long").alias("seg_idx"),
        F.col("s.start_cell").alias("start_cell"),
        F.col("s.n_cells").alias("n_cells"),
        F.col("s.active").alias("active"),
    ).orderBy("media_id", "seg_idx")


# Video twin (r5 verdict ask #7): frame k's luma plane is body bytes
# [384k, 384k+256) (Y4M C420 frame = 256 Y + 128 chroma), the sampled
# PGM broadcasts gray to 3 channels, so a grid cell over 2×2 pixels is
# floor(3·Σgray · 1000 / 12); media_id = doc_id·10 + frame_idx.
_Y4M_ORACLE = f"""
WITH raw AS (
  SELECT doc_id, k.k AS k,
         rpad(substr(lower(hex(encode(text))),1,1536),1536,'0') AS hx
  FROM documents, range(2) k(k)
),
b AS (
  SELECT doc_id, k,
    list_transform(range(0,256), i ->
      {_HEX_BYTE.format(lo="2*(384*k + i)+1", hi="2*(384*k + i)+2")}
    ) AS luma
  FROM raw
),
f AS (
  SELECT doc_id, k,
    list_transform(range(0,64), c ->
      CAST(3 * list_sum(list_transform(range(0,4), m ->
        luma[16*(2*(c//8) + m//2) + 2*(c%8) + (m%2) + 1]
      )) * 1000 // 12 AS BIGINT)
    ) AS f
  FROM b
)
SELECT doc_id*10 + k AS media_id, 'pgm' AS codec, 16 AS width, 16 AS height,
  {_CHECKSUM_FOLD} AS feature_checksum
FROM f ORDER BY media_id
"""


@query("multimodal_video_frames", oracle=_Y4M_ORACLE)
def multimodal_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video tier end-to-end through the REAL Y4M path: each document's
    bytes become the luma planes of a 2-frame 16×16 Y4M container
    (constant header + FRAME markers concatenated JVM-side),
    sample_frames extracts REAL frames re-encoded as PGM, and
    decode_features runs the REAL raster decoder on every sampled frame
    — video → frames → pixel features, no media libraries anywhere."""
    from ..operators.multimodal import sample_frames

    d = load_table(spark, sf_dir, "documents")
    header = F.encode(F.lit("YUV4MPEG2 W16 H16 F25:1 Ip A1:1 C420\n"), "UTF-8")
    fmark = F.encode(F.lit("FRAME\n"), "UTF-8")
    body = F.rpad(F.substring(F.encode(F.col("text"), "UTF-8"), 1, 768), 768, F.lit(b"\x00"))
    frame1 = F.substring(body, 1, 384)
    frame2 = F.substring(body, 385, 384)
    m = attach_metadata(
        d.select(
            F.col("doc_id").alias("media_id"),
            F.concat(header, fmark, frame1, fmark, frame2).alias("payload"),
        ),
        media_type="video",
    )
    frames = sample_frames(m, n_frames=2)
    imgs = attach_metadata(
        frames.select(
            (F.col("media_id") * 10 + F.col("frame_idx")).alias("media_id"),
            F.col("frame_payload").alias("payload"),
        ),
        media_type="image",
    )
    return (
        decode_features(imgs)
        .select("media_id", "codec", "width", "height", "feature_checksum")
        .orderBy("media_id")
    )


# --------------------------------------------------------------------------
# Stream-stream LEFT SEMI interval join: "which clicks converted within
# the hour" WITHOUT materializing the purchase payload — the state-store
# cost of the semi form is identical to inner (both sides buffered to
# the watermark bound) but a matched left row emits ONCE regardless of
# how many right rows match, so the output (and anything downstream)
# shrinks by the match multiplicity. Oracle = batch EXISTS.
# --------------------------------------------------------------------------


@query(
    "streaming_interval_join_semi",
    oracle="""
SELECT c.event_id AS click_id, c.user_id AS user_id
FROM events c
WHERE c.event_type = 'click'
  AND EXISTS (
    SELECT 1 FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR
  )
ORDER BY click_id
""",
)
def streaming_interval_join_semi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import interval_join

    ev = load_table(spark, sf_dir, "events")
    stage = scratch(sf_dir, "stream_ssjs")
    ev.coalesce(1).write.mode("overwrite").parquet(stage)
    schema = ev.schema
    clicks = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            "user_id",
        )
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("p_user_id"),
        )
    )
    joined = interval_join(
        clicks,
        purchases,
        F.col("user_id") == F.col("p_user_id"),
        left_time="click_ts",
        right_time="purchase_ts",
        upper="1 HOUR",
        how="left_semi",
    )
    qname = os.path.basename(stage)
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(qname).select("click_id", "user_id").orderBy("click_id")


# --------------------------------------------------------------------------
# FORWARD as-of: for each purchase, the NEXT click of the same user
# (conversion-to-next-touch). Same union-window scale shape as the
# backward direction; DuckDB's native ASOF JOIN with a >= condition is
# the oracle, so both directions are checked against the engine that
# defines the semantics.
# --------------------------------------------------------------------------


@query(
    "asof_purchase_next_click",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, round(max(value), 3) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, CAST(ts AS TIMESTAMP)
)
SELECT p.event_id, p.user_id, p.ts, c.click_value, c.ts AS click_ts
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND c.ts >= p.ts
ORDER BY p.event_id
""",
)
def asof_purchase_next_click(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.latest import asof_join_forward

    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 3).alias("click_value"))
        .withColumn("click_ts", F.col("ts"))
    )
    return asof_join_forward(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_values=["click_value", "click_ts"],
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Stream-stream LEFT ANTI interval join (derived — Spark has no native
# stream-stream anti): "which clicks did NOT convert within the hour",
# the abandonment-detection mirror of the semi form. Emission waits for
# the right watermark to pass each click's bound (proof of no match);
# state cost equals the outer join it derives from. Oracle = batch
# NOT EXISTS.
# --------------------------------------------------------------------------


@query(
    "streaming_interval_join_anti",
    oracle="""
SELECT c.event_id AS click_id, c.user_id AS user_id
FROM events c
WHERE c.event_type = 'click'
  AND NOT EXISTS (
    SELECT 1 FROM events p
    WHERE p.event_type = 'purchase' AND p.user_id = c.user_id
      AND CAST(p.ts AS TIMESTAMP) >= CAST(c.ts AS TIMESTAMP)
      AND CAST(p.ts AS TIMESTAMP) <= CAST(c.ts AS TIMESTAMP) + INTERVAL 1 HOUR
  )
ORDER BY click_id
""",
)
def streaming_interval_join_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..streaming.windows import interval_join

    ev = load_table(spark, sf_dir, "events")
    # A matchless click is only emitted once the GLOBAL watermark (the
    # MIN across both sides' watermark operators) has passed its bound —
    # a finite fixture ends before that for the latest clicks, so far-
    # future sentinels on BOTH sides (user -1, never matches, filtered
    # below) push the final watermark past every bound. Production
    # streams advance naturally; the sentinels are fixture plumbing,
    # same as the chained-rollup query's.
    staged, _ = _with_future_sentinels(
        spark, ev, [(-1, -1, "purchase", 10), (-2, -1, "click", 10)]
    )
    stage = scratch(sf_dir, "stream_ssja")
    staged.coalesce(1).write.mode("overwrite").parquet(stage)
    schema = staged.schema
    clicks = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("click_ts"),
            "user_id",
        )
    )
    purchases = (
        spark.readStream.schema(schema)
        .parquet(stage)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("ts").alias("purchase_ts"),
            F.col("user_id").alias("p_user_id"),
        )
    )
    joined = interval_join(
        clicks,
        purchases,
        F.col("user_id") == F.col("p_user_id"),
        left_time="click_ts",
        right_time="purchase_ts",
        upper="1 HOUR",
        how="left_anti",
    )
    qname = os.path.basename(stage)
    q = (
        joined.writeStream.format("memory")
        .queryName(qname)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return (
        spark.table(qname)
        .filter(F.col("user_id") >= 0)  # drop the sentinel click
        .select("click_id", "user_id")
        .orderBy("click_id")
    )


# --------------------------------------------------------------------------
# Orphan-file vacuum (Delta VACUUM / Hudi orphan clean): crash-orphans
# planted beside a manifest-committed table are reclaimed (old) or
# age-protected (young, could be an in-flight commit); manifest-live
# files are never touched. The oracle is the merge fold the table must
# still equal AFTER vacuuming — reclamation is read-invisible by
# construction, and the gate proves it.
# --------------------------------------------------------------------------


@query(
    "vacuum_scan_invariance",
    oracle="""
WITH batch AS (
  SELECT o_orderkey, o_custkey, o_totalprice * 2.0 AS o_totalprice,
         o_orderdate + INTERVAL 30 DAY AS o_orderdate, 1 AS is_batch
  FROM orders WHERE o_orderkey % 9 = 0
),
unioned AS (
  SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate, 0 AS is_batch
  FROM orders
  UNION ALL
  SELECT * FROM batch
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY o_orderkey
    ORDER BY o_orderdate DESC, is_batch DESC) AS rn
  FROM unioned
)
SELECT o_orderkey, round(o_totalprice, 2) AS total_price, o_orderdate
FROM ranked WHERE rn = 1
ORDER BY o_orderkey
""",
)
def vacuum_scan_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from ..operators.clustering import cluster_linear, write_clustered
    from ..operators.merge import (
        read_indexed_table,
        upsert_parquet_indexed,
        vacuum_orphans,
    )

    cols = ["o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders").select(*cols)
    path = scratch(sf_dir, "vacuum_tbl")
    write_clustered(cluster_linear(orders, ["o_orderkey"], 8), path)
    updates = (
        orders.filter(F.col("o_orderkey") % 9 == 0)
        .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
        .withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
    )
    upsert_parquet_indexed(spark, updates, path, "o_orderkey", "o_orderdate")
    # Plant a crash-orphan (pre-crash staged move, manifest never
    # published) backdated past the retention floor, and a YOUNG one
    # that must survive (could be an in-flight commit's staged file).
    orders.limit(5).write.mode("overwrite").parquet(f"{path}/__orphan_src")
    import glob as _glob

    old_orphan = f"{path}/part-upsert-deadbeef-99999.parquet"
    young_orphan = f"{path}/part-upsert-cafebabe-99998.parquet"
    srcs = _glob.glob(f"{path}/__orphan_src/*.parquet")
    shutil.copy(srcs[0], old_orphan)
    shutil.copy(srcs[0], young_orphan)
    shutil.rmtree(f"{path}/__orphan_src")
    os.utime(old_orphan, (0, 0))  # ancient
    removed = vacuum_orphans(path, min_age_seconds=3600)
    assert removed == [os.path.basename(old_orphan)], removed
    assert os.path.exists(young_orphan)
    return (
        read_indexed_table(spark, path)
        .select(
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total_price"),
            "o_orderdate",
        )
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------------
# Streaming OHLC ingest: the deltastreamer-into-continuous-aggregate
# shape — two availableNow runs drain disjoint halves of the events
# table through foreach_batch_ohlc_append (operators/maintenance.py
# partial state + streaming/windows.py sink); each micro-batch appends
# its per-(type, day) PARTIAL bars tagged by micro-batch id (replays
# skip — sums would double-count), and the final read folds partials
# with merge_ohlc. Because open/close travel with globally-unique arg
# keys, the fold is batch-assignment-invariant: ANY split of events
# into micro-batches converges to the oracle's direct daily bars.
# --------------------------------------------------------------------------


@query(
    "streaming_ohlc_ingest",
    oracle="""
WITH keyed AS (
  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS bar_ts, value,
         lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
           || lpad(CAST(event_id AS VARCHAR), 12, '0') AS ok
  FROM events
)
SELECT event_type, bar_ts,
       arg_min(value, ok) AS open,
       max(value) AS high,
       min(value) AS low,
       arg_max(value, ok) AS close,
       count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS volume
FROM keyed GROUP BY event_type, bar_ts
ORDER BY event_type, bar_ts
""",
)
def streaming_ohlc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.maintenance import merge_ohlc
    from ..streaming.windows import foreach_batch_ohlc_append

    ev = load_table(spark, sf_dir, "events")
    state = scratch(sf_dir, "strm_ohlc_state")
    for run, batch in enumerate(
        (
            ev.filter(F.col("event_id") % 2 == 0),
            ev.filter(F.col("event_id") % 2 == 1),
        ),
        start=1,
    ):
        stage = scratch(sf_dir, f"strm_ohlc_b{run}")
        chk = scratch(sf_dir, f"strm_ohlc_chk{run}")
        batch.write.mode("overwrite").parquet(stage)
        q = (
            spark.readStream.schema(ev.schema)
            .parquet(stage)
            .writeStream.foreachBatch(
                foreach_batch_ohlc_append(state, run_tag=f"run{run}")
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        merge_ohlc(spark.read.parquet(state).drop("src"))
        .select(
            "event_type",
            F.col("bar_ts").cast("date").alias("bar_ts"),
            "open",
            "high",
            "low",
            "close",
            "n_events",
            F.col("vol_dec").cast("double").alias("volume"),
        )
        .orderBy("event_type", "bar_ts")
    )


# --------------------------------------------------------------------------
# As-of join with TOLERANCE (pandas merge_asof(tolerance=...) parity):
# the prior click attaches only if it happened within 6 hours of the
# purchase — staler matches null out. The matched timestamp rides the
# same single-shuffle union-window carry; DuckDB's native ASOF JOIN plus
# a CASE on the match age is the oracle.
# --------------------------------------------------------------------------


@query(
    "asof_prior_click_tolerance",
    oracle="""
WITH purchases AS (
  SELECT event_id, user_id, CAST(ts AS TIMESTAMP) AS ts
  FROM events WHERE event_type = 'purchase'
),
clicks AS (
  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, round(max(value), 3) AS click_value
  FROM events WHERE event_type = 'click'
  GROUP BY user_id, CAST(ts AS TIMESTAMP)
)
SELECT p.event_id, p.user_id, p.ts,
       CASE WHEN c.ts >= p.ts - INTERVAL '6 hours' THEN c.click_value
       END AS click_value
FROM purchases p ASOF LEFT JOIN clicks c
  ON p.user_id = c.user_id AND c.ts <= p.ts
ORDER BY p.event_id
""",
)
def asof_prior_click_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = (
        e.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.round(F.max("value"), 3).alias("click_value"))
    )
    return asof_join(
        purchases,
        clicks,
        on=["user_id"],
        left_ts="ts",
        right_ts="ts",
        right_values=["click_value"],
        tolerance_seconds=6 * 3600,
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# Iceberg-style HIDDEN partitioning (sources/writers.py::
# write_hidden_partitioned / read_hidden_day_range): events persist
# partitioned by days(ts) under an internal column; a raw ts-range query
# never mentions the layout, the reader derives the partition filter
# from the predicate bounds (directory pruning BEFORE any footer is
# read — PartitionFilters asserted in tests/test_writers.py). The
# oracle is the same range aggregate on the unpartitioned table:
# layout, like clustering, must be invisible to results.
# --------------------------------------------------------------------------


@query(
    "hidden_partition_day_scan",
    oracle="""
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <  TIMESTAMP '2024-01-12 00:00:00'
GROUP BY event_type ORDER BY event_type
""",
)
def hidden_partition_day_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import (
        hidden_day,
        read_hidden_day_range,
        write_hidden_partitioned,
    )

    ev = load_table(spark, sf_dir, "events")
    path = scratch(sf_dir, "hidden_part")
    write_hidden_partitioned(
        ev, path, source_col="ts", transform=hidden_day
    )
    scan = read_hidden_day_range(
        spark, path, source_col="ts",
        lo="2024-01-05 00:00:00", hi="2024-01-12 00:00:00",
    )
    return (
        scan.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_value_cents"),
        )
        .orderBy("event_type")
    )


# --------------------------------------------------------------------------
# Partition-spec EVOLUTION (Iceberg semantics; sources/writers.py::
# evolve_partition_spec / read_evolved_day_range): the first half of
# events was written unpartitioned (spec v0), the table then evolved to
# days(ts) hidden partitioning, and the second half landed under spec
# v1. History is never rewritten; a range read prunes v1 directories
# and row-filters v0. The oracle — the same range aggregate over plain
# events — proves the spec seam is invisible to results.
# --------------------------------------------------------------------------


@query(
    "partition_evolution_scan",
    oracle="""
SELECT event_type, count(*) AS n_events,
       CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_value_cents
FROM events
WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
  AND ts <  TIMESTAMP '2024-01-20 00:00:00'
GROUP BY event_type ORDER BY event_type
""",
)
def partition_evolution_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.writers import (
        evolve_partition_spec,
        hidden_day,
        read_evolved_day_range,
    )

    ev = load_table(spark, sf_dir, "events")
    path = scratch(sf_dir, "spec_evo")
    # Spec v0: pre-evolution history, unpartitioned.
    ev.filter(F.col("event_id") % 2 == 0).write.parquet(f"{path}/spec0")
    # Evolution point: future writes land day-partitioned.
    evolve_partition_spec(
        spark, path, ev.filter(F.col("event_id") % 2 == 1),
        source_col="ts", transform=hidden_day,
    )
    scan = read_evolved_day_range(
        spark, path, source_col="ts",
        lo="2024-01-05 00:00:00", hi="2024-01-20 00:00:00",
    )
    return (
        scan.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(
                F.floor(F.col("value") * 100 + F.lit(0.5)).cast("long")
            ).alias("sum_value_cents"),
        )
        .orderBy("event_type")
    )
