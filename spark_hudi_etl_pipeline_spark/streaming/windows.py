"""Structured Streaming operators over the events shape.

The reference's "streaming" is a batch-incremental watermark loop
(SURVEY.md §1.1); this module is the streaming-native tier the README
aspires to ("Event Streams", README.md:19; "Optimized for both batch and
streaming", :554): real ``withWatermark`` interval joins and chained
window rollups, plus foreachBatch sinks that reuse the batch timeline,
dedup-store and OHLC operators — the watermark loop made native.

All operators are transformations on an unbounded DataFrame; they work
identically on any streaming source (file/kafka/rate). Watermarks bound
state: at 100 TB/day the state store holds only open windows within the
lateness horizon instead of growing forever. The registered
``streaming_*`` queries build their tumbling, session and
within-watermark-dedup streams inline.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on,
    *,
    left_time: str,
    right_time: str,
    left_watermark: str = "1 hour",
    right_watermark: str = "1 hour",
    upper: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream inner join with an event-time interval bound:
    ``on`` (equality) AND ``left_time <= right_time <= left_time + upper``.

    Both sides carry watermarks, and the time-range conjunct is what lets
    the state store evict: a buffered left row can only ever match right
    rows within ``upper`` of it, so once the right watermark passes
    ``left_time + upper`` the row is dropped. Without the bound a
    stream-stream join buffers both sides forever — at 100 TB/day that is
    the difference between O(horizon × rate) and unbounded state.

    Works identically on batch DataFrames (watermarks are no-ops there),
    which is how the DuckDB oracle checks it.

    ``how="left_outer"`` emits unmatched left rows (null right columns)
    once the right watermark passes ``left_time + upper`` — the state
    eviction point doubles as the proof-of-no-match point, so outer
    results are exact, just deferred by the lateness horizon. (Inner
    emits matches immediately; only the null rows wait on eviction.)

    ``how="left_anti"`` (NOT supported natively for stream-stream by
    Spark) is DERIVED here as the outer join filtered to the null rows,
    projected back to the left schema — "which clicks did NOT convert
    within the hour", the abandonment-detection shape. Emission timing
    and state cost are exactly the outer join's: a left row is proven
    matchless (and emitted) only when the right watermark passes its
    bound. On batch inputs the derivation equals a native anti join,
    which is how the oracle checks it.
    """
    l = left.withWatermark(left_time, left_watermark)
    r = right.withWatermark(right_time, right_watermark)
    bound = (F.col(right_time) >= F.col(left_time)) & (
        F.col(right_time) <= F.col(left_time) + F.expr(f"INTERVAL {upper}")
    )
    if how == "left_anti":
        outer = l.join(r, on & bound, "left_outer")
        return outer.filter(F.col(right_time).isNull()).select(
            *[F.col(c) for c in left.columns]
        )
    return l.join(r, on & bound, how)


def chained_window_rollup(events: DataFrame) -> DataFrame:
    """Two chained stateful aggregations in ONE streaming query
    (Spark 3.4+ multiple-stateful-operator support): per-type counts in
    1-hour tumbling windows, then a 4-hour rollup over the finalized
    hourly windows via ``window_time`` — the streaming form of an
    hourly→daily rollup cube. Each stage's state is bounded by the
    30-minute watermark horizon; the fine aggregate also shrinks what the
    coarse stage shuffles by |types|×4 versus re-aggregating raw events.

    ``value`` is summed as DECIMAL(18,2) (the fixture values are exactly
    2-decimal) so partial-aggregation order can never move the result —
    output is integer cents.
    """
    fine_agg = (
        events.withWatermark("ts", "30 minutes")
        .groupBy(F.window("ts", "1 hour").alias("w1"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,2)")).alias("sv"),
        )
    )
    return (
        fine_agg.groupBy(F.window(F.window_time("w1"), "4 hours").alias("w2"))
        .agg(
            F.count(F.lit(1)).alias("n_type_hours"),
            F.sum("n_events").alias("n_events"),
            (F.sum("sv") * 100).cast("long").alias("sum_value_cents"),
        )
        .select(
            F.col("w2.start").alias("w_start"),
            "n_type_hours",
            "n_events",
            "sum_value_cents",
        )
    )


def foreach_batch_timeline_commit(target_path: str, *, base_instant: int = 0):
    """foreachBatch sink that appends each micro-batch as an immutable
    commit on the MOR timeline (operators/timeline.py) — streaming
    lakehouse ingest: O(batch) appends, no read-modify-write per batch,
    with time travel / incremental pull / compaction available on the
    result (Hudi's deltastreamer → deltacommit path).

    Commit instant = ``base_instant + batch_id + 1`` — monotone because
    Structured Streaming assigns batch ids monotonically. Exactly-once
    under retries: a REPLAYED batch (failure after the commit landed but
    before the streaming checkpoint advanced) finds its instant already
    on the timeline and skips — the same instant-exists check Hudi's
    streaming writer does.
    """
    from ..operators.timeline import commit_append, commit_instants

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        instant = base_instant + batch_id + 1
        if instant in commit_instants(batch_df.sparkSession, target_path):
            return  # replayed batch: its commit already landed
        commit_append(batch_df.sparkSession, batch_df, target_path, instant)

    return apply


def foreach_batch_dedup_store(
    store_table: str,
    verdict_path: str | None = None,
    *,
    run_tag: str = "run",
):
    """foreachBatch sink: incremental dedup of each micro-batch against
    the persisted fingerprint store (operators/dedup.py::
    fingerprint_store_ingest) — the reference's watermark loop
    (pipeline_architecture.py:221-224) applied to dedup, as a STREAMING
    stage: only the arriving batch is fingerprinted and probed; the
    corpus-sized store is bucket-joined, never rescanned or reshuffled.

    The store batch id is ``f"{run_tag}-{batch_id}"`` — Structured
    Streaming replays a micro-batch under the SAME batch_id after a
    failure before the checkpoint advanced, so a replayed batch lands on
    the ingest's idempotent-replay contract: first occurrences keep
    ``is_dup=0`` and the store does not grow twice.

    ``verdict_path``: optional parquet directory appended with each
    batch's per-row verdicts ``(id, fp, canonical_id, is_dup)``; when
    None the sink only maintains the store (the ingest's probe snapshot
    and store append are eager, so no extra action is needed).
    """
    from ..operators.dedup import fingerprint_store_ingest

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        verdicts = fingerprint_store_ingest(
            batch_df, store_table, batch_id=f"{run_tag}-{batch_id}"
        )
        if verdict_path is not None:
            verdicts.write.mode("append").parquet(verdict_path)

    return apply


def foreach_batch_ohlc_append(state_path: str, *, run_tag: str = "run"):
    """foreachBatch sink maintaining OHLC bar state incrementally (the
    deltastreamer-into-continuous-aggregate shape): each micro-batch
    APPENDS its per-(type, day) partial bars tagged with
    ``run_tag:batch_id``; readers fold the partials with
    :func:`operators.maintenance.merge_ohlc`, so the state stays
    mergeable and O(types × days × batches-touching-the-day) — never
    re-reading raw events.

    Exactly-once under checkpoint recovery: a replayed micro-batch id
    finds its own ``src`` tag already committed and skips — the same
    replay-idempotence contract as foreach_batch_dedup_store (sums
    would double-count otherwise; min/max alone wouldn't care). Each
    append is one manifest commit (``merge._commit_staged`` keeping
    every live file), so a batch that died mid-write left no ``src`` tag
    behind and its replay lands."""
    from ..operators.maintenance import ohlc_partial
    from ..operators.merge import _commit_staged, _read_files, table_record

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        src = f"{run_tag}:{batch_id}"
        rec = table_record(state_path)
        live = rec["files"]
        if live and _read_files(spark, state_path, rec, live).filter(
            F.col("src") == src
        ).limit(1).count():
            return
        partial = ohlc_partial(batch_df).withColumn("src", F.lit(src))
        _commit_staged(state_path, partial, rec["version"] + 1, live)

    return apply


def foreach_batch_minhash_store(
    store_table: str,
    verdict_path: str | None = None,
    *,
    run_tag: str = "run",
):
    """foreachBatch sink: incremental NEAR-dup detection of each
    micro-batch against the persisted MinHash band store
    (operators/dedup.py::minhash_store_ingest) — the fuzzy tier of the
    streaming dedup stage next to :func:`foreach_batch_dedup_store`'s
    exact tier. Only the arriving micro-batch is signed and banded; the
    corpus-sized store is bucket-joined, never rescanned.

    Store batch ids follow ``f"{run_tag}-{batch_id}"``, so a micro-batch
    replayed after a pre-checkpoint failure lands on the ingest's
    idempotent-replay contract (same verdicts, no store growth).

    ``verdict_path``: optional parquet directory appended with each
    batch's per-row verdicts (id, is_neardup, match_id, est_jaccard).
    """
    from ..operators.dedup import minhash_store_ingest

    def apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        verdicts = minhash_store_ingest(
            batch_df, store_table, batch_id=f"{run_tag}-{batch_id}"
        )
        if verdict_path is not None:
            verdicts.write.mode("append").parquet(verdict_path)

    return apply
