"""Deterministic dataset splitting and sampling for training-data
pipelines (north-star extension; BASELINE.json).

Random samplers (``df.sample``/``sampleBy``) are seed-reproducible only
within one Spark version and partitioning — useless as a contract when a
100 TB corpus is re-split months later on a different cluster. These
operators instead derive membership from a cryptographic hash of a stable
key column, so the assignment is a *pure function of the row*:

- identical across engines (the DuckDB oracles compute the same md5),
- stable under repartitioning, re-runs, and data append,
- parallelizable with zero coordination (no global sampling state).

The bucket is the first 4 hex chars of ``md5(key)`` compared against a
threshold string — lowercase fixed-width hex compares lexicographically
in numeric order, so ``substr(md5, 1, 4) < hex(frac * 16^4)`` keeps a
``frac`` share of keys (granularity 1/65536, plenty for split work).
Everything stays JVM-side built-in expressions (md5/substring/when) —
whole-stage codegen, no UDFs, no shuffle.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def hex_threshold(fraction: float) -> str:
    """4-hex-digit threshold such that a uniform hash prefix is below it
    with probability ≈ ``fraction``. 'zzzz' sorts above every hex string
    (covers fraction >= 1); '0000' sorts below-or-equal all (fraction 0)."""
    if fraction >= 1.0:
        return "zzzz"
    n = max(0, int(fraction * 65536))  # truncate: 0.8 -> 0xcccc exactly
    return format(n, "04x")


def hash_bucket(key: Column) -> Column:
    """First 4 hex chars of md5 of the key rendered as a string — the
    engine-portable uniform bucket (matches DuckDB's md5 byte-for-byte)."""
    return F.substring(F.md5(key.cast("string")), 1, 4)


def hash_split(
    df: DataFrame,
    key: str,
    splits: dict[str, float],
) -> DataFrame:
    """Assign every row to exactly one named split (e.g. train/valid/test),
    in column ``split``, by hash of ``key``. ``splits`` maps name -> fraction; fractions must
    sum to ~1 (the last split absorbs rounding remainder)."""
    total = sum(splits.values())
    if not 0.999 <= total <= 1.001:
        raise ValueError(f"split fractions must sum to 1, got {total}")
    bucket = hash_bucket(F.col(key))
    names = list(splits)
    expr: Column | None = None
    cum = 0.0
    for name in names[:-1]:
        cum += splits[name]
        cond = bucket < hex_threshold(cum)
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    expr = (
        F.lit(names[-1]) if expr is None else expr.otherwise(names[-1])
    )
    return df.withColumn("split", expr)


def hash_stratified_sample(
    df: DataFrame,
    key: str,
    strata: str,
    fractions: dict[str, float],
) -> DataFrame:
    """Keep a per-stratum fraction of rows, deterministically by hash of
    ``key`` (the reproducible form of ``sampleBy``): strata not listed in
    ``fractions`` are dropped. A pure filter — no shuffle,
    pushdown-friendly, and re-running on appended data never flips the
    membership of an already-sampled row."""
    bucket = hash_bucket(F.col(key))
    threshold: Column = F.lit(hex_threshold(0.0))
    for value, frac in fractions.items():
        threshold = (
            F.when(F.col(strata) == value, hex_threshold(frac)).otherwise(threshold)
        )
    return df.filter(bucket < threshold)


def weighted_pps_sample(
    df: DataFrame,
    key_col: str,
    weight_col: str,
    *,
    divisor: int,
) -> DataFrame:
    """Deterministic Poisson probability-proportional-to-size sample:
    row included with p = min(1, weight / divisor), decided by PURE
    INTEGER comparison u16 · divisor < weight · 65536 (u16 = the row's
    16-bit md5 bucket) — no floats anywhere in the inclusion rule, so
    the sample is bit-identical on any engine, partitioning, or run
    (the mixture-sampling shape: documents drawn ∝ length/token count
    so the sample's TOKEN budget, not its row count, tracks the corpus).

    Included rows carry the inverse-probability weight
    ``ipw_q = floor(1e6 · max(1, divisor/weight))`` (fixed-point, the
    exact-integer Horvitz-Thompson correction a downstream aggregate
    multiplies by to stay unbiased).

    Scale: a codegen'd filter+project over existing columns — no
    shuffle, no state, no coordination; composes under any scan and
    preserves pushdown of neighboring predicates. Weights must be
    positive integers ≤ ~2^46 (the comparison stays inside int64).
    """
    if divisor < 1:
        raise ValueError("divisor must be >= 1")
    u16 = F.conv(hash_bucket(F.col(key_col)), 16, 10).cast("long")
    w = F.col(weight_col).cast("long")
    kept = df.filter(u16 * F.lit(int(divisor)) < w * F.lit(65536))
    return kept.withColumn(
        "ipw_q",
        F.when(w >= divisor, F.lit(1_000_000))
        .otherwise(F.floor(F.lit(divisor * 1_000_000) / w))
        .cast("long"),
    )


def epoch_shuffle(
    df: DataFrame,
    key_col: str,
    *,
    epoch: int,
    shards: int,
) -> DataFrame:
    """Deterministic per-epoch global shuffle into training shards — the
    "shuffle the corpus before each epoch" primitive, as a pure function
    of (key, epoch) instead of an RNG: h = 32-bit md5 of
    ``epoch:<epoch>:<key>``; ``shard`` = h mod ``shards``; ``pos`` within
    the shard = rank of (h, key). Every epoch re-derives a fresh
    near-uniform permutation (the salt changes the hash), any worker can
    recompute its shard independently, and re-runs are bit-identical on
    any engine or partitioning.

    Scale: the hash is map-side; the only exchange is the partition-by-
    shard for the per-shard rank — each shard sorts independently, so at
    100 TB you raise ``shards`` until a shard fits an executor's sort
    budget (shard files are what the trainer consumes anyway). No global
    sort, no driver state.
    """
    if shards < 1:
        raise ValueError("shards must be >= 1")
    u32 = F.conv(
        F.substring(
            F.md5(
                F.concat(
                    F.lit(f"epoch:{int(epoch)}:"),
                    F.col(key_col).cast("string"),
                )
            ),
            1,
            8,
        ),
        16,
        10,
    ).cast("long")
    out = df.withColumn("_h", u32).withColumn(
        "shard", F.pmod(F.col("_h"), F.lit(int(shards))).cast("long")
    )
    w = Window.partitionBy("shard").orderBy(F.col("_h"), F.col(key_col))
    return out.withColumn("pos", F.row_number().over(w)).drop("_h")


def stratum_equalized_sample(
    df: DataFrame,
    key_col: str,
    stratum_col: str,
    *,
    target: int,
    salt: str = "",
) -> DataFrame:
    """Density-equalizing Poisson sample: every stratum contributes
    ~``target`` rows in expectation, p = min(1, target/|stratum|) — the
    cluster-pruning step of SemDeDup/DataComp-style curation (dense
    regions of a corpus are down-weighted so the sample covers the
    embedding space instead of its modes).

    The inclusion rule is PURE INTEGER — u16 · |stratum| < target ·
    65536, u16 = the row's salted 16-bit md5 bucket — so membership is
    bit-identical on any engine, partitioning, or run, and re-running on
    appended data never flips an already-sampled row (its stratum size
    changes p for NEW draws only if the caller recomputes sizes — the
    audit trail is the ``ipw_q`` carried on each kept row:
    ``(|stratum| · 1e6) div target`` for sampled strata, 1e6 where the
    stratum was kept whole — the exact-integer Horvitz-Thompson weight).

    Scale: one |strata|-row aggregate broadcast back onto the relation;
    the rule itself is a map-side filter. No shuffle of ``df`` beyond
    the size aggregate at any corpus size.
    """
    if target < 1:
        raise ValueError("target must be >= 1")
    sizes = df.groupBy(stratum_col).agg(F.count(F.lit(1)).alias("_csize"))
    u16 = F.conv(
        hash_bucket(F.concat(F.lit(salt), F.col(key_col).cast("string"))),
        16,
        10,
    ).cast("long")
    # Null-safe stratum match: a NULL-keyed stratum is a real stratum
    # (groupBy counts it) and must not silently vanish from the sample
    # through an equi-join.
    szs = sizes.withColumnRenamed(stratum_col, "_stratum")
    kept = (
        df.join(
            F.broadcast(szs),
            F.col(stratum_col).eqNullSafe(F.col("_stratum")),
        )
        .drop("_stratum")
        .filter(u16 * F.col("_csize") < F.lit(int(target) * 65536))
    )
    return kept.withColumn(
        "ipw_q",
        F.when(F.col("_csize") <= target, F.lit(1_000_000))
        .otherwise(F.expr(f"(_csize * 1000000) div {int(target)}"))
        .cast("long"),
    )


def kfold_assign(df: DataFrame, key_col: str, k: int) -> DataFrame:
    """Deterministic k-fold cross-validation assignment: ``fold`` =
    portable md5-60bit hash of the key, mod k. Map-only (no shuffle, no
    RNG state); the same key lands in the same fold on any cluster, any
    run, any engine — the DuckDB oracle recomputes folds bit-for-bit,
    and leakage-safety reduces to key identity (dedupe/canonicalize
    BEFORE folding, same contract as leakage_safe_split)."""
    from ..functions.text import portable_hash60

    if k < 2:
        raise ValueError(f"k must be >= 2, got {k}")
    return df.withColumn(
        "fold",
        F.pmod(portable_hash60(F.col(key_col).cast("string")), F.lit(k)),
    )
