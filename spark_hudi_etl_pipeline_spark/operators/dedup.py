"""Deduplication operator family (north-star extension; SURVEY.md §7
Phase 4): exact, fingerprint, MinHash+LSH, SimHash, n-gram Jaccard, and
embedding-cosine near-dup.

All operators are pure DataFrame transforms built from Catalyst
expressions (no Python UDFs): hashing is ``xxhash64``/``md5``, set math
is higher-order array functions, candidate generation is LSH band
bucketing — the standard web-scale dedup pipeline shape (shingle →
minhash → band → bucket-join → verify), which is how you avoid the O(n²)
pair blowup at 100 TB:

- signature computation is map-only (linear scan);
- the only shuffle is the explode+self-join on (band, bucket-hash),
  whose output is bounded by actual collisions, not n²;
- oversized buckets (degenerate content, e.g. empty docs) are capped so
  one hot bucket cannot produce a quadratic task.
"""

from __future__ import annotations

import random
import re

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import text
from ..functions.text import _let
from ..session import fan_out

MERSENNE_PRIME_31 = (1 << 31) - 1  # 2147483647

#: Seeded universal-hash coefficients (a, b) for MinHash permutations —
#: fixed seed ⇒ signatures are reproducible across runs/sessions.
_rng = random.Random(42)
MINHASH_COEFFS: list[tuple[int, int]] = [
    (_rng.randrange(1, MERSENNE_PRIME_31), _rng.randrange(0, MERSENNE_PRIME_31))
    for _ in range(64)
]


# --------------------------------------------------------------------------
# Exact dedup
# --------------------------------------------------------------------------


def exact_dedup(df: DataFrame, cols: list[str] | None = None) -> DataFrame:
    """Exact duplicate removal — hash groupBy under the hood
    (``dropDuplicates``), partial-agg'd map-side before the shuffle."""
    return df.dropDuplicates(cols) if cols else df.dropDuplicates()


def fingerprint_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Normalized-text dedup: md5 fingerprint of canonicalized text, keep
    the smallest id per fingerprint (deterministic keeper)."""
    fp = df.select(F.col(id_col), text.fingerprint(text_col).alias("fp"))
    keep = fp.groupBy("fp").agg(F.min(id_col).alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


def fingerprint_store_ingest(
    batch: DataFrame,
    store_table: str,
    *,
    id_col: str = "doc_id",
    fp_col: str = "fp",
    n_buckets: int = 32,
    batch_id: str | None = None,
) -> DataFrame:
    """Incremental exact dedup against a persisted fingerprint store —
    the operational 100-TB shape (reference pipeline_architecture.py's
    watermark loop :221-224 applied to dedup): each run checks only the
    NEW batch against an append-only store instead of re-deduping the
    whole corpus.

    The store is a catalog table bucketed by ``fp_col`` holding one row
    per fingerprint ever ingested, ``(fp, first_id)`` with ``first_id``
    = the id that introduced it (ingestion order; smaller id wins within
    a batch). Ingesting a batch:

    1. within-batch first-occurrence (one groupBy-min on the fp — the
       batch's only shuffle, and its output partitioning matches the
       store's bucket spec, so the store-side probe join reads buckets
       with NO exchange and the corpus-sized store is never reshuffled);
    2. left-probe the store → per-row verdict ``is_dup`` (fingerprint
       already in the store, or an earlier id in this batch) and
       ``canonical_id`` (the store's ``first_id`` if present, else the
       batch's first occurrence);
    3. append only the NEW fingerprints to the store (same bucket spec —
       the store grows by novel content only, stays sorted into the same
       layout, and the next batch probes it identically).

    The probe result is checkpointed BEFORE the append so verdicts
    reflect the store as it was when the batch arrived, not after its
    own fingerprints land.

    Retry semantics (``batch_id``): the store append is eager while the
    verdict DataFrame is lazy, so a run that fails after the append and
    is then replayed would — without a batch id — see its OWN
    fingerprints in the store and mark every row (including the only
    copy of each document) ``is_dup=1``. Passing a stable ``batch_id``
    per logical batch makes re-ingestion idempotent: each store row
    records which batch introduced its fingerprint, and a probe hit
    from the SAME batch falls back to first-occurrence semantics (the
    recorded ``first_id`` row comes back ``is_dup=0``, exactly as on
    the first attempt), while hits from other batches dedup as before.
    Replays also append nothing (their fingerprints are already
    present), so the store does not grow on retry. With the default
    ``batch_id=None`` every store hit is treated as foreign — callers
    that never retry keep the simple shape, but operational pipelines
    should pass the watermark/run identifier.
    """
    from ..sources.writers import write_bucketed

    spark = batch.sparkSession
    id_type = batch.schema[id_col].dataType
    exists = spark.catalog.tableExists(store_table)
    within = batch.groupBy(fp_col).agg(F.min(id_col).alias("_batch_first"))
    if exists:
        store_df = spark.table(store_table)
        # Migration path: stores created before src_batch tracking lack
        # the column; treat their rows as foreign-batch (pre-tracking
        # semantics) instead of failing the probe with an
        # AnalysisException.
        src_batch = (
            F.col("src_batch")
            if "src_batch" in store_df.columns
            else F.lit(None).cast("string")
        )
        store = store_df.select(
            fp_col,
            F.col("first_id").alias("_store_first"),
            src_batch.alias("_store_batch"),
        )
        probed = within.join(store, fp_col, "left")
    else:
        # Seed path: type the null literals to the REAL store schema —
        # a hardcoded long would make canonical_id's type flip between
        # the first batch and store-backed batches for non-long ids.
        probed = within.withColumn(
            "_store_first", F.lit(None).cast(id_type)
        ).withColumn("_store_batch", F.lit(None).cast("string"))
    probed = probed.localCheckpoint(eager=True)  # pre-append snapshot
    new_fps = probed.filter(F.col("_store_first").isNull()).select(
        F.col(fp_col),
        F.col("_batch_first").alias("first_id"),
        F.lit(batch_id).cast("string").alias("src_batch"),
    )
    if exists and "src_batch" not in spark.table(store_table).columns:
        # Appends to a legacy store must match its schema; its rows stay
        # batch-unattributed (replay idempotence starts at migration).
        new_fps = new_fps.drop("src_batch")
    write_bucketed(
        new_fps,
        store_table,
        bucket_cols=[fp_col],
        n_buckets=n_buckets,
        mode="append" if exists else "overwrite",
    )
    hit = F.col("_store_first").isNotNull()
    same_batch = (
        F.lit(False)
        if batch_id is None
        else F.col("_store_batch").eqNullSafe(F.lit(batch_id))
    )
    # Foreign store hit ⇒ dup of the store's first_id. Same-batch hit
    # (a replay) ⇒ first-occurrence semantics against the RECORDED
    # first_id. No hit ⇒ within-batch first occurrence wins.
    return batch.join(probed, fp_col).select(
        id_col,
        fp_col,
        F.coalesce("_store_first", "_batch_first").alias("canonical_id"),
        F.when(hit & same_batch, F.col(id_col) != F.col("_store_first"))
        .when(hit, F.lit(True))
        .otherwise(F.col(id_col) > F.col("_batch_first"))
        .cast("int")
        .alias("is_dup"),
    )


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------


def shingle_hashes(text_col, k: int = 5):
    """Column expr: distinct word-k-shingles → 31-bit hash values.

    Base hash is the engine-portable md5-60bit family
    (:func:`..functions.text.portable_hash60`), so MinHash signatures —
    and therefore LSH banding — are bit-identical in DuckDB: the
    candidate-pair pipeline is value-checkable by an exact SQL oracle
    rather than rows-only."""
    sh = F.array_distinct(text.shingles(text_col, k))
    return F.transform(
        sh, lambda s: F.pmod(text.portable_hash60(s), F.lit(MERSENNE_PRIME_31))
    )


def barrier_col(df: DataFrame, name: str, expr) -> DataFrame:
    """Attach ``expr`` as column ``name`` behind an optimization barrier.

    ``explode`` of a 1-element array plans a Generate node; Project does
    not collapse through Generate, so downstream operators reference the
    computed attribute instead of inlining (and re-executing) the
    expression per use site. No shuffle, no materialization — just a
    plan boundary. Use for expensive expressions consumed more than once
    (signatures, sketches)."""
    return df.select("*", F.explode(F.array(expr)).alias(name))


def minhash_signature(text_col, num_hashes: int = 32, k: int = 5):
    """Column expr: MinHash signature (array<bigint>, length
    ``num_hashes``) via seeded universal hashing
    ``min((a_i * h + b_i) mod p)`` over the shingle hash set.

    Single-pass: one ``aggregate`` over the shingle hashes updates all
    ``num_hashes`` minima per element (the shingle pipeline executes once
    per row, not once per permutation). All arithmetic stays < 2^62 so it
    is safe under ANSI overflow checks.
    """
    hashes = shingle_hashes(text_col, k)
    coeffs = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in MINHASH_COEFFS[:num_hashes]
        ]
    )
    init = F.array_repeat(F.lit(MERSENNE_PRIME_31).cast("long"), num_hashes)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            coeffs,
            lambda m, c: F.least(
                m, F.pmod(c["a"] * h + c["b"], F.lit(MERSENNE_PRIME_31))
            ),
        ),
    )


def minhash_signature_arrow(num_hashes: int = 32, k: int = 5):
    """Arrow-vectorized MinHash signature UDF — the hot-path twin of
    :func:`minhash_signature`.

    Catalyst higher-order functions are interpreted (no whole-stage
    codegen), which makes the pure-expression signature ~10× slower than
    this numpy formulation (measured: 6.6s vs 0.66s for 5k docs); at
    100 TB the signature scan is the dominant cost, so the Arrow path is
    the default. Same shingling semantics as functions.text.shingles
    (Java-regex-compatible ASCII normalize), same md5-60bit portable
    base hash as :func:`shingle_hashes`, same seeded universal-hash
    coefficients — the two implementations produce BIT-IDENTICAL
    signatures (asserted in tests/test_dedup.py), so either path
    hash-matches the DuckDB oracle.
    """
    import hashlib

    from pyspark.sql.types import ArrayType, LongType

    # Mirror Java regex \w (ASCII) — Python \w is unicode-wide.
    punct_re = re.compile(r"[^a-zA-Z0-9_\s]")
    ws_re = re.compile(r"\s+")
    coeff_a = np.array([a for a, _ in MINHASH_COEFFS[:num_hashes]], dtype=np.int64)[:, None]
    coeff_b = np.array([b for _, b in MINHASH_COEFFS[:num_hashes]], dtype=np.int64)[:, None]

    @F.pandas_udf(ArrayType(LongType()))
    def signature(texts: pd.Series) -> pd.Series:
        out = []
        for s in texts:
            toks = ws_re.sub(" ", punct_re.sub(" ", (s or "").lower())).strip().split(" ")
            if len(toks) <= k:
                sh = {" ".join(toks)}
            else:
                sh = {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}
            h = np.fromiter(
                (
                    int(hashlib.md5(x.encode()).hexdigest()[:15], 16)
                    for x in sh
                ),
                dtype=np.int64,
                count=len(sh),
            ) % MERSENNE_PRIME_31
            out.append((coeff_a * h[None, :] + coeff_b) % MERSENNE_PRIME_31)
            out[-1] = out[-1].min(axis=1)
        return pd.Series(out)

    return signature


def lsh_candidate_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    max_bucket: int = 1000,
) -> DataFrame:
    """LSH banding: split the signature into ``bands`` bands of
    ``num_hashes/bands`` rows, bucket by band hash, emit candidate id
    pairs (id_a < id_b) from co-bucketed docs.

    ``max_bucket`` drops degenerate buckets (near-constant content) so a
    single hot bucket can't go quadratic — the standard skew guard.
    """
    rows = num_hashes // bands
    sig_expr = minhash_signature_arrow(num_hashes, k)(F.col(text_col))
    # The signature stage is CPU-bound Python: one task per core.
    df = fan_out(df)
    # barrier_col: banding references the signature attribute through a
    # Generate boundary, so the shingle→minhash pipeline runs exactly
    # once per row (CollapseProject would otherwise inline it per band).
    sig = barrier_col(
        df.select(F.col(id_col), F.col(text_col)), "sig", sig_expr
    ).drop(text_col)
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.xxhash64(F.slice(F.col("sig"), j * rows + 1, rows)).alias("bucket"),
            )
            for j in range(bands)
        ]
    )
    banded = sig.select(
        F.col(id_col), F.explode(band_structs).alias("bb")
    ).select(id_col, "bb.band", "bb.bucket")
    # banded is consumed three times (bucket counts + both self-join
    # sides); materialize it once so the signature scan runs once, not
    # 3×. It is tiny relative to the corpus — (id, band, bucket) ≈ 24
    # bytes × bands per doc — the standard persist point in LSH; at
    # cluster scale this is persist(MEMORY_AND_DISK), here localCheckpoint
    # also truncates the lineage Spark would otherwise re-plan per branch.
    banded = banded.localCheckpoint(eager=True)
    counts = banded.groupBy("band", "bucket").count()
    small = banded.join(
        F.broadcast(counts.filter(F.col("count") <= max_bucket).select("band", "bucket")),
        on=["band", "bucket"],
    )
    a = small.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_a"))
    b = small.select(F.col("band"), F.col("bucket"), F.col(id_col).alias("id_b"))
    return (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
) -> DataFrame:
    """Near-duplicate pairs: LSH candidates verified with the exact
    shingle-set Jaccard (array_intersect/array_union) ≥ ``threshold``.
    Verification touches only candidate pairs — never all pairs — and
    shingle sets are computed only for docs that appear in a candidate
    pair (semi-join prefilter), so the expensive second shingling pass
    scales with collisions, not corpus size."""
    cands = lsh_candidate_pairs(
        df, id_col, text_col, num_hashes=num_hashes, bands=bands, k=k
    )
    # Candidate pairs are consumed twice (prefilter + verify join) and are
    # small by construction (bounded by bucket collisions) — materialize
    # once instead of re-running the LSH pipeline per consumer.
    cands = cands.localCheckpoint(eager=True)
    involved = (
        cands.select(F.col("id_a").alias(id_col))
        .union(cands.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    sh = barrier_col(
        df.join(F.broadcast(involved), on=id_col, how="left_semi"),
        "sh",
        F.array_distinct(text.shingles(text_col, k)),
    ).select(F.col(id_col), "sh")
    joined = (
        cands.join(sh.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "sh_a"), on="id_a")
        .join(sh.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "sh_b"), on="id_b")
    )
    jac = F.size(F.array_intersect("sh_a", "sh_b")) / F.size(
        F.array_union("sh_a", "sh_b")
    )
    return (
        joined.select("id_a", "id_b", F.round(jac, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def _shingled(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """``(id, sh, sz)``: distinct shingle set + size per document, one
    shingling pass (Generate barrier)."""
    sh = barrier_col(
        fan_out(df.select(F.col(id_col).alias("id"), F.col(text_col))),
        "sh",
        F.array_distinct(text.shingles(text_col, k)),
    )
    return sh.select("id", "sh", F.size("sh").alias("sz"))


def _prefix_inverted_index(sh: DataFrame, threshold: float) -> DataFrame:
    """Prefix-filtered inverted index (AllPairs/PPJoin; Bayardo et al.
    WWW'07, Xiao et al. WWW'08): rank each document's shingles in the
    global (document-frequency ASC, shingle) order and keep only the
    first ``sz − ⌈t·sz⌉ + 1`` as join keys.

    EXACT for Jaccard ≥ t: if ``|A∩B| ≥ ⌈t·max(|A|,|B|)⌉`` then the
    globally-smallest common shingle lies inside BOTH prefixes
    (pigeonhole on the suffix), so a prefix-prefix collision is
    guaranteed for every qualifying pair. The corpus-frequent
    boilerplate shingle that makes an unfiltered inverted-index
    self-join quadratic sorts LAST in this order, so it is excluded
    from prefixes unless a document consists almost entirely of hot
    shingles — in which case the output itself is quadratic and no
    exact operator can do better.

    The prefix length is derived from the EFFECTIVE rounded threshold
    ``t − 5e-5``, not ``t`` (r12 advisor): the emit filter downstream
    admits pairs on the 4-decimal grid (``round(ratio, 4) ≥ t``), so a
    pair with true similarity in ``[t − 5e-5, t)`` rounds up and must
    still be guaranteed a prefix collision — deriving the length from
    raw ``t`` would let such a pair slip the candidate join once
    documents grow past ~20k distinct shingles. The ``⌈·⌉`` is computed
    on ``t_eff·sz − 1e-9`` so a floating-point wobble can only LENGTHEN
    a prefix (more candidates, same verified output), never shorten one.

    Returns ``(id, sz, shingle)`` rows — the prefix entries only.
    """
    inv = sh.select("id", "sz", F.explode("sh").alias("shingle"))
    dfreq = inv.groupBy("shingle").agg(F.count(F.lit(1)).alias("dfreq"))
    # Linear shuffle on the shingle (hot keys are skewed but O(n) rows,
    # split by AQE) — NOT the quadratic pair join this index prevents.
    ranked = inv.join(dfreq, on="shingle").withColumn(
        "rk",
        F.row_number().over(Window.partitionBy("id").orderBy("dfreq", "shingle")),
    )
    t_eff = max(threshold - 5e-5, 0.0)
    plen = F.greatest(
        F.lit(1),
        F.col("sz") - F.ceil(F.lit(t_eff) * F.col("sz") - F.lit(1e-9)) + 1,
    )
    return ranked.filter(F.col("rk") <= plen).select("id", "sz", "shingle")


def _verified_pairs(sh: DataFrame, cands: DataFrame) -> DataFrame:
    """Exact ``(id_a, id_b, common, sz_a, sz_b)`` for candidate pairs:
    semi-join the shingle sets down to involved docs, then intersect the
    full arrays per pair. Cost is O(|A|+|B|) per CANDIDATE, never
    all-pairs."""
    cands = cands.localCheckpoint(eager=True)
    involved = (
        cands.select(F.col("id_a").alias("id"))
        .union(cands.select(F.col("id_b").alias("id")))
        .distinct()
    )
    # No hint, no size gate (r13 optimization round): the candidate
    # relation is eagerly checkpointed, so AQE has EXACT runtime stats
    # for the involved-id set and converts the semi-join to broadcast
    # itself whenever it fits — the scale-adaptive behavior the r12
    # advisor asked for, without the memory risk of a forced broadcast
    # on a high-duplication corpus. The r13-build size-gate
    # (cands.count() <= 5M, then hint) paid a whole extra job per call
    # and measured SLOWEST of the three shapes at sf0.1
    # (count-gate 2.83 s, forced broadcast 2.74 s, AQE 2.44 s
    # min-of-3); the earlier "dropping the hint reads 1.8×" A/B datum
    # did not reproduce on a quiet box and was contention.
    sets = sh.join(involved, on="id", how="left_semi")
    a = sets.select(
        F.col("id").alias("id_a"), F.col("sh").alias("sh_a"), F.col("sz").alias("sz_a")
    )
    b = sets.select(
        F.col("id").alias("id_b"), F.col("sh").alias("sh_b"), F.col("sz").alias("sz_b")
    )
    return (
        cands.join(a, on="id_a")
        .join(b, on="id_b")
        .select(
            "id_a",
            "id_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("common"),
            "sz_a",
            "sz_b",
        )
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.5,
    k: int = 5,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via a PREFIX-FILTERED
    shingle inverted index (AllPairs/PPJoin): candidates are generated by
    self-joining only each document's ``sz − ⌈t·sz⌉ + 1`` globally-rarest
    shingles (:func:`_prefix_inverted_index` — exact at threshold ``t``,
    and the fix for the hot-boilerplate-shingle quadratic blowup of a
    full inverted-index self-join), then verified with the exact
    array-intersection Jaccard. Exact (no LSH approximation). The
    SQL-expressible twin of :func:`minhash_dedup_pairs` (DuckDB oracle in
    plans/dedup_plans.py computes the same result the direct way — the
    gate proves the filter lossless)."""
    sh = _shingled(df, id_col, text_col, k)
    prefix = _prefix_inverted_index(sh, threshold)
    cands = (
        prefix.alias("a")
        .join(prefix.alias("b"), on="shingle")
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    v = _verified_pairs(sh, cands)
    return (
        v.select(
            "id_a",
            "id_b",
            F.round(
                F.col("common") / (F.col("sz_a") + F.col("sz_b") - F.col("common")), 4
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .orderBy("id_a", "id_b")
    )


def containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    threshold: float = 0.8,
    k: int = 5,
) -> DataFrame:
    """Directional shingle CONTAINMENT pairs — |A∩B| / |A| (and / |B|) —
    the asymmetric dual of :func:`ngram_jaccard_pairs`. Catches
    subset-duplication Jaccard misses: a short document quoted whole
    inside a long one has containment ≈ 1 but Jaccard ≈ |A|/|B| (tiny).

    A pair is emitted when EITHER direction reaches ``threshold``, i.e.
    ``|A∩B| ≥ ⌈t·min(|A|,|B|)⌉`` — so the prefix bound holds for the
    SMALLER document only, and candidate generation is the ASYMMETRIC
    prefix join: the smaller side's prefix (exact at ``t`` by the same
    pigeonhole as Jaccard) probes the other side's FULL inverted index.
    The hot boilerplate shingle still appears on the full side, but its
    prefix-side entry count is ~0 (it sorts last in the
    document-frequency order), so its join contribution is linear in
    corpus size, not quadratic. Verification is exact array
    intersection."""
    sh = _shingled(df, id_col, text_col, k)
    prefix = _prefix_inverted_index(sh, threshold)
    inv = sh.select("id", "sz", F.explode("sh").alias("shingle"))
    cands = (
        prefix.alias("a")
        .join(inv.alias("b"), on="shingle")
        # The prefix bound is valid when the prefix side is the smaller
        # set; ties broken by id so each unordered pair probes once.
        .filter(
            (F.col("a.sz") < F.col("b.sz"))
            | ((F.col("a.sz") == F.col("b.sz")) & (F.col("a.id") < F.col("b.id")))
        )
        .select(
            F.least("a.id", "b.id").alias("id_a"),
            F.greatest("a.id", "b.id").alias("id_b"),
        )
        .distinct()
    )
    v = _verified_pairs(sh, cands)
    return (
        v.select(
            "id_a",
            "id_b",
            F.round(F.col("common") / F.col("sz_a"), 4).alias("cont_a_q"),
            F.round(F.col("common") / F.col("sz_b"), 4).alias("cont_b_q"),
        )
        .filter(F.greatest("cont_a_q", "cont_b_q") >= threshold)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------


#: SimHash width: 60 bits — exactly the md5-60bit portable hash width,
#: so every simhash bit is an honest hash bit and the whole pipeline is
#: reproducible in DuckDB (the old 64-bit xxhash64 form had no SQL twin).
#: All masks positive (< 2^60), no sign-bit special case.
SIMHASH_BITS = 60
_BIT_MASKS = [1 << i for i in range(SIMHASH_BITS)]


def simhash_expr(text_col):
    """Column expr: 60-bit SimHash — portable-md5-hash each normalized
    token, per-bit majority vote, reassembled into one long.

    Entirely map-side (single ``aggregate`` pass over the token hashes;
    no explode, no shuffle): at 100 TB simhash is a plain projection that
    pipelines with the scan. Base hash is
    :func:`..functions.text.portable_hash60`, so values are
    bit-reproducible in DuckDB (exact oracle in plans/dedup_plans.py)."""
    masks = F.array(*[F.lit(m) for m in _BIT_MASKS])
    token_hashes = F.transform(
        text.tokens(text.normalize(text_col)), lambda t: text.portable_hash60(t)
    )
    votes = F.aggregate(
        token_hashes,
        F.array_repeat(F.lit(0), SIMHASH_BITS),
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


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Per-document 60-bit SimHash (see :func:`simhash_expr`)."""
    return df.select(F.col(id_col), simhash_expr(text_col).alias("simhash"))


def simhash_pairs(
    df: DataFrame, id_col: str, text_col: str, *, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by SimHash: band the 60-bit hash into 4×15-bit
    chunks; by pigeonhole any pair within hamming distance ≤ 3 shares at
    least one chunk → join on (chunk_idx, chunk), verify with
    ``bit_count(xor) <= max_hamming``. Same no-O(n²) shape as MinHash-LSH;
    with the portable base hash the whole pipeline has an exact DuckDB
    twin (plans/dedup_plans.py::dedup_simhash).
    """
    # Generate barrier: the 4 chunk expressions + the passthrough column
    # reference the simhash attribute instead of CollapseProject inlining
    # (and re-running) tokenize+vote 5× per row.
    sh = barrier_col(
        fan_out(df.select(F.col(id_col), F.col(text_col))),
        "simhash",
        simhash_expr(text_col),
    ).drop(text_col)
    chunks = sh.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("cidx"),
                        F.shiftrightunsigned("simhash", j * 15)
                        .bitwiseAND(F.lit(0x7FFF))
                        .alias("chunk"),
                    )
                    for j in range(4)
                ]
            )
        ).alias("cc"),
    ).select("id", "simhash", "cc.cidx", "cc.chunk")
    # chunks feeds both self-join sides; one materialization keeps the
    # interpreted tokenize+vote expression to a single pass (same
    # rationale as the banded checkpoint in lsh_candidate_pairs).
    chunks = chunks.localCheckpoint(eager=True)
    a = chunks.select(
        "cidx", "chunk", F.col("id").alias("id_a"), F.col("simhash").alias("sh_a")
    )
    b = chunks.select(
        "cidx", "chunk", F.col("id").alias("id_b"), F.col("simhash").alias("sh_b")
    )
    return (
        a.join(b, on=["cidx", "chunk"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# Embedding near-dup
# --------------------------------------------------------------------------


def _gemm_block_candidates(base: DataFrame, threshold: float, margin: float) -> DataFrame:
    """Per-block candidate pairs via one dense normalized matrix product
    (``applyInPandas``): O(n_block² · d) in BLAS instead of an
    interpreted expression per pair — measured ~10× over the HOF cosine
    join at 5k vectors. ``margin`` loosens the GEMM threshold so binary
    rounding differences can never drop a pair the exact verify would
    keep. Memory is n_block² per task, which is exactly what the
    blocking key is there to bound."""

    def per_block(pdf: pd.DataFrame) -> pd.DataFrame:
        ids = pdf["id"].to_numpy()
        if len(ids) < 2:
            return pd.DataFrame({"id_a": np.array([], dtype=np.int64),
                                 "id_b": np.array([], dtype=np.int64)})
        m = np.array(pdf["v"].tolist(), dtype=np.float64)
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        m = m / norms[:, None]
        sims = m @ m.T
        iu = np.triu_indices(len(ids), k=1)
        keep = sims[iu] >= threshold - margin
        ia, ib = iu[0][keep], iu[1][keep]
        return pd.DataFrame(
            {"id_a": np.minimum(ids[ia], ids[ib]),
             "id_b": np.maximum(ids[ia], ids[ib])}
        )

    return base.groupBy("blk").applyInPandas(per_block, "id_a long, id_b long")


def embedding_neardup_pairs(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    threshold: float = 0.9,
    block_col: str | None = None,
) -> DataFrame:
    """Cosine near-duplicate pairs over an embedding column.

    ``block_col`` restricts comparisons to within a blocking key (e.g. an
    LSH bucket or cluster id) — the scale path: candidates come from a
    per-block dense GEMM (Arrow-batched, BLAS), then ONLY candidates get
    the exact expression-level cosine so output values are bit-identical
    to the unblocked formulation (and its SQL oracle). Without
    ``block_col`` this is the exact O(n²) verify, acceptable only for
    small n.
    """
    from ..functions import vectors

    cols = [F.col(id_col).alias("id"), F.col(vec_col).alias("v")]
    if block_col:
        cols.append(F.col(block_col).alias("blk"))
    base = df.select(*cols)
    if block_col:
        # The exact branch filters on round(cosine, 4) >= threshold, so a
        # raw similarity as low as threshold - 5e-5 can survive; the GEMM
        # prefilter margin must exceed that rounding band plus fp noise.
        cands = _gemm_block_candidates(base, threshold, margin=1e-4)
        vec_a = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
        vec_b = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
        joined = cands.join(vec_a, on="id_a").join(vec_b, on="id_b")
    else:
        a = base.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"))
        b = base.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"))
        # Broadcast the right side: this branch is the small-n exact
        # verify (n² pairs), so b always fits, and the hint turns the
        # plan into a single-pass BroadcastNestedLoopJoin. Without it,
        # sources with unknown stats (e.g. local collections) plan a
        # CartesianProduct with P_a × P_b tasks — measured 33s vs 0.3s
        # on a 4-row frame because each task re-pulls a Python-backed
        # partition through a worker round-trip.
        joined = a.crossJoin(F.broadcast(b)).filter(F.col("id_a") < F.col("id_b"))
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(vectors.cosine("v_a", "v_b"), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# Dedup resolution: pair graph → canonical representative
# --------------------------------------------------------------------------


def _ckpt_tracked(df: DataFrame) -> tuple[DataFrame, set[int]]:
    """``localCheckpoint(eager=True)`` plus the persistent-RDD ids it
    created, so the caller can free them deterministically.

    ``DataFrame.unpersist`` only touches cache-manager entries, not the
    RDD blocks a local checkpoint pins, so without this an iterative
    algorithm's executor storage grows one checkpoint per round until
    driver GC happens to collect the JVM-side Dataset. The id diff
    assumes no concurrent checkpointing on the same session (true for
    this repo's drivers); a stray concurrent id would at worst free a
    recomputable cached RDD early."""
    sc = df.sparkSession.sparkContext
    before = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint(eager=True)
    after = set(sc._jsc.getPersistentRDDs().keySet().toArray())
    return out, after - before


def _free_ckpts(df: DataFrame, ids: set[int]) -> None:
    """Unpersist the checkpoint RDDs behind ``ids`` (non-blocking)."""
    jmap = df.sparkSession.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        jrdd = jmap.get(rid)
        if jrdd is not None:
            jrdd.unpersist(False)


def _cc_star(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str,
    max_iterations: int,
) -> tuple[DataFrame, int]:
    """Alternating large-star/small-star connected components.

    One round = large-star then small-star, each a groupBy-min over the
    symmetric edge view plus a rewired-edge projection:

    - large-star: every neighbor v > u is re-pointed at
      m = min(N(u) ∪ {u});
    - small-star: every neighbor v < u (and u itself) is re-pointed at
      m = min(N<(u) ∪ {u}).

    The edge set strictly contracts toward per-component stars rooted at
    the component minimum; the paper proves O(log n) rounds. Fixpoint =
    the canonicalized edge set is unchanged (one symmetric-difference
    probe job per round over the two checkpointed sets). Returns
    ``(labels, rounds_used)`` so scale probes can assert the round
    count's growth law.
    """
    node_ids = nodes.select(F.col(id_col).alias("node"))
    e, e_ids = _ckpt_tracked(
        edges.select(F.col("id_a").alias("a"), F.col("id_b").alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
    )
    rounds = 0
    if e.limit(1).count() > 0:
        converged = False
        for _ in range(max_iterations):
            rounds += 1
            sym = e.unionByName(
                e.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            # large-star: m = min(N(u) ∪ {u}); emit (v, m) for v > u.
            mins = (
                sym.groupBy("u")
                .agg(F.min("v").alias("mn"))
                .select("u", F.least("mn", "u").alias("m"))
            )
            large = (
                sym.join(mins, "u")
                .filter(F.col("v") > F.col("u"))
                .select(F.col("v").alias("a"), F.col("m").alias("b"))
            )
            # Checkpointed because sym1 below consumes e1 TWICE (the
            # union with its swap) — lazy, the large-star join+distinct
            # would execute once per side.
            e1, e1_ids = _ckpt_tracked(
                large.filter(F.col("a") != F.col("b"))
                .select(
                    F.least("a", "b").alias("u"),
                    F.greatest("a", "b").alias("v"),
                )
                .distinct()
            )
            # small-star: m = min(N<(u) ∪ {u}); emit (v, m) for v < u
            # plus (u, m).
            sym1 = e1.unionByName(
                e1.select(F.col("v").alias("u"), F.col("u").alias("v"))
            )
            nsmall = sym1.filter(F.col("v") < F.col("u"))
            mins1 = nsmall.groupBy("u").agg(F.min("v").alias("m"))
            small = nsmall.join(mins1, "u").select(
                F.col("v").alias("a"), F.col("m").alias("b")
            ).unionByName(
                mins1.select(F.col("u").alias("a"), F.col("m").alias("b"))
            )
            e2, e2_ids = _ckpt_tracked(
                small.filter(F.col("a") != F.col("b"))
                .select(
                    F.least("a", "b").alias("u"),
                    F.greatest("a", "b").alias("v"),
                )
                .distinct()
            )
            # Fixpoint probe in ONE job: both relations are distinct
            # sets, so any symmetric-difference row appears exactly once
            # in the union's (u, v) counts.
            unchanged = (
                e.unionByName(e2)
                .groupBy("u", "v")
                .agg(F.count(F.lit(1)).alias("n"))
                .filter(F.col("n") == 1)
                .limit(1)
                .count()
                == 0
            )
            # The fixpoint probe above was the last consumer of the
            # previous round's edge set and of the intermediate e1 —
            # free their checkpoint blocks now that e2 is materialized,
            # so executor storage stays O(current edge set) instead of
            # O(rounds) (advisor finding, round 5).
            _free_ckpts(e, e_ids | e1_ids)
            e, e_ids = e2, e2_ids
            if unchanged:
                converged = True
                break
        if not converged:
            raise RuntimeError(
                f"connected_components(star) did not converge in "
                f"{max_iterations} rounds; raise max_iterations "
                "(labels would be wrong)"
            )
    # At the fixpoint every non-root node has a direct edge to its
    # component minimum: label = min(neighbors ∪ self).
    sym = e.unionByName(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    lab = sym.groupBy("u").agg(F.min("v").alias("mn"))
    labels = (
        node_ids.join(lab, node_ids.node == lab.u, "left")
        .select(
            F.col("node").alias(id_col),
            F.least(
                F.col("node"), F.coalesce(F.col("mn"), F.col("node"))
            ).alias("canonical_id"),
        )
    )
    return labels, rounds


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    *,
    id_col: str = "id",
    max_iterations: int = 20,
    algorithm: str = "star",
) -> DataFrame:
    """Label every node with the minimum id reachable through the
    (undirected) edge set — the canonical-representative step that turns
    near-dup PAIRS into a keep/drop decision per document.

    ``edges`` must have columns (id_a, id_b). Two interchangeable
    engines (identical output — the component-minimum label):

    - ``algorithm="star"`` (default): alternating large-star/small-star
      (Kiveris et al., "Connected Components in MapReduce and Beyond").
      Each round rewires every node toward its neighborhood minimum, so
      the edge relation converges to per-component stars in
      O(log n) rounds REGARDLESS of graph diameter — the cluster-scale
      choice when near-dup graphs chain (a path of k pairwise-similar
      docs has diameter k).
    - ``algorithm="label_prop"``: iterative min-label propagation with
      pointer jumping — O(log diameter) rounds, one (node, label) state
      table; marginally cheaper per round on the tiny-clique graphs
      fuzzy dedup usually produces (diameter ≤ 2-3 ⇒ 2-3 rounds).

    Both shuffle on node/edge ids only, AQE-coalesced, with per-round
    checkpoints truncating lineage so round N's plan doesn't replay
    rounds 1..N-1.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iterations`` — a silently-unconverged labeling would hand back
    WRONG canonical ids, which is worse than failing.
    """
    if algorithm == "star":
        labels, _rounds = _cc_star(nodes, edges, id_col, max_iterations)
        return labels
    if algorithm != "label_prop":
        raise ValueError(f"unknown algorithm {algorithm!r}")
    sym = edges.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    ).unionByName(
        edges.select(F.col("id_b").alias("src"), F.col("id_a").alias("dst"))
    )
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    sym = sym.localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iterations):
        neighbor_min = (
            sym.join(labels, sym.dst == labels.node)
            .groupBy("src")
            .agg(F.min("label").alias("nbr_label"))
        )
        updated = (
            labels.join(neighbor_min, labels.node == neighbor_min.src, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            # checkpoint BEFORE the self-join below, or the neighbor
            # aggregation would execute twice per round (once per side).
            .localCheckpoint(eager=True)
        )
        # Pointer jumping: adopt the label OF my current label — each
        # round the pointer chain halves, so a path graph converges in
        # O(log diameter) rounds instead of O(diameter).
        as_parent = updated.select(
            F.col("node").alias("p_node"), F.col("label").alias("p_label")
        )
        updated = (
            updated.join(as_parent, updated.label == as_parent.p_node, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("p_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            updated.alias("u")
            .join(labels.alias("l"), on="node")
            .filter(F.col("u.label") != F.col("l.label"))
            .limit(1)
            .count()
        )
        labels = updated
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iterations} "
            "iterations; raise max_iterations (labels would be wrong)"
        )
    return labels.select(F.col("node").alias(id_col), F.col("label").alias("canonical_id"))


#: Above this cluster count semantic_dedup switches from flat n·k
#: assignment to the two-level coarse-quantizer path (n·2√k) — flat is
#: exact and cheap below it, quadratic-in-corpus above it (k ∝ n).
#: Measured at the 64× curation probe (128k rows, k=1024): flat 191.6s
#: vs two-level 13.3s — 14×; at k=256 flat is still cheap, so the
#: switch sits just above it.
TWO_LEVEL_MIN_K = 256


def auto_cluster_count(
    corpus_rows: int, *, target_cluster_size: int = 512
) -> int:
    """The SemDeDup k ∝ n rule as code: clusters needed so the MEAN
    cluster size stays at ``target_cluster_size`` — the unit the
    per-cluster pair GEMM is quadratic in. Holding k constant while the
    corpus grows makes pair generation quadratic in corpus size by
    definition (measured in SCALE.md); sizing k from n keeps it linear."""
    if target_cluster_size < 1:
        raise ValueError("target_cluster_size must be >= 1")
    return max(1, -(-corpus_rows // target_cluster_size))


def semantic_dedup(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    *,
    n_clusters: int | None = None,
    target_cluster_size: int = 512,
    threshold: float = 0.9,
    max_iterations: int = 20,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): cluster the embedding space, find cosine
    near-duplicate pairs ONLY within each cluster, and keep one
    representative per duplicate group (the minimum id of its connected
    component — the repo-wide canonical convention).

    Composition of existing primitives, each already scale-shaped:

    1. :func:`~.similarity.ivf_centroids` + ``ivf_assign`` — the
       deterministic seed-free clustering (centroids broadcast, corpus
       assignment is map-only, no shuffle of the vectors);
    2. :func:`embedding_neardup_pairs` blocked on the cluster id — the
       per-cluster dense-GEMM candidate step bounds pair count to
       Σ n_cluster², never corpus²  (exactly the SemDeDup trick: the
       paper dedups within k-means clusters for the same reason);
    3. :func:`connected_components` — pairs → canonical representative.

    Returns (id, cluster_id, canonical_id, keep): ``keep`` marks the
    component representative; filtering on it yields the deduplicated
    corpus. Fully deterministic — value-checkable against a SQL oracle
    (no random seeds anywhere).

    Scaling rule (measured, SCALE.md lifecycle probe): ``n_clusters``
    must grow with the corpus so cluster SIZE — the unit the per-cluster
    GEMM is quadratic in — stays bounded (the SemDeDup paper runs k ∝ n
    for the same reason). A fixed cluster count makes pair generation
    quadratic in corpus size by definition, not by implementation.
    The DEFAULT (``n_clusters=None``) therefore sizes k automatically
    from the corpus via :func:`auto_cluster_count` (one count() job) so
    a caller cannot hold k constant by accident; pass an explicit
    ``n_clusters`` only when pinning k deliberately (tests, oracles).
    """
    from .similarity import ivf_assign, ivf_centroids

    if n_clusters is None:
        n_clusters = auto_cluster_count(
            df.count(), target_cluster_size=target_cluster_size
        )
    from .similarity import ivf_assign_two_level

    centroids = ivf_centroids(
        df, corpus_id=id_col, vec_col=vec_col, n_centroids=n_clusters
    )
    # Flat assignment is n·k cosines — with the auto-k rule (k ∝ n)
    # that term is QUADRATIC in corpus size and dominates the 64×
    # curation probe. Above TWO_LEVEL_MIN_K the coarse-quantizer path
    # (n·2√k) takes over; below it (tests, oracles, small corpora) the
    # exact flat argmax runs — same auto-switch pattern as auto-k
    # itself. Two-level moves only borderline vectors between adjacent
    # clusters (quality floor asserted in tests/test_similarity.py).
    if n_clusters > TWO_LEVEL_MIN_K:
        assigned = ivf_assign_two_level(
            df, centroids, id_col=id_col, vec_col=vec_col, out_vec="__v"
        ).select(
            F.col(id_col), "__v", F.col("centroid_id").alias("cluster_id")
        )
    else:
        assigned = ivf_assign(
            df, centroids, id_col=id_col, vec_col=vec_col,
            out_vec="__v", nprobe=1,
        ).select(
            F.col(id_col), "__v", F.col("centroid_id").alias("cluster_id")
        )
    # Assignment feeds three consumers (pairs, the node list, the final
    # join); it is one narrow map over the corpus but each replay would
    # re-run the centroid window — materialize once.
    assigned = assigned.localCheckpoint(eager=True)
    pairs = embedding_neardup_pairs(
        assigned, id_col, "__v", threshold=threshold, block_col="cluster_id"
    )
    comp = connected_components(
        assigned.select(id_col),
        pairs.select("id_a", "id_b"),
        id_col=id_col,
        max_iterations=max_iterations,
    )
    return (
        assigned.select(id_col, "cluster_id")
        .join(comp, on=id_col)
        .select(
            id_col,
            "cluster_id",
            "canonical_id",
            (F.col(id_col) == F.col("canonical_id")).alias("keep"),
        )
    )


def ngram_novelty(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text", k: int = 5
) -> DataFrame:
    """Per-document n-gram novelty: of the doc's distinct word-k-shingles,
    the fraction first owned by the doc itself (ownership = min id over
    the corpus), as a 1e6 fixed-point integer. Near-copies of earlier
    docs score ~0; originals score 1e6.

    Scale: shingles shuffle as xxhash64 codes, never strings; the
    ownership groupBy and the join back share one hash partitioning on
    the code, and the per-doc count is the only other shuffle — nothing
    all-pairs, state O(distinct shingles)."""
    sh = df.select(
        F.col(id_col),
        F.explode(F.array_distinct(text.shingles(text_col, k))).alias("shingle"),
    ).select(F.col(id_col), F.xxhash64("shingle").alias("g"))
    owner = sh.groupBy("g").agg(F.min(id_col).alias("first_doc"))
    return (
        sh.join(owner, "g")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_shingles"),
            F.sum((F.col("first_doc") == F.col(id_col)).cast("long")).alias(
                "n_novel"
            ),
        )
        .select(
            F.col(id_col),
            "n_shingles",
            "n_novel",
            F.expr("(1000000 * n_novel) DIV n_shingles").alias("novelty_q"),
        )
    )


# --------------------------------------------------------------------------
# Verbatim-span dedup (the "substring dedup" of Lee et al., "Deduplicating
# Training Data Makes Language Models Better"): documents that share an
# exact normalized character window, caught even when the documents as a
# WHOLE are dissimilar (a copied paragraph inside otherwise-unique pages
# — the case whole-document fingerprints and shingle-Jaccard both miss).
# --------------------------------------------------------------------------


def shared_window_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    window: int = 64,
    stride: int = 32,
    max_bucket: int = 64,
) -> DataFrame:
    """Pairs of documents sharing at least one exact ``window``-char
    normalized span sampled every ``stride`` chars, with the number of
    distinct shared spans per pair.

    Shape (the same no-O(n²) discipline as LSH banding): window hashing
    is MAP-ONLY inside the row (Column.substr with computed offsets —
    one normalize pass, no per-window row until the explode); the only
    shuffle keys are (window-hash) for the inverted-index self-join,
    whose output is bounded by true collisions; buckets over
    ``max_bucket`` docs (degenerate content — empty/boilerplate spans)
    are dropped so one hot span cannot go quadratic, exactly like the
    LSH bucket cap.

    Stride sampling trades recall for cost: a shared span ≥
    ``window + stride`` chars is ALWAYS caught when the copies align on
    the stride grid (prefix/suffix copies do); arbitrary-offset copies
    need stride=1 (the rolling-hash/suffix-array regime — same plan,
    ``window``× more candidate rows). Production pipelines run
    stride=window/2 first and escalate survivors.
    """
    from ..functions import text

    norm = df.select(
        F.col(id_col), text.normalize(text_col).alias("__nt")
    ).withColumn("__len", F.length("__nt"))
    # sequence(1, len-window+1, stride) IS the stride grid — the stop
    # bound needs no rounding, and the short-doc guard avoids Spark's
    # reversed-sequence surprise on stop < 1 (see _gram_starts).
    starts = F.when(
        F.col("__len") >= window,
        F.sequence(F.lit(1), F.col("__len") - window + 1, F.lit(stride)),
    ).otherwise(F.array().cast("array<int>"))
    wins = (
        norm.select(
            id_col,
            F.explode(
                F.transform(
                    starts,
                    lambda i: F.md5(
                        F.col("__nt").substr(
                            i.cast("int"), F.lit(window)
                        )
                    ),
                )
            ).alias("wh"),
        )
        .distinct()
    )
    sized = wins.groupBy("wh").agg(F.count(F.lit(1)).alias("__bn"))
    bounded = wins.join(
        F.broadcast(sized.filter(F.col("__bn") > max_bucket)),
        "wh",
        "left_anti",
    )
    a = bounded.select(F.col(id_col).alias("id_a"), "wh")
    b = bounded.select(F.col(id_col).alias("id_b"), "wh")
    return (
        a.join(b, "wh")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# Entity resolution (record linkage): match DIRTY records (typos,
# truncations) against a CLEAN reference by blocking + edit-distance
# verification — the data-cleaning twin of near-dup detection (dedup
# asks "same record twice?", linkage asks "which master record is
# this?").
# --------------------------------------------------------------------------


def record_linkage(
    dirty: DataFrame,
    clean: DataFrame,
    *,
    dirty_id: str,
    clean_id: str,
    dirty_name: str,
    clean_name: str,
    block_cols: list[str],
    max_distance: int = 2,
) -> DataFrame:
    """Best clean match per dirty record: candidates share the blocking
    key (equi-join — NEVER all-pairs; the block plays the role LSH bands
    play in fuzzy dedup), are verified by Levenshtein distance ≤
    ``max_distance`` (JVM built-in, integer-exact — the same function
    exists in DuckDB, so the whole pipeline is value-checkable), and the
    per-dirty-record winner is the minimum (distance, clean_id) — a
    deterministic argmin like every resolution step in this repo.

    Output: (dirty_id, matched_id, distance); dirty records with no
    candidate within the threshold are absent (an anti-join of the
    output against the input lists the unmatched — the manual-review
    queue of a real MDM pipeline).

    Scale: one shuffle per side on the blocking key; candidate volume is
    Σ block² bounded by block sizes, so skewed blocks need the same cap
    treatment as LSH buckets (pre-aggregate or salt a hot block before
    calling this).
    """
    d = dirty.select(
        F.col(dirty_id).alias("__did"),
        F.col(dirty_name).alias("__dname"),
        *[F.col(c).alias(f"__b_{c}") for c in block_cols],
    )
    c = clean.select(
        F.col(clean_id).alias("__cid"),
        F.col(clean_name).alias("__cname"),
        *[F.col(col).alias(f"__b_{col}") for col in block_cols],
    )
    cand = d.join(c, [f"__b_{col}" for col in block_cols]).select(
        "__did",
        "__cid",
        F.levenshtein("__dname", "__cname").alias("distance"),
    )
    w = Window.partitionBy("__did").orderBy(
        F.asc("distance"), F.asc("__cid")
    )
    return (
        cand.filter(F.col("distance") <= max_distance)
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            F.col("__did").alias("dirty_id"),
            F.col("__cid").alias("matched_id"),
            "distance",
        )
    )


# --------------------------------------------------------------------------
# Blocked edit-distance (typo-level) dedup
# --------------------------------------------------------------------------


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    max_edits: int = 4,
    block_tokens: int = 5,
    max_block: int = 1000,
) -> DataFrame:
    """Typo-level near-dup pairs: threshold-bounded Levenshtein within
    HEAD blocks — docs sharing the md5 fingerprint of their first
    ``block_tokens`` normalized tokens. Complements the shingle family:
    Jaccard barely moves under a 2-character typo (it perturbs only k
    shingles) while edit distance counts it exactly; conversely a
    reordered paragraph destroys edit distance but not Jaccard.

    Blocking is by construction (same opening words), not pigeonhole —
    a doc whose typo falls inside the head lands in a different block
    and is missed, the standard recall/cost trade of blocked linkage
    (same contract as ``embedding_neardup_pairs``'s block_col).
    ``max_block`` drops degenerate blocks (boilerplate openings) so one
    hot block cannot go quadratic. The Levenshtein itself is
    threshold-bounded (O(max_edits·len) banded DP, not O(len²)), and
    only intra-block pairs are ever scored — never all pairs.

    Output: (id_a, id_b, edits), id_a < id_b, edits <= max_edits.
    Exact DuckDB oracle in plans/dedup_plans.py (md5 blocking +
    levenshtein are engine-portable)."""
    norm = text.normalize(text_col)
    head = F.md5(
        F.array_join(F.slice(F.split(norm, " "), 1, block_tokens), " ")
    )
    t = df.select(
        F.col(id_col).alias("id"), norm.alias("__norm"), head.alias("__head")
    )
    t = t.localCheckpoint(eager=True)  # normalize once, feed both sides
    # Hot-block gate via a window count over __head: reuses the very hash
    # exchange the intra-block pair join needs next, and keeps state
    # bounded at one i64 per partition-local block run. The alternative
    # (broadcast-joining a distinct-heads count relation) ships O(distinct
    # blocks) rows to every executor — distinct heads grow with the corpus
    # (most documents open uniquely), so that broadcast is an OOM at
    # 100 TB; the window form never materializes the block list anywhere.
    small = (
        t.withColumn(
            "__bn", F.count(F.lit(1)).over(Window.partitionBy("__head"))
        )
        .filter(F.col("__bn") <= max_block)
        .drop("__bn")
    )
    a = small.select(
        "__head", F.col("id").alias("id_a"), F.col("__norm").alias("__na")
    )
    b = small.select(
        "__head", F.col("id").alias("id_b"), F.col("__norm").alias("__nb")
    )
    return (
        a.join(b, on="__head")
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__na", "__nb", max_edits).alias("edits"),
        )
        .filter(F.col("edits") >= 0)
        .orderBy("id_a", "id_b")
    )


# --------------------------------------------------------------------------
# Incremental NEAR-dup dedup against a persisted LSH band store
# --------------------------------------------------------------------------


def minhash_store_ingest(
    batch: DataFrame,
    store_table: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 32,
    bands: int = 8,
    k: int = 5,
    threshold: float = 0.5,
    n_buckets: int = 32,
    batch_id: str | None = None,
) -> DataFrame:
    """Incremental NEAR-dup detection against a persisted MinHash band
    store — the fuzzy twin of :func:`fingerprint_store_ingest`, and the
    operational 100-TB shape of LSH dedup: each run probes only the NEW
    batch against an append-only store of band buckets, never
    re-signing or re-pairing the corpus.

    Store: a catalog table bucketed by ``bkey`` with one row per
    (band, band-key, doc): ``(band, bkey, doc_id, sig, src_batch)``,
    where ``bkey`` is the band's signature slice joined to a string
    (portable: the DuckDB oracle recomputes it) and ``sig`` is the full
    signature (kept so verification never re-reads stored documents).
    Ingesting a batch:

    1. signature + banding over the batch (map-only, Arrow hot path —
       bit-identical to the expression path under the portable hash);
    2. probe: batch bands join store bands on (band, bkey) — the
       batch-side exchange matches the store's bucket layout, the
       corpus-sized store never reshuffles; candidates verify with the
       ESTIMATED Jaccard (matching signature positions / num_hashes —
       the standard MinHash estimator, ±O(1/√num_hashes)); verdict per
       batch doc = lowest-id store match above ``threshold``;
    3. append the bands of NON-matching docs only (the store stays
       canonical: near-copies of stored content never join it).

    Replay semantics mirror the fingerprint store: pass a stable
    ``batch_id`` and probe hits from the SAME batch are ignored, so a
    crashed-after-append run re-ingests with identical verdicts and the
    append deduplicates by doc identity (the store does not grow).

    Returns (id_col, is_neardup, match_id, est_jaccard). Within-batch
    near-dups are out of scope by contract — run
    :func:`minhash_dedup_pairs` on the batch first (same split as the
    fingerprint store, which resolves within-batch EXACT dups only
    because its store is keyed by content, not similarity).
    """
    from ..sources.writers import write_bucketed

    spark = batch.sparkSession
    rows = num_hashes // bands
    exists = spark.catalog.tableExists(store_table)
    sig_udf = minhash_signature_arrow(num_hashes, k)
    docs = barrier_col(
        fan_out(batch.select(F.col(id_col), F.col(text_col))),
        "sig",
        sig_udf(F.col(text_col)),
    ).drop(text_col)
    docs = docs.localCheckpoint(eager=True)  # sign once, feed all uses
    band_structs = F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                F.array_join(
                    F.transform(
                        F.slice(F.col("sig"), j * rows + 1, rows),
                        lambda x: x.cast("string"),
                    ),
                    "_",
                ).alias("bkey"),
            )
            for j in range(bands)
        ]
    )
    batch_bands = docs.select(
        F.col(id_col), F.col("sig"), F.explode(band_structs).alias("bb")
    ).select(id_col, "sig", "bb.band", "bb.bkey")
    if exists:
        store = spark.table(store_table)
        same_batch = (
            F.lit(False)
            if batch_id is None
            else F.col("src_batch").eqNullSafe(F.lit(batch_id))
        )
        probe = batch_bands.join(
            store.filter(~same_batch).select(
                "band",
                "bkey",
                F.col("doc_id").alias("_store_id"),
                F.col("sig").alias("_store_sig"),
            ),
            on=["band", "bkey"],
        )
        est = (
            F.size(
                F.filter(
                    F.zip_with("sig", "_store_sig", lambda a, b: a == b),
                    lambda m: m,
                )
            )
            / F.lit(float(num_hashes))
        )
        matches = (
            probe.select(F.col(id_col), "_store_id", est.alias("_est"))
            .filter(F.col("_est") >= threshold)
            .groupBy(id_col)
            .agg(
                F.min(
                    F.struct(F.col("_store_id").alias("m"), F.col("_est").alias("e"))
                ).alias("best")
            )
            .select(
                id_col,
                F.col("best.m").alias("match_id"),
                F.round(F.col("best.e"), 4).alias("est_jaccard"),
            )
        )
        verdict = docs.select(id_col).join(matches, on=id_col, how="left")
    else:
        id_type = batch.schema[id_col].dataType
        verdict = docs.select(
            F.col(id_col),
            F.lit(None).cast(id_type).alias("match_id"),
            F.lit(None).cast("double").alias("est_jaccard"),
        )
    verdict = verdict.select(
        id_col,
        F.col("match_id").isNotNull().cast("int").alias("is_neardup"),
        "match_id",
        "est_jaccard",
    ).localCheckpoint(eager=True)  # pre-append snapshot
    novel = verdict.filter(F.col("is_neardup") == 0).select(id_col)
    new_rows = batch_bands.join(F.broadcast(novel), on=id_col).select(
        "band",
        "bkey",
        F.col(id_col).alias("doc_id"),
        "sig",
        F.lit(batch_id).cast("string").alias("src_batch"),
    )
    if exists:
        # Replay guard: never re-append a doc the store already holds.
        new_rows = new_rows.join(
            spark.table(store_table).select("doc_id").distinct(),
            on="doc_id",
            how="left_anti",
        )
    write_bucketed(
        new_rows,
        store_table,
        bucket_cols=["bkey"],
        n_buckets=n_buckets,
        mode="append" if exists else "overwrite",
    )
    return verdict
