"""Dedup queries over the ``documents`` fixture (north-star extension).

The fixture contains no natural duplicates (verified: 500 distinct
normalized texts), so each query deterministically constructs its own
duplicates inside the plan (same construction in the DuckDB oracle):
exact copies for exact dedup, appended-tail near-copies for fuzzy dedup.
This makes the correctness gate exercise real dedup behavior instead of
vacuously matching empty outputs.

Every query here carries an exact oracle. That includes the
approximation-bearing operators since round 8: MinHash-LSH and SimHash
run on the engine-portable md5-60bit hash family, so their
approximation is pinned to the exact same candidate sets in both
engines — an LSH miss is legal behavior AND reproduced bit-for-bit by
the oracle. Recall/property floors live in tests/test_dedup.py on top.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..operators import dedup
from ..sources import load_table
from .registry import fresh_table, query, scratch

#: Shared normalized-text SQL fragment — must mirror functions.text.normalize
#: (lower → strip punct → collapse whitespace → trim) exactly.
NORM_SQL = (
    r"trim(regexp_replace(regexp_replace(lower(text), '[^\w\s]', ' ', 'g'),"
    r" '\s+', ' ', 'g'))"
)

#: DuckDB word-5-shingle construction mirroring functions.text.shingles.
SHINGLES_SQL = f"""
  CASE WHEN len(string_split({NORM_SQL}, ' ')) <= 5
       THEN [array_to_string(string_split({NORM_SQL}, ' '), ' ')]
       ELSE list_transform(
              generate_series(0, len(string_split({NORM_SQL}, ' ')) - 5),
              i -> array_to_string(string_split({NORM_SQL}, ' ')[i+1:i+5], ' '))
  END
"""


def _with_exact_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ verbatim copies of doc_id<5 re-keyed to 10000+id."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 10000).alias("doc_id"), "text"
    )
    return d.unionByName(dups)


def _with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ near-copies (three extra words appended) of doc_id<5."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" appended tail words")).alias("text"),
    )
    return d.unionByName(dups)


_EXACT_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text FROM documents WHERE doc_id < 5
)
"""

_NEAR_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text || ' appended tail words' AS text
  FROM documents WHERE doc_id < 5
)
"""


@query(
    "dedup_exact_fingerprint",
    oracle="WITH "
    + _EXACT_CORPUS_SQL
    + f""",
fp AS (SELECT doc_id, md5({NORM_SQL}) AS fp FROM corpus)
SELECT min(doc_id) AS doc_id, fp
FROM fp GROUP BY fp
ORDER BY doc_id
""",
)
def dedup_exact_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by normalized-text fingerprint: the 5 injected copies
    collapse onto their originals; keeper = smallest doc_id."""
    from ..functions import text

    corpus = _with_exact_dups(spark, sf_dir)
    return (
        corpus.select("doc_id", text.fingerprint("text").alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "fp")
        .orderBy("doc_id")
    )


@query(
    "dedup_ngram_jaccard",
    oracle="WITH "
    + _NEAR_CORPUS_SQL
    + f""",
sh AS (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM corpus),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(sh) AS sz FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       round(common * 1.0 / (sa.sz + sb.sz - common), 4) AS jaccard
FROM common
JOIN sizes sa ON sa.doc_id = id_a
JOIN sizes sb ON sb.doc_id = id_b
WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.3
ORDER BY id_a, id_b
""",
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 5-gram Jaccard near-dup pairs (inverted-index join, no
    O(n²)): finds the 5 injected (original, near-copy) pairs."""
    corpus = _with_near_dups(spark, sf_dir)
    return dedup.ngram_jaccard_pairs(
        corpus, "doc_id", "text", threshold=0.3, k=5
    )


#: The 32 seeded universal-hash permutation mins, interpolated with the
#: SHARED MINHASH_COEFFS constants — the oracle computes the exact same
#: signatures as the Spark plan (portable md5-60bit base hash; a*h stays
#: < 2^62, ANSI/overflow-safe in both engines).
_SIG_SQL = "[" + ", ".join(
    f"list_min(list_transform(hashes, h -> ({a}*h + {b}) % {dedup.MERSENNE_PRIME_31}))"
    for a, b in dedup.MINHASH_COEFFS[:32]
) + "]"


@query(
    "dedup_minhash_lsh",
    oracle="WITH "
    + _NEAR_CORPUS_SQL
    + f""",
sh AS (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM corpus),
hs AS (
  SELECT doc_id, sh,
         list_transform(
           sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
                    % {dedup.MERSENNE_PRIME_31}) AS hashes
  FROM sh
),
sig AS (SELECT doc_id, sh, {_SIG_SQL} AS sig FROM hs),
banded AS (
  SELECT doc_id, j.j AS band,
         list_slice(sig, 4 * j.j + 1, 4 * j.j + 4) AS bkey
  FROM sig, range(8) j(j)
),
capped AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM banded
  ) WHERE bsz <= 1000
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a
  JOIN capped b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
),
verified AS (
  SELECT id_a, id_b,
         len(list_intersect(ha.sh, hb.sh)) AS common,
         len(ha.sh) AS sa, len(hb.sh) AS sb
  FROM cands
  JOIN sig ha ON ha.doc_id = id_a
  JOIN sig hb ON hb.doc_id = id_b
)
SELECT id_a, id_b,
       round(common * 1.0 / (sa + sb - common), 4) AS jaccard
FROM verified
WHERE round(common * 1.0 / (sa + sb - common), 4) >= 0.3
ORDER BY id_a, id_b
""",
)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(32 perms) + LSH(8 bands × 4 rows) candidate pairs, exact
    shingle-Jaccard verified ≥ 0.3. Value-checked END-TO-END: the
    md5-60bit base hash (functions.text.portable_hash60) and shared
    MINHASH_COEFFS make signatures — and therefore banding, the bucket
    cap, candidate pairs, and verified output — bit-reproducible in
    DuckDB. (The Spark side buckets on xxhash64 of the band slice;
    equal slices always hash equal, so candidates are identical up to
    astronomically-unlikely 64-bit collisions, and exact verification
    makes the final output insensitive even to those.) Recall floors vs
    the exact operator are additionally asserted in tests/test_dedup.py."""
    corpus = _with_near_dups(spark, sf_dir)
    return dedup.minhash_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.3, k=5
    )


# --------------------------------------------------------------------------
# LSH recall evaluation: banding loss of the MinHash candidate
# generator against the EXACT Jaccard pair set at the same threshold —
# the index-trust check a dedup deployment runs before relying on the
# banded path (a pair can only be missed when none of its 8 bands
# collide; verification is exact, so precision is 1 by construction and
# recall is the whole story). Both sides are bit-reproducible, so the
# EVALUATION itself is value-checked end-to-end. One summary row:
# exact pairs, LSH-verified pairs, missed pairs, fixed-point recall.
# --------------------------------------------------------------------------


@query(
    "dedup_recall_lsh_vs_exact",
    oracle="WITH "
    + _NEAR_CORPUS_SQL
    + f""",
sh AS (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM corpus),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(sh) AS sz FROM sh),
ecommon AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
exact AS (
  SELECT id_a, id_b
  FROM ecommon
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.3
),
hs AS (
  SELECT doc_id, sh,
         list_transform(
           sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
                    % {dedup.MERSENNE_PRIME_31}) AS hashes
  FROM sh
),
sig AS (SELECT doc_id, sh, {_SIG_SQL} AS sig FROM hs),
banded AS (
  SELECT doc_id, j.j AS band,
         list_slice(sig, 4 * j.j + 1, 4 * j.j + 4) AS bkey
  FROM sig, range(8) j(j)
),
capped AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY band, bkey) AS bsz FROM banded
  ) WHERE bsz <= 1000
),
cands AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM capped a
  JOIN capped b ON a.band = b.band AND a.bkey = b.bkey
                AND a.doc_id < b.doc_id
),
lsh AS (
  SELECT id_a, id_b FROM (
    SELECT id_a, id_b,
           len(list_intersect(ha.sh, hb.sh)) AS common,
           len(ha.sh) AS sa, len(hb.sh) AS sb
    FROM cands
    JOIN sig ha ON ha.doc_id = id_a
    JOIN sig hb ON hb.doc_id = id_b
  )
  WHERE round(common * 1.0 / (sa + sb - common), 4) >= 0.3
),
hit AS (
  SELECT count(*) AS n_hit
  FROM exact e JOIN lsh l ON e.id_a = l.id_a AND e.id_b = l.id_b
)
SELECT CAST((SELECT count(*) FROM exact) AS BIGINT) AS n_exact,
       CAST((SELECT count(*) FROM lsh) AS BIGINT) AS n_lsh,
       CAST((SELECT count(*) FROM exact) - n_hit AS BIGINT) AS n_missed,
       CAST((n_hit * 10000) // greatest((SELECT count(*) FROM exact), 1)
            AS BIGINT) AS recall_q
FROM hit
""",
)
def dedup_recall_lsh_vs_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    corpus = _with_near_dups(spark, sf_dir)
    exact = dedup.ngram_jaccard_pairs(
        corpus, "doc_id", "text", threshold=0.3, k=5
    ).select("id_a", "id_b")
    lsh = dedup.minhash_dedup_pairs(
        corpus, "doc_id", "text", threshold=0.3, k=5
    ).select("id_a", "id_b", F.lit(1).alias("hit"))
    joined = exact.join(lsh, ["id_a", "id_b"], "left")
    stats = joined.agg(
        F.count(F.lit(1)).alias("n_exact"),
        F.count("hit").alias("_n_hit"),
    )
    return stats.crossJoin(lsh.agg(F.count(F.lit(1)).alias("n_lsh"))).select(
        "n_exact",
        "n_lsh",
        (F.col("n_exact") - F.col("_n_hit")).alias("n_missed"),
        F.expr("(_n_hit * 10000) div greatest(n_exact, 1)").alias("recall_q"),
    )


@query(
    "dedup_simhash",
    oracle="WITH "
    + _NEAR_CORPUS_SQL
    + f""",
hs AS (
  SELECT doc_id,
         list_transform(
           string_split({NORM_SQL}, ' '),
           t -> CAST('0x' || substr(md5(t), 1, 15) AS BIGINT)) AS hashes
  FROM corpus
),
sim AS (
  SELECT doc_id,
         list_sum(list_transform(range({dedup.SIMHASH_BITS}), j ->
           CASE WHEN list_sum(list_transform(
                       hashes,
                       h -> CASE WHEN ((h >> j) & 1) = 1 THEN 1 ELSE -1 END
                     )) > 0
                THEN (CAST(1 AS BIGINT) << j) ELSE 0 END)) AS simhash
  FROM hs
),
chunks AS (
  SELECT doc_id, simhash, j.j AS cidx,
         (simhash >> (15 * j.j)) & 32767 AS chunk
  FROM sim, range(4) j(j)
),
pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
  FROM chunks a
  JOIN chunks b ON a.cidx = b.cidx AND a.chunk = b.chunk
                AND a.doc_id < b.doc_id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
ORDER BY id_a, id_b
""",
)
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 of 60) over the near-dup
    corpus; banded 4×15-bit chunk join, no O(n²). Value-checked
    END-TO-END: the portable md5-60bit token hash makes the per-bit
    majority votes, the banding, and the hamming verification
    bit-reproducible in DuckDB."""
    corpus = _with_near_dups(spark, sf_dir)
    return dedup.simhash_pairs(corpus, "doc_id", "text", max_hamming=3)


@query(
    "dedup_exact_rows",
    oracle="""
SELECT doc_id, lang, source
FROM (
  SELECT doc_id, lang, source,
         row_number() OVER (PARTITION BY lang, source ORDER BY doc_id) AS rn
  FROM documents
) WHERE rn = 1
ORDER BY doc_id
""",
)
def dedup_exact_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact row dedup on business columns (dropDuplicates semantics,
    made deterministic by keeping min doc_id per (lang, source) group —
    plain dropDuplicates keeps an arbitrary row, which can't be
    oracle-checked)."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang", "source").orderBy(F.asc("doc_id"))
    return (
        d.select("doc_id", "lang", "source")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .drop("rn")
        .orderBy("doc_id")
    )


@query(
    "dedup_chunk_exact",
    oracle="WITH "
    + _EXACT_CORPUS_SQL
    + """,
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
chunks AS (
  SELECT doc_id,
         unnest(generate_series(0,
             CAST(floor((len(t) - 1) / 16) AS BIGINT))) AS chunk_pos,
         t
  FROM toks
),
ch AS (
  SELECT doc_id, chunk_pos,
         len(list_slice(t, chunk_pos * 16 + 1,
                        least((chunk_pos + 1) * 16, len(t)))) AS n_toks,
         array_to_string(list_slice(t, chunk_pos * 16 + 1,
                         least((chunk_pos + 1) * 16, len(t))), ' ') AS chunk_text
  FROM chunks
),
ranked AS (
  SELECT doc_id, chunk_pos, n_toks,
         row_number() OVER (PARTITION BY chunk_text
                            ORDER BY doc_id, chunk_pos) AS rn
  FROM ch
)
SELECT doc_id,
       count(*) AS n_chunks,
       CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
       CAST(sum(CASE WHEN rn = 1 THEN n_toks ELSE 0 END) AS BIGINT) AS kept_tokens
FROM ranked GROUP BY doc_id ORDER BY doc_id
""",
)
def dedup_chunk_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style chunk-level exact dedup: every document is cut into
    16-token chunks, a chunk seen before anywhere in the corpus (first
    occurrence = smallest (doc_id, chunk_pos)) is dropped, and the query
    reports per-document kept/removed chunk and token counts — the
    sub-document twin of :func:`dedup_exact_fingerprint` (a doc whose
    every chunk is a dup is a verbatim copy; partial overlap catches
    quoted/boilerplate spans whole-doc dedup misses).

    Scale shape: the only shuffle is the global first-occurrence window,
    keyed on ``xxhash64(chunk_text)`` — 8 bytes per chunk instead of the
    chunk text itself (same shuffle compression as the boilerplate
    filter), with the window state bounded per distinct chunk, never
    O(corpus). The injected verbatim copies (doc_id ≥ 10000) make every
    one of their chunks a duplicate deterministically."""
    d = _with_exact_dups(spark, sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    nchunks = F.floor((F.size("t") - 1) / F.lit(16)).cast("long")
    chunks = toks.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0).cast("long"), nchunks)).alias("chunk_pos"),
    )
    piece = F.slice(F.col("t"), (F.col("chunk_pos") * 16 + 1).cast("int"), 16)
    ch = chunks.select(
        "doc_id",
        "chunk_pos",
        F.size(piece).alias("n_toks"),
        # 64-bit hash stands in for the chunk text on the shuffle; at
        # corpus scale a collision needs ~2^32 distinct chunks (and the
        # oracle partitions by the text itself, so the gate would catch
        # one at test scale).
        F.xxhash64(F.concat_ws(" ", piece)).alias("chunk_key"),
    )
    w = Window.partitionBy("chunk_key").orderBy("doc_id", "chunk_pos")
    ranked = ch.withColumn("rn", F.row_number().over(w))
    return (
        ranked.groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum(F.when(F.col("rn") > 1, 1).otherwise(0)).alias("n_dup_chunks"),
            F.sum(F.when(F.col("rn") == 1, F.col("n_toks")).otherwise(0)).alias(
                "kept_tokens"
            ),
        )
        .orderBy("doc_id")
    )


@query(
    "dedup_resolve_canonical",
    oracle="WITH RECURSIVE "
    + _NEAR_CORPUS_SQL.strip().rstrip()
    + f""",
sh AS (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM corpus),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(sh) AS sz FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.3
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION ALL
  SELECT id_b, id_a FROM edges
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT s.src, r.label FROM sym s JOIN reach r ON s.dst = r.node
)
SELECT node AS doc_id, min(label) AS canonical_id,
       (node = min(label)) AS keep
FROM reach GROUP BY node ORDER BY doc_id
""",
)
def dedup_resolve_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup RESOLUTION: near-dup pairs (exact 5-gram Jaccard ≥ 0.3) →
    connected components → per-document canonical representative and
    keep/drop flag — the step that turns pair output into an actually
    deduplicated corpus. Oracle computes the same transitive closure with
    a recursive CTE."""
    corpus = _with_near_dups(spark, sf_dir)
    edges = dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.3, k=5)
    comp = dedup.connected_components(
        corpus.select("doc_id"), edges.select("id_a", "id_b"), id_col="doc_id"
    )
    return comp.select(
        "doc_id",
        "canonical_id",
        (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Dedup impact report: the cluster-SIZE histogram a curation run reads
# after resolution — how much of the corpus sits in duplicate clusters
# of each multiplicity, and what fraction dedup will remove. Built on
# the same pair graph + connected components as dedup_resolve_canonical
# (oracle replays the closure), then two metadata-scale folds: clusters
# = |distinct canonicals| rows, histogram = |distinct sizes| rows. The
# corpus-scale cost is the resolution itself; the report adds only
# bounded aggregations, and the final pct window runs over the size
# DOMAIN (≤ max multiplicity rows), never the data.
# --------------------------------------------------------------------------


@query(
    "dedup_cluster_stats",
    oracle="WITH RECURSIVE "
    + _NEAR_CORPUS_SQL.strip().rstrip()
    + f""",
sh AS (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM corpus),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(sh) AS sz FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.3
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION ALL
  SELECT id_b, id_a FROM edges
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT s.src, r.label FROM sym s JOIN reach r ON s.dst = r.node
),
comp AS (SELECT node, min(label) AS canonical_id FROM reach GROUP BY node),
csz AS (SELECT canonical_id, count(*) AS csize FROM comp GROUP BY canonical_id),
hist AS (
  SELECT csize, count(*) AS n_clusters,
         CAST(csize * count(*) AS BIGINT) AS n_docs
  FROM csz GROUP BY csize
)
SELECT csize, n_clusters, n_docs,
       CAST((n_docs * 10000) // sum(n_docs) OVER () AS BIGINT) AS pct_docs_q,
       CAST(sum(n_docs) OVER () - sum(n_clusters) OVER () AS BIGINT)
         AS total_removable
FROM hist ORDER BY csize
""",
)
def dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram + removable-doc count over the resolved
    near-dup components (exact 5-gram Jaccard >= 0.3 pair graph, same
    construction as dedup_resolve_canonical)."""
    from pyspark.sql import Window

    corpus = _with_near_dups(spark, sf_dir)
    edges = dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.3, k=5)
    comp = dedup.connected_components(
        corpus.select("doc_id"), edges.select("id_a", "id_b"), id_col="doc_id"
    )
    csz = comp.groupBy("canonical_id").agg(F.count(F.lit(1)).alias("csize"))
    hist = csz.groupBy("csize").agg(F.count(F.lit(1)).alias("n_clusters"))
    # The window relation is the size DOMAIN (distinct multiplicities) —
    # bounded at any corpus scale, so the global frame is safe.
    wall = Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return (
        hist.select(
            "csize",
            "n_clusters",
            (F.col("csize") * F.col("n_clusters")).alias("n_docs"),
        )
        .select(
            "csize",
            "n_clusters",
            "n_docs",
            F.expr("n_docs * 10000").alias("_nd4"),
            F.sum("n_docs").over(wall).alias("_td"),
            (F.sum("n_docs").over(wall) - F.sum("n_clusters").over(wall)).alias(
                "total_removable"
            ),
        )
        .select(
            "csize",
            "n_clusters",
            "n_docs",
            F.expr("_nd4 div _td").alias("pct_docs_q"),
            "total_removable",
        )
        .orderBy("csize")
    )


# --------------------------------------------------------------------------
# Leakage-safe train/test split: the contamination-aware version of the
# hash split — near-duplicate CLUSTERS (connected components of the
# Jaccard pair graph) are assigned to a split atomically, by hashing the
# canonical id instead of the document id. A near-copy can therefore
# never land in test while its twin trains. Oracle: the same recursive-
# CTE closure + the same md5 bucket arithmetic.
# --------------------------------------------------------------------------


@query(
    "leakage_safe_split",
    oracle="WITH RECURSIVE "
    + _NEAR_CORPUS_SQL.strip().rstrip()
    + f""",
sh AS (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM corpus),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(sh) AS sz FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.3
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION ALL
  SELECT id_b, id_a FROM edges
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT s.src, r.label FROM sym s JOIN reach r ON s.dst = r.node
),
comp AS (SELECT node AS doc_id, min(label) AS canonical_id FROM reach GROUP BY node)
SELECT doc_id, canonical_id,
       CASE WHEN substring(md5(CAST(canonical_id AS VARCHAR)), 1, 4) < 'cccc'
            THEN 'train' ELSE 'test' END AS split
FROM comp ORDER BY doc_id
""",
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import hash_split

    corpus = _with_near_dups(spark, sf_dir)
    edges = dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.3, k=5)
    comp = dedup.connected_components(
        corpus.select("doc_id"), edges.select("id_a", "id_b"), id_col="doc_id"
    )
    return (
        hash_split(comp, "canonical_id", {"train": 0.8, "test": 0.2})
        .select("doc_id", "canonical_id", "split")
        .orderBy("doc_id")
    )


@query(
    "dedup_chunk_apply",
    oracle="WITH "
    + _EXACT_CORPUS_SQL
    + """,
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM corpus),
chunks AS (
  SELECT doc_id,
         unnest(generate_series(0,
             CAST(floor((len(t) - 1) / 16) AS BIGINT))) AS chunk_pos,
         t
  FROM toks
),
ch AS (
  SELECT doc_id, chunk_pos,
         array_to_string(list_slice(t, chunk_pos * 16 + 1,
                         least((chunk_pos + 1) * 16, len(t))), ' ') AS chunk_text
  FROM chunks
),
ranked AS (
  SELECT doc_id, chunk_pos, chunk_text,
         row_number() OVER (PARTITION BY chunk_text
                            ORDER BY doc_id, chunk_pos) AS rn
  FROM ch
)
SELECT c.doc_id,
       coalesce(k.kept_text, '') AS kept_text,
       coalesce(k.n_kept_chunks, 0) AS n_kept_chunks
FROM corpus c
LEFT JOIN (
  SELECT doc_id,
         string_agg(chunk_text, ' ' ORDER BY chunk_pos) AS kept_text,
         count(*) AS n_kept_chunks
  FROM ranked WHERE rn = 1 GROUP BY doc_id
) k USING (doc_id)
ORDER BY c.doc_id
""",
)
def dedup_chunk_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The APPLY step of chunk-level dedup (:func:`dedup_chunk_exact`
    reports, this one produces): each document's text rebuilt from only
    its first-occurrence chunks, in order — verbatim copies collapse to
    empty text, partially-duplicated documents lose exactly their
    repeated spans. Unlike the stats query the window must carry the
    chunk text (it is the output), so the shuffle is O(corpus tokens) —
    the unavoidable cost of materializing a deduplicated corpus."""
    d = _with_exact_dups(spark, sf_dir)
    toks = d.select("doc_id", F.split("text", " ").alias("t"))
    nchunks = F.floor((F.size("t") - 1) / F.lit(16)).cast("long")
    chunks = toks.select(
        "doc_id",
        "t",
        F.explode(F.sequence(F.lit(0).cast("long"), nchunks)).alias("chunk_pos"),
    )
    piece = F.slice(F.col("t"), (F.col("chunk_pos") * 16 + 1).cast("int"), 16)
    ch = chunks.select(
        "doc_id", "chunk_pos", F.concat_ws(" ", piece).alias("chunk_text")
    )
    w = Window.partitionBy("chunk_text").orderBy("doc_id", "chunk_pos")
    kept = (
        ch.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .groupBy("doc_id")
        .agg(
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(F.collect_list(F.struct("chunk_pos", "chunk_text"))),
                    lambda x: x["chunk_text"],
                ),
            ).alias("kept_text"),
            F.count(F.lit(1)).alias("n_kept_chunks"),
        )
    )
    return (
        d.select("doc_id")
        .join(kept, on="doc_id", how="left")
        .select(
            "doc_id",
            F.coalesce(F.col("kept_text"), F.lit("")).alias("kept_text"),
            F.coalesce(F.col("n_kept_chunks"), F.lit(0)).alias("n_kept_chunks"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# N-gram novelty scoring: per document, the fraction of its distinct
# 5-gram shingles whose global first owner (min doc_id over the corpus)
# is the document itself — the standard "how much new text does this doc
# add" curation signal (near-copies score ~0, originals ~1). Fraction is
# 1e6 fixed-point integer arithmetic so both engines agree bit-exactly.
#
# Scale: shingles shuffle as xxhash64 codes, never strings; the
# ownership groupBy and the join back are both keyed on the same code,
# so AQE reuses one exchange; final per-doc agg is the only other
# shuffle. No all-pairs anything.
# --------------------------------------------------------------------------


@query(
    "doc_ngram_novelty",
    oracle="WITH "
    + _NEAR_CORPUS_SQL.strip().rstrip()
    + f""",
sh AS (
  SELECT doc_id, unnest(list_distinct({SHINGLES_SQL})) AS shingle FROM corpus
),
own AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
SELECT s.doc_id,
       CAST(count(*) AS BIGINT) AS n_shingles,
       CAST(sum(CASE WHEN o.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
         AS n_novel,
       (1000000 * CAST(sum(CASE WHEN o.first_doc = s.doc_id THEN 1 ELSE 0 END)
                       AS BIGINT)) // CAST(count(*) AS BIGINT) AS novelty_q
FROM sh s JOIN own o USING (shingle)
GROUP BY s.doc_id
ORDER BY s.doc_id
""",
)
def doc_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: distinct 5-gram shingles owned (first seen,
    by min doc_id) by the doc itself over total distinct shingles, in 1e6
    fixed point. Near-copies of earlier docs score near zero."""
    corpus = _with_near_dups(spark, sf_dir)
    return dedup.ngram_novelty(corpus).orderBy("doc_id")


# --------------------------------------------------------------------------
# Quality-aware dedup resolution: same near-dup clustering as
# dedup_resolve_canonical, but the kept representative is the BEST doc
# in the cluster (longest text, tie-break min doc_id) instead of the
# smallest id — the "keep the longest copy" policy real curation
# pipelines use, where a near-copy with more content beats the original.
# One extra broadcast-scale window over the cluster assignment; the
# clustering cost structure is unchanged.
# --------------------------------------------------------------------------


@query(
    "dedup_canonical_by_quality",
    oracle="WITH RECURSIVE "
    + _NEAR_CORPUS_SQL.strip().rstrip()
    + f""",
sh AS (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM corpus),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(sh) AS sz FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
),
edges AS (
  SELECT id_a, id_b
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE common * 1.0 / (sa.sz + sb.sz - common) >= 0.3
),
sym AS (
  SELECT id_a AS src, id_b AS dst FROM edges
  UNION ALL
  SELECT id_b, id_a FROM edges
),
reach(node, label) AS (
  SELECT doc_id, doc_id FROM corpus
  UNION
  SELECT s.src, r.label FROM sym s JOIN reach r ON s.dst = r.node
),
clusters AS (
  SELECT node AS doc_id, min(label) AS cluster_id FROM reach GROUP BY node
),
q AS (
  SELECT c.doc_id, c.cluster_id, length(corpus.text) AS n_chars
  FROM clusters c JOIN corpus ON corpus.doc_id = c.doc_id
),
best AS (
  SELECT cluster_id, doc_id AS canonical_id FROM (
    SELECT cluster_id, doc_id,
           row_number() OVER (
             PARTITION BY cluster_id ORDER BY n_chars DESC, doc_id) AS rn
    FROM q) WHERE rn = 1
)
SELECT q.doc_id, best.canonical_id, (q.doc_id = best.canonical_id) AS keep
FROM q JOIN best USING (cluster_id)
ORDER BY q.doc_id
""",
)
def dedup_canonical_by_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clusters (exact 5-gram Jaccard >= 0.3 -> connected
    components) resolved to the highest-quality representative: longest
    text wins, ties break to the smallest doc_id. The appended-tail
    near-copies in the fixture are LONGER than their originals, so the
    kept doc differs from min-id resolution — exercising the policy."""
    from pyspark.sql import Window

    corpus = _with_near_dups(spark, sf_dir)
    edges = dedup.ngram_jaccard_pairs(corpus, "doc_id", "text", threshold=0.3, k=5)
    comp = dedup.connected_components(
        corpus.select("doc_id"), edges.select("id_a", "id_b"), id_col="doc_id"
    ).withColumnRenamed("canonical_id", "cluster_id")
    q = comp.join(
        corpus.select("doc_id", F.length("text").alias("n_chars")), "doc_id"
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc("n_chars"), F.asc("doc_id")
    )
    best = (
        q.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("doc_id").alias("canonical_id"))
    )
    return (
        q.join(best, "cluster_id")
        .select(
            "doc_id",
            "canonical_id",
            (F.col("doc_id") == F.col("canonical_id")).alias("keep"),
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Incremental dedup against a persisted fingerprint store (the
# operational 100-TB shape — r5 verdict ask #3): batch 1 seeds the
# store; batch 2 (with planted cross-batch AND within-batch duplicates)
# is verdicted against the store only — no full-corpus re-dedup — and
# the oracle recomputes the expected verdicts from `documents` alone
# under the same ingestion-order rule.
# --------------------------------------------------------------------------

#: Batch membership: batch 1 = doc_id % 3 != 0 of the base corpus;
#: batch 2 = the rest, plus verbatim copies of doc_id<10 at +20000
#: (duplicates of both store docs and fellow batch-2 docs) and of
#: doc_id<3 at +30000 (second copies — dup-of-a-dup within the batch).
_INCR_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 20000 AS doc_id, text FROM documents WHERE doc_id < 10
  UNION ALL
  SELECT doc_id + 30000 AS doc_id, text FROM documents WHERE doc_id < 3
)
"""


#: Shared by the batch query and its streaming twin — the expected
#: verdicts depend only on the batch-1/batch-2 SPLIT, not on which
#: execution engine delivered batch 2.
_INCR_VERDICT_SQL = (
    "WITH "
    + _INCR_CORPUS_SQL
    + f""",
fp AS (SELECT doc_id, md5({NORM_SQL}) AS fp FROM corpus),
b1 AS (
  SELECT fp, min(doc_id) AS first1 FROM fp
  WHERE doc_id < 20000 AND doc_id % 3 <> 0 GROUP BY fp
),
b2 AS (
  SELECT doc_id, fp FROM fp
  WHERE doc_id >= 20000 OR doc_id % 3 = 0
),
m2 AS (SELECT fp, min(doc_id) AS first2 FROM b2 GROUP BY fp)
SELECT b2.doc_id, b2.fp,
       COALESCE(b1.first1, m2.first2) AS canonical_id,
       CAST(CASE WHEN b1.fp IS NOT NULL OR b2.doc_id > m2.first2
                 THEN 1 ELSE 0 END AS INT) AS is_dup
FROM b2 LEFT JOIN b1 ON b1.fp = b2.fp JOIN m2 ON m2.fp = b2.fp
ORDER BY b2.doc_id
"""
)


@query("dedup_incremental_batch", oracle=_INCR_VERDICT_SQL)
def dedup_incremental_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-batch incremental dedup through the persisted store: seed
    with batch 1, verdict batch 2. Scale shape: the store (corpus-sized
    at 100 TB) is bucketed by fingerprint and probed with no exchange
    on its side; only the incoming batch shuffles (once, on the fp)."""

    from ..functions import text

    tbl = fresh_table(spark, sf_dir, "fp_store")

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra1 = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text"
    )
    extra2 = d.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 30000).alias("doc_id"), "text"
    )
    batch1 = d.filter(F.col("doc_id") % 3 != 0)
    batch2 = (
        d.filter(F.col("doc_id") % 3 == 0)
        .unionByName(extra1)
        .unionByName(extra2)
    )

    def fps(df: DataFrame) -> DataFrame:
        return df.select("doc_id", text.fingerprint("text").alias("fp"))

    dedup.fingerprint_store_ingest(
        fps(batch1), tbl, batch_id="b1"
    )  # seeds the store
    out = dedup.fingerprint_store_ingest(fps(batch2), tbl, batch_id="b2")
    return out.select("doc_id", "fp", "canonical_id", "is_dup").orderBy(
        "doc_id"
    )


# --------------------------------------------------------------------------
# Streaming twin of dedup_incremental_batch: the SAME two-batch corpus
# delivered through REAL Structured Streaming file sources, deduped by a
# foreachBatch sink against the persisted fingerprint store. Two
# availableNow runs model the reference's incremental watermark loop —
# "new data landed, the pipeline ran again" — and the oracle is the
# identical verdict SQL: batch/streaming parity extended to the dedup
# tier (verdicts depend only on the batch split, not the engine).
# --------------------------------------------------------------------------


@query("streaming_dedup_store", oracle=_INCR_VERDICT_SQL)
def streaming_dedup_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed run streams batch 1 into the store; the second run streams
    batch 2 and records per-row verdicts. Scale shape: identical to the
    batch path (store bucket-probed, only the micro-batch shuffles) —
    foreachBatch reuses the same operator, so there is one dedup
    semantic across engines. Store batch ids follow the streaming
    micro-batch id, so checkpoint-recovery replays are idempotent."""

    from ..functions import text
    from ..streaming.windows import foreach_batch_dedup_store

    tbl = fresh_table(spark, sf_dir, "fp_store_strm")

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    extra1 = d.filter(F.col("doc_id") < 10).select(
        (F.col("doc_id") + 20000).alias("doc_id"), "text"
    )
    extra2 = d.filter(F.col("doc_id") < 3).select(
        (F.col("doc_id") + 30000).alias("doc_id"), "text"
    )
    batch1 = d.filter(F.col("doc_id") % 3 != 0)
    batch2 = (
        d.filter(F.col("doc_id") % 3 == 0)
        .unionByName(extra1)
        .unionByName(extra2)
    )

    def fps(df: DataFrame) -> DataFrame:
        return df.select("doc_id", text.fingerprint("text").alias("fp"))

    verdicts = scratch(sf_dir, "strm_dedup_verdicts")
    for run, (batch, vpath) in enumerate(
        ((batch1, None), (batch2, verdicts)), start=1
    ):
        stage = scratch(sf_dir, f"strm_dedup_b{run}")
        chk = scratch(sf_dir, f"strm_dedup_chk{run}")
        staged = fps(batch)
        staged.write.mode("overwrite").parquet(stage)
        q = (
            spark.readStream.schema(staged.schema)
            .parquet(stage)
            .writeStream.foreachBatch(
                foreach_batch_dedup_store(
                    tbl, vpath, run_tag=f"run{run}"
                )
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    return (
        spark.read.parquet(verdicts)
        .select("doc_id", "fp", "canonical_id", "is_dup")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Verbatim-span dedup (Lee et al., "Deduplicating Training Data Makes
# Language Models Better"): pairs sharing an exact 64-char normalized
# window on the 32-char stride grid. The injected near-copies share
# their whole prefix, so every prefix window collides; unrelated docs
# collide only if they truly share a 64-char span. The oracle replays
# the identical window grid with substr arithmetic.
# --------------------------------------------------------------------------


@query(
    "dedup_shared_spans",
    oracle="WITH "
    + _NEAR_CORPUS_SQL
    + f""",
nrm AS (SELECT doc_id, {NORM_SQL} AS nt FROM corpus),
w AS (
  SELECT DISTINCT doc_id, substr(nt, CAST(i AS INT), 64) AS win
  FROM (
    SELECT doc_id, nt,
           unnest(generate_series(1, length(nt) - 63, 32)) AS i
    FROM nrm WHERE length(nt) >= 64
  )
),
sized AS (SELECT win FROM w GROUP BY win HAVING count(*) <= 64)
SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_shared
FROM w a
JOIN w b ON a.win = b.win AND a.doc_id < b.doc_id
JOIN sized s ON s.win = a.win
GROUP BY a.doc_id, b.doc_id
ORDER BY id_a, id_b
""",
)
def dedup_shared_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Documents sharing >= 1 exact 64-char normalized span (stride-32
    grid, hot-span bucket cap 64): catches the copied-paragraph case
    whole-document fingerprints and shingle-Jaccard miss."""
    corpus = _with_near_dups(spark, sf_dir)
    return dedup.shared_window_pairs(corpus, "doc_id", "text")


# --------------------------------------------------------------------------
# Record linkage (entity resolution): dirty customer records (a planted
# deterministic typo — the 8th digit deleted) matched back to the clean
# master by blocking on (nation, first 6 digits) + Levenshtein
# verification. Both engines implement the same integer edit distance,
# so every match and score is value-checked.
# --------------------------------------------------------------------------


@query(
    "record_linkage_customers",
    oracle="""
WITH dirty AS (
  SELECT c_custkey + 5000000 AS dirty_id,
         substr(c_name, 1, 16) || substr(c_name, 18) AS dname,
         c_nationkey, substr(c_name, 10, 6) AS blk
  FROM customer WHERE c_custkey % 7 = 0
),
clean AS (
  SELECT c_custkey, c_name, c_nationkey, substr(c_name, 10, 6) AS blk
  FROM customer
),
cand AS (
  SELECT d.dirty_id, c.c_custkey AS matched_id,
         levenshtein(d.dname, c.c_name) AS distance
  FROM dirty d JOIN clean c
    ON d.blk = c.blk AND d.c_nationkey = c.c_nationkey
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY dirty_id
                               ORDER BY distance, matched_id) AS rn
  FROM cand WHERE distance <= 2
)
SELECT dirty_id, matched_id, distance FROM best WHERE rn = 1
ORDER BY dirty_id
""",
)
def record_linkage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cust = load_table(spark, sf_dir, "customer")
    dirty = cust.filter(F.col("c_custkey") % 7 == 0).select(
        (F.col("c_custkey") + 5000000).alias("id"),
        F.concat(
            F.substring("c_name", 1, 16), F.substring("c_name", 18, 10)
        ).alias("name"),
        "c_nationkey",
        F.substring("c_name", 10, 6).alias("blk"),
    )
    clean = cust.select(
        "c_custkey",
        "c_name",
        "c_nationkey",
        F.substring("c_name", 10, 6).alias("blk"),
    )
    return dedup.record_linkage(
        dirty,
        clean,
        dirty_id="id",
        clean_id="c_custkey",
        dirty_name="name",
        clean_name="c_name",
        block_cols=["blk", "c_nationkey"],
    ).orderBy("dirty_id")


# --------------------------------------------------------------------------
# Typo-level near-dup: threshold-bounded Levenshtein within HEAD blocks
# (operators/dedup.py::edit_distance_pairs). Complements the shingle
# family — a 3-character typo barely moves Jaccard but counts exactly in
# edit distance. Corpus injects typo-copies (a mid-word character edit +
# an appended token) of doc_id<5; md5 head-blocking and levenshtein are
# engine-portable, so the oracle verifies blocking, the hot-block cap,
# and the distances value-for-value.
# --------------------------------------------------------------------------

_TYPO_CORPUS_SQL = """
corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text || ' xq' AS text
  FROM documents WHERE doc_id < 5
)
"""


@query(
    "dedup_edit_distance_blocked",
    oracle="WITH "
    + _TYPO_CORPUS_SQL
    + f""",
t AS (
  SELECT doc_id, {NORM_SQL} AS norm,
         md5(array_to_string(string_split({NORM_SQL}, ' ')[1:5], ' '))
           AS head
  FROM corpus
),
capped AS (
  SELECT * FROM (
    SELECT *, count(*) OVER (PARTITION BY head) AS bsz FROM t
  ) WHERE bsz <= 1000
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       levenshtein(a.norm, b.norm) AS edits
FROM capped a
JOIN capped b ON a.head = b.head AND a.doc_id < b.doc_id
WHERE levenshtein(a.norm, b.norm) <= 4
ORDER BY id_a, id_b
""",
)
def dedup_edit_distance_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance (≤4) near-dup pairs within head blocks: the 5
    injected typo-copies pair with their originals at distance 3."""
    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    dups = d.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 10000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" xq")).alias("text"),
    )
    corpus = d.unionByName(dups)
    return dedup.edit_distance_pairs(corpus, "doc_id", "text")


# --------------------------------------------------------------------------
# Incremental NEAR-dup store (operators/dedup.py::minhash_store_ingest):
# the fuzzy twin of dedup_incremental_batch — the store half of the
# corpus is signed and banded ONCE; the probe half is verdict'd against
# it by band collision + the MinHash Jaccard estimator, and only novel
# docs join the store. The portable hash family makes the WHOLE flow —
# signatures, band keys, collisions, the estimator — value-checkable.
# --------------------------------------------------------------------------


_MH_PROBE_SQL = f"""
WITH corpus AS (
  SELECT doc_id, text, CASE WHEN doc_id < 250 THEN 0 ELSE 1 END AS side
  FROM documents
  UNION ALL
  SELECT doc_id + 10000 AS doc_id, text || ' appended tail words' AS text,
         1 AS side
  FROM documents WHERE doc_id < 5
),
sh AS (SELECT doc_id, side, list_distinct({SHINGLES_SQL}) AS sh FROM corpus),
hs AS (
  SELECT doc_id, side,
         list_transform(
           sh, s -> CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
                    % {dedup.MERSENNE_PRIME_31}) AS hashes
  FROM sh
),
sig AS (SELECT doc_id, side, {_SIG_SQL} AS sig FROM hs),
banded AS (
  SELECT doc_id, side, sig, j.j AS band,
         array_to_string(list_transform(
           list_slice(sig, 4 * j.j + 1, 4 * j.j + 4),
           h -> CAST(h AS VARCHAR)), '_') AS bkey
  FROM sig, range(8) j(j)
),
cand AS (
  SELECT p.doc_id AS pid, s.doc_id AS match_id,
         list_sum(list_transform(list_zip(p.sig, s.sig),
                  x -> CASE WHEN x[1] = x[2] THEN 1 ELSE 0 END)) / 32.0
           AS est
  FROM banded p
  JOIN banded s ON p.band = s.band AND p.bkey = s.bkey
  WHERE p.side = 1 AND s.side = 0
),
best AS (
  SELECT pid, min(match_id) AS match_id,
         round(arg_min(est, match_id), 4) AS est_jaccard
  FROM cand WHERE est >= 0.5 GROUP BY pid
)
SELECT d.doc_id,
       CASE WHEN b.match_id IS NOT NULL THEN 1 ELSE 0 END AS is_neardup,
       b.match_id, b.est_jaccard
FROM (SELECT DISTINCT doc_id FROM corpus WHERE side = 1) d
LEFT JOIN best b ON b.pid = d.doc_id
ORDER BY d.doc_id
"""


@query("dedup_minhash_store_probe", oracle=_MH_PROBE_SQL)
def dedup_minhash_store_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed the LSH store with the first half of the corpus, then probe
    the second half plus near-copies of 5 SEEDED docs: the copies match
    their originals (estimated Jaccard ≥ 0.5), everything else is
    novel. Uses a per-(sf, run)-scoped store table; verdicts come from
    the probe ingest only."""

    from ..operators.dedup import minhash_store_ingest

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tbl = fresh_table(spark, sf_dir, "mh_store_probe")
    seed = d.filter(F.col("doc_id") < 250)
    probe = d.filter(F.col("doc_id") >= 250).unionByName(
        d.filter(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended tail words")).alias("text"),
        )
    )
    minhash_store_ingest(seed, tbl, batch_id="seed")
    return minhash_store_ingest(
        probe, tbl, batch_id="probe"
    ).orderBy("doc_id")


# --------------------------------------------------------------------------
# Streaming twin of dedup_minhash_store_probe: the SAME seed/probe split
# delivered through real Structured Streaming file sources, near-dup'd
# by a foreachBatch sink against the persisted band store. The oracle is
# the identical verdict SQL — batch/streaming parity extended to the
# FUZZY dedup tier (verdicts depend only on the split, not the engine).
# --------------------------------------------------------------------------


@query("streaming_minhash_store", oracle=_MH_PROBE_SQL)
def streaming_minhash_store(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seed run streams the first half of the corpus into the band
    store; the second run streams the probe half (+ near-copies of 5
    seeded docs) and records per-row verdicts. Scale shape identical to
    the batch path — foreachBatch reuses the same operator, one fuzzy
    dedup semantic across engines."""

    from ..streaming.windows import foreach_batch_minhash_store

    tbl = fresh_table(spark, sf_dir, "mh_store_strm")

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    seed = d.filter(F.col("doc_id") < 250)
    probe = d.filter(F.col("doc_id") >= 250).unionByName(
        d.filter(F.col("doc_id") < 5).select(
            (F.col("doc_id") + 10000).alias("doc_id"),
            F.concat(F.col("text"), F.lit(" appended tail words")).alias("text"),
        )
    )
    verdicts = scratch(sf_dir, "strm_mh_verdicts")
    for run, (batch, vpath) in enumerate(
        ((seed, None), (probe, verdicts)), start=1
    ):
        stage = scratch(sf_dir, f"strm_mh_b{run}")
        chk = scratch(sf_dir, f"strm_mh_chk{run}")
        batch.write.mode("overwrite").parquet(stage)
        q = (
            spark.readStream.schema(batch.schema)
            .parquet(stage)
            .writeStream.foreachBatch(
                foreach_batch_minhash_store(tbl, vpath, run_tag=f"run{run}")
            )
            .option("checkpointLocation", chk)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
    return spark.read.parquet(verdicts).orderBy("doc_id")


# --------------------------------------------------------------------------
# Intra-document repeated-span dedup (round 9): the WITHIN-doc twin of
# the cross-doc verbatim-span detector — templated boilerplate repeated
# inside one document (nav blocks, chorus lines, scraped pagination)
# inflates token counts and LM loss on literal repetition. A width-3
# token window is a duplicate if the identical window occurred EARLIER
# in the same document; a token is removable if any duplicate window
# covers it. Windows posexplode to rows and duplicate-detection is
# min-position-per-(doc, window) — O(n) work per doc on one hash
# exchange (the r9 review replaced an all-in-row nested-HOF form whose
# per-window prefix scan was O(len²) inside a single row). The oracle
# keeps the per-row list formulation: DuckDB evaluates it serially per
# doc, which is fine at fixture scale and proves the relational
# rewrite lossless.
# --------------------------------------------------------------------------


@query(
    "dedup_intra_doc_spans",
    oracle=r"""
WITH t AS (
  SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
  FROM documents
),
w AS (
  SELECT doc_id, toks, len(toks) AS n,
    CASE WHEN len(toks) >= 3 THEN
      list_transform(range(0, len(toks) - 2), i ->
        array_to_string(list_slice(toks, i + 1, i + 3), ' '))
    ELSE CAST([] AS VARCHAR[]) END AS wins
  FROM t
),
d AS (
  SELECT doc_id, n, wins,
    list_transform(range(0, len(wins)), i ->
      CASE WHEN i > 0 AND list_position(list_slice(wins, 1, i), wins[i + 1]) > 0
           THEN 1 ELSE 0 END) AS dup
  FROM w
),
r AS (
  SELECT doc_id,
    CAST(n AS BIGINT) AS n_tokens,
    CAST(len(wins) AS BIGINT) AS n_windows,
    CAST(list_sum(dup) AS BIGINT) AS n_dup_windows,
    CAST(list_sum(list_transform(range(0, CAST(n AS INT)), p ->
      CASE WHEN n >= 3 AND list_sum(list_transform(
             range(greatest(p - 2, 0), least(p, n - 3) + 1),
             i -> dup[i + 1])) > 0
           THEN 1 ELSE 0 END)) AS BIGINT) AS n_removed_tokens
  FROM d
)
SELECT doc_id, n_tokens, n_windows,
       coalesce(n_dup_windows, 0) AS n_dup_windows,
       coalesce(n_removed_tokens, 0) AS n_removed_tokens
FROM r WHERE n_dup_windows > 0 ORDER BY doc_id
""",
)
def dedup_intra_doc_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Docs containing at least one duplicated width-3 token window,
    with window/dup-window/removable-token counts.

    LINEAR formulation (r9 review fix): window strings posexplode to
    rows and "duplicate" = position > min(position) over the
    (doc, window) group — one hash exchange on (doc, window), O(n)
    comparisons per doc. The earlier all-in-row nested-HOF form ran
    array_position over a growing prefix per window: O(len²) string
    compares inside one row, which is exactly the boilerplate-heavy
    long document this operator targets. Removable-token coverage is
    the distinct union of [i, i+2] over duplicate starts — a bounded
    3× expansion of the (sparse) duplicate set, never of the corpus."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.split(F.trim("text"), r"\s+").alias("toks")
    )
    pos = d.select(
        "doc_id",
        F.size("toks").alias("n"),
        F.posexplode(
            F.expr(
                """
                CASE WHEN size(toks) >= 3 THEN
                  transform(sequence(0, size(toks) - 3), i ->
                    array_join(slice(toks, i + 1, 3), ' '))
                ELSE array() END
                """
            )
        ).alias("i", "win"),
    )
    flagged = pos.withColumn(
        "dup",
        (F.col("i") > F.min("i").over(Window.partitionBy("doc_id", "win"))).cast(
            "long"
        ),
    )
    stats = flagged.groupBy("doc_id").agg(
        F.max("n").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_windows"),
        F.sum("dup").alias("n_dup_windows"),
    )
    cov = (
        flagged.filter(F.col("dup") == 1)
        .select("doc_id", F.explode(F.sequence("i", F.col("i") + 2)).alias("p"))
        .distinct()
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_removed_tokens"))
    )
    return (
        stats.filter(F.col("n_dup_windows") > 0)
        .join(cov, "doc_id")
        .select(
            "doc_id", "n_tokens", "n_windows", "n_dup_windows", "n_removed_tokens"
        )
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# Directional containment (round 11): |A∩B|/|A| per direction — the
# asymmetric near-dup measure that catches a short doc quoted whole
# inside a long one (Jaccard ≈ |A|/|B| misses it; the injected
# tail-appended near-copies have containment(orig ⊂ copy) = 1.0).
# Same inverted-index join as dedup_ngram_jaccard; filter on the
# round-4 grid in BOTH engines.
# --------------------------------------------------------------------------


@query(
    "dedup_containment_pairs",
    oracle="WITH "
    + _NEAR_CORPUS_SQL
    + f""",
sh AS (SELECT doc_id, list_distinct({SHINGLES_SQL}) AS sh FROM corpus),
inv AS (SELECT doc_id, unnest(sh) AS shingle FROM sh),
sizes AS (SELECT doc_id, len(sh) AS sz FROM sh),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS common
  FROM inv a JOIN inv b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, cont_a_q, cont_b_q FROM (
  SELECT id_a, id_b,
         round(common * 1.0 / sa.sz, 4) AS cont_a_q,
         round(common * 1.0 / sb.sz, 4) AS cont_b_q
  FROM common
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
) WHERE greatest(cont_a_q, cont_b_q) >= 0.8
ORDER BY id_a, id_b
""",
)
def dedup_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment ≥ 0.8 pairs over the near-dup corpus: the 5 injected
    (original, tail-appended copy) pairs surface with cont_a_q = 1.0."""
    corpus = _with_near_dups(spark, sf_dir)
    return dedup.containment_pairs(corpus, "doc_id", "text")
