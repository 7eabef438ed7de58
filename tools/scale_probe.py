"""Measured scaling probe: replicate the sf0.1 fixtures 1×/4×/16× and
time the heavy operators at each size — evidence that the plan shapes
scale near-linearly (the 100 TB design claim, measured instead of
asserted). Writes SCALE.md. Usage:

    python tools/scale_probe.py [base_sf_dir]   # default /root/testdata/sf0.1

Replicas get disjoint id spaces and perturbed text (a replica suffix) so
fuzzy-dedup collisions stay within a replica — corpus size grows, true
pair count grows linearly, and candidate generation must not go
quadratic for the probe to stay linear.
"""

from __future__ import annotations

import os
import shutil
import sys
import time

sys.path.insert(0, "/root/repo")

SCRATCH = "/root/repo/.scratch/scale"
REPLICAS = (1, 4, 16)


def replicate(spark, base, table, factor, id_cols, text_col=None):
    from pyspark.sql import functions as F

    df = spark.read.parquet(f"{base}/{table}.parquet")
    parts = []
    for r in range(factor):
        d = df
        for c in id_cols:
            d = d.withColumn(c, F.col(c) + F.lit(r * 100_000_000))
        if text_col is not None and r > 0:
            # Suffix EVERY token so replicas share zero shingles with the
            # original — cross-replica near-dup pairs would otherwise grow
            # with replicas² and mask the operator's own scaling.
            d = d.withColumn(
                text_col, F.regexp_replace(F.col(text_col), r"(\S+)", f"$1r{r}")
            )
        parts.append(d)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    path = f"{SCRATCH}/{table}_{factor}x"
    out.write.mode("overwrite").parquet(path)
    return path


def probe_repetition_64x(base: str) -> None:
    """Focused deep probe: repetition_metrics at 1×/16×/64× (the
    steepest curve in the main probe's 16× run — this verifies the
    map-only rewrite holds to 64×). Appends/replaces a dedicated
    section in SCALE.md. Usage: python tools/scale_probe.py --repetition64
    """
    import re
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.plans.training_plans import (
        repetition_metrics,
    )
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-rep64")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()  # warm JVM

    factors = (1, 16, 64)
    ts: dict[int, float] = {}
    nrows: dict[int, int] = {}
    for factor in factors:
        docs = replicate(spark, base, "documents", factor, ["doc_id"], "text")
        d = spark.read.parquet(docs)
        nrows[factor] = d.count()
        # Two timed runs; keep the second (warm) — run-to-run noise on
        # sub-10s jobs otherwise dominates the ratio.
        for _ in range(2):
            t0 = _time.perf_counter()
            repetition_metrics(d).write.mode("overwrite").format("noop").save()
            ts[factor] = _time.perf_counter() - t0

    section = [
        "## repetition_filters deep probe (1×/16×/64×, warm second-run times)",
        "",
        "Map-only rewrite (sorted-gram run-length stats inside the row, no",
        "(doc_id, gram) shuffle): wall time must stay ≤ linear in corpus size.",
        "",
        "| rows @1×/16×/64× | t(1×) s | t(16×) s | t(64×) s | t64/t1 | linear ⇒ |",
        "|---|---|---|---|---|---|",
        f"| {nrows[1]}/{nrows[16]}/{nrows[64]} | {ts[1]:.2f} | {ts[16]:.2f} "
        f"| {ts[64]:.2f} | {ts[64] / ts[1]:.1f}× | ≤ 64× |",
        "",
    ]
    with open("/root/repo/SCALE.md") as f:
        content = f.read()
    content = re.sub(
        r"## repetition_filters deep probe.*?(?=^## |\Z)",
        "",
        content,
        flags=re.S | re.M,
    ).rstrip() + "\n\n" + "\n".join(section)
    with open("/root/repo/SCALE.md", "w") as f:
        f.write(content)
    print("appended repetition 64x section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)



def probe_novelty(base: str) -> None:
    """Focused probe: ngram_novelty (shingle-ownership novelty scoring)
    at 1×/4×/16×. The op's state is O(distinct shingles) and replicas
    share zero shingles (per-replica token suffixes), so distinct-shingle
    count grows linearly with the corpus — the probe verifies wall time
    does too. Appends/replaces a dedicated section in SCALE.md.
    Usage: python tools/scale_probe.py --novelty
    """
    import re
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.dedup import ngram_novelty
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-novelty")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()  # warm JVM

    factors = (1, 4, 16)
    ts: dict[int, float] = {}
    nrows: dict[int, int] = {}
    for factor in factors:
        docs = replicate(spark, base, "documents", factor, ["doc_id"], "text")
        d = spark.read.parquet(docs)
        nrows[factor] = d.count()
        for _ in range(2):  # keep the warm second run
            t0 = _time.perf_counter()
            ngram_novelty(d).write.mode("overwrite").format("noop").save()
            ts[factor] = _time.perf_counter() - t0

    section = [
        "## ngram_novelty probe (1×/4×/16×, warm second-run times)",
        "",
        "Shingle-ownership novelty: shingles shuffle as xxhash64 codes; the",
        "ownership groupBy and the join back share one partitioning. Distinct",
        "shingles grow linearly across replicas, so wall time must too.",
        "",
        "| rows @1×/4×/16× | t(1×) s | t(4×) s | t(16×) s | t16/t1 | linear ⇒ |",
        "|---|---|---|---|---|---|",
        f"| {nrows[1]}/{nrows[4]}/{nrows[16]} | {ts[1]:.2f} | {ts[4]:.2f} "
        f"| {ts[16]:.2f} | {ts[16] / ts[1]:.1f}× | ≤ 16× |",
        "",
    ]
    with open("/root/repo/SCALE.md") as f:
        content = f.read()
    content = re.sub(
        r"## ngram_novelty probe.*?(?=^## |\Z)",
        "",
        content,
        flags=re.S | re.M,
    ).rstrip() + "\n\n" + "\n".join(section) + "\n"
    with open("/root/repo/SCALE.md", "w") as f:
        f.write(content)
    print("appended ngram_novelty section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)

def probe_curation_64x(base: str) -> None:
    """Deep 64× probe for the two curation operators whose scale story
    previously stopped at 16× (r5 verdict ask #8): SemDeDup with the
    auto-k default, and large-star/small-star connected components on
    worst-case (long-diameter) graphs. Appends/replaces a dedicated
    SCALE.md section. Usage: python tools/scale_probe.py --curation64
    """
    import re
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.dedup import (
        _cc_star,
        semantic_dedup,
    )
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-cur64")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()  # warm JVM

    factors = (1, 16, 64)
    sd_t: dict[int, float] = {}
    sd_rows: dict[int, int] = {}
    cc_t: dict[int, float] = {}
    cc_rows: dict[int, int] = {}
    cc_rounds: dict[int, int] = {}
    for factor in factors:
        # SemDeDup replicas: dimension-ROTATED (not cloned — verbatim
        # copies would create replicas² cross-replica near-dup pairs by
        # construction; rotations are mutually dissimilar, and the 63
        # distinct rotation offsets cover all 64 replicas exactly once).
        e_base = spark.read.parquet(f"{base}/embeddings.parquet")
        e_parts = []
        for r in range(factor):
            d = e_base.withColumn(
                "vec_id", F.col("vec_id") + F.lit(r * 100_000_000)
            )
            if r:
                s = r % 63 + 1
                d = d.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {s + 1}, {64 - s}), "
                        f"slice(embedding, 1, {s}))"
                    ),
                )
            e_parts.append(d)
        e = e_parts[0]
        for p in e_parts[1:]:
            e = e.unionByName(p)
        epath = f"{SCRATCH}/emb64_{factor}x"
        e.write.mode("overwrite").parquet(epath)
        e = spark.read.parquet(epath)
        for _ in range(2):  # warm second run recorded
            t0 = _time.perf_counter()
            n = (
                semantic_dedup(
                    e, "vec_id", "embedding",
                    target_cluster_size=125, threshold=0.2,
                )
                .filter("keep")
                .count()
            )
            sd_t[factor] = _time.perf_counter() - t0
        sd_rows[factor] = n

        # CC worst case: 512-node PATH components (near-dup chains are
        # exactly where naive propagation needs O(diameter) rounds) at
        # 200k/3.2M/12.8M nodes. Star contraction must hold its round
        # count ~flat while wall time stays ≤ linear.
        n_nodes = 200_000 * factor
        nodes = spark.range(n_nodes).select(F.col("id"))
        edges = (
            spark.range(n_nodes - 1)
            .filter((F.col("id") + 1) % 512 != 0)
            .select(F.col("id").alias("id_a"), (F.col("id") + 1).alias("id_b"))
        )
        for _ in range(2):
            t0 = _time.perf_counter()
            labels, rounds = _cc_star(nodes, edges, "id", 30)
            n = labels.select("canonical_id").distinct().count()
            cc_t[factor] = _time.perf_counter() - t0
        cc_rows[factor] = n
        cc_rounds[factor] = rounds
        assert n == (n_nodes + 511) // 512, (n, n_nodes)
        print(f"factor {factor}x done", flush=True)

    section = [
        "## curation deep probe (1×/16×/64×, warm second-run times)",
        "",
        "SemDeDup runs the auto-k DEFAULT (k = rows/125 ⇒ cluster size —",
        "the per-cluster GEMM's quadratic unit — stays bounded as the",
        "corpus grows) and, above k=256, the two-level coarse-quantizer",
        "assignment (n·2√k; flat n·k assignment measured 191.6s vs 13.3s",
        "two-level at 64× — the quadratic term this probe originally",
        "exposed); replicas are dimension-rotated so the true pair",
        "count grows linearly. CC runs alternating large-star/small-star",
        "over worst-case 512-node PATH components: rounds must stay",
        "~flat (O(log n) regardless of diameter) while wall stays",
        "≤ linear.",
        "",
        "| operator | out @1×/16×/64× | t(1×) s | t(16×) s | t(64×) s "
        "| t64/t1 | linear ⇒ |",
        "|---|---|---|---|---|---|---|",
        f"| semantic_dedup auto-k | {sd_rows[1]}/{sd_rows[16]}/{sd_rows[64]} "
        f"| {sd_t[1]:.2f} | {sd_t[16]:.2f} | {sd_t[64]:.2f} "
        f"| {sd_t[64] / sd_t[1]:.1f}× | ≤ 64× |",
        f"| cc_star 512-path | {cc_rows[1]}/{cc_rows[16]}/{cc_rows[64]} comps "
        f"| {cc_t[1]:.2f} | {cc_t[16]:.2f} | {cc_t[64]:.2f} "
        f"| {cc_t[64] / cc_t[1]:.1f}× | ≤ 64× |",
        "",
        f"cc_star rounds at 1×/16×/64×: {cc_rounds[1]}/{cc_rounds[16]}/"
        f"{cc_rounds[64]} — flat round count at 64× node growth is the",
        "O(log n) contraction bound holding with diameter pinned at 512.",
        "",
    ]
    with open("/root/repo/SCALE.md") as f:
        content = f.read()
    content = re.sub(
        r"## curation deep probe.*?(?=^## |\Z)",
        "",
        content,
        flags=re.S | re.M,
    ).rstrip() + "\n\n" + "\n".join(section)
    with open("/root/repo/SCALE.md", "w") as f:
        f.write(content)
    print("appended curation 64x section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def probe_lifecycle(base: str) -> None:
    """Focused probe for the round-4 lifecycle/semantic operators:
    timeline CDC (touched-key pruned fold), GLOBAL-index upsert
    (column-pruned key→partition lookup), and SemDeDup (within-cluster
    GEMM pair graph + min-label closure) at 1×/4×/16×. Appends/replaces
    a dedicated SCALE.md section.
    Usage: python tools/scale_probe.py --lifecycle
    """
    import re
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.dedup import semantic_dedup
    from spark_hudi_etl_pipeline_spark.operators.tableops import (
        upsert_parquet_partitioned_global,
    )
    from spark_hudi_etl_pipeline_spark.operators.timeline import (
        commit_append,
        timeline_cdc,
    )
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-lifecycle")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()  # warm JVM
    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(0, 1024, 1, 32).select(_warm("id")).write.mode("overwrite").format(
        "noop"
    ).save()

    factors = (1, 4, 16)
    results: dict[str, dict[int, float]] = {
        "timeline_cdc": {}, "global_upsert": {}, "semantic_dedup": {},
        "bpe_train_8": {}, "rli_upsert": {},
    }
    nrows: dict[str, dict[int, int]] = {k: {} for k in results}
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"]
    for factor in factors:
        ords = replicate(spark, base, "orders", factor, ["o_orderkey"])
        o = spark.read.parquet(ords).select(*cols)

        # Timeline CDC: base + 2 delta commits, change rows since 1.
        tl = f"{SCRATCH}/tl_{factor}x"
        shutil.rmtree(tl, ignore_errors=True)
        commit_append(spark, o, tl, 1)
        commit_append(
            spark,
            o.filter(F.col("o_orderkey") % 3 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") * 2.0)
            .withColumn(
                "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
            ),
            tl,
            2,
        )
        commit_append(
            spark,
            o.filter(F.col("o_orderkey") % 7 == 0)
            .withColumn("o_totalprice", F.col("o_totalprice") * 3.0)
            .withColumn(
                "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")
            ),
            tl,
            3,
        )
        for _ in range(2):  # warm second run
            t0 = _time.perf_counter()
            n = timeline_cdc(spark, tl, ["o_orderkey"], "o_orderdate", since=1).count()
            results["timeline_cdc"][factor] = _time.perf_counter() - t0
        nrows["timeline_cdc"][factor] = n

        # GLOBAL-index upsert: partition moves at table scale (first
        # write outside the timer; the timed run is the incremental
        # batch with its global key→partition lookup).
        gt = f"{SCRATCH}/gu_{factor}x"
        shutil.rmtree(gt, ignore_errors=True)
        upsert_parquet_partitioned_global(
            spark, o, gt, ["o_orderkey"], "o_orderdate", "o_orderstatus"
        )
        moves = (
            o.filter((F.col("o_orderstatus") == "O") & (F.col("o_orderkey") % 50 == 0))
            .withColumn("o_orderstatus", F.lit("F"))
            .withColumn(
                "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
            )
        )
        t0 = _time.perf_counter()
        n = upsert_parquet_partitioned_global(
            spark, moves, gt, ["o_orderkey"], "o_orderdate", "o_orderstatus"
        )
        results["global_upsert"][factor] = _time.perf_counter() - t0
        nrows["global_upsert"][factor] = n

        # SemDeDup: clusters grow with corpus; per-cluster GEMM is the
        # bounded-candidate step that must keep this off the n² cliff.
        # Plain replication would clone every vector verbatim — 16
        # bit-identical copies per vector make cross-replica pair count
        # grow with replicas² BY CONSTRUCTION (the embedding analogue of
        # the text-suffix rule in replicate()); rotate each replica's
        # dimensions instead so replicas are mutually dissimilar and the
        # true pair count grows linearly.
        e_base = spark.read.parquet(f"{base}/embeddings.parquet")
        e_parts = []
        for r in range(factor):
            d = e_base.withColumn(
                "vec_id", F.col("vec_id") + F.lit(r * 100_000_000)
            )
            if r:
                s = r % 63 + 1
                d = d.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {s + 1}, {64 - s}), "
                        f"slice(embedding, 1, {s}))"
                    ),
                )
            e_parts.append(d)
        e = e_parts[0]
        for p in e_parts[1:]:
            e = e.unionByName(p)
        epath = f"{SCRATCH}/emb_rot_{factor}x"
        e.write.mode("overwrite").parquet(epath)
        e = spark.read.parquet(epath)
        # Auto-k (the default): cluster COUNT scales with the corpus
        # (SemDeDup's own recipe, auto_cluster_count's k ∝ n) so cluster
        # SIZE — the GEMM's quadratic unit — stays bounded; a fixed k
        # would make within-cluster pair generation quadratic in corpus
        # size by definition. The probe exercises the auto path so the
        # default, not just a hand-tuned k, is what's measured.
        # target_cluster_size=125 reproduces the r4 hand-tuned series
        # exactly (k = 16·factor on the 2000·factor-row embeddings
        # corpus), so the r4→r5 trend isolates the CC-engine change.
        for _ in range(2):
            t0 = _time.perf_counter()
            n = (
                semantic_dedup(
                    e, "vec_id", "embedding",
                    target_cluster_size=125, threshold=0.2,
                )
                .filter("keep")
                .count()
            )
            results["semantic_dedup"][factor] = _time.perf_counter() - t0
        nrows["semantic_dedup"][factor] = n

        # Record-level-indexed upsert: a 2% batch against the RLI table —
        # the timed run includes the index probe (O(index scan), two thin
        # columns), the affected-file merge, and the incremental index
        # maintenance; first write (table + index build) is untimed.
        from spark_hudi_etl_pipeline_spark.operators.merge import (
            upsert_parquet_record_indexed,
        )

        rt = f"{SCRATCH}/rli_{factor}x"
        shutil.rmtree(rt, ignore_errors=True)
        upsert_parquet_record_indexed(
            spark, o.repartition(8 * factor, "o_orderkey"), rt,
            "o_orderkey", "o_orderdate",
        )
        rbatch = o.filter(F.col("o_orderkey") % 50 == 0).withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        t0 = _time.perf_counter()
        n = upsert_parquet_record_indexed(
            spark, rbatch, rt, "o_orderkey", "o_orderdate"
        )
        results["rli_upsert"][factor] = _time.perf_counter() - t0
        nrows["rli_upsert"][factor] = n

        # BPE training: the per-replica token suffixes make the word
        # DICTIONARY grow ~linearly with the corpus — the probe verifies
        # the per-merge iteration cost (pair agg + top-1 + fold over the
        # dictionary) tracks dictionary size, while the corpus itself is
        # touched exactly once (word_frequencies).
        from spark_hudi_etl_pipeline_spark.operators.bpe import (
            bpe_train,
            word_frequencies,
        )

        docs = replicate(spark, base, "documents", factor, ["doc_id"], "text")
        dd = spark.read.parquet(docs)
        for _ in range(2):
            t0 = _time.perf_counter()
            merges = bpe_train(word_frequencies(dd, "text"), 8)
            results["bpe_train_8"][factor] = _time.perf_counter() - t0
        nrows["bpe_train_8"][factor] = len(merges)

    section = [
        "## lifecycle/semantic probe (1×/4×/16×, warm runs)",
        "",
        "Round-4 operators: timeline CDC folds only touched keys (semi-join",
        "pruned); the GLOBAL-index upsert's key→partition lookup is a",
        "column-pruned scan + broadcast semi join; SemDeDup runs with",
        "cluster count ∝ corpus (auto_cluster_count's k ∝ n default — the",
        "paper's own recipe; target_cluster_size=125 reproduces the r4",
        "hand-tuned k = 16·factor series exactly) so",
        "cluster size — the per-cluster GEMM's quadratic unit — stays",
        "bounded; replicas are dimension-rotated so true pair count grows",
        "linearly. A fixed k measured 12-19× here (quadratic by definition,",
        "not implementation) — the operator docstring records the k ∝ n rule.",
        "BPE training touches the corpus once (word-frequency agg) and then",
        "iterates on the ~linearly-growing word dictionary — flat wall time.",
        "The RLI upsert's 2% batch is DENSE (every file holds batch keys on",
        "this scattered layout), so the merge rewrites all files — the probe",
        "times probe + full-affected merge + index maintenance; near-flat",
        "ratio means none of the three grows super-linearly.",
        "",
        "| operator | out-rows @1×/4×/16× | t(1×) s | t(4×) s | t(16×) s | ratio |",
        "|---|---|---|---|---|---|",
    ]
    for op, ts in results.items():
        r = nrows[op]
        section.append(
            f"| {op} | {r[1]}/{r[4]}/{r[16]} | {ts[1]:.2f} | {ts[4]:.2f} | "
            f"{ts[16]:.2f} | {ts[16] / ts[1]:.1f}× |"
        )
    section.append("")
    with open("/root/repo/SCALE.md") as f:
        content = f.read()
    content = re.sub(
        r"## lifecycle/semantic probe.*?(?=^## |\Z)",
        "",
        content,
        flags=re.S | re.M,
    ).rstrip() + "\n\n" + "\n".join(section) + "\n"
    with open("/root/repo/SCALE.md", "w") as f:
        f.write(content)
    print("appended lifecycle/semantic section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def probe_curation(base: str) -> None:
    """Focused probe for the round-5 curation operators: DSIR
    importance weights (one gram shuffle + vocab join + doc agg) and
    integer Lloyd k-means (map-only assignment + one k·d-group agg per
    round) at 1×/4×/16×. Runs the REGISTERED queries against replicated
    fixture directories (same code path the correctness gate checks).
    Appends/replaces a dedicated SCALE.md section.
    Usage: python tools/scale_probe.py --curation
    """
    import os
    import re
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-curation")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()  # warm JVM

    results: dict[str, dict[int, float]] = {"dsir_weights": {}, "kmeans_lloyd": {}}
    nrows: dict[str, dict[int, int]] = {k: {} for k in results}
    for factor in REPLICAS:
        sf_dir = f"{SCRATCH}/cur_{factor}x"
        os.makedirs(sf_dir, exist_ok=True)
        for table, id_cols, text_col in (
            ("documents", ["doc_id"], "text"),
            ("embeddings", ["vec_id"], None),
        ):
            df = spark.read.parquet(f"{base}/{table}.parquet")
            parts = []
            for r in range(factor):
                d = df
                for c in id_cols:
                    d = d.withColumn(c, F.col(c) + F.lit(r * 100_000_000))
                if text_col is not None and r > 0:
                    d = d.withColumn(
                        text_col,
                        F.regexp_replace(F.col(text_col), r"(\S+)", f"$1r{r}"),
                    )
                parts.append(d)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            out.write.mode("overwrite").parquet(f"{sf_dir}/{table}.parquet")
        for name, key in (
            ("dsir_importance_weights", "dsir_weights"),
            ("kmeans_lloyd_int", "kmeans_lloyd"),
        ):
            for _ in range(2):  # warm second run is the recorded one
                t0 = _time.perf_counter()
                QUERIES[name](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                results[key][factor] = _time.perf_counter() - t0
            nrows[key][factor] = QUERIES[name](spark, sf_dir).count()
        print(f"factor {factor}x done", flush=True)

    lines = [
        "",
        "## curation probe (1×/4×/16×, warm runs)",
        "",
        "Round-5 operators, run through the REGISTERED queries (the same",
        "code the oracle gate value-checks). DSIR: grams shuffle once as",
        "xxhash64 codes for the target/raw count agg, the vocab-sized",
        "log-ratio table joins back, one doc agg — linear in corpus.",
        "k-means: per-round map-only literal-centroid assignment + one",
        "k·d-group update agg; k is FIXED here (the query pins k=8), so",
        "rounds scan linearly and the update state is constant-size.",
        "",
        "| operator | out-rows @1×/4×/16× | t(1×) s | t(4×) s | t(16×) s | ratio |",
        "|---|---|---|---|---|---|",
    ]
    for key in results:
        r = results[key]
        n = nrows[key]
        lines.append(
            f"| {key} | {n[1]}/{n[4]}/{n[16]} | {r[1]:.2f} | {r[4]:.2f} "
            f"| {r[16]:.2f} | {r[16] / r[1]:.1f}× |"
        )
    lines.append("")
    with open("/root/repo/SCALE.md") as f:
        content = f.read()
    content = re.sub(
        r"\n## curation probe.*?(?=\n## |\Z)", "", content, flags=re.S
    )
    content += "\n".join(lines)
    with open("/root/repo/SCALE.md", "w") as f:
        f.write(content)
    print("appended curation section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def probe_skew(base: str) -> None:
    """Measured hot-key join skew: a fact with 40% of its rows on ONE
    join key, joined (broadcast disabled — the in-between regime where
    the dim is too big to broadcast) against a replicated dim, three
    ways: flat SMJ with AQE's skew split off, with it on, and the manual
    salted join. Appends/replaces a SCALE.md section.
    Usage: python tools/scale_probe.py --skew
    """
    import re
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.skew import salted_join
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-skew")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()  # warm JVM
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")

    def build(factor: int):
        li = spark.read.parquet(f"{base}/lineitem.parquet").select(
            "l_orderkey", "l_suppkey", "l_extendedprice"
        )
        parts = [li]
        for r in range(1, factor):
            parts.append(li.withColumn(
                "l_orderkey", F.col("l_orderkey") + F.lit(r * 100_000_000)
            ))
        fact = parts[0]
        for p in parts[1:]:
            fact = fact.unionByName(p)
        # 40% of rows land on suppkey 1 — the hot key.
        fact = fact.withColumn(
            "l_suppkey",
            F.when(F.col("l_orderkey") % 5 < 2, F.lit(1)).otherwise(
                F.col("l_suppkey")
            ),
        )
        sup = spark.read.parquet(f"{base}/supplier.parquet").select(
            "s_suppkey", "s_nationkey"
        )
        fpath, spath = f"{SCRATCH}/skew_fact_{factor}x", f"{SCRATCH}/skew_dim"
        fact.write.mode("overwrite").parquet(fpath)
        sup.write.mode("overwrite").parquet(spath)
        return spark.read.parquet(fpath), spark.read.parquet(spath)

    def run_join(fact, dim, mode: str) -> float:
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.enabled",
            "true" if mode != "aqe_off" else "false",
        )
        t0 = _time.perf_counter()
        if mode == "salted":
            j = salted_join(
                fact, dim.withColumnRenamed("s_suppkey", "l_suppkey"),
                ["l_suppkey"], n_salts=16,
            )
        else:
            j = fact.join(
                dim, fact["l_suppkey"] == dim["s_suppkey"]
            )
        j.groupBy("s_nationkey").agg(
            F.count(F.lit(1)), F.sum("l_extendedprice")
        ).write.mode("overwrite").format("noop").save()
        dt = _time.perf_counter() - t0
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
        return dt

    results: dict[str, dict[int, float]] = {
        "smj_aqe_skew_off": {}, "smj_aqe_skew_on": {}, "salted_join_16": {}
    }
    for factor in (4, 16):
        fact, dim = build(factor)
        for mode, key in (
            ("aqe_off", "smj_aqe_skew_off"),
            ("aqe_on", "smj_aqe_skew_on"),
            ("salted", "salted_join_16"),
        ):
            for _ in range(2):  # warm second run recorded
                results[key][factor] = run_join(fact, dim, mode)
        print(f"factor {factor}x done", flush=True)

    lines = [
        "",
        "## skew-join probe (hot key = 40% of the fact, broadcast disabled)",
        "",
        "The in-between regime (dim too big to broadcast, one key hot):",
        "flat SMJ serializes the hot key through one reducer; the manual",
        "salted join (operators/skew.py, n_salts=16) spreads it. AQE's",
        "skew split reads ≈ flat here because local shuffle blocks stay",
        "below its 256 MB split threshold — at cluster block sizes AQE",
        "takes over and salting remains the manual override. Values are",
        "result-invariant (salted_join_segment_volume oracle-checks the",
        "rewrite); this table is the wall-clock evidence.",
        "",
        "| strategy | t(4×) s | t(16×) s |",
        "|---|---|---|",
    ]
    for key, r in results.items():
        lines.append(f"| {key} | {r[4]:.2f} | {r[16]:.2f} |")
    lines.append("")
    with open("/root/repo/SCALE.md") as f:
        content = f.read()
    content = re.sub(
        r"\n## skew-join probe.*?(?=\n## |\Z)", "", content, flags=re.S
    )
    content += "\n".join(lines)
    with open("/root/repo/SCALE.md", "w") as f:
        f.write(content)
    print("appended skew section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def main() -> None:
    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators import dedup, similarity
    from spark_hudi_etl_pipeline_spark.operators.maintenance import snapshot_diff
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_upsert
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    spark = get_spark_session("scale-probe")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm JVM + python workers.
    spark.range(1 << 20).select(F.sum("id")).collect()
    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(0, 1024, 1, 32).select(_warm("id")).write.mode("overwrite").format(
        "noop"
    ).save()

    results: dict[str, dict[int, float]] = {"agg_lineitem": {}, "minhash_pairs": {},
                                            "knn_topk": {}, "cdc_diff": {},
                                            "upsert_merge": {},
                                            "repetition_filters": {},
                                            "pack_sequences": {},
                                            "pagerank_3iter": {}}
    rows: dict[str, dict[int, int]] = {k: {} for k in results}

    for factor in REPLICAS:
        li = replicate(spark, base, "lineitem", factor, ["l_orderkey"])
        docs = replicate(spark, base, "documents", factor, ["doc_id"], "text")
        emb = replicate(spark, base, "embeddings", factor, ["vec_id"])

        t0 = time.perf_counter()
        df = spark.read.parquet(li)
        (
            df.filter(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.sum("l_quantity"), F.avg("l_extendedprice"), F.count(F.lit(1)))
            .write.mode("overwrite").format("noop").save()
        )
        results["agg_lineitem"][factor] = time.perf_counter() - t0
        rows["agg_lineitem"][factor] = df.count()

        t0 = time.perf_counter()
        d = spark.read.parquet(docs)
        n_pairs = dedup.minhash_dedup_pairs(d, "doc_id", "text", threshold=0.3).count()
        results["minhash_pairs"][factor] = time.perf_counter() - t0
        rows["minhash_pairs"][factor] = n_pairs

        t0 = time.perf_counter()
        e = spark.read.parquet(emb)
        queries = e.filter(F.col("vec_id") < 10)
        similarity.topk_cosine(
            e, queries, corpus_id="vec_id", query_id="vec_id", k=5
        ).write.mode("overwrite").format("noop").save()
        results["knn_topk"][factor] = time.perf_counter() - t0
        rows["knn_topk"][factor] = e.count()

        # Training-tier corpus operators on the same replicated docs:
        # fused (k, gram) repetition metrics and two-phase sequence
        # packing (per-bucket windows + broadcast offsets).
        from spark_hudi_etl_pipeline_spark.plans.training_plans import (
            pack_sequences,
            repetition_metrics,
        )

        t0 = time.perf_counter()
        repetition_metrics(d).write.mode("overwrite").format("noop").save()
        results["repetition_filters"][factor] = time.perf_counter() - t0
        rows["repetition_filters"][factor] = d.count()

        t0 = time.perf_counter()
        pack_sequences(d).write.mode("overwrite").format("noop").save()
        results["pack_sequences"][factor] = time.perf_counter() - t0
        rows["pack_sequences"][factor] = d.count()

        ords = replicate(spark, base, "orders", factor, ["o_orderkey"])
        o = spark.read.parquet(ords)
        # CDC diff: old vs a derived snapshot (deletes %97, price bumps
        # %13, inserts %211) — one full-outer join at table scale.
        new_snap = (
            o.filter(F.col("o_orderkey") % 97 != 0)
            .withColumn(
                "o_totalprice",
                F.col("o_totalprice")
                + F.when(F.col("o_orderkey") % 13 == 0, 100).otherwise(0),
            )
            .unionByName(
                o.filter(F.col("o_orderkey") % 211 == 0).withColumn(
                    "o_orderkey", F.col("o_orderkey") + 10_000_000_000
                )
            )
        )
        t0 = time.perf_counter()
        n_changes = snapshot_diff(o, new_snap, ["o_orderkey"]).count()
        results["cdc_diff"][factor] = time.perf_counter() - t0
        rows["cdc_diff"][factor] = n_changes

        # Iterative graph tier: 3-iteration PageRank on the replicated
        # customer-supplier graph (edge count grows linearly with the
        # replicas; iterations must stay one shuffle each).
        from spark_hudi_etl_pipeline_spark.plans.graph_plans import pagerank_ranks

        li_df = spark.read.parquet(li)
        t0 = time.perf_counter()
        pagerank_ranks(
            li_df.select("l_orderkey", "l_suppkey"),
            o.select("o_orderkey", "o_custkey"),
        ).write.mode("overwrite").format("noop").save()
        results["pagerank_3iter"][factor] = time.perf_counter() - t0
        rows["pagerank_3iter"][factor] = li_df.count()

        # Keyed upsert: a 2%-of-table batch merged in (the incremental
        # write path at table scale — batch side stays small/broadcast).
        batch = o.filter(F.col("o_orderkey") % 50 == 0).withColumn(
            "o_orderdate", F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")
        )
        t0 = time.perf_counter()
        merge_upsert(o, batch, ["o_orderkey"], "o_orderdate").write.mode(
            "overwrite"
        ).format("noop").save()
        results["upsert_merge"][factor] = time.perf_counter() - t0
        rows["upsert_merge"][factor] = o.count()

    lines = [
        "# SCALE — measured operator scaling (replicated sf0.1 fixtures)",
        "",
        "Generated by `tools/scale_probe.py`. Fixtures replicated with disjoint",
        "id spaces and per-replica text markers (fuzzy-dedup collisions stay",
        "within a replica). `ratio` = t(16×)/t(1×); linear scaling ⇒ ≤ 16 —",
        "lower means fixed per-job overhead still dominates at this size.",
        "",
        "| operator | rows/pairs @1×/4×/16× | t(1×) s | t(4×) s | t(16×) s | ratio |",
        "|---|---|---|---|---|---|",
    ]
    for op, ts in results.items():
        r = rows[op]
        ratio = ts[16] / ts[1] if ts[1] > 0 else float("nan")
        lines.append(
            f"| {op} | {r[1]}/{r[4]}/{r[16]} | {ts[1]:.2f} | {ts[4]:.2f} | "
            f"{ts[16]:.2f} | {ratio:.1f}× |"
        )
    lines += [
        "",
        "Interpretation: a 16× data increase costing well under 16× wall time",
        "means the local runs are overhead-bound (scheduling, Python worker",
        "round-trips) and the data-dependent cost curve is flat-to-linear —",
        "the candidate-bounded dedup join and broadcast-query kNN do not go",
        "quadratic as the corpus grows, the fused n-gram metrics and the",
        "two-phase prefix-sum packing stay shuffle-bound on their natural",
        "keys, and the 3-iteration PageRank (one shuffle per iteration over",
        "a once-materialized edge list over packed integer node ids)",
        "stays near-flat for 16× edges.",
        "",
    ]
    with open("/root/repo/SCALE.md", "w") as f:
        f.write("\n".join(lines))
    print("wrote /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def probe_cores(base: str) -> None:
    """r14 core-count scaling probe (r13 verdict ask #8): at sf0.1 every
    8-vs-32-core ratio reads ≈1 because fixed per-query costs (plan
    construction, job scheduling, multi-commit writes) swamp compute —
    the probe could not separate serial from parallel paths. This one
    replicates the fixtures 16× (≈ sf1.6 — ~9.6M lineitem rows, ~80k
    docs) into a scratch sf-dir and re-times representative REGISTERED
    queries under ``SPARK_GRAFT_CPUS=8`` and ``=32`` in separate JVMs
    (the same env knob the driver's bench uses), interleaved
    8,32,32,8 so host drift cancels. Appends/replaces a SCALE.md
    section. Usage: python tools/scale_probe.py --cores
    """
    import json
    import re
    import subprocess

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    queries = [
        "q1_pricing_summary",        # single-scan aggregate
        "q9_profit_by_nation_year",  # star join
        "dedup_simhash",             # map-only expression scan
        "text_repetition_filters",   # Arrow-UDF scan
        "knn_bruteforce_cosine",     # broadcast join + per-query top-k
        "tfidf_similar_docs",        # shuffle-heavy inverted index
    ]
    factor = 16
    sf_dir = f"{SCRATCH}/cores_{factor}x"
    spark = get_spark_session("scale-probe-cores")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(sf_dir, exist_ok=True)
    # Big tables replicated with disjoint id spaces (l_partkey/l_suppkey
    # deliberately NOT offset so the dim joins stay intact and dims grow
    # in fan-in, not cardinality); small dims copied verbatim.
    for table, id_cols, text_col in (
        ("lineitem", ["l_orderkey"], None),
        ("orders", ["o_orderkey"], None),
        ("documents", ["doc_id"], "text"),
        ("embeddings", ["vec_id"], None),
    ):
        df = spark.read.parquet(f"{base}/{table}.parquet")
        parts = []
        for r in range(factor):
            d = df
            for c in id_cols:
                d = d.withColumn(c, F.col(c) + F.lit(r * 100_000_000))
            if text_col is not None and r > 0:
                d = d.withColumn(
                    text_col,
                    F.regexp_replace(F.col(text_col), r"(\S+)", f"$1r{r}"),
                )
            parts.append(d)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        out.write.mode("overwrite").parquet(f"{sf_dir}/{table}.parquet")
    for table in ("region", "nation", "customer", "supplier", "part", "events"):
        dst = f"{sf_dir}/{table}.parquet"
        shutil.rmtree(dst, ignore_errors=True)
        if os.path.isdir(f"{base}/{table}.parquet"):
            shutil.copytree(f"{base}/{table}.parquet", dst)
        else:
            shutil.copyfile(f"{base}/{table}.parquet", dst)
    spark.stop()  # the probe sessions own the box from here

    def session(cpus: int) -> dict[str, float]:
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus))
        out = subprocess.run(
            [sys.executable, "/root/repo/tools/ab_probe.py", "/root/repo",
             sf_dir, "2", *queries],
            capture_output=True, text=True, check=True, timeout=3600, env=env,
        ).stdout.strip().splitlines()[-1]
        return json.loads(out)["timings"]

    mins: dict[int, dict[str, float]] = {8: {}, 32: {}}
    for cpus in (8, 32, 32, 8):
        t = session(cpus)
        for n, v in t.items():
            mins[cpus][n] = min(v, mins[cpus].get(n, float("inf")))
        print(f"cpus={cpus}: {t}", flush=True)

    section = [
        "## core-count scaling probe (16× fixtures ≈ sf1.6, 8 vs 32 cores)",
        "",
        "r13's probe at sf0.1 read ≈1 everywhere (fixed per-query cost",
        "swamps compute). At 16× the data, compute-bound paths must show",
        "a real core ratio; paths pinned by fixed costs (per-query job",
        "scheduling, Python worker round-trips) stay flat. Separate JVMs",
        "per core count via SPARK_GRAFT_CPUS (the driver's own knob),",
        "interleaved 8,32,32,8; min-of-2 sessions × 2 passes.",
        "",
        "| query | t(8 cores) s | t(32 cores) s | speedup 8→32 |",
        "|---|---|---|---|",
    ]
    for q in queries:
        t8, t32 = mins[8][q], mins[32][q]
        section.append(f"| {q} | {t8:.2f} | {t32:.2f} | {t8 / t32:.2f}× |")
    section.append("")
    with open("/root/repo/SCALE.md") as f:
        content = f.read()
    content = re.sub(
        r"## core-count scaling probe.*?(?=^## |\Z)",
        "",
        content,
        flags=re.S | re.M,
    ).rstrip() + "\n\n" + "\n".join(section) + "\n"
    with open("/root/repo/SCALE.md", "w") as f:
        f.write(content)
    print("appended core-count section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def probe_hardneg_stats(base: str) -> None:
    """Round-7 probe: (A) hard-negative mining at 1×/4×/16× embeddings,
    FIXED 2-code blocking vs the AUTO rule — fixed granularity lets
    expected block size grow with the corpus (Σ block² turns
    quadratic); auto escalates block_subspaces to hold block size at
    target_block, so wall should stay near-linear. Replicas are
    dimension-rotated (verbatim copies would plant replicas² band
    pairs). (B) column-stats sidecar planning cost at 64/512-file
    tables: candidate selection from the ONE sidecar parquet vs the
    per-file footer fallback — the footer path grows with the file
    count, the sidecar read should not. Appends/replaces a SCALE.md
    section. Usage: python tools/scale_probe.py --r7ops
    """
    import datetime
    import os
    import re
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.clustering import (
        cluster_linear,
        write_clustered,
    )
    from spark_hudi_etl_pipeline_spark.operators.similarity import (
        hard_negative_pairs,
        pq_codebook,
    )
    from spark_hudi_etl_pipeline_spark.operators.stats import (
        _STATS_DIR,
        build_table_stats,
        stats_candidate_files,
    )
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-r7ops")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()  # warm JVM

    factors = (1, 4, 16)
    hn: dict[str, dict[int, float]] = {"fixed2": {}, "auto": {}}
    hn_rows: dict[str, dict[int, int]] = {k: {} for k in hn}
    for factor in factors:
        e_base = spark.read.parquet(f"{base}/embeddings.parquet")
        parts = []
        for r in range(factor):
            d = e_base.withColumn(
                "vec_id", F.col("vec_id") + F.lit(r * 100_000_000)
            )
            if r:
                sft = r % 63 + 1
                d = d.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {sft + 1}, {64 - sft}), "
                        f"slice(embedding, 1, {sft}))"
                    ),
                )
            parts.append(d)
        e = parts[0]
        for pt in parts[1:]:
            e = e.unionByName(pt)
        epath = f"{SCRATCH}/hn_{factor}x"
        e.write.mode("overwrite").parquet(epath)
        e = spark.read.parquet(epath)
        cb = pq_codebook(e)
        for key, kw in (("fixed2", {"block_subspaces": 2}), ("auto", {})):
            for _ in range(2):  # warm second run recorded
                t0 = _time.perf_counter()
                out = hard_negative_pairs(e, cb, **kw)
                out.write.mode("overwrite").format("noop").save()
                hn[key][factor] = _time.perf_counter() - t0
            hn_rows[key][factor] = hard_negative_pairs(e, cb, **kw).count()
        print(f"hardneg factor {factor}x done", flush=True)

    orders = spark.read.parquet(f"{base}/orders.parquet").select(
        "o_orderkey", "o_orderstatus", "o_totalprice", "o_orderdate"
    )
    st: dict[str, dict[int, float]] = {"sidecar": {}, "footers": {}}
    lo, hi = datetime.date(1995, 3, 1), datetime.date(1995, 3, 31)
    for n_files in (64, 512):
        tpath = f"{SCRATCH}/stats_{n_files}f"
        write_clustered(
            cluster_linear(orders, ["o_orderdate", "o_orderkey"], n_files),
            tpath,
        )
        build_table_stats(spark, tpath, ["o_orderdate"])
        for _ in range(2):
            t0 = _time.perf_counter()
            stats_candidate_files(spark, tpath, "o_orderdate", lo, hi)
            st["sidecar"][n_files] = _time.perf_counter() - t0
        os.rename(
            os.path.join(tpath, _STATS_DIR), os.path.join(tpath, "_gone")
        )
        for _ in range(2):
            t0 = _time.perf_counter()
            stats_candidate_files(spark, tpath, "o_orderdate", lo, hi)
            st["footers"][n_files] = _time.perf_counter() - t0
        print(f"stats {n_files} files done", flush=True)

    lines = [
        "",
        "## round-7 ops probe (hard negatives 1×/4×/16×; stats planning 64/512 files)",
        "",
        "Hard negatives: FIXED 2-code blocking lets expected block size",
        "grow with the corpus (pair cost Σ block² → quadratic); the AUTO",
        "rule escalates block_subspaces (16^m · 64 ≥ n) so block size —",
        "and wall — stay bounded. Replicas dimension-rotated.",
        "",
        "| variant | out-rows @1×/4×/16× | t(1×) s | t(4×) s | t(16×) s | t16/t1 |",
        "|---|---|---|---|---|---|",
    ]
    for key in hn:
        r, n = hn[key], hn_rows[key]
        lines.append(
            f"| {key} | {n[1]}/{n[4]}/{n[16]} | {r[1]:.2f} | {r[4]:.2f} "
            f"| {r[16]:.2f} | {r[16] / r[1]:.1f}× |"
        )
    lines += [
        "",
        "Stats-sidecar planning (candidate-file selection only): the",
        "sidecar is ONE tiny parquet read regardless of file count; the",
        "footer fallback opens every footer.",
        "On local NVMe both paths are milliseconds; the gap that matters is",
        "an object store's, where the footer path is one GET round-trip PER",
        "FILE (~100 ms × 100k files per planned query) and the sidecar stays",
        "one GET total. Locally the footer path already grows ~linearly in",
        "the file count while the sidecar does not.",
        "",
        "| path | t(64 files) s | t(512 files) s |",
        "|---|---|---|",
        f"| sidecar | {st['sidecar'][64]:.2f} | {st['sidecar'][512]:.2f} |",
        f"| footers | {st['footers'][64]:.2f} | {st['footers'][512]:.2f} |",
        "",
    ]
    with open("/root/repo/SCALE.md") as f:
        content = f.read()
    content = re.sub(
        r"\n## round-7 ops probe.*?(?=\n## |\Z)", "", content, flags=re.S
    )
    content += "\n".join(lines)
    with open("/root/repo/SCALE.md", "w") as f:
        f.write(content)
    print("appended round-7 ops section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)



def probe_r8_ops(base: str) -> None:
    """Round-8 probe: (A) MinHash band-store probing — a FIXED-size batch
    probed against stores seeded with 1x/4x/16x corpora; the claim under
    test is that per-batch cost tracks the BATCH (store bucket-joined,
    never reshuffled), so probe wall should stay near-flat as the store
    grows. (B) blocked edit-distance pairs at 1x/4x/16x docs — cost must
    track head-block collisions, not n². (C) TWAP at 1x/16x events —
    single-shuffle window+agg, linear."""
    import time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.dedup import (
        edit_distance_pairs,
        minhash_store_ingest,
    )
    from spark_hudi_etl_pipeline_spark.operators.maintenance import twap_daily
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-r8")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()
    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(0, 1024, 1, 32).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()

    # --- (A) store-probe flatness -------------------------------------
    docs1 = spark.read.parquet(replicate(spark, base, "documents", 1, ["doc_id"], "text"))
    probe_batch = docs1.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 900_000_000).alias("doc_id"), "text"
    ).localCheckpoint(eager=True)
    store_probe: dict[int, tuple[int, float]] = {}
    for factor in REPLICAS:
        seed_path = replicate(spark, base, "documents", factor, ["doc_id"], "text")
        seed = spark.read.parquet(seed_path)
        tbl = f"mh_probe_store_{factor}x"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        minhash_store_ingest(seed, tbl, batch_id="seed")
        store_rows = spark.table(tbl).count()
        t0 = time.perf_counter()
        minhash_store_ingest(
            probe_batch, tbl, batch_id="probe"
        ).write.mode("overwrite").format("noop").save()
        store_probe[factor] = (store_rows, time.perf_counter() - t0)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")

    # --- (B) blocked edit distance ------------------------------------
    edit: dict[int, tuple[int, float]] = {}
    for factor in REPLICAS:
        d = spark.read.parquet(
            replicate(spark, base, "documents", factor, ["doc_id"], "text")
        )
        t0 = time.perf_counter()
        n = edit_distance_pairs(d, "doc_id", "text", max_edits=4).count()
        edit[factor] = (n, time.perf_counter() - t0)

    # --- (C) TWAP -------------------------------------------------------
    twap: dict[int, tuple[int, float]] = {}
    for factor in (1, 16):
        ev = spark.read.parquet(
            replicate(spark, base, "events", factor, ["event_id", "user_id"])
        )
        t0 = time.perf_counter()
        twap_daily(ev).write.mode("overwrite").format("noop").save()
        twap[factor] = (ev.count(), time.perf_counter() - t0)

    lines = [
        "",
        "## round-8 ops probe (replicated sf0.1 fixtures)",
        "",
        "**(A) MinHash band-store probe flatness** — a fixed ~500-doc batch",
        "probed against stores seeded from 1x/4x/16x corpora. The store is",
        "bucketed by band key and bucket-joined; only the batch shuffles, so",
        "per-batch cost must stay near-flat as the store grows 16x:",
        "",
        "| store seed | store rows | probe wall (s) |",
        "|---|---|---|",
    ]
    for factor in REPLICAS:
        r, t = store_probe[factor]
        lines.append(f"| {factor}x | {r} | {t:.2f} |")
    ratio = store_probe[16][1] / store_probe[1][1]
    lines += [
        "",
        f"probe-wall ratio t(16x-store)/t(1x-store) = {ratio:.2f} — the",
        "fixed batch pays the same cost against a 16x store (the residual",
        "growth is the broadcast of matching band buckets, bounded by true",
        "collisions).",
        "",
        "**(B) blocked edit-distance pairs** — cost tracks head-block",
        "collisions (replicas share no heads by construction), not n²:",
        "",
        "| docs | pairs | wall (s) |",
        "|---|---|---|",
    ]
    for factor in REPLICAS:
        n, t = edit[factor]
        lines.append(f"| {factor}x | {n} | {t:.2f} |")
    eratio = edit[16][1] / edit[1][1]
    lines += [
        "",
        f"t(16x)/t(1x) = {eratio:.1f} (quadratic would be 256x).",
        "",
        "**(C) TWAP daily** — one shuffle (lead window and groupBy share the",
        "(type, day) key):",
        "",
        "| events | wall (s) |",
        "|---|---|",
        f"| {twap[1][0]} | {twap[1][1]:.2f} |",
        f"| {twap[16][0]} | {twap[16][1]:.2f} |",
        "",
    ]
    with open("/root/repo/SCALE.md", "a") as f:
        f.write("\n".join(lines))
    print("appended round-8 ops section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)




def probe_r9_64x(base: str, stages: set[str] | None = None) -> None:
    """Round-9 probe (r8 verdict ask #7): push the heavyweights to 64×,
    where the sub-quadratic claims actually bite. (A) contrastive hard
    negatives with AUTO blocking at 1×/16×/64× embeddings — the auto
    rule must keep escalating block granularity so wall stays
    near-linear past the 16× point r7 measured. (B) Count-Min heavy
    hitters at 1×/16×/64× docs — sketch state is a constant 3×512
    cells at any corpus size, so cost is the tokenize+combine pass.
    (C) triangle counting at 1×/16×/64× lineitem (disjoint graph
    copies: both endpoints' id spaces shifted) — degree-ordered
    orientation bounds every out-neighborhood by O(√m), so the wedge
    join stays linear-in-m; the probe records max oriented fan-out vs
    √m alongside wall. (D) OHLC monthly cascade at 1×/16×/64× events —
    replicas share (type, day) keys, so groups deepen 64× while the
    mergeable daily state stays ~types×days rows. (E) MinHash band
    store probed by a FIXED batch against a 64×-seeded store — extends
    the r8 16× flatness measurement to the size where store reshuffle
    would dominate.

    ``stages`` restricts which sections run (hn/cms/tri/ohlc/store) —
    each section appends its own SCALE.md block, so a crashed run
    resumes without re-measuring finished stages. Triangle tops out at
    32×: its wedge shuffle at 64× needs ~100 GB of spill, beyond this
    sandbox's disk (measured: two ENOSPC aborts at 64×) — the evidence
    the probe records instead is the per-edge-normalized wall staying
    flat and max fan-out ≤ √m, which is the actual scaling claim."""
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.functions import text
    from spark_hudi_etl_pipeline_spark.operators.dedup import (
        minhash_store_ingest,
    )
    from spark_hudi_etl_pipeline_spark.operators.sketch import (
        cms_build,
        cms_estimate,
    )
    from spark_hudi_etl_pipeline_spark.operators.similarity import (
        hard_negative_pairs,
        pq_codebook,
    )
    from spark_hudi_etl_pipeline_spark.plans.graph_plans import (
        triangle_participation,
    )
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-r9")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()
    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(0, 1024, 1, 32).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()

    factors = (1, 16, 64)
    stages = stages or {"hn", "cms", "tri", "ohlc", "store"}
    lines: list[str] = [
        "",
        "## round-9 heavyweight probe (warm second-run times)",
        "",
        "The r8 verdict asked for 64x evidence on the operators whose",
        "sub-quadratic claims only bite past 16x. Replicas are disjoint",
        "(shifted id spaces; token-perturbed text; dimension-rotated",
        "embeddings) so true result sizes grow linearly by construction.",
        "",
    ]

    # --- (A) hard negatives, AUTO blocking ----------------------------
    hn: dict[int, tuple[int, float]] = {}
    for factor in factors if "hn" in stages else ():
        e_base = spark.read.parquet(f"{base}/embeddings.parquet")
        parts = []
        for r in range(factor):
            d = e_base.withColumn(
                "vec_id", F.col("vec_id") + F.lit(r * 100_000_000)
            )
            if r:
                # Dimension-rotate each replica (verbatim copies would
                # plant replicas² cross-replica near-dup band pairs).
                sft = r % 63 + 1
                d = d.withColumn(
                    "embedding",
                    F.expr(
                        f"concat(slice(embedding, {sft + 1}, {64 - sft}), "
                        f"slice(embedding, 1, {sft}))"
                    ),
                )
            parts.append(d)
        e = parts[0]
        for pt in parts[1:]:
            e = e.unionByName(pt)
        epath = f"{SCRATCH}/hn64_{factor}x"
        e.write.mode("overwrite").parquet(epath)
        e = spark.read.parquet(epath)
        cb = pq_codebook(e)
        for _ in range(2):  # warm second run recorded
            t0 = _time.perf_counter()
            hard_negative_pairs(e, cb).write.mode("overwrite").format(
                "noop"
            ).save()
            wall = _time.perf_counter() - t0
        hn[factor] = (hard_negative_pairs(e, cb).count(), wall)
        print(f"hardneg {factor}x done", flush=True)

    # --- (B) Count-Min heavy hitters ----------------------------------
    cms_res: dict[int, tuple[int, float]] = {}
    for factor in factors if "cms" in stages else ():
        docs = spark.read.parquet(
            replicate(spark, base, "documents", factor, ["doc_id"], "text")
        )
        toks = docs.select(F.explode(text.tokens("text")).alias("token"))
        for _ in range(2):
            t0 = _time.perf_counter()
            truth_top = (
                toks.groupBy("token")
                .agg(F.count(F.lit(1)).alias("true_cnt"))
                .orderBy(F.desc("true_cnt"), "token")
                .limit(20)
            )
            sk = cms_build(toks, "token", width=512, depth=3)
            cms_estimate(sk, truth_top, "token", width=512, depth=3).write.mode(
                "overwrite"
            ).format("noop").save()
            wall = _time.perf_counter() - t0
        cms_res[factor] = (toks.count(), wall)
        print(f"cms {factor}x done", flush=True)

    # --- (C) triangle counting (32x cap: see docstring) -----------------
    tri: dict[int, tuple[int, int, int, float]] = {}
    tri_factors = (1, 16, 32)
    for factor in tri_factors if "tri" in stages else ():
        li = spark.read.parquet(
            # Shift BOTH id spaces so replicas are disjoint graph
            # copies: m grows 64×, triangles grow 64×, and the √m
            # fan-out bound is what keeps the wedge join linear.
            replicate(spark, base, "lineitem", factor, ["l_orderkey", "l_partkey"])
        ).select("l_orderkey", "l_partkey")
        rhs = li.select(
            F.col("l_orderkey").alias("r_orderkey"),
            F.col("l_partkey").alias("b"),
        )
        pairs = (
            li.join(
                rhs,
                (F.col("l_orderkey") == F.col("r_orderkey"))
                & (F.col("l_partkey") < F.col("b")),
            )
            .select(F.col("l_partkey").alias("a"), "b")
            .distinct()
            .localCheckpoint(eager=True)
        )
        m = pairs.count()
        # Max oriented fan-out: the quantity the √m bound caps.
        deg = (
            pairs.select(F.col("a").alias("node"))
            .unionAll(pairs.select(F.col("b").alias("node")))
            .groupBy("node")
            .agg(F.count(F.lit(1)).alias("d"))
        )
        da = deg.select(F.col("node").alias("a"), F.col("d").alias("da"))
        db = deg.select(F.col("node").alias("b"), F.col("d").alias("db"))
        a_first = (F.col("da") < F.col("db")) | (
            (F.col("da") == F.col("db")) & (F.col("a") < F.col("b"))
        )
        fanout = (
            pairs.join(F.broadcast(da), "a")
            .join(F.broadcast(db), "b")
            .select(F.when(a_first, F.col("a")).otherwise(F.col("b")).alias("u"))
            .groupBy("u")
            .agg(F.count(F.lit(1)).alias("f"))
            .agg(F.max("f"))
            .collect()[0][0]
        )
        for _ in range(2):
            t0 = _time.perf_counter()
            triangle_participation(pairs).write.mode("overwrite").format(
                "noop"
            ).save()
            wall = _time.perf_counter() - t0
        tri[factor] = (m, fanout, int(m**0.5), wall)
        print(f"triangle {factor}x done", flush=True)

    # --- (D) OHLC monthly cascade -------------------------------------
    ohlc: dict[int, tuple[int, float]] = {}
    for factor in factors if "ohlc" in stages else ():
        ev = spark.read.parquet(
            replicate(spark, base, "events", factor, ["event_id", "user_id"])
        )
        # the replica round-trips ts as TIMESTAMP_NTZ (nanos fixture);
        # normalize like sources/catalog.py so unix_micros resolves
        ev = ev.withColumn("ts", F.col("ts").cast("timestamp"))
        n = ev.count()
        ok = F.concat(
            F.lpad(F.unix_micros("ts").cast("string"), 20, "0"),
            F.lpad(F.col("event_id").cast("string"), 12, "0"),
        )
        for _ in range(2):
            t0 = _time.perf_counter()
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
            monthly = (
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
            )
            monthly.write.mode("overwrite").format("noop").save()
            wall = _time.perf_counter() - t0
        ohlc[factor] = (n, wall)
        print(f"ohlc {factor}x done", flush=True)

    # --- (E) band store probe flatness at 64× -------------------------
    store_probe: dict[int, tuple[int, float]] = {}
    if "store" in stages:
        docs1 = spark.read.parquet(
            replicate(spark, base, "documents", 1, ["doc_id"], "text")
        )
        probe_batch = (
            docs1.filter(F.col("doc_id") % 10 == 0)
            .select((F.col("doc_id") + 900_000_000).alias("doc_id"), "text")
            .localCheckpoint(eager=True)
        )
    for factor in factors if "store" in stages else ():
        seed_path = replicate(spark, base, "documents", factor, ["doc_id"], "text")
        seed = spark.read.parquet(seed_path)
        tbl = f"mh_probe64_store_{factor}x"
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        minhash_store_ingest(seed, tbl, batch_id="seed")
        store_rows = spark.table(tbl).count()
        t0 = _time.perf_counter()
        minhash_store_ingest(probe_batch, tbl, batch_id="probe").write.mode(
            "overwrite"
        ).format("noop").save()
        store_probe[factor] = (store_rows, _time.perf_counter() - t0)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        print(f"store {factor}x done", flush=True)

    if "hn" in stages:
        lines += [
            "**(A) contrastive hard negatives (AUTO blocking)** — auto",
            "escalates PQ-prefix granularity to hold expected block size at",
            "target_block, so pair cost stays ~linear, not quadratic:",
            "",
            "| embeddings | pairs | wall (s) |",
            "|---|---|---|",
        ]
        for factor in factors:
            n, t = hn[factor]
            lines.append(f"| {factor}x | {n} | {t:.2f} |")
        lines += [
            "",
            f"t(64x)/t(1x) = {hn[64][1] / hn[1][1]:.1f} (quadratic would be"
            " 4096x; linear is 64x).",
            "",
        ]
    if "cms" in stages:
        lines += [
            "**(B) Count-Min heavy hitters** — sketch state is a constant",
            "3x512 cells at ANY corpus size; cost is the tokenize+map-side",
            "combine pass plus the truth top-20 (itself one agg):",
            "",
            "| tokens | wall (s) |",
            "|---|---|",
        ]
        for factor in factors:
            n, t = cms_res[factor]
            lines.append(f"| {n} | {t:.2f} |")
        lines += [
            "",
            f"t(64x)/t(1x) = {cms_res[64][1] / cms_res[1][1]:.1f} for 64x the"
            " tokens — at/below linear means the constant-size sketch never"
            " becomes the bottleneck.",
            "",
        ]
    if "tri" in stages:
        lines += [
            "**(C) triangle counting (1x/16x/32x)** — degree-ordered",
            "orientation bounds every out-neighborhood by O(sqrt(m)); the",
            "measured max oriented fan-out vs sqrt(m) shows the bound",
            "holding as the graph grows. 32x is the box's ceiling, not the",
            "operator's: the wedge shuffle at 64x needs ~100 GB of spill",
            "(two measured ENOSPC aborts on this sandbox's 79 GB); the",
            "per-edge-normalized wall below is the scaling evidence:",
            "",
            "| edges m | max fan-out | sqrt(m) | wall (s) | us/edge |",
            "|---|---|---|---|---|",
        ]
        for factor in tri_factors:
            m, fo, sq, t = tri[factor]
            lines.append(
                f"| {m} | {fo} | {sq} | {t:.2f} | {t / m * 1e6:.2f} |"
            )
        lines += [
            "",
            f"t(32x)/t(1x) = {tri[32][3] / tri[1][3]:.1f} at 32x the edges;"
            " fan-out stays at/below sqrt(m), so the wedge join is"
            " linear-in-m (us/edge flat-or-falling).",
            "",
        ]
    if "ohlc" in stages:
        lines += [
            "**(D) OHLC monthly cascade** — replicas share (type, day)"
            " keys:",
            "groups deepen 64x while the mergeable daily state stays",
            "~types x days rows; the monthly fold never touches raw events:",
            "",
            "| events | wall (s) |",
            "|---|---|",
        ]
        for factor in factors:
            n, t = ohlc[factor]
            lines.append(f"| {n} | {t:.2f} |")
        lines += [
            "",
            f"t(64x)/t(1x) = {ohlc[64][1] / ohlc[1][1]:.1f} —"
            " partial-aggregate pushdown absorbs the 64x deepening"
            " map-side.",
            "",
        ]
    if "store" in stages:
        lines += [
            "**(E) MinHash band-store probe flatness to 64x** — the fixed",
            "~500-doc batch probed against a 64x-seeded store (extends the",
            "r8 measurement at 16x):",
            "",
            "| store seed | store rows | probe wall (s) |",
            "|---|---|---|",
        ]
        for factor in factors:
            r, t = store_probe[factor]
            lines.append(f"| {factor}x | {r} | {t:.2f} |")
        lines += [
            "",
            f"probe-wall ratio t(64x-store)/t(1x-store) = "
            f"{store_probe[64][1] / store_probe[1][1]:.2f} — the store is"
            " bucket-joined in place; only the batch shuffles, at any"
            " store size.",
            "",
        ]
    with open("/root/repo/SCALE.md", "a") as f:
        f.write("\n".join(lines))
    print("appended round-9 heavyweight section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def probe_harvest(base: str) -> None:
    """Round-9 probe (r7/r8 verdict ask): the stats-sidecar cold
    harvest, driver loop vs the distributed mapInPandas path, at
    512/2048-file tables. The claim under test: per-file cost of the
    distributed path stays flat as the file count quadruples, and wall
    beats the serial driver loop by ~the executor-core factor (after
    the r9 fix — coalesce(1) had been collapsing the harvest stage to
    one task, so the 'distributed' path was serial until now)."""
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators import stats as stats_mod
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-harvest")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()
    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(0, 1024, 1, 32).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()

    orders = spark.read.parquet(f"{base}/orders.parquet").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"
    )
    rows: list[tuple[int, float, float]] = []
    real_max = stats_mod._DRIVER_HARVEST_MAX
    for n_files in (2048, 8192):
        path = f"{SCRATCH}/harvest_{n_files}f"
        orders.repartition(n_files).write.mode("overwrite").parquet(path)
        import glob
        import os as _os

        for f in glob.glob(f"{path}/_stats*") + glob.glob(f"{path}/_manifest*"):
            shutil.rmtree(f, ignore_errors=True)
        timings = {}
        for label, threshold in (("driver", 10**9), ("distributed", real_max)):
            stats_mod._DRIVER_HARVEST_MAX = threshold
            for _ in range(2):  # warm second run recorded (footer page cache)
                shutil.rmtree(_os.path.join(path, "_stats"), ignore_errors=True)
                t0 = _time.perf_counter()
                stats_mod.build_table_stats(spark, path, ["o_orderdate"])
                timings[label] = _time.perf_counter() - t0
        stats_mod._DRIVER_HARVEST_MAX = real_max
        rows.append((n_files, timings["driver"], timings["distributed"]))
        print(f"harvest {n_files} files done", flush=True)

    lines = [
        "",
        "## round-9 stats-harvest probe (driver loop vs distributed footer reads)",
        "",
        "Cold `_stats` sidecar build over N-file tables; the distributed",
        "path ships the FILE LIST through mapInPandas and reads footers",
        "per executor partition (after the r9 coalesce(1)->repartition(1)",
        "fix, without which the harvest stage itself collapsed to one",
        "task). Per-file cost of the distributed path should stay flat as",
        "files quadruple:",
        "",
        "| files | driver loop (s) | distributed (s) | driver ms/file | dist ms/file |",
        "|---|---|---|---|---|",
    ]
    for n, td, tx in rows:
        lines.append(
            f"| {n} | {td:.2f} | {tx:.2f} | {td / n * 1000:.2f} | {tx / n * 1000:.2f} |"
        )
    lines += [
        "",
        f"speedup at {rows[-1][0]} files: {rows[-1][1] / rows[-1][2]:.1f}x; distributed"
        " ms/file "
        f"{rows[0][2] / rows[0][0] * 1000:.2f} -> {rows[-1][2] / rows[-1][0] * 1000:.2f}"
        " across the 4x growth.",
        "",
    ]
    with open("/root/repo/SCALE.md", "a") as f:
        f.write("\n".join(lines))
    print("appended round-9 stats-harvest section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def probe_r11(base: str, stages: set[str] | None = None) -> None:
    """Round-11 probe (r9 ask #7, carried through r10): the two pieces
    of measured evidence the verdicts asked for.

    (A/B) Deletion vectors past the 64 MB broadcast gate: a
    files x delete-density grid over synthetic tables (24M rows/48
    files and 96M rows/192 files; 2% and 25% hash-scattered deletes).
    The 25%-of-96M cell genuinely exceeds the gate, so the read runs
    the file-local mapInPandas path at its DEFAULT configuration; the
    same cell at 24M is re-timed with the gate forced to 0 so the
    file-local wall has a 1x/4x pair. Claims measured: the broadcast
    read's wall is scan-bound (density barely moves it); the
    file-local wall scales with rows crossing Arrow (linear in table,
    not in sidecar); compaction wall tracks the DELETED-file density
    (scattered 2% rewrites nothing at any size; 80%-dead-in-10%-of-
    files rewrites exactly those files).

    (C) Inverted index at 64x corpus: build the term-clustered posting
    table at 1x (16 files) and 64x (128 files), answer the 3-term
    conjunctive query, and count — from parquet footer stats, the same
    min/max ranges any pruning reader uses — how many posting files
    can contain ANY query term. Claims measured: query wall is
    posting-bound (grows with matches, not corpus); file-skip ratio
    stays high as the corpus grows 64x.

    ``stages`` restricts sections ({"dv", "compact", "inv"}) so a
    crashed run resumes without re-measuring finished stages.
    """
    import glob as _glob
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators import tableops
    from spark_hudi_etl_pipeline_spark.operators.clustering import (
        cluster_linear,
        write_clustered,
    )
    from spark_hudi_etl_pipeline_spark.operators.tableops import (
        compact_deletion_vectors,
        delete_with_vectors,
        read_with_deletion_vectors,
    )
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    stages = stages or {"dv", "compact", "inv"}
    spark = get_spark_session("scale-probe-r11")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()
    _warm = F.pandas_udf(lambda s: s, "long")
    spark.range(0, 1024, 1, 32).select(_warm("id")).write.mode(
        "overwrite"
    ).format("noop").save()

    GRID = ((24_000_000, 48), (96_000_000, 192))

    def make_table(n_rows: int, n_files: int, tag: str) -> str:
        path = f"{SCRATCH}/dv_{tag}"
        (
            spark.range(0, n_rows, 1, 64)
            .select(
                "id",
                (F.col("id") % 997).alias("val"),
                F.format_string("payload-%018d", "id").alias("pad"),
            )
            # range layout => contiguous id ranges per file (lets the
            # compact stage concentrate deletes into known files)
            .repartitionByRange(n_files, "id")
            .write.mode("overwrite")
            .parquet(path)
        )
        return path

    def scattered(pct: int):
        return F.expr(f"pmod(xxhash64(id), 100) < {pct}")

    def timed_count(path: str) -> tuple[float, int]:
        read_with_deletion_vectors(spark, path).count()  # warm
        t0 = _time.time()
        n = read_with_deletion_vectors(spark, path).count()
        return _time.time() - t0, n

    lines: list[str] = [
        "",
        "## round-11 probe: deletion vectors past the broadcast gate + inverted-index skipping",
        "",
        "Carried r9 ask #7. Synthetic range tables (id, val, 27-byte pad),",
        "range-partitioned so files hold contiguous id ranges; deletes are",
        "hash-scattered (`xxhash64(id) % 100 < pct`) except the concentrated",
        "compaction cells. Walls are warm second runs, local[32].",
        "",
    ]

    if "dv" in stages:
        lines += [
            "**(A) DV read — files x density grid.** Gate = 64 MB sidecar:",
            "at-or-under broadcasts a (file, pos) anti join; over applies",
            "each file's positions file-locally inside the scan (map-only,",
            "zero exchange).",
            "",
            "| rows | files | deletes | sidecar MB | path | read wall (s) |",
            "|---|---|---|---|---|---|",
        ]
        forced: dict[int, float] = {}
        for n_rows, n_files in GRID:
            for pct in (2, 25):
                tag = f"{n_rows // 1_000_000}m_{pct}"
                path = make_table(n_rows, n_files, tag)
                deleted = delete_with_vectors(spark, path, scattered(pct))
                dv_root = os.path.join(path, tableops._DV_DIR)
                side_mb = tableops._sidecar_bytes(dv_root) / (1 << 20)
                # ask the implementation which path it will take — never
                # re-derive the gate here
                route = tableops.dv_read_route(dv_root)
                wall, live = timed_count(path)
                assert live == n_rows - deleted, (live, n_rows, deleted)
                lines.append(
                    f"| {n_rows:,} | {n_files} | {deleted:,} ({pct}%) |"
                    f" {side_mb:.1f} | {route} | {wall:.2f} |"
                )
                if pct == 25:
                    # force the file-local strategy on BOTH sizes so its
                    # wall has a 1x/4x pair (the 96M cell already routes
                    # there at the default gate)
                    saved = tableops._DV_BROADCAST_BYTES
                    tableops._DV_BROADCAST_BYTES = 0
                    try:
                        fw, live2 = timed_count(path)
                        assert live2 == live
                    finally:
                        tableops._DV_BROADCAST_BYTES = saved
                    forced[n_rows] = fw
                    lines.append(
                        f"| {n_rows:,} | {n_files} | (same) | {side_mb:.1f} |"
                        f" file-local (forced) | {fw:.2f} |"
                    )
                print(f"dv read {tag}: {side_mb:.1f} MB {route} {wall:.2f}s")
        if len(forced) == 2:
            a, b = (forced[g[0]] for g in GRID)
            lines += [
                "",
                f"file-local wall ratio t(96M)/t(24M) = {b / a:.2f} at 4x the",
                "rows — the path is linear in rows crossing Arrow, never a",
                "table shuffle (plan-asserted in tests/test_r9_ops.py).",
                "",
            ]

    if "compact" in stages:
        lines += [
            "**(B) DV-aware compaction — cost tracks deleted-file density,",
            "not table size** (threshold: rewrite files > 20% dead):",
            "",
            "| rows | files | delete pattern | rewritten | wall (s) |",
            "|---|---|---|---|---|",
        ]
        for n_rows, n_files in GRID:
            for pattern in ("scattered-2%", "dense-80%-in-10%-of-files"):
                tag = f"c{n_rows // 1_000_000}m_{'s' if pattern[0] == 's' else 'd'}"
                path = make_table(n_rows, n_files, tag)
                pred = (
                    scattered(2)
                    if pattern.startswith("scattered")
                    else (F.col("id") < n_rows // 10)
                    & F.expr("pmod(xxhash64(id), 10) < 8")
                )
                delete_with_vectors(spark, path, pred)
                before = read_with_deletion_vectors(spark, path).count()
                t0 = _time.time()
                rewritten, remaining = compact_deletion_vectors(spark, path)
                wall = _time.time() - t0
                assert read_with_deletion_vectors(spark, path).count() == before
                lines.append(
                    f"| {n_rows:,} | {n_files} | {pattern} |"
                    f" {rewritten}/{rewritten + remaining} | {wall:.2f} |"
                )
                print(f"compact {tag}: {rewritten} rewritten {wall:.2f}s")
        lines += [
            "",
            "Scattered deletes rewrite ZERO files at either size (wall =",
            "planning only: one pruned row-count aggregate + the DV union);",
            "dense deletes rewrite exactly the ~10% of files past the",
            "threshold, so the rewrite wall tracks deleted-file bytes.",
            "",
        ]

    if "inv" in stages:
        import pyarrow.parquet as _pq

        TERMS = ("stream", "window", "merge")
        inv: dict[int, tuple[float, float, int, int, int]] = {}
        for factor, n_files in ((1, 16), (64, 128)):
            docs = spark.read.parquet(f"{base}/documents.parquet").select(
                "doc_id", "text"
            )
            if factor > 1:
                # replicas keep text VERBATIM (the query terms must keep
                # matching — matches grow linearly by construction);
                # doc_id spaces are disjoint
                parts = [
                    docs.withColumn(
                        "doc_id", F.col("doc_id") + F.lit(r * 100_000_000)
                    )
                    for r in range(factor)
                ]
                d = parts[0]
                for p in parts[1:]:
                    d = d.unionByName(p)
                docs = d
            path = f"{SCRATCH}/inv_{factor}x"
            t0 = _time.time()
            postings = (
                docs.select(
                    "doc_id",
                    F.explode(
                        F.split(F.trim(F.lower("text")), r"\s+")
                    ).alias("term"),
                )
                .filter(F.col("term") != "")
                .groupBy("term", "doc_id")
                .agg(F.count(F.lit(1)).alias("tf"))
            )
            write_clustered(
                cluster_linear(postings, ["term", "doc_id"], n_files), path
            )
            build = _time.time() - t0

            def q():
                return (
                    spark.read.parquet(path)
                    .filter(F.col("term").isin(*TERMS))
                    .groupBy("doc_id")
                    .agg(F.count(F.lit(1)).alias("n_terms"))
                    .filter(F.col("n_terms") == 3)
                    .count()
                )

            q()  # warm
            t0 = _time.time()
            matches = q()
            qwall = _time.time() - t0

            # footer-stat skip count: a pruning reader must open a file
            # only if some row group's [min, max] term range can contain
            # a query term — the same stats Spark's row-group filter uses
            can_hit = 0
            files = _glob.glob(f"{path}/*.parquet")
            for fp in files:
                md = _pq.ParquetFile(fp).metadata
                if md.num_row_groups == 0:
                    # an empty range partition writes a 0-row-group file;
                    # no stats to prune on, so a reader must open it
                    can_hit += 1
                    continue
                ti = next(
                    i
                    for i in range(md.num_columns)
                    if md.row_group(0).column(i).path_in_schema == "term"
                )
                hit = False
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(ti).statistics
                    if st is None or not st.has_min_max:
                        hit = True
                        break
                    if any(st.min <= t <= st.max for t in TERMS):
                        hit = True
                        break
                can_hit += hit
            inv[factor] = (build, qwall, matches, can_hit, len(files))
            print(
                f"inv {factor}x: build {build:.1f}s query {qwall:.2f}s "
                f"matches {matches} files {can_hit}/{len(files)}"
            )
        lines += [
            "**(C) Inverted index at 64x corpus — posting-file skipping**",
            "(files whose footer min/max term range can contain any query",
            "term — the stats every pruning reader keys on):",
            "",
            "| corpus | postings files | build (s) | 3-term query (s) | matches | files readable |",
            "|---|---|---|---|---|---|",
        ]
        for factor in (1, 64):
            b, qw, m, hit, nf = inv[factor]
            lines.append(
                f"| {factor}x | {nf} | {b:.1f} | {qw:.2f} | {m:,} |"
                f" {hit}/{nf} ({100 * (nf - hit) // nf}% skipped) |"
            )
        b1, q1 = inv[1][0], inv[1][1]
        b64, q64 = inv[64][0], inv[64][1]
        lines += [
            "",
            f"build-wall ratio {b64 / b1:.1f} at 64x docs (tokenize-bound,",
            f"~linear); query-wall ratio {q64 / q1:.2f} — the query reads",
            "posting lists, not the corpus: term-clustered layout keeps",
            "the readable-file count a handful as the corpus grows 64x.",
            "",
        ]

    with open("/root/repo/SCALE.md", "a") as f:
        f.write("\n".join(lines))
    print("appended round-11 section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def probe_r12(base: str, stages: set[str] | None = None) -> None:
    """Round-12 probes (1x/16x/64x, min-of-3 warm walls):

    - ``lp``: graph_label_propagation — 3 rounds of edges⋈labels over a
      linearly-growing order/lineitem graph. Claim: the pagerank persist
      layout holds the per-round cost to the O(nodes) label shuffle, so
      wall grows ≈linearly with edges.
    - ``shingle``: the prefix-filtered exact pair operators
      (ngram_jaccard_pairs / containment_pairs) on a corpus where EVERY
      document shares an injected boilerplate prefix — the adversarial
      input that made the unfiltered inverted-index self-join quadratic
      (r11 verdict "what's wrong" #1). Replica text is token-suffixed so
      true pairs stay within a replica (output grows linearly); the hot
      boilerplate shingle's document frequency grows with the corpus.
      Claim: prefix filtering keeps the wall ≈linear.
    """
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators import dedup
    from spark_hudi_etl_pipeline_spark.plans import QUERIES
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-r12")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()

    factors = (1, 16, 64)

    def min3(thunk) -> float:
        thunk()  # warm
        best = float("inf")
        for _ in range(3):
            t0 = _time.time()
            thunk()
            best = min(best, _time.time() - t0)
        return best

    lines = ["", "## round-12 probes (1x/16x/64x, min-of-3 warm walls)", ""]

    if stages is None or "lp" in stages:
        walls, edge_counts = {}, {}
        for factor in factors:
            sf_dir = f"{SCRATCH}/lp_{factor}x"
            for table, id_cols in (
                ("lineitem", ["l_orderkey", "l_suppkey"]),
                ("orders", ["o_orderkey", "o_custkey"]),
            ):
                df = spark.read.parquet(f"{base}/{table}.parquet")
                parts = []
                for r in range(factor):
                    d = df
                    for c in id_cols:
                        d = d.withColumn(c, F.col(c) + F.lit(r * 100_000_000))
                    parts.append(d)
                out = parts[0]
                for p in parts[1:]:
                    out = out.unionByName(p)
                out.write.mode("overwrite").parquet(f"{sf_dir}/{table}.parquet")
            li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
            o = spark.read.parquet(f"{sf_dir}/orders.parquet")
            edge_counts[factor] = (
                li.join(o, li["l_orderkey"] == o["o_orderkey"])
                .select("o_custkey", "l_suppkey")
                .distinct()
                .count()
            )
            walls[factor] = min3(
                lambda: QUERIES["graph_label_propagation"](spark, sf_dir)
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            print(
                f"lp {factor}x: edges={edge_counts[factor]} "
                f"wall={walls[factor]:.2f}s (min of 3 warm)"
            )
        lines += [
            "### graph_label_propagation (pinned persist layout)",
            "",
            "| factor | undirected edges/2 | wall (s) | wall ratio vs 1x |",
            "|---|---|---|---|",
        ]
        for factor in factors:
            lines.append(
                f"| {factor}x | {edge_counts[factor]:,} | {walls[factor]:.2f} "
                f"| {walls[factor] / walls[1]:.1f}x |"
            )
        lines.append("")

    if stages is None or "shingle" in stages:
        boiler = "shared boilerplate header tokens appear on every single document "
        walls = {}
        doc_counts = {}
        for factor in factors:
            path = replicate(
                spark, base, "documents", factor, ["doc_id"], text_col="text"
            )
            corpus = spark.read.parquet(path).select(
                "doc_id", F.concat(F.lit(boiler), F.col("text")).alias("text")
            )
            corpus = corpus.localCheckpoint(eager=True)
            doc_counts[factor] = corpus.count()
            for op_name, thunk in (
                (
                    "ngram_jaccard_pairs",
                    lambda: dedup.ngram_jaccard_pairs(
                        corpus, "doc_id", "text", threshold=0.5, k=5
                    )
                    .write.mode("overwrite")
                    .format("noop")
                    .save(),
                ),
                (
                    "containment_pairs",
                    lambda: dedup.containment_pairs(
                        corpus, "doc_id", "text", threshold=0.8, k=5
                    )
                    .write.mode("overwrite")
                    .format("noop")
                    .save(),
                ),
            ):
                walls[(op_name, factor)] = min3(thunk)
                print(
                    f"shingle {op_name} {factor}x: docs={doc_counts[factor]} "
                    f"wall={walls[(op_name, factor)]:.2f}s (min of 3 warm)"
                )
            corpus.unpersist()
        lines += [
            "### prefix-filtered exact pair ops under a universal boilerplate shingle",
            "",
            "Every document carries the same injected boilerplate prefix, so the",
            "hot shingle's document frequency equals the corpus size — the input",
            "that made the UNFILTERED inverted-index self-join quadratic. The",
            "AllPairs/PPJoin prefix index excludes corpus-frequent shingles from",
            "join keys (operators/dedup.py::_prefix_inverted_index), so walls must",
            "track corpus size, not its square.",
            "",
            "| operator | 1x wall (s) | 16x wall (s) | 64x wall (s) | w(64x)/w(1x) | docs 64x |",
            "|---|---|---|---|---|---|",
        ]
        for op_name in ("ngram_jaccard_pairs", "containment_pairs"):
            w1, w16, w64 = (walls[(op_name, f)] for f in factors)
            lines.append(
                f"| {op_name} | {w1:.2f} | {w16:.2f} | {w64:.2f} "
                f"| {w64 / w1:.1f}x | {doc_counts[64]:,} |"
            )
        lines.append("")

    with open("/root/repo/SCALE.md", "a") as f:
        f.write("\n".join(lines))
    print("appended round-12 section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def probe_r13(base: str, stages: set[str] | None = None) -> None:
    """Round-13 probes (1x/16x/64x, min-of-3 warm walls):

    - ``sq8``: sq8_rerank_topk over a linearly-growing embedding corpus
      with a FIXED 10-query panel. Claim: the stage-1 reconstructed scan
      is the only corpus-scale term (map-side, |corpus|·|Q| cosines);
      stage 2 touches |Q|·shortlist rows regardless of corpus size, so
      wall grows ≈linearly with the corpus.
    - ``shuffle``: epoch_shuffle + stratum_equalized_sample over a
      linearly-growing documents relation. Claim: both are map-side
      hash rules (plus one shard exchange / one |strata|-row broadcast),
      so wall grows ≈linearly with rows.
    """
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators import similarity
    from spark_hudi_etl_pipeline_spark.operators.sampling import (
        epoch_shuffle,
        stratum_equalized_sample,
    )
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-r13")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()

    factors = (1, 16, 64)

    def min3(thunk) -> float:
        thunk()  # warm
        best = float("inf")
        for _ in range(3):
            t0 = _time.time()
            thunk()
            best = min(best, _time.time() - t0)
        return best

    lines = ["", "## round-13 probes (1x/16x/64x, min-of-3 warm walls)", ""]

    if stages is None or "sq8" in stages:
        walls, vec_counts = {}, {}
        for factor in factors:
            path = replicate(spark, base, "embeddings", factor, ["vec_id"])
            emb = spark.read.parquet(path)
            vec_counts[factor] = emb.count()
            queries = emb.filter(F.col("vec_id") < 10)
            walls[factor] = min3(
                lambda: similarity.sq8_rerank_topk(
                    emb, queries, shortlist=20, k=5
                )
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            print(
                f"sq8 {factor}x: vecs={vec_counts[factor]} "
                f"wall={walls[factor]:.2f}s (min of 3 warm)"
            )
        lines += [
            "### two-stage SQ8 rerank on a growing corpus, fixed query panel",
            "",
            "Stage 1 (reconstructed-scan shortlist) is the only corpus-scale",
            "term; stage 2 fetches |Q|*shortlist fp32 rows whatever the corpus",
            "size. Wall must track the corpus linearly.",
            "",
            "| factor | vectors | wall (s) | w/w(1x) |",
            "|---|---|---|---|",
        ]
        for factor in factors:
            lines.append(
                f"| {factor}x | {vec_counts[factor]:,} | "
                f"{walls[factor]:.2f} | {walls[factor] / walls[1]:.1f}x |"
            )
        lines.append("")

    if stages is None or "shuffle" in stages:
        walls = {}
        doc_counts = {}
        for factor in factors:
            path = replicate(spark, base, "documents", factor, ["doc_id"])
            docs = spark.read.parquet(path).select("doc_id", "source")
            doc_counts[factor] = docs.count()
            walls[("epoch_shuffle", factor)] = min3(
                lambda: epoch_shuffle(docs, "doc_id", epoch=1, shards=64)
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            walls[("equalized_sample", factor)] = min3(
                lambda: stratum_equalized_sample(
                    docs, "doc_id", "source", target=50
                )
                .write.mode("overwrite")
                .format("noop")
                .save()
            )
            for op in ("epoch_shuffle", "equalized_sample"):
                print(
                    f"shuffle {op} {factor}x: docs={doc_counts[factor]} "
                    f"wall={walls[(op, factor)]:.2f}s (min of 3 warm)"
                )
        lines += [
            "### epoch shuffle + stratum-equalized sample on a growing corpus",
            "",
            "Both ops are map-side hash rules (the shuffle adds one shard",
            "exchange; the sampler one |strata|-row size broadcast), so walls",
            "must track rows linearly.",
            "",
            "| operator | 1x wall (s) | 16x wall (s) | 64x wall (s) | w(64x)/w(1x) | docs 64x |",
            "|---|---|---|---|---|---|",
        ]
        for op in ("epoch_shuffle", "equalized_sample"):
            w1, w16, w64 = (walls[(op, f)] for f in factors)
            lines.append(
                f"| {op} | {w1:.2f} | {w16:.2f} | {w64:.2f} "
                f"| {w64 / w1:.1f}x | {doc_counts[64]:,} |"
            )
        lines.append("")

    with open("/root/repo/SCALE.md", "a") as f:
        f.write("\n".join(lines))
    print("appended round-13 section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


def probe_behavior(base: str) -> None:
    """Round-11 behavior-tier probe: measured evidence for the
    histogram-binning scale claim (operators/binning.py) — the quartile
    windows run over the metric DOMAIN, so the wall must track the one
    checkpointed rollup scan (≈linear in rows), never a global rank.
    Replicas get disjoint key spaces, so customers/users/docs grow
    linearly with the corpus while the value domains stay domains.
    Usage: python tools/scale_probe.py --behavior [base_sf_dir]"""
    import time as _time

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.plans.registry import QUERIES
    from spark_hudi_etl_pipeline_spark.session import get_spark_session

    spark = get_spark_session("scale-probe-behavior")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1 << 20).select(F.sum("id")).collect()

    CASES = {
        "rfm_customer_segments": ("orders", ["o_orderkey", "o_custkey"]),
        "token_budget_selection": ("documents", ["doc_id"]),
        "event_transition_matrix": ("events", ["event_id", "user_id"]),
    }
    factors = (1, 16, 64)
    walls: dict[tuple[str, int], float] = {}
    rows: dict[tuple[str, int], int] = {}
    for qname, (table, id_cols) in CASES.items():
        for factor in factors:
            d = spark.read.parquet(f"{base}/{table}.parquet")
            parts = []
            for r in range(factor):
                p = d
                for c in id_cols:
                    p = p.withColumn(c, F.col(c) + F.lit(r * 100_000_000))
                # Perturb the continuous metric per replica (r cents on
                # every order) so the monetary-cents value DOMAIN grows
                # with the row count — identical replicas would reuse the
                # same histogram keys and mask the high-cardinality cost
                # the probe exists to measure (r11 advisor finding).
                if table == "orders":
                    p = p.withColumn(
                        "o_totalprice", F.col("o_totalprice") + F.lit(r) * 0.01
                    )
                parts.append(p)
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
            sf_dir = f"{SCRATCH}/beh_{table}_{factor}x"
            out.write.mode("overwrite").parquet(f"{sf_dir}/{table}.parquet")
            rows[(qname, factor)] = spark.read.parquet(
                f"{sf_dir}/{table}.parquet"
            ).count()
            QUERIES[qname](spark, sf_dir).write.mode("overwrite").format(
                "noop"
            ).save()  # warm
            # min-of-3 warm walls: this host swings 2-4x between quiet
            # and contended windows (r11 verdict §4), so a single-sample
            # wall can misstate the linearity ratio.
            best = float("inf")
            for _ in range(3):
                t0 = _time.time()
                QUERIES[qname](spark, sf_dir).write.mode("overwrite").format(
                    "noop"
                ).save()
                best = min(best, _time.time() - t0)
            walls[(qname, factor)] = best
            print(
                f"behavior {qname} {factor}x: rows={rows[(qname, factor)]} "
                f"wall={walls[(qname, factor)]:.2f}s (min of 3 warm)"
            )

    lines = [
        "",
        "## round-11 behavior-tier probe (1x/16x/64x, warm second runs)",
        "",
        "Replicated sf0.1 fixtures with disjoint key spaces (customers/",
        "users/docs grow linearly). Claim measured: the histogram-binned",
        "quartile operators (operators/binning.py) and the budget-",
        "selection decomposition stay ≈linear — the ordered windows run",
        "over value DOMAINS, so the wall tracks the rollup scan.",
        "",
        "| query | 1x wall (s) | 16x wall (s) | 64x wall (s) | w(64x)/w(1x) | rows 64x |",
        "|---|---|---|---|---|---|",
    ]
    for qname in CASES:
        w1, w16, w64 = (walls[(qname, f)] for f in factors)
        lines.append(
            f"| {qname} | {w1:.2f} | {w16:.2f} | {w64:.2f} "
            f"| {w64 / w1:.1f}x | {rows[(qname, 64)]:,} |"
        )
    lines.append("")
    with open("/root/repo/SCALE.md", "a") as f:
        f.write("\n".join(lines))
    print("appended round-11 behavior section to /root/repo/SCALE.md")
    shutil.rmtree(SCRATCH, ignore_errors=True)


if __name__ == "__main__":
    if "--harvest" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        probe_harvest(base_dir)
    elif "--r13ops" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        stage_arg = next(
            (a for a in sys.argv[1:] if a.startswith("--stages=")), None
        )
        probe_r13(
            base_dir,
            stages=set(stage_arg.split("=", 1)[1].split(",")) if stage_arg else None,
        )
    elif "--r12ops" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        stage_arg = next(
            (a for a in sys.argv[1:] if a.startswith("--stages=")), None
        )
        probe_r12(
            base_dir,
            stages=set(stage_arg.split("=", 1)[1].split(",")) if stage_arg else None,
        )
    elif "--behavior" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        probe_behavior(base_dir)
    elif "--r11ops" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        stage_arg = next(
            (a for a in sys.argv[1:] if a.startswith("--stages=")), None
        )
        probe_r11(
            base_dir,
            stages=set(stage_arg.split("=", 1)[1].split(",")) if stage_arg else None,
        )
    elif "--r9ops" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        stage_arg = next(
            (a for a in sys.argv[1:] if a.startswith("--stages=")), None
        )
        probe_r9_64x(
            base_dir,
            stages=set(stage_arg.split("=", 1)[1].split(",")) if stage_arg else None,
        )
    elif "--cores" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        probe_cores(base_dir)
    elif "--r8ops" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        probe_r8_ops(base_dir)
    elif "--r7ops" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        probe_hardneg_stats(base_dir)
    elif "--novelty" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        probe_novelty(base_dir)
    elif "--repetition64" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        probe_repetition_64x(base_dir)
    elif "--lifecycle" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        probe_lifecycle(base_dir)
    elif "--curation64" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        probe_curation_64x(base_dir)
    elif "--curation" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        probe_curation(base_dir)
    elif "--skew" in sys.argv:
        base_dir = next(
            (a for a in sys.argv[1:] if not a.startswith("--")),
            "/root/testdata/sf0.1",
        )
        probe_skew(base_dir)
    else:
        main()
