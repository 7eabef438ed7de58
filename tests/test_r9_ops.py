"""Round-9 operators: perceptual image near-dup (aHash), video
scene-cut detection, hybrid RRF retrieval, and the skew diagnostic.
Planted-fixture semantics + invariant checks; cross-engine value
parity is covered by the DuckDB oracles (tools/oracle_check.py)."""

from __future__ import annotations

from conftest import SF_SMALL

from spark_hudi_etl_pipeline_spark.plans.registry import QUERIES

DOC_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def _write_docs(spark, path, rows):
    spark.createDataFrame(
        [(i, t, "en", "test", len(t)) for i, t in rows], DOC_SCHEMA
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/documents.parquet")


def test_image_ahash_planted_dups(spark, tmp_path):
    """Identical payloads collapse into ONE exact-hash cluster (size 2,
    no pair row); a one-cell perturbation forms its own cluster pairing
    with the original at Hamming 1; the inverted image never pairs."""
    lo, hi = " " * 384, "~" * 384  # bimodal raster: cells far from mean
    a = lo + hi
    # flip exactly grid cell (0,0): its 4 pixels are text bytes 0-5 and
    # 48-53 (pixel (y,x) = bytes 3*(16y+x)..+2)
    c = "~" * 6 + a[6:48] + "~" * 6 + a[54:]
    d = hi + lo  # inverted: all 64 bits flip
    _write_docs(spark, tmp_path, [(1, a), (2, a), (3, c), (4, d)])
    rows = {
        (r["media_a"], r["media_b"]): r
        for r in QUERIES["image_ahash_neardup"](spark, str(tmp_path)).collect()
    }
    assert set(rows) == {(1, 3)}
    r = rows[(1, 3)]
    assert r["hamming"] == 1 and r["size_a"] == 2 and r["size_b"] == 1


def test_video_scene_cuts_planted(spark, tmp_path):
    """4 dark + 4 bright 96-byte frame chunks ⇒ exactly one cut at
    frame 4 with diff = (126-32)·1000 millis."""
    text = " " * (96 * 4) + "~" * (96 * 4)
    _write_docs(spark, tmp_path, [(7, text)])
    rows = QUERIES["video_scene_cuts"](spark, str(tmp_path)).collect()
    assert [(r["media_id"], r["frame_idx"], r["diff_millis"]) for r in rows] == [
        (7, 4, (126 - 32) * 1000)
    ]


def test_video_scene_cuts_flat_clip_has_none(spark, tmp_path):
    _write_docs(spark, tmp_path, [(8, "x" * 768)])
    assert QUERIES["video_scene_cuts"](spark, str(tmp_path)).count() == 0


def test_rrf_fusion_invariants(spark):
    """Fused score is exactly Σ 1000000//(60+rank) over the systems
    that ranked the doc; output is descending and ≤ 10 rows."""
    rows = QUERIES["hybrid_rrf_retrieval"](spark, SF_SMALL).collect()
    assert 0 < len(rows) <= 10
    for r in rows:
        expect = 0
        if r["rnk_bm25"] is not None:
            assert 1 <= r["rnk_bm25"] <= 20
            expect += 1_000_000 // (60 + r["rnk_bm25"])
        if r["rnk_vec"] is not None:
            assert 1 <= r["rnk_vec"] <= 20
            expect += 1_000_000 // (60 + r["rnk_vec"])
        assert r["rrf_score"] == expect and expect > 0
    for x, y in zip(rows, rows[1:]):
        assert (x["rrf_score"], -x["doc_id"]) >= (y["rrf_score"], -y["doc_id"])


def test_skew_diagnostic_consistency(spark):
    """Percentiles ordered, hot_1 = max, totals agree with the raw
    relation, skew ratio ≥ 1000 (uniform floor)."""
    from spark_hudi_etl_pipeline_spark.sources import load_table

    got = {
        r["metric"]: r
        for r in QUERIES["skew_diagnostic_events"](spark, SF_SMALL).collect()
    }
    ev = load_table(spark, SF_SMALL, "events")
    assert got["total_rows"]["v"] == ev.count()
    assert got["n_keys"]["v"] == ev.select("user_id").distinct().count()
    assert (
        got["p50_cnt"]["v"]
        <= got["p90_cnt"]["v"]
        <= got["p99_cnt"]["v"]
        <= got["max_cnt"]["v"]
    )
    assert got["hot_1"]["v"] == got["max_cnt"]["v"]
    hots = [got[f"hot_{i}"]["v"] for i in range(1, 6)]
    assert hots == sorted(hots, reverse=True)
    assert got["skew_x1000"]["v"] >= 1000
    assert (
        got["skew_x1000"]["v"]
        == got["max_cnt"]["v"] * got["n_keys"]["v"] * 1000 // got["total_rows"]["v"]
    )


def test_holt_forecast_planted(spark, tmp_path):
    """Counts 4, 8, 16 on consecutive days: s=(x+s+b)>>1, b=((s'-s)+b)>>1
    ⇒ (s,b) = (4,0) → (6,1) → (11,3); forecast 14."""
    import datetime

    rows = []
    eid = 0
    for day, n in ((1, 4), (2, 8), (3, 16)):
        for _ in range(n):
            rows.append(
                (eid, datetime.datetime(2024, 1, day, 12, 0), 1, "a", 1.0, "{}")
            )
            eid += 1
    spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string, value double, props string"
    ).coalesce(1).write.mode("overwrite").parquet(f"{tmp_path}/events.parquet")
    got = QUERIES["events_holt_forecast"](spark, str(tmp_path)).collect()
    assert [(r["event_type"], r["n_days"], r["level"], r["trend"], r["forecast_1"]) for r in got] == [
        ("a", 3, 11, 3, 14)
    ]


def test_intra_doc_spans_planted(spark, tmp_path):
    """'x y z x y z w': window 'x y z' repeats at start 3 ⇒ 1 dup window
    covering tokens 3..5; a repeat-free doc is absent."""
    _write_docs(spark, tmp_path, [(1, "x y z x y z w"), (2, "a b c d e f g")])
    got = QUERIES["dedup_intra_doc_spans"](spark, str(tmp_path)).collect()
    assert [
        (r["doc_id"], r["n_tokens"], r["n_windows"], r["n_dup_windows"], r["n_removed_tokens"])
        for r in got
    ] == [(1, 7, 5, 1, 3)]


def test_audio_vad_segments_planted(spark, tmp_path):
    """Loud first half / quiet second half ⇒ exactly two segments with
    the boundary at cell 32."""
    _write_docs(spark, tmp_path, [(5, "~" * 1024 + " " * 1024)])
    got = QUERIES["audio_vad_segments"](spark, str(tmp_path)).collect()
    assert [
        (r["media_id"], r["seg_idx"], r["start_cell"], r["n_cells"], r["active"])
        for r in got
    ] == [(5, 0, 0, 32, 1), (5, 1, 32, 32, 0)]


def test_knn_filtered_label_respects_predicate(spark):
    """Every returned neighbor satisfies the metadata predicate; ranks
    are dense 1..5 per query."""
    from spark_hudi_etl_pipeline_spark.sources import load_table

    rows = QUERIES["knn_filtered_label"](spark, SF_SMALL).collect()
    labels = {
        r["vec_id"]: r["label"]
        for r in load_table(spark, SF_SMALL, "embeddings").collect()
    }
    by_q = {}
    for r in rows:
        assert labels[r["cid"]] == 1
        by_q.setdefault(r["qid"], []).append(r["rank"])
    for q, ranks in by_q.items():
        assert ranks == list(range(1, len(ranks) + 1))


def test_crossmodal_topk_shape(spark):
    rows = QUERIES["crossmodal_image_to_text_topk"](spark, SF_SMALL).collect()
    assert len(rows) == 5 * 5
    for r in rows:
        assert -1.0 <= r["cosine"] <= 1.0
        assert 1 <= r["rank"] <= 5


def test_dp_noisy_counts_bounded_noise(spark):
    """Seeded uniform u ∈ (2^-17, 1): |Laplace(1) noise| ≤ ln(65536) ≈
    11.1, so the released value stays within ±12e6 of n·1e6."""
    from spark_hudi_etl_pipeline_spark.sources import load_table

    true = {
        r["c_mktsegment"]: r["n"]
        for r in load_table(spark, SF_SMALL, "customer")
        .groupBy("c_mktsegment")
        .count()
        .withColumnRenamed("count", "n")
        .collect()
    }
    rows = QUERIES["dp_noisy_counts_release"](spark, SF_SMALL).collect()
    assert {r["segment"] for r in rows} == set(true)
    for r in rows:
        assert abs(r["noisy_count_q6"] - true[r["segment"]] * 1_000_000) <= 12_000_000
        assert r["noisy_count_q6"] != true[r["segment"]] * 1_000_000


def test_deletion_vectors_never_rewrite_data(spark, tmp_path):
    """Two delete generations leave every data file byte-identical
    (position sidecars only); the reader subtracts their union; a
    repeat delete marks nothing new."""
    import os

    from spark_hudi_etl_pipeline_spark.operators.tableops import (
        delete_with_vectors,
        read_with_deletion_vectors,
    )
    from pyspark.sql import functions as F

    path = str(tmp_path / "dv_table")
    spark.createDataFrame(
        [(i, i % 3, float(i * 10)) for i in range(100)], "k long, grp long, v double"
    ).repartition(4).write.parquet(path)

    def datafiles():
        return sorted(
            (f, os.path.getmtime(os.path.join(path, f)), os.path.getsize(os.path.join(path, f)))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        )

    before = datafiles()
    n1 = delete_with_vectors(spark, path, F.col("grp") == 0)
    n2 = delete_with_vectors(spark, path, F.col("v") > 900.0)
    assert n1 == 34 and n2 > 0
    assert datafiles() == before  # zero data-file churn
    assert sorted(os.listdir(os.path.join(path, "_dv"))) == ["v0", "v1"]
    survivors = {r["k"] for r in read_with_deletion_vectors(spark, path).collect()}
    expect = {i for i in range(100) if i % 3 != 0 and i * 10 <= 900}
    assert survivors == expect
    # gen-2 predicate re-applied: everything matching is already dead
    assert delete_with_vectors(spark, path, F.col("v") > 900.0) == 0
    # plain readers don't see the sidecar (underscore-prefixed dir)
    assert spark.read.parquet(path).count() == 100


def test_deletion_vectors_large_sidecar_file_local_path(spark, tmp_path, monkeypatch):
    """Past the broadcast threshold the reader applies DVs file-locally
    (mapInPandas over the scan) — identical survivors to the broadcast
    path and NO exchange anywhere in the plan (the r9 fallback was a
    full-table shuffled anti join; r10 verdict ask #2)."""
    import os

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators import tableops

    path = str(tmp_path / "dv_big")
    spark.createDataFrame(
        [(i, float(i)) for i in range(500)], "k long, v double"
    ).repartition(4).write.parquet(path)
    tableops.delete_with_vectors(spark, path, F.col("k") % 5 == 0)
    tableops.delete_with_vectors(spark, path, F.col("k") >= 450)
    expect = {r["k"] for r in tableops.read_with_deletion_vectors(spark, path).collect()}
    # force the large-sidecar path
    monkeypatch.setattr(tableops, "_DV_BROADCAST_BYTES", 0)
    df = tableops.read_with_deletion_vectors(spark, path)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan  # map-only: the table never repartitions
    assert "MapInPandas" in plan
    got = {r["k"] for r in df.collect()}
    assert got == expect == {i for i in range(450) if i % 5 != 0}
    # compaction shares the reader; it must also survive the forced path
    rewritten, _ = tableops.compact_deletion_vectors(
        spark, path, min_deleted_fraction=0.05
    )
    assert rewritten >= 1
    got2 = {r["k"] for r in tableops.read_with_deletion_vectors(spark, path).collect()}
    assert got2 == expect


def test_deletion_vectors_survive_table_relocation(spark, tmp_path):
    """Sidecars key on decoded BASENAMES, not absolute URIs — moving the
    table directory must not silently resurrect deleted rows (ADVICE r9)."""
    import shutil

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.tableops import (
        delete_with_vectors,
        read_with_deletion_vectors,
    )

    old = str(tmp_path / "orig")
    spark.createDataFrame(
        [(i,) for i in range(60)], "k long"
    ).repartition(2).write.parquet(old)
    assert delete_with_vectors(spark, old, F.col("k") < 10) == 10
    new = str(tmp_path / "moved")
    shutil.move(old, new)
    got = {r["k"] for r in read_with_deletion_vectors(spark, new).collect()}
    assert got == set(range(10, 60))


def test_deletion_vector_generation_numbering_is_max_plus_one(spark, tmp_path):
    """A removed earlier generation must not make the next delete
    overwrite a LIVE generation: numbering is max(vN)+1, not the
    directory-entry count (ADVICE r9)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.tableops import (
        delete_with_vectors,
        read_with_deletion_vectors,
    )

    path = str(tmp_path / "dv_gen")
    spark.createDataFrame([(i,) for i in range(30)], "k long").coalesce(
        1
    ).write.parquet(path)
    delete_with_vectors(spark, path, F.col("k") == 0)
    delete_with_vectors(spark, path, F.col("k") == 1)
    shutil.rmtree(os.path.join(path, "_dv", "v0"))  # k=0 resurrects
    delete_with_vectors(spark, path, F.col("k") == 2)
    # entry-count numbering would have written v1 again, erasing the
    # k=1 delete; max+1 writes v2 and keeps it
    assert sorted(os.listdir(os.path.join(path, "_dv"))) == ["v1", "v2"]
    got = {r["k"] for r in read_with_deletion_vectors(spark, path).collect()}
    assert got == set(range(30)) - {1, 2}


def test_deletion_vectors_reject_remote_paths(spark):
    import pytest as _pytest

    from spark_hudi_etl_pipeline_spark.operators.tableops import (
        read_with_deletion_vectors,
    )

    with _pytest.raises(NotImplementedError, match="local paths only"):
        read_with_deletion_vectors(spark, "s3://bucket/table")


def test_inverted_index_conjunctive_docs_contain_all_terms(spark):
    from spark_hudi_etl_pipeline_spark.sources import load_table

    rows = QUERIES["inverted_index_conjunctive"](spark, SF_SMALL).collect()
    texts = {
        r["doc_id"]: r["text"].lower()
        for r in load_table(spark, SF_SMALL, "documents").collect()
    }
    assert rows
    for r in rows:
        toks = set(texts[r["doc_id"]].split())
        assert {"stream", "window", "merge"} <= toks
        assert r["n_terms"] == 3 and r["total_tf"] >= 3


def test_merge_not_matched_by_source_arms(spark):
    """All five MERGE arms in one statement: matched-update,
    matched-delete, not-matched-insert, BY-SOURCE conditional delete,
    BY-SOURCE update (tombstone flag)."""
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_into

    target = spark.createDataFrame(
        [(1, "O", 10.0), (2, "F", 20.0), (3, "O", 30.0), (4, "F", 40.0)],
        "k long, st string, p double",
    )
    source = spark.createDataFrame(
        [(1, "O", 11.0), (2, "F", 0.0), (5, "P", 50.0)],
        "k long, st string, p double",
    )
    out = {
        r["k"]: r
        for r in merge_into(
            target,
            source,
            on=["k"],
            when_matched_update={"p": "s.p"},
            when_matched_delete="s.p = 0.0",
            when_not_matched_insert=True,
            when_not_matched_by_source_update={"st": "'X'"},
            when_not_matched_by_source_delete="t.st = 'O'",
        ).collect()
    }
    assert set(out) == {1, 4, 5}          # 2 deleted (matched), 3 deleted (by source)
    assert out[1]["p"] == 11.0 and out[1]["st"] == "O"   # matched update
    assert out[4]["st"] == "X" and out[4]["p"] == 40.0   # by-source tombstone
    assert out[5]["st"] == "P" and out[5]["p"] == 50.0   # insert


def test_merge_without_by_source_clauses_unchanged(spark):
    """Default args: unmatched target rows pass through untouched (the
    pre-r9 contract)."""
    from spark_hudi_etl_pipeline_spark.operators.merge import merge_into

    target = spark.createDataFrame([(1, 1.0), (2, 2.0)], "k long, p double")
    source = spark.createDataFrame([(1, 9.0)], "k long, p double")
    out = {
        r["k"]: r["p"]
        for r in merge_into(
            target, source, on=["k"], when_matched_update={"p": "s.p"}
        ).collect()
    }
    assert out == {1: 9.0, 2: 2.0}


def test_dv_compaction_rewrites_only_dense_files(spark, tmp_path):
    """Key-range delete is dense in one clustered file (rewritten, DV
    entries dropped); scattered delete stays sparse (files kept
    byte-identical WITH their DV entries); reader results unchanged
    across the compaction."""
    import os

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.clustering import (
        cluster_linear,
        write_clustered,
    )
    from spark_hudi_etl_pipeline_spark.operators.tableops import (
        compact_deletion_vectors,
        delete_with_vectors,
        read_with_deletion_vectors,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "k long, v double")
    write_clustered(cluster_linear(df, ["k"], 4), path)
    delete_with_vectors(spark, path, F.col("k") < 25)       # dense: file 1
    delete_with_vectors(spark, path, F.col("k") % 50 == 49)  # sparse
    before = sorted(r["k"] for r in read_with_deletion_vectors(spark, path).collect())

    def files():
        return {
            f: os.path.getmtime(os.path.join(path, f))
            for f in os.listdir(path)
            if f.endswith(".parquet")
        }

    pre = files()
    rewritten, remaining = compact_deletion_vectors(spark, path, min_deleted_fraction=0.3)
    post = files()
    assert rewritten >= 1 and remaining == len(post)
    untouched = {f: t for f, t in pre.items() if f in post}
    assert untouched and all(post[f] == t for f, t in untouched.items())
    assert any(f.startswith("part-upsert-") for f in post)  # staged survivors moved in
    # sparse DV entries survive the sidecar swap; dense ones are gone
    dv = spark.read.parquet(os.path.join(path, "_dv", "*"))
    assert 0 < dv.count() < 25 + 2
    after = sorted(r["k"] for r in read_with_deletion_vectors(spark, path).collect())
    assert after == before == [k for k in range(25, 100) if k % 50 != 49]


def test_dv_compaction_commits_the_manifest(spark, tmp_path):
    """The compaction's file swap is a manifest commit: after it, a
    manifest read of a manifest-committed table lists the survivors, not
    the removed dense file, and agrees with the listing read."""
    import os

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.clustering import (
        cluster_linear,
        write_clustered,
    )
    from spark_hudi_etl_pipeline_spark.operators.merge import (
        read_indexed_table,
        table_live_files,
    )
    from spark_hudi_etl_pipeline_spark.operators.tableops import (
        compact_deletion_vectors,
        delete_with_vectors,
        read_with_deletion_vectors,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame([(i, float(i)) for i in range(100)], "k long, v double")
    write_clustered(cluster_linear(df, ["k"], 4), path)
    delete_with_vectors(spark, path, F.col("k") < 25)
    rewritten, remaining = compact_deletion_vectors(spark, path, min_deleted_fraction=0.3)
    assert rewritten == 1
    _, live = table_live_files(path)
    assert sorted(live) == sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    assert len(live) == remaining
    manifest = sorted(r["k"] for r in read_indexed_table(spark, path).collect())
    listed = sorted(r["k"] for r in read_with_deletion_vectors(spark, path).collect())
    assert manifest == listed == list(range(25, 100))


def test_dv_compaction_on_uri_escapable_path(spark, tmp_path):
    """A table path containing a space (URI-encoded by
    _metadata.file_path) still removes dense originals and never
    duplicates or resurrects rows across the compaction swap."""
    import os

    from pyspark.sql import functions as F

    from spark_hudi_etl_pipeline_spark.operators.clustering import (
        cluster_linear,
        write_clustered,
    )
    from spark_hudi_etl_pipeline_spark.operators.tableops import (
        compact_deletion_vectors,
        delete_with_vectors,
        read_with_deletion_vectors,
    )

    path = str(tmp_path / "dv check" / "t")
    os.makedirs(os.path.dirname(path))
    df = spark.createDataFrame([(i, float(i)) for i in range(80)], "k long, v double")
    write_clustered(cluster_linear(df, ["k"], 4), path)
    delete_with_vectors(spark, path, F.col("k") < 20)  # whole first file
    n_before = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    rewritten, remaining = compact_deletion_vectors(spark, path, min_deleted_fraction=0.3)
    assert rewritten == 1
    n_after = len([f for f in os.listdir(path) if f.endswith(".parquet")])
    assert n_after < n_before + 1  # the dense original actually went away
    rows = sorted(r["k"] for r in read_with_deletion_vectors(spark, path).collect())
    assert rows == list(range(20, 80))  # no dupes, no resurrection
