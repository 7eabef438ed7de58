"""bench.py's A/B anchor: the previous-round snapshot it compares
against must never be a snapshot of the tree being benched."""

from __future__ import annotations

import os
import subprocess

import bench

_ENV = dict(
    os.environ,
    GIT_AUTHOR_NAME="t",
    GIT_AUTHOR_EMAIL="t@example.com",
    GIT_COMMITTER_NAME="t",
    GIT_COMMITTER_EMAIL="t@example.com",
    GIT_CONFIG_GLOBAL=os.devnull,
    GIT_CONFIG_NOSYSTEM="1",
)


def _git(repo, *args) -> str:
    return subprocess.run(
        ["git", "-C", str(repo), *args],
        capture_output=True, text=True, check=True, timeout=30, env=_ENV,
    ).stdout.strip()


def _commit(repo, subject: str, content: str) -> str:
    (repo / "f.txt").write_text(content)
    _git(repo, "add", "-A")
    _git(repo, "commit", "-q", "-m", subject)
    return _git(repo, "rev-parse", "HEAD")


def test_prev_snapshot_skips_a_snapshot_of_head(tmp_path):
    _git(tmp_path, "init", "-q")
    r1 = _commit(tmp_path, "round 1: end-of-round snapshot", "one")
    _commit(tmp_path, "work that mentions round 2: end-of-round snapshot", "1b")
    r2 = _commit(tmp_path, "round 2: end-of-round snapshot", "two")
    # Benching right after snapshotting: HEAD *is* the round-2 snapshot.
    assert bench._prev_snapshot(str(tmp_path)) == (
        r1,
        "round 1: end-of-round snapshot",
    )
    _commit(tmp_path, "next change", "three")
    assert bench._prev_snapshot(str(tmp_path))[0] == r2


def test_tier_table_pins_core19_and_tier_keys():
    core = [q for q, tier in bench.TIERS if tier == "core19"]
    assert core == [
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_regional_revenue",
        "q9_profit_by_nation_year",
        "window_running_customer_spend",
        "events_sessionize",
        "events_json_extract",
        "upsert_precombine",
        "asof_purchase_prior_click",
        "window_tumbling_event_stats",
        "dedup_minhash_lsh",
        "dedup_simhash",
        "knn_bruteforce_cosine",
        "text_quality_scores",
        "text_repetition_filters",
        "pack_sequences_token_budget",
        "rolling_7d_active_users",
        "validate_constraints",
        "pagerank_cust_supp_top20",
    ]
    assert bench.HEADLINE[:19] == core
    assert len(bench.HEADLINE) == len(set(bench.HEADLINE)) == 46
    secs = bench.tier_secs({q: 1.0 for q in bench.HEADLINE})
    assert list(secs) == [
        "core19_sec", "lifecycle_sec", "curation_sec", "timeseries_sec",
        "modal_sec", "behavior_sec", "r12_sec", "r13_sec", "r14_sec",
    ]
    assert secs["core19_sec"] == 19.0
    assert sum(secs.values()) == 46.0
