"""tools/scale_probe.py: fixture replication, the SCALE.md section
writer, and the up-front query-name check. None of these start the
probe's timed sessions."""

from __future__ import annotations

import filecmp
import os
import re
import shutil
import sys
from pathlib import Path

import pytest

from tests.conftest import SF_SMALL

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO / "tools"))

import scale_probe  # noqa: E402


def test_replicate_offsets_ids_suffixes_text_and_copies_dims(spark, tmp_path):
    from pyspark.sql import functions as F

    off = scale_probe.ID_OFFSET
    dst = scale_probe.replicate(spark, SF_SMALL, str(tmp_path / "x2"), 2)
    for table, id_col, text_col in scale_probe.REPLICATED:
        base = spark.read.parquet(f"{SF_SMALL}/{table}.parquet")
        rep = spark.read.parquet(f"{dst}/{table}.parquet")
        assert rep.schema == base.schema
        assert rep.count() == 2 * base.count()
        # Replica 0 is the base verbatim; replica 1 is the base shifted
        # past every base id, so the two id spaces are disjoint.
        assert base.agg(F.max(id_col)).first()[0] < off
        orig = rep.filter(F.col(id_col) < off)
        shifted = rep.filter(F.col(id_col) >= off)
        assert orig.exceptAll(base).count() == 0
        assert orig.count() == base.count()
        unshifted = shifted.withColumn(id_col, F.col(id_col) - F.lit(off))
        if text_col is None:
            assert unshifted.exceptAll(base).count() == 0
        else:
            want = {r[id_col]: r[text_col] for r in base.collect()}
            got = {r[id_col]: r[text_col] for r in unshifted.collect()}
            assert got.keys() == want.keys()
            for k, text in got.items():
                assert text == re.sub(r"(\S+)", r"\1r1", want[k])
                assert all(tok.endswith("r1") for tok in text.split())
    replicated = {f"{t}.parquet" for t, _, _ in scale_probe.REPLICATED}
    copied = sorted(set(os.listdir(SF_SMALL)) - replicated)
    assert {"customer.parquet", "events.parquet", "region.parquet"} <= set(copied)
    for entry in copied:
        assert filecmp.cmp(f"{SF_SMALL}/{entry}", f"{dst}/{entry}", shallow=False)


def test_write_section_replaces_only_its_own_section(tmp_path):
    path = tmp_path / "SCALE.md"
    head = "# SCALE\n\nintro\n\n## old A\n\nalpha\n\n"
    tail = "## old B\n\nbeta\n"
    path.write_text(head + "## probe x\n\nstale\n|a|\n\n" + tail)
    scale_probe.write_section(path, "probe x", "fresh")
    text = path.read_text()
    assert text == head + "## probe x\n\nfresh\n\n" + tail
    scale_probe.write_section(path, "probe x", "fresh")
    assert path.read_text() == text
    # a heading that merely starts with the title is a different section
    scale_probe.write_section(path, "probe", "new")
    appended = path.read_text()
    assert appended == text + "\n## probe\n\nnew\n"
    scale_probe.write_section(path, "probe", "newer")
    assert path.read_text() == text + "\n## probe\n\nnewer\n"


def test_write_section_keeps_the_real_scale_md_history(tmp_path):
    path = tmp_path / "SCALE.md"
    shutil.copyfile(REPO / "SCALE.md", path)
    history = path.read_text()
    scale_probe.write_section(path, "scale_probe --queries q --replicate 1", "t")
    once = path.read_text()
    assert once.startswith(history)
    scale_probe.write_section(path, "scale_probe --queries q --replicate 1", "t")
    assert path.read_text() == once


def test_unknown_query_fails_before_any_session(monkeypatch, capsys):
    def started(*args, **kwargs):
        raise AssertionError("the probe got past its query-name check")

    monkeypatch.setattr(scale_probe, "get_spark_session", started)
    monkeypatch.setattr(scale_probe, "replicate", started)
    monkeypatch.setattr(scale_probe, "_session", started)
    with pytest.raises(SystemExit) as exc:
        scale_probe.main(["--queries", "q1_pricing_summary,no_such_query", SF_SMALL])
    assert exc.value.code != 0
    err = capsys.readouterr().err
    assert "no_such_query" in err
    assert "q1_pricing_summary" not in err.splitlines()[-1]
