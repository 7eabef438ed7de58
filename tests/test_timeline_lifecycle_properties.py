"""Property-based test (Hypothesis) for the WHOLE timeline lifecycle:
random interleavings of commit / savepoint / compact / clean /
rollback / restore are executed against both the real engine
(operators/timeline.py) and a pure-Python model; after every op the
visible state, the error behavior, and the time-travel horizon must
agree. This is the invariant net over the savepoint-clamp /
horizon-guard / no-op rules the round hardened.
"""

from __future__ import annotations

import uuid

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spark_hudi_etl_pipeline_spark.operators.timeline import (
    clean_timeline,
    commit_append,
    commit_instants,
    compact_timeline,
    compaction_instants,
    maybe_compact,
    read_as_of,
    read_realtime,
    restore_to,
    rollback_last,
    savepoint,
    savepoints,
)

KEYS = ["k"]
PRE = "prec"

#: op := (kind, arg) — args are INDICES into the current instant list
#: (mod its length), so every generated op targets a live instant.
OPS = st.lists(
    st.one_of(
        st.tuples(st.just("commit"), st.integers(min_value=0, max_value=7)),
        st.tuples(st.just("savepoint"), st.integers(min_value=0, max_value=9)),
        st.tuples(st.just("compact"), st.integers(min_value=0, max_value=9)),
        st.tuples(st.just("clean"), st.integers(min_value=1, max_value=3)),
        st.tuples(st.just("maybe"), st.integers(min_value=1, max_value=3)),
        st.tuples(st.just("rollback"), st.just(0)),
        st.tuples(st.just("restore"), st.integers(min_value=0, max_value=9)),
    ),
    min_size=1,
    max_size=7,
)

_SETTINGS = settings(
    max_examples=10,  # each op runs Spark jobs — keep the budget sane
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


class Model:
    """Pure-Python mirror of the timeline semantics (latest-wins fold on
    (prec, commit), savepoint clamp, at-or-below-base no-op, horizon
    guard)."""

    def __init__(self):
        # ts -> {key: (prec, payload, deleted)}
        self.commits: dict[int, dict[int, tuple[int, int, bool]]] = {}
        self.pins: set[int] = set()
        self.bases: list[int] = []

    def instants(self):
        return sorted(self.commits)

    def fold(self, up_to=None):
        best: dict[int, tuple[tuple[int, int], int, bool]] = {}
        for ts, rows in self.commits.items():
            if up_to is not None and ts > up_to:
                continue
            for k, (prec, payload, deleted) in rows.items():
                cand = ((prec, ts), payload, deleted)
                if k not in best or cand[0] > best[k][0]:
                    best[k] = cand
        return {
            k: (srt[0], payload)
            for k, (srt, payload, deleted) in best.items()
            if not deleted
        }

    def compact(self, up_to):
        eff = up_to
        pins = sorted(self.pins)
        if pins and pins[0] < eff:
            eff = pins[0]
        if self.bases and eff <= self.bases[-1]:
            return None  # no-op
        collapsed = [t for t in self.commits if t <= eff]
        if not collapsed:
            return None
        folded = self.fold(eff)
        for t in collapsed:
            del self.commits[t]
        self.commits[eff] = {
            k: (prec, payload, False) for k, (prec, payload) in folded.items()
        }
        self.bases.append(eff)
        self.bases.sort()
        return eff

    def maybe(self, max_deltas):
        inst = self.instants()
        tail = [t for t in inst if not self.bases or t > self.bases[-1]]
        if len(tail) <= max_deltas:
            return None
        eff = tail[-1]
        pins = sorted(self.pins)
        if pins and pins[0] < eff:
            eff = pins[0]
        if self.bases and eff <= self.bases[-1]:
            return None
        self.compact(eff)
        return eff

    def clean(self, retain):
        inst = self.instants()
        if len(inst) <= retain:
            return None
        horizon = inst[-retain]
        pins = sorted(self.pins)
        if pins:
            horizon = min(horizon, pins[0])
        if not any(t < horizon for t in inst):
            return None
        self.compact(horizon)
        return horizon

    def rollback(self):
        inst = self.instants()
        if not inst:
            raise ValueError("empty")
        last = inst[-1]
        if self.bases and self.bases[-1] == last:
            raise ValueError("compacted base")
        if last in self.pins:
            raise ValueError("savepointed")
        del self.commits[last]
        return last

    def restore(self, instant):
        if self.bases and self.bases[-1] > instant:
            raise ValueError("collapsed")
        if instant not in self.commits:
            raise ValueError("not a commit")
        for t in [t for t in self.commits if t > instant]:
            del self.commits[t]
        self.pins = {p for p in self.pins if p <= instant}
        self.bases = [b for b in self.bases if b <= instant]

    def horizon(self):
        return self.bases[-1] if self.bases else None


def _engine_state(spark, path):
    return {
        r["k"]: (r[PRE], r["payload"])
        for r in read_realtime(spark, path, KEYS, PRE, delete_col="deleted").collect()
    }


@given(ops=OPS)
@_SETTINGS
def test_lifecycle_ops_match_model(spark, tmp_path, ops):
    path = str(tmp_path / f"tl_{uuid.uuid4().hex}")
    m = Model()
    next_ts = 1
    # Always start with two commits so every op kind has something to hit.
    seed_ops = [("commit", 5), ("commit", 3)] + list(ops)
    for kind, arg in seed_ops:
        inst = m.instants()
        if kind == "commit":
            ts = next_ts
            next_ts += 1
            # arg+1 keys; key k gets payload ts*100+k; every 3rd key of
            # odd commits is a delete record.
            rows = {
                k: (ts, ts * 100 + k, (ts % 2 == 1) and (k % 3 == 2))
                for k in range(arg + 1)
            }
            df = spark.createDataFrame(
                [(k, prec, p, d) for k, (prec, p, d) in rows.items()],
                "k int, prec int, payload int, deleted boolean",
            )
            commit_append(spark, df, path, ts)
            m.commits[ts] = rows
        elif kind == "savepoint" and inst:
            t = inst[arg % len(inst)]
            savepoint(spark, path, t)
            m.pins.add(t)
        elif kind == "compact" and inst:
            t = inst[arg % len(inst)]
            compact_timeline(spark, path, KEYS, PRE, t, delete_col="deleted")
            m.compact(t)
        elif kind == "clean":
            got = clean_timeline(
                spark, path, KEYS, PRE, retain_last=arg, delete_col="deleted"
            )
            expected = m.clean(arg)
            assert got == expected, f"clean({arg}): {got} != {expected}"
        elif kind == "maybe" and inst:
            got = maybe_compact(
                spark, path, KEYS, PRE, max_deltas=arg, delete_col="deleted"
            )
            expected = m.maybe(arg)
            assert got == expected, f"maybe({arg}): {got} != {expected}"
        elif kind == "rollback" and inst:
            try:
                expected = m.rollback()
            except ValueError:
                with pytest.raises(ValueError):
                    rollback_last(spark, path)
            else:
                assert rollback_last(spark, path) == expected
        elif kind == "restore" and inst:
            t = inst[arg % len(inst)]
            try:
                m.restore(t)
            except ValueError:
                with pytest.raises(ValueError):
                    restore_to(spark, path, t)
            else:
                restore_to(spark, path, t)
        else:
            continue  # op on an empty timeline — skipped

        # Invariants after EVERY op:
        assert commit_instants(spark, path) == m.instants()
        assert savepoints(path) == sorted(m.pins)
        assert compaction_instants(path) == m.bases
        if not m.instants():
            # Every commit rolled back: reads must fail loudly, not
            # return an empty relation.
            with pytest.raises(FileNotFoundError, match="empty timeline"):
                read_realtime(spark, path, KEYS, PRE, delete_col="deleted")
            continue
        assert _engine_state(spark, path) == m.fold()
        # Time travel: every instant at/after the horizon reconstructs
        # the model's as-of state; everything before it raises.
        hz = m.horizon()
        for t in m.instants():
            if hz is not None and t < hz:
                with pytest.raises(ValueError, match="compaction horizon"):
                    read_as_of(spark, path, KEYS, PRE, t, delete_col="deleted")
            else:
                got_asof = {
                    r["k"]: (r[PRE], r["payload"])
                    for r in read_as_of(
                        spark, path, KEYS, PRE, t, delete_col="deleted"
                    ).collect()
                }
                assert got_asof == m.fold(t), f"as-of {t} diverged"
