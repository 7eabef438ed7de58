"""Property-based tests (Hypothesis) for connected components — the
alternating large-star/small-star engine against a pure-Python
union-find ground truth on random graphs.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from spark_hudi_etl_pipeline_spark.operators.dedup import connected_components

_N = 24  # node universe (small → dense collision structure)

EDGES = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=_N - 1),
        st.integers(min_value=0, max_value=_N - 1),
    ),
    min_size=0,
    max_size=40,
)

_SETTINGS = settings(
    max_examples=10,  # each example runs Spark jobs — keep the budget sane
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _union_find_labels(edges, n: int = _N) -> dict[int, int]:
    """node → minimum node id of its component, for nodes ``0..n-1``."""
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # Canonical = component minimum: min-parenting already makes the
    # root the minimum, but take it explicitly over the member set.
    members: dict[int, list[int]] = {}
    for x in range(n):
        members.setdefault(find(x), []).append(x)
    return {x: min(ms) for ms in members.values() for x in ms}


@given(edges=EDGES)
@_SETTINGS
def test_cc_matches_union_find(spark, edges):
    nodes = spark.createDataFrame([(i,) for i in range(_N)], "id long")
    e = spark.createDataFrame(edges, "id_a long, id_b long") if edges else (
        spark.createDataFrame([], "id_a long, id_b long")
    )
    got = {
        r["id"]: r["canonical_id"]
        for r in connected_components(nodes, e).collect()
    }
    assert got == _union_find_labels(edges)
