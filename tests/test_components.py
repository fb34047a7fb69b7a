"""Connected-components dup-group resolution — differential vs a python
union-find on random graphs, driver-path job count, plan shape (the loud
cap is tested with the other fixed points in test_operators.py)."""

from __future__ import annotations


def _pairs_df(spark, edges):
    return spark.createDataFrame(
        [(int(a), int(b)) for a, b in edges], "id_a long, id_b long"
    )


def _uf_components(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


def test_cc_star_clique_and_isolated_pair(spark):
    from mapsplit_spark.operators.components import connected_components

    edges = [(0, 1), (0, 2), (0, 3),          # star hub 0
             (10, 11), (11, 12), (10, 12),    # triangle
             (20, 21)]                        # isolated pair
    got = {(r.v, r.component) for r in
           connected_components(_pairs_df(spark, edges)).collect()}
    assert got == {(0, 0), (1, 0), (2, 0), (3, 0),
                   (10, 10), (11, 10), (12, 10), (20, 20), (21, 20)}


def test_cc_differential_vs_union_find(spark):
    """Random sparse graphs (including multi-hop chains where pairwise
    min is NOT the component min) must match a python union-find."""
    import numpy as np

    from mapsplit_spark.operators.components import connected_components

    rng = np.random.default_rng(11)
    for trial in range(3):
        n = 80
        m = rng.integers(40, 90)
        edges = {tuple(sorted((int(a), int(b))))
                 for a, b in rng.integers(0, n, (m, 2)) if a != b}
        # force a 12-hop chain in a high id range: transitivity matters
        edges |= {(1000 + i, 1001 + i) for i in range(12)}
        exp = _uf_components(edges)
        got = {r.v: r.component for r in
               connected_components(_pairs_df(spark, sorted(edges))).collect()}
        assert got == exp, f"trial {trial}"


def test_cc_pointer_jumping_handles_long_chain_fast(spark, monkeypatch):
    """A 40-vertex path converges within 8 rounds (O(log d), not O(d))."""
    from mapsplit_spark.operators import components
    from mapsplit_spark.operators.components import connected_components

    monkeypatch.setattr(components, "CC_MAX_ROUNDS", 8)
    chain = [(i, i + 1) for i in range(40)]
    got = {r.v: r.component for r in
           connected_components(_pairs_df(spark, chain)).collect()}
    assert set(got.values()) == {0} and len(got) == 41


def test_cc_driver_path_runs_no_count_job(spark, job_count):
    """The driver path's edge count is observed on the pairs checkpoint:
    the call runs that checkpoint and the collect, with no count job."""
    from mapsplit_spark.operators.components import connected_components

    pairs = _pairs_df(spark, [(0, 1), (1, 2), (5, 6)])
    assert job_count(lambda: connected_components(pairs)) == 2


def test_cc_driver_path_matches_distributed(spark, job_count, monkeypatch):
    """r6: the size-adaptive driver union-find must agree with the
    distributed min-label fixpoint on the same graphs.  The driver cap
    is read at call time: patched to 0, the call takes the distributed
    arm, which runs more jobs than the driver arm's 2."""
    import numpy as np

    from mapsplit_spark.operators import components
    from mapsplit_spark.operators.components import connected_components

    rng = np.random.default_rng(23)
    n = 60
    edges = {tuple(sorted((int(a), int(b))))
             for a, b in rng.integers(0, n, (70, 2)) if a != b}
    edges |= {(500 + i, 501 + i) for i in range(9)}
    df = _pairs_df(spark, sorted(edges))
    fast = {(r.v, r.component)
            for r in connected_components(df).collect()}
    monkeypatch.setattr(components, "CC_DRIVER_MAX_EDGES", 0)
    dist = set()
    jobs = job_count(lambda: dist.update(
        (r.v, r.component) for r in connected_components(df).collect()))
    assert fast == dist
    assert jobs > 2


def test_dedup_keep_reduces_corpus(spark):
    from mapsplit_spark.operators.components import connected_components, dedup_keep

    docs = spark.createDataFrame(
        [(i, f"text {i}") for i in range(10)], "doc_id long, text string"
    )
    pairs = _pairs_df(spark, [(0, 1), (1, 2), (5, 6)])
    kept = sorted(r.doc_id for r in dedup_keep(docs, connected_components(pairs)).collect())
    # groups {0,1,2} → keep 0; {5,6} → keep 5; others untouched
    assert kept == [0, 3, 4, 5, 7, 8, 9]


def test_cc_plan_no_python_no_cartesian(spark):
    from mapsplit_spark.operators.components import connected_components

    pairs = _pairs_df(spark, [(0, 1), (2, 3), (3, 4)])
    plan = connected_components(pairs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "EvalPython" not in plan and "InPandas" not in plan
