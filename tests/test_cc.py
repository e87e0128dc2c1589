"""Connected-components correctness, including chains longer than one
large/small-star round, plus catalog checkpoint/resume."""

import pyspark.sql.functions as F

from acxspark.catalog import ParquetSnapshotCatalog
from acxspark.operators.cc import cluster_assignments, connected_components


def _labels(spark, edges):
    df = spark.createDataFrame(edges, ["u", "v"])
    return {r["u"]: r["component"] for r in connected_components(df).collect()}


def test_simple_components(spark):
    got = _labels(spark, [("a", "b"), ("c", "d"), ("b", "e")])
    assert got["a"] == got["b"] == got["e"] == "a"
    assert got["c"] == got["d"] == "c"


def test_long_chain(spark):
    # path graph 0-1-2-...-19 → one component labeled "00"
    edges = [(f"{i:02d}", f"{i+1:02d}") for i in range(19)]
    got = _labels(spark, edges)
    assert set(got.values()) == {"00"}
    assert len(got) == 20


def test_numeric_ids(spark):
    df = spark.createDataFrame([(10, 2), (2, 30), (5, 6)], ["u", "v"])
    got = {r["u"]: r["component"] for r in connected_components(df).collect()}
    assert got[10] == got[2] == got[30] == 2
    assert got[5] == got[6] == 5


def test_cluster_assignments_includes_singletons(spark):
    ids = spark.createDataFrame([("a",), ("b",), ("z",)], ["url"])
    edges = spark.createDataFrame([("a", "b")], ["id_a", "id_b"])
    got = {r["url"]: r["cluster_id"] for r in cluster_assignments(ids, "url", edges).collect()}
    assert got == {"a": "a", "b": "a", "z": "z"}


def test_cc_checkpoint_resume(spark, tmp_path):
    cat = ParquetSnapshotCatalog(tmp_path / "catalog")
    edges = spark.createDataFrame(
        [(f"{i:02d}", f"{i+1:02d}") for i in range(9)], ["u", "v"]
    )
    got1 = {r["u"]: r["component"]
            for r in connected_components(edges, catalog=cat, table="t").collect()}
    assert set(got1.values()) == {"00"}
    # resume: catalog already converged — a fresh call starting from the
    # committed snapshot converges immediately to the same labels
    got2 = {r["u"]: r["component"]
            for r in connected_components(edges, catalog=cat, table="t").collect()}
    assert got2 == got1


def test_cc_nonconvergence_is_loud(spark):
    """max_iter elapsing without a checksum fixpoint must RAISE, not
    silently emit possibly-split labels (round-2 verdict finding #4).
    A 3-node chain needs a 2nd round just to PROVE the fixpoint, so
    max_iter=1 cannot certify convergence."""
    import pytest as _pytest

    edges = spark.createDataFrame([(1, 2), (2, 3)], "u long, v long")
    # small_graph_cap=0 pins the iterative star-join path — the r4
    # union-find fast path has no rounds and always converges
    with _pytest.raises(RuntimeError, match="no fixpoint"):
        connected_components(edges, max_iter=1, small_graph_cap=0)
    # with room to certify, the same edges converge fine
    labels = {r["u"]: r["component"]
              for r in connected_components(
                  edges, max_iter=50, small_graph_cap=0).collect()}
    assert labels == {1: 1, 2: 1, 3: 1}


def test_small_graph_fast_path_equals_star_joins(spark):
    """The driver union-find fast path must emit EXACTLY the star-join
    loop's labels (min id per component) — checked on a random-ish
    graph with chains, cliques, and singleton-free structure, for both
    long and string id types."""
    from acxspark.operators.cc import connected_components

    pairs = (
        [(i, i + 1) for i in range(0, 40, 2)]          # 20 two-chains
        + [(100 + i, 100 + (i + 1) % 10) for i in range(10)]  # a 10-cycle
        + [(200, 201), (201, 202), (202, 203), (203, 200)]    # a 4-cycle
    )
    e_long = spark.createDataFrame(pairs, "u long, v long")
    fast = {(r["u"], r["component"]) for r in connected_components(e_long).collect()}
    slow = {(r["u"], r["component"]) for r in connected_components(
        e_long, small_graph_cap=0).collect()}
    assert fast == slow and len(fast) > 0

    e_str = spark.createDataFrame(
        [(f"u{a:03d}", f"u{b:03d}") for a, b in pairs], "u string, v string"
    )
    fast_s = {(r["u"], r["component"]) for r in connected_components(e_str).collect()}
    slow_s = {(r["u"], r["component"]) for r in connected_components(
        e_str, small_graph_cap=0).collect()}
    assert fast_s == slow_s


def test_small_graph_probe_drops_null_endpoints(spark):
    """Regression: the driver union-find probe must drop NULL endpoints
    exactly like the distributed path's SQL filter (NULL != x is NULL).
    A nullable long column holding NULLs used to reach the driver as
    float NaN, which survived a python ``u != v`` and either split from
    the distributed labels or crashed the long-typed result."""
    rows = [(1, 2), (2, None), (None, 3), (3, 4), (None, None), (5, 5),
            (6, 7)]
    want = [(1, 1), (2, 1), (3, 3), (4, 3), (6, 6), (7, 6)]
    for ddl, cast in (("u long, v long", lambda x: x),
                      ("u string, v string",
                       lambda x: None if x is None else f"n{x}")):
        e = spark.createDataFrame(
            [(cast(a), cast(b)) for a, b in rows], ddl)
        fast = sorted((r["u"], r["component"])
                      for r in connected_components(e).collect())
        slow = sorted((r["u"], r["component"])
                      for r in connected_components(
                          e, small_graph_cap=0).collect())
        assert fast == slow == [(cast(a), cast(b)) for a, b in want]


def test_small_graph_cap_routes_to_distributed(spark):
    """One edge over the cap must take the star-join loop (probe is
    limit(cap+1), so cap+1 rows prove overflow)."""
    from acxspark.operators.cc import connected_components

    e = spark.createDataFrame([(i, i + 1) for i in range(10)], "u long, v long")
    out = connected_components(e, small_graph_cap=5)
    # chain of 11 nodes -> one component labeled 0
    got = {(r["u"], r["component"]) for r in out.collect()}
    assert got == {(i, 0) for i in range(11)}


def test_cc_resume_ignores_stale_snapshot_of_other_graph(spark, tmp_path):
    """Resume is input-guarded: reusing a catalog table name with a
    DIFFERENT edge set must recompute that graph, never silently
    return the previous graph's components."""
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    eA = spark.createDataFrame([("a", "b"), ("b", "c"), ("x", "y")],
                               "u string, v string")
    labA = {r["u"]: r["component"]
            for r in connected_components(eA, catalog=cat,
                                          table="t").collect()}
    assert labA == {"a": "a", "b": "a", "c": "a", "x": "x", "y": "x"}
    eB = spark.createDataFrame([("p", "q")], "u string, v string")
    labB = {r["u"]: r["component"]
            for r in connected_components(eB, catalog=cat,
                                          table="t").collect()}
    assert labB == {"p": "p", "q": "p"}


def test_cc_resume_of_converged_run_confirms_in_one_round(spark, tmp_path):
    """A resume whose snapshot already sits at the fixpoint must
    return (one confirmation round) even when the committed iteration
    has reached max_iter — the restored checksum witness makes the
    confirmation round detect convergence instead of raising."""
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    e = spark.createDataFrame([("a", "b"), ("b", "c")], "u string, v string")
    lab1 = {r["u"]: r["component"]
            for r in connected_components(e, catalog=cat,
                                          table="t").collect()}
    it = cat.latest_meta("t")["iteration"]
    # resume with max_iter == committed iteration: previously raised
    # 'no fixpoint'; now the clamped single confirmation round passes
    lab2 = {r["u"]: r["component"]
            for r in connected_components(e, catalog=cat, table="t",
                                          max_iter=it).collect()}
    assert lab2 == lab1 == {"a": "a", "b": "a", "c": "a"}


def test_cc_handles_exotic_column_names(spark):
    """Edge columns with dots must not be re-parsed as struct access."""
    e = spark.createDataFrame([("a", "b")], ["doc.id_a", "doc.id_b"])
    lab = {r["u"]: r["component"]
           for r in connected_components(e).collect()}
    assert lab == {"a": "a", "b": "a"}
