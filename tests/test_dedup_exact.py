"""Exact-dedup parity: first-wins order stability, content-hash dedup,
OR-key transitive identity (reference src/cli.cpp:289-308,
src/storage.cpp:562-570)."""

import pyspark.sql.functions as F

from acxspark.operators import cc
from acxspark.operators.dedup_exact import (
    exact_star_edges,
    first_wins,
    or_key_components,
)


def test_first_wins_order_stable(spark):
    rows = [
        (0, "a@x.co", "keep-first"),
        (1, "b@x.co", "keep"),
        (2, "a@x.co", "drop"),
        (3, None, "keep-null"),
        (4, None, "keep-null-2"),  # NULL keys always pass through
        (5, "b@x.co", "drop"),
    ]
    df = spark.createDataFrame(rows, ["seq", "email", "note"])
    got = {r["seq"] for r in first_wins(df, "email", "seq").collect()}
    assert got == {0, 1, 3, 4}


def test_first_wins_deterministic_across_partitionings(spark):
    rows = [(i, f"k{i % 7}", i) for i in range(100)]
    df = spark.createDataFrame(rows, ["seq", "key", "val"])
    a = sorted(r["seq"] for r in first_wins(df.repartition(2), "key", "seq").collect())
    b = sorted(r["seq"] for r in first_wins(df.repartition(17), "key", "seq").collect())
    assert a == b == list(range(7))


def test_exact_star_edges(spark):
    # three copies of one text form a star from the min url; a unique
    # text forms no edge
    rows = [("u2", "same text"), ("u1", "same text"), ("u3", "same text"),
            ("u4", "other")]
    hashed = spark.createDataFrame(rows, ["url", "text"]).select(
        "url", F.sha2("text", 256).alias("text_sha")
    )
    got = sorted(tuple(r) for r in exact_star_edges(hashed).collect())
    assert got == [("u1", "u2"), ("u1", "u3")]


def _or_key_labels(df, **kw):
    """Sorted (id, cluster_id) over the email/phone keys."""
    return sorted(
        (r["id"], r["cluster_id"])
        for r in or_key_components(df, "id", ["email", "phone"], **kw).collect()
    )


def test_or_key_transitive_identity(spark):
    # A~B share email, B~C share phone ⇒ {A,B,C} one identity
    # (reference src/storage.cpp:562-570 semantics, SURVEY §7.3.2)
    rows = [
        ("A", "x@x.co", "111"),
        ("B", "x@x.co", "222"),
        ("C", "y@y.co", "222"),
        ("D", "z@z.co", "333"),
    ]
    df = spark.createDataFrame(rows, ["id", "email", "phone"])
    got = {r["id"]: r["cluster_id"] for r in or_key_components(df, "id", ["email", "phone"]).collect()}
    assert got["A"] == got["B"] == got["C"] == "A"
    assert got["D"] == "D"


def test_or_key_three_paths_identical(spark, monkeypatch):
    """Driver union-find (default), distributed CC on hashed long
    vertices, and distributed CC on string vertices (a constant vertex
    hash collides, which falls back to them) must produce identical
    (id, cluster_id) labels — min record id per component is a
    function of the edge set, not of the physical path."""
    rows = [
        (f"{i:04d}", f"e{i % 23}", f"p{i % 17}" if i % 5 else None)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["id", "email", "phone"])

    fast = _or_key_labels(df)
    hashed = _or_key_labels(df, small_graph_cap=0)
    monkeypatch.setattr(cc, "_vertex_hash", lambda c: F.lit(0).cast("long"))
    strings = _or_key_labels(df, small_graph_cap=0)
    assert fast == hashed == strings
    assert len(fast) == 200


#: Spark jobs of ``or_key_components(...).collect()`` on a graph under
#: the driver cap: connected_components' one size probe and the
#: collect. When or_key_components probed the graph size itself
#: before calling connected_components, it ran 4.
OR_KEY_JOB_BUDGET = 2


def test_or_key_small_graph_stays_in_job_budget(spark):
    rows = [(f"{i:04d}", f"e{i % 23}", f"p{i % 17}" if i % 5 else None)
            for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "email", "phone"])
    sc = spark.sparkContext
    sc.setJobGroup("or-key-budget", "or_key_components under a job budget")
    try:
        got = or_key_components(df, "id", ["email", "phone"]).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(got) == 200
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("or-key-budget"))
    assert 0 < n_jobs <= OR_KEY_JOB_BUDGET


def test_or_key_null_record_id_same_on_every_path(spark):
    """Regression: a record with a NULL id is no graph vertex. The
    distributed CC drops its edges (NULL != x is NULL); the driver
    union-find used to keep them and then fail sorting None among
    string ids."""
    rows = [("A", "a@x", None), (None, "a@x", "p1"), ("B", None, "p1"),
            ("C", "c@x", None)]
    df = spark.createDataFrame(rows, "id string, email string, phone string")

    fast = _or_key_labels(df)
    assert fast == _or_key_labels(df, small_graph_cap=0)
    assert fast == [("A", "A"), ("B", "B"), ("C", "C")]


def test_or_key_record_id_shaped_like_key_node_same_on_every_path(spark):
    """Regression: key vertices are spelled "\\x01col:value", and a
    record id starting with "\\x01" must still be its own record
    vertex — even one spelled exactly like B's phone key vertex. The
    string-node path used to drop it as a key node (losing its row);
    the driver and hashed paths made it the same vertex as B's phone
    key (merging B into its cluster)."""
    rec = "\x01phone:p2"
    rows = [("A", "a@x", None), (rec, "a@x", None), ("B", None, "p2")]
    df = spark.createDataFrame(rows, "id string, email string, phone string")

    want = sorted([("A", rec), (rec, rec), ("B", "B")])
    assert _or_key_labels(df) == want
    assert _or_key_labels(df, small_graph_cap=0) == want


def test_line_dedup_first_occurrence_across_corpus(spark):
    """CCNet/RefinedWeb-style line dedup: a line repeated across docs
    survives only at its first (id, pos) occurrence; blank lines are
    per-document layout and never corpus-deduped; docs reassemble in
    original order."""
    from acxspark.operators.linededup import line_dedup

    docs = spark.createDataFrame(
        [(1, "alpha\nboiler\nbeta"),
         (2, "boiler\ngamma"),
         (3, "delta\n\nboiler"),
         (4, "boiler")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs).collect()}
    assert out[1]["clean_text"] == "alpha\nboiler\nbeta"
    assert out[2]["clean_text"] == "gamma" and out[2]["n_kept"] == 1
    assert out[3]["clean_text"] == "delta\n" and out[3]["n_lines"] == 3
    assert out[4]["clean_text"] == "" and out[4]["n_kept"] == 0
    # determinism across partitionings
    a = sorted(map(tuple, line_dedup(docs.repartition(1)).collect()))
    b = sorted(map(tuple, line_dedup(docs.repartition(7)).collect()))
    assert a == b


def test_paragraph_dedup_via_sep(spark):
    """RefinedWeb also dedups at PARAGRAPH granularity — same operator,
    sep='\\n\\n': a repeated paragraph (even one containing single
    newlines) survives only at its first occurrence."""
    from acxspark.operators.linededup import line_dedup

    para = "quoted\nboilerplate"  # inner \n must NOT split in para mode
    docs = spark.createDataFrame(
        [(1, f"intro one\n\n{para}\n\nbody one"),
         (2, f"{para}\n\nbody two")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, sep="\n\n").collect()}
    assert out[1]["clean_text"] == f"intro one\n\n{para}\n\nbody one"
    assert out[2]["clean_text"] == "body two"
    assert out[2]["n_lines"] == 2 and out[2]["n_kept"] == 1


def test_keep_best_argmax_and_ties(spark):
    from acxspark.operators.dedup_exact import keep_best

    rows = [
        ("k1", 0.5, 10), ("k1", 0.9, 11), ("k1", 0.9, 12),  # tie -> lowest id
        ("k2", 0.1, 20),
        ("k3", 0.0, 31), ("k3", 0.0, 30),
    ]
    df = spark.createDataFrame(rows, ["key", "score", "doc_id"])
    got = {
        r["key"]: (r["doc_id"], r["score"], r["n_dups"])
        for r in keep_best(df, "key", "score", "doc_id").collect()
    }
    assert got == {"k1": (11, 0.9, 3), "k2": (20, 0.1, 1), "k3": (30, 0.0, 2)}


def test_keep_best_plan_is_mapside_argmax(spark):
    """partial_max must appear BELOW the exchange (map-side combine);
    no Window may appear at all — the window formulation puts every
    copy of a hot key on one reducer."""
    from acxspark.operators.dedup_exact import keep_best

    df = spark.createDataFrame([("k", 0.1, 1)], ["key", "score", "doc_id"])
    plan = keep_best(df, "key", "score", "doc_id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "partial_max" in plan.split("Exchange")[-1]
    assert "Window" not in plan


def test_keep_best_string_ids_ties_to_lowest(spark):
    """String ids take the two-stage agg path (unary minus on a string
    id is NULL/ANSI-error); ties still break to the LOWEST id."""
    from acxspark.operators.dedup_exact import keep_best

    rows = [
        ("k1", 0.5, "url-c"), ("k1", 0.9, "url-b"), ("k1", 0.9, "url-a"),
        ("k2", 0.1, "solo"),
    ]
    df = spark.createDataFrame(rows, ["key", "score", "doc_id"])
    got = {
        r["key"]: (r["doc_id"], r["score"], r["n_dups"])
        for r in keep_best(df, "key", "score", "doc_id").collect()
    }
    assert got == {"k1": ("url-a", 0.9, 3), "k2": ("solo", 0.1, 1)}


def test_keep_best_string_path_no_window(spark):
    from acxspark.operators.dedup_exact import keep_best

    df = spark.createDataFrame([("k", 0.1, "a")], ["key", "score", "doc_id"])
    plan = keep_best(df, "key", "score", "doc_id")._jdf.queryExecution(
    ).executedPlan().toString()
    assert "Window" not in plan
    assert "partial_max" in plan or "partial_min" in plan


def test_line_dedup_regex_meaningful_separator(spark):
    """sep is literal, not a Java regex: '|' must not split per-char."""
    from acxspark.operators.linededup import line_dedup

    docs = spark.createDataFrame(
        [(1, "alpha|beta"), (2, "beta|gamma")], "doc_id long, text string"
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, sep="|").collect()}
    assert out[1]["clean_text"] == "alpha|beta"
    assert out[2]["clean_text"] == "gamma"
    assert out[1]["n_lines"] == 2 and out[2]["n_kept"] == 1
