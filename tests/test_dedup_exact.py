"""Exact-dedup parity: first-wins order stability, content-hash dedup,
OR-key transitive identity (reference src/cli.cpp:289-308,
src/storage.cpp:562-570)."""

import pyspark.sql.functions as F

from acxspark.operators.dedup_exact import (
    exact_dup_groups,
    exact_text_dedup,
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


def test_exact_text_dedup(spark):
    rows = [(1, "same text"), (2, "same text"), (3, "other")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = sorted(r["doc_id"] for r in exact_text_dedup(df, "doc_id").collect())
    assert got == [1, 3]
    groups = exact_dup_groups(df, "doc_id").collect()
    assert len(groups) == 1 and groups[0]["doc_ids"] == [1, 2]


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


def test_or_key_three_paths_identical(spark):
    """Driver union-find (default), distributed CC on hashed long
    nodes, and distributed CC on string nodes must produce identical
    (id, cluster_id) labels — min record id per component is a
    function of the edge set, not of the physical path."""
    rows = [
        (f"{i:04d}", f"e{i % 23}", f"p{i % 17}" if i % 5 else None)
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, ["id", "email", "phone"])

    def labels(**kw):
        return sorted(
            (r["id"], r["cluster_id"])
            for r in or_key_components(df, "id", ["email", "phone"], **kw)
            .collect()
        )

    fast = labels()
    hashed = labels(small_graph_cap=0, hash_nodes=True)
    strings = labels(small_graph_cap=0, hash_nodes=False)
    assert fast == hashed == strings
    assert len(fast) == 200


def test_or_key_null_record_id_same_on_every_path(spark):
    """Regression: a record with a NULL id is no graph vertex. The
    distributed CC drops its edges (NULL != x is NULL); the driver
    union-find used to keep them and then fail sorting None among
    string ids."""
    rows = [("A", "a@x", None), (None, "a@x", "p1"), ("B", None, "p1"),
            ("C", "c@x", None)]
    df = spark.createDataFrame(rows, "id string, email string, phone string")

    def labels(**kw):
        return sorted(
            (r["id"], r["cluster_id"])
            for r in or_key_components(df, "id", ["email", "phone"], **kw)
            .collect()
        )

    fast = labels()
    assert fast == labels(small_graph_cap=0, hash_nodes=True) \
        == labels(small_graph_cap=0, hash_nodes=False)
    assert fast == [("A", "A"), ("B", "B"), ("C", "C")]


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
