"""IO parity tests: JSONL corrupt-line semantics, CSV/TSV sorted
export, roundtrip determinism (reference src/selftest.cpp:50-69)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from acxspark import io_paths as IO


@pytest.fixture(scope="module")
def contacts(spark):
    return spark.createDataFrame(
        [
            ("3", "Cara", "cara@x.com", "+14155550123", "hi, \"q\"", "2025-01-03T00:00:00Z"),
            ("1", "Ann", "ann@x.com", "+14155550111", "", "2025-01-01T00:00:00Z"),
            ("2", "Bob", "bob@x.com", "+14155550122", "a,b", "2025-01-02T00:00:00Z"),
        ],
        IO.CONTACT_SCHEMA,
    ).cache()


def test_jsonl_corrupt_passthrough(spark, tmp_path):
    p = tmp_path / "in.jsonl"
    p.write_text(
        '{"id":"1","name":"Ann","email":"a@x.com","phone":"1","note":"","created_at":"t"}\n'
        "this is not json\n"
        '{"id":"2","name":"Bob","email":"b@x.com","phone":"2","note":"","created_at":"t"}\n'
    )
    kept = IO.read_jsonl(spark, str(p), keep_corrupt=True)
    assert kept.count() == 3  # malformed line passes through (cli.cpp:303-304)
    assert kept.filter(F.col("_corrupt_record").isNotNull()).count() == 1
    dropped = IO.read_jsonl(spark, str(p), keep_corrupt=False)
    assert sorted(r["id"] for r in dropped.collect()) == ["1", "2"]


def test_jsonl_whitespace_only_line_is_corrupt(spark, tmp_path):
    """Regression (fuzz: lines=['\\t']): PERMISSIVE from_json turns a
    whitespace-only line into an all-null row with no _corrupt_record;
    the scan must surface it as corrupt, verbatim."""
    p = tmp_path / "in.jsonl"
    p.write_text('\t\n{"id":"1","email":"a@x.com"}\n \t \n')
    rows = IO.read_jsonl(spark, str(p), keep_corrupt=True,
                         max_record_bytes=None).collect()
    assert sorted(r["_corrupt_record"] or "" for r in rows) == \
        ["", "\t", " \t "]
    assert [r["id"] for r in rows if r["_corrupt_record"] is None] == ["1"]
    dropped = IO.read_jsonl(spark, str(p), keep_corrupt=False).collect()
    assert [r["id"] for r in dropped] == ["1"]


def test_jsonl_oversized_corrupt_line_dropped(spark, tmp_path):
    """The raw-line cap applies to MALFORMED lines too (reference
    src/storage.cpp:516 caps the raw line before parsing). A corrupt
    row serializes its null struct to '{}', so guarding on the
    re-serialized struct alone let oversized garbage through."""
    p = tmp_path / "big.jsonl"
    p.write_text(
        '{"id":"1","name":"Ann","email":"a@x.com","phone":"1","note":"","created_at":"t"}\n'
        + "x" * 5000  # oversized AND malformed
        + "\n"
        + "short garbage\n"
    )
    kept = IO.read_jsonl(spark, str(p), keep_corrupt=True, max_record_bytes=4096)
    rows = kept.collect()
    assert len(rows) == 2  # valid row + small corrupt row; big one dropped
    corrupt = [r["_corrupt_record"] for r in rows if r["_corrupt_record"]]
    assert corrupt == ["short garbage"]


def test_csv_sorted_export_and_quoting(spark, contacts, tmp_path):
    out = str(tmp_path / "out_csv")
    IO.write_csv_sorted(contacts.coalesce(1), out)
    files = sorted(glob.glob(f"{out}/part-*"))
    lines = open(files[0]).read().splitlines()
    assert lines[0].split(",")[0] == "id"  # header
    assert [ln.split(",")[0] for ln in lines[1:]] == ["1", "2", "3"]  # sorted
    assert '"a,b"' in lines[2]  # RFC quoting of embedded comma


def test_roundtrip_determinism(spark, contacts, tmp_path):
    assert IO.export_roundtrip_ok(spark, contacts, str(tmp_path))


def test_tsv_roundtrip(spark, contacts, tmp_path):
    out = str(tmp_path / "out_tsv")
    IO.write_tsv_sorted(contacts, out)
    back = IO.read_csv(spark, out, sep="\t")
    assert back.count() == 3
    assert sorted(r["name"] for r in back.collect()) == ["Ann", "Bob", "Cara"]


def test_jsonl_roundtrip_nested_history_tags(spark, tmp_path):
    """CONTACT_FULL_SCHEMA: the nested history array and tags survive
    a JSONL write -> read roundtrip byte-faithfully (reference
    interchange shape, schemas/contact.schema.json + model.hpp:8-27)."""
    rows = [
        ("1", "Ann", "a@x.com", "1", "", "2025-01-01T00:00:00Z", "US",
         ["vip", "crm"], [("2025-01-01T00:00:00Z", "import", "created"),
                          ("2025-02-01T00:00:00Z", "alice", "edited")]),
        ("2", "Bob", "b@x.com", "2", "n", "2025-01-02T00:00:00Z", None,
         None, None),
    ]
    df = spark.createDataFrame(rows, IO.CONTACT_FULL_SCHEMA)
    out = str(tmp_path / "nested_jsonl")
    IO.write_jsonl(df, out)
    back = IO.read_jsonl(spark, out, schema=IO.CONTACT_FULL_SCHEMA,
                         keep_corrupt=False)
    got = {r["id"]: r for r in back.collect()}
    assert got["1"]["tags"] == ["vip", "crm"]
    assert [(h["timestamp"], h["user"], h["action"]) for h in got["1"]["history"]] == [
        ("2025-01-01T00:00:00Z", "import", "created"),
        ("2025-02-01T00:00:00Z", "alice", "edited"),
    ]
    assert got["2"]["history"] is None and got["2"]["tags"] is None


def test_jsonl_byte_cap_counts_bytes_not_chars(spark, tmp_path):
    """The record cap is on raw BYTES (reference storage.cpp:516): a
    multi-byte UTF-8 line under the cap in characters but over it in
    bytes must be dropped (ADVICE r2: octet_length, not length)."""
    import json

    p = tmp_path / "mb.jsonl"
    fat = "é" * 3000  # 3000 chars, 6000 bytes
    ok = {"id": "a", "name": "ok", "email": "a@b.c", "phone": "1"}
    with open(p, "w", encoding="utf-8") as f:
        f.write(json.dumps(ok) + "\n")
        f.write(json.dumps({"id": "b", "name": fat, "email": "x@y.z",
                            "phone": "2"}, ensure_ascii=False) + "\n")
    kept = IO.read_jsonl(spark, str(p), keep_corrupt=True, max_record_bytes=4096)
    assert [r["id"] for r in kept.select("id").collect()] == ["a"]


def test_naive_csv_scan_bug_compat(spark, tmp_path):
    """The deliberately bug-compat naive split (reference
    storage.cpp:446-455): quoted commas MIS-PARSE identically to the
    reference, <6-field lines drop silently, >6 fields ignore the
    tail, header line dropped."""
    p = tmp_path / "naive.csv"
    p.write_text(
        "id,name,email,phone,note,created_at\n"
        "1,Ann,a@x.com,555,plain note,2024-01-01\n"
        '2,"Smith, John",j@x.com,556,quoted name,2024-01-02\n'
        "3,short,line\n"
        "4,Bob,b@x.com,557,note,2024-01-03,EXTRA,MORE\n"
        "\n"
    )
    rows = {r["id"]: r for r in IO.read_csv_naive(spark, str(p)).collect()}
    assert set(rows) == {"1", "2", "4"}  # header + short + empty dropped
    assert rows["1"]["name"] == "Ann" and rows["1"]["note"] == "plain note"
    # THE bug, faithfully: the quoted comma splits the name field and
    # shifts every later column one position left
    assert rows["2"]["name"] == '"Smith'
    assert rows["2"]["email"] == ' John"'
    assert rows["2"]["phone"] == "j@x.com"
    assert rows["2"]["created_at"] == "quoted name"
    assert rows["4"]["created_at"] == "2024-01-03"  # 7th+ fields ignored
    # and the CORRECT parser disagrees on exactly the quoted row
    rfc = {r["id"]: r for r in IO.read_csv(spark, str(p), failfast=False).collect()}
    assert rfc["2"]["name"] == "Smith, John"


def test_bucketed_layout_point_lookup_prunes_partitions(spark, tmp_path):
    """write_bucketed_by_key + point_lookup_bucketed: correct rows AND
    a physical plan whose PartitionFilters pin key_bucket — the scan
    reads one bucket directory, not the table (DiskIndex parity)."""
    from pyspark.sql import functions as F

    from acxspark.io_paths import point_lookup_bucketed, write_bucketed_by_key

    df = spark.range(2000).select(
        F.concat(F.lit("user"), F.col("id")).alias("email"),
        (F.col("id") * 7).alias("payload"),
    )
    path = str(tmp_path / "bucketed")
    write_bucketed_by_key(df, path, "email", n_buckets=16)

    got = point_lookup_bucketed(spark, path, "user1234").collect()
    assert [(r["email"], r["payload"]) for r in got] == [("user1234", 8638)]
    assert point_lookup_bucketed(spark, path, "no-such-key").count() == 0

    plan = point_lookup_bucketed(spark, path, "user1234")._jdf.queryExecution(
    ).executedPlan().toString()
    import re as _re
    m = _re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m and "key_bucket" in m.group(1), plan
    # the folded literal bucket appears (no runtime xxhash64 in the filter)
    assert "xxhash64" not in m.group(1)


def test_jsonl_byte_cap_measures_raw_line(spark, tmp_path):
    """The 1 MiB guard must act on the RAW line (storage.cpp:516): a
    line that parses fine but is oversized through fields OUTSIDE the
    contact schema must still be dropped."""
    import json as _json

    from acxspark.io_paths import read_jsonl

    ok = _json.dumps({"id": "1", "name": "A", "email": "a@x.com"})
    fat = _json.dumps({"id": "2", "name": "B", "email": "b@x.com",
                       "blob": "x" * (2 << 20)})   # parses; 2 MiB raw
    p = tmp_path / "in.jsonl"
    p.write_text(ok + "\n" + fat + "\n")
    got = {r["id"] for r in read_jsonl(spark, str(p)).collect()}
    assert got == {"1"}


def test_csv_multiline_quoted_field_roundtrip(spark, tmp_path):
    """RFC 4180 quoted fields may contain raw newlines — the writer
    emits them and the reader must reassemble the record instead of
    splitting it at the physical newline (reference in_quotes loop)."""
    from acxspark.io_paths import CONTACT_COLUMNS, read_csv, write_csv_sorted

    rows = [("1", "Ada", "a@x.com", "555", "line1\nline2", "2026-01-01")]
    df = spark.createDataFrame(rows, CONTACT_COLUMNS)
    out = str(tmp_path / "csv")
    write_csv_sorted(df, out)
    back = read_csv(spark, out)
    assert back.count() == 1
    assert back.first()["note"] == "line1\nline2"
