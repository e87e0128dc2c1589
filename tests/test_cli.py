"""``python -m acxspark`` CLI parity tests.

The dedupe test is a golden twin: the reference's acx_dedupe_cmd loop
(src/cli.cpp:289-308) re-implemented verbatim in pure Python runs over
the same fixture, and the CLI's output lines must match it exactly
(same surviving lines, same order).
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest

from acxspark.__main__ import main


def run_cli(spark, capsys, *argv) -> tuple[int, list[dict]]:
    rc = main(list(argv), spark=spark)
    out = capsys.readouterr().out.strip().splitlines()
    return rc, [json.loads(l) for l in out if l.startswith("{")]


CONTACTS = [
    {"id": "3", "name": "  Ada  ", "email": "Ada@Example.COM",
     "phone": "+1 (555) 010-0001", "note": "reach me at ada@example.com",
     "created_at": "2026-01-03T00:00:00Z"},
    {"id": "1", "name": "Bob", "email": "bob@example.com",
     "phone": "555-0002", "note": "", "created_at": "2026-01-01T00:00:00Z"},
    {"id": "2", "name": "Ada Clone", "email": "Ada@Example.COM",
     "phone": "", "note": "dup of 3 by email",
     "created_at": "2026-01-02T00:00:00Z"},
    {"id": "4", "name": "", "email": None, "phone": "555-0004",
     "note": "no email", "created_at": "2026-01-04T00:00:00Z"},
]


@pytest.fixture()
def contacts_jsonl(tmp_path: Path) -> Path:
    p = tmp_path / "contacts.jsonl"
    lines = [json.dumps(c) for c in CONTACTS]
    lines.insert(2, "{this is not json")     # unparseable — always kept
    lines.insert(3, "")                      # empty — skipped entirely
    lines.append("{this is not json")        # identical corrupt — kept too
    lines.append(json.dumps(CONTACTS[1]))    # exact dup line (email key)
    p.write_text("\n".join(lines) + "\n")
    return p


def reference_dedupe(lines: list[str], key: str = "email") -> list[str]:
    """Pure-python twin of src/cli.cpp:289-308."""
    seen: set[str] = set()
    out = []
    for line in lines:
        if not line:
            continue
        try:
            def _bad(c):  # J::parse rejects NaN/Infinity
                raise ValueError(c)
            j = json.loads(line, parse_constant=_bad)
            v = j.get(key) if isinstance(j, dict) else None
            k = v if isinstance(v, str) else line
            if k not in seen:
                seen.add(k)
                out.append(line)
        except ValueError:
            out.append(line)
    return out


def _read_text_dir(d: str) -> list[str]:
    parts = sorted(Path(d).glob("part-*"))
    lines: list[str] = []
    for p in parts:
        lines += p.read_text().splitlines()
    return lines


def test_dedupe_matches_reference_loop(spark, capsys, contacts_jsonl, tmp_path):
    out = str(tmp_path / "deduped")
    rc, msgs = run_cli(spark, capsys, "dedupe", str(contacts_jsonl),
                       "--out", out)
    assert rc == 0
    want = reference_dedupe(contacts_jsonl.read_text().splitlines())
    got = _read_text_dir(out)
    assert got == want
    assert msgs[-1]["kept"] == len(want)
    assert msgs[-1]["dropped"] == 2  # email dup of Ada + exact dup line


def test_dedupe_non_string_key_falls_back_to_line(spark, capsys, tmp_path):
    """json_get_string (cli.cpp:299-301) only keys on STRING fields: a
    numeric/bool/null email must key by the whole line, never its
    stringification — {"email":1,"a":1} and {"email":1,"a":2} both
    survive, and {"email":"1"} does NOT collide with {"email":1}."""
    lines = [
        '{"email":1,"a":1}',
        '{"email":1,"a":2}',       # same numeric email, different line → kept
        '{"email":1,"a":1}',       # identical line → dropped
        '{"email":"1","b":1}',     # STRING "1" keys by value
        '{"email":"1","b":2}',     # same string key → dropped
        '{"email":true}',
        '{"email":null}',
        '[1,2]',                   # parses, not an object → whole line
        '[1,2]',                   # identical line → dropped
    ]
    p = tmp_path / "mixed.jsonl"
    p.write_text("\n".join(lines) + "\n")
    out = str(tmp_path / "deduped")
    rc, msgs = run_cli(spark, capsys, "dedupe", str(p), "--out", out)
    assert rc == 0
    want = reference_dedupe(lines)
    assert _read_text_dir(out) == want
    assert msgs[-1]["dropped"] == 3


def test_dedupe_multi_file_order(spark, capsys, tmp_path):
    """First-wins across a DIRECTORY input follows (file path, offset)
    order — Spark's size-descending split planning must not let a
    bigger later file win (the _text_lines contract)."""
    d = tmp_path / "in"
    d.mkdir()
    # file 0 is tiny; file 1 is much larger so Spark would plan it
    # FIRST by size — its copy of the dup key must still lose
    dup = json.dumps({"email": "dup@example.com", "src": "file0"})
    (d / "part-00000.jsonl").write_text(dup + "\n")
    filler = [json.dumps({"email": f"u{i}@example.com", "pad": "x" * 200})
              for i in range(200)]
    loser = json.dumps({"email": "dup@example.com", "src": "file1"})
    (d / "part-00001.jsonl").write_text("\n".join([loser] + filler) + "\n")
    out = str(tmp_path / "deduped")
    rc, msgs = run_cli(spark, capsys, "dedupe", str(d), "--out", out)
    assert rc == 0
    got = _read_text_dir(out)
    want = reference_dedupe(
        (d / "part-00000.jsonl").read_text().splitlines()
        + (d / "part-00001.jsonl").read_text().splitlines()
    )
    assert got == want
    assert msgs[-1]["dropped"] == 1
    assert '"src": "file0"' in "\n".join(got)


def test_validate_counts(spark, capsys, contacts_jsonl):
    rc, msgs = run_cli(spark, capsys, "validate", str(contacts_jsonl))
    assert rc == 0
    m = msgs[-1]
    # 6 parsed + 2 corrupt = 8 records (empty line skipped by the scan)
    assert m["total"] == m["valid"] + m["invalid"]
    assert m["valid"] >= 3  # ada, bob, ada-clone have name+email


def test_normalize(spark, capsys, contacts_jsonl, tmp_path):
    out = str(tmp_path / "norm.jsonl")
    rc, msgs = run_cli(spark, capsys, "normalize", str(contacts_jsonl),
                       "--out", out)
    assert rc == 0
    lines = _read_text_dir(out)
    # corrupt fixture lines pass through VERBATIM now (reference loop)
    assert lines.count("{this is not json") == 2
    rows = []
    for l in lines:
        try:
            rows.append(json.loads(l))
        except ValueError:
            pass
    by_id = {r["id"]: r for r in rows if isinstance(r, dict) and "id" in r}
    assert by_id["3"]["name"] == "Ada"
    assert by_id["3"]["email"] == "ada@example.com"
    assert by_id["3"]["phone"] == "+15550100001"


def reference_normalize(lines: list[str]) -> list[str]:
    """Pure-python twin of src/cli.cpp:377-396 (J::dump = sorted
    compact; string fields only; non-object / unparseable / empty
    lines verbatim)."""
    def trim(s):
        return s.strip(" \t\n\r\v\f")

    def lower(s):
        return "".join(chr(ord(c) + 32) if "A" <= c <= "Z" else c for c in s)

    def phone_digits(s):
        o = ""
        for c in s:
            if c.isdigit() and c.isascii():
                o += c
            elif c == "+" and not o:
                o += c
        return o

    def strict(line):  # J::parse rejects NaN/Infinity
        def bad(c):
            raise ValueError(c)
        return json.loads(line, parse_constant=bad)

    out = []
    for line in lines:
        if line == "":
            out.append(line)
            continue
        try:
            j = strict(line)
        except ValueError:
            out.append(line)
            continue
        if not isinstance(j, dict):
            out.append(line)
            continue
        for k, f in (("name", trim), ("email", lambda s: lower(trim(s))),
                     ("phone", phone_digits)):
            if isinstance(j.get(k), str):
                j[k] = f(j[k])
        out.append(json.dumps(j, sort_keys=True, separators=(",", ":"),
                              ensure_ascii=False))
    return out


def reference_redact(lines: list[str]) -> list[str]:
    """Pure-python twin of src/cli.cpp:329-352 (empty lines SKIPPED,
    redact-cmd mask formulas from cli.cpp:236-252)."""
    def mask_email(s):
        at = s.find("@")
        if at < 0:
            return "*" * len(s)
        local, dom = s[:at], s[at + 1:]
        n = len(local)
        m = local[0] + "*" * (n - 2) + local[-1] if n > 2 else "*" * n
        return m + "@" + dom

    def mask_phone(s):
        return "".join("*" if c.isdigit() and c.isascii() else c for c in s)

    def strict(line):  # J::parse rejects NaN/Infinity
        def bad(c):
            raise ValueError(c)
        return json.loads(line, parse_constant=bad)

    out = []
    for line in lines:
        if line == "":
            continue
        try:
            j = strict(line)
        except ValueError:
            out.append(line)
            continue
        if not isinstance(j, dict):
            out.append(line)
            continue
        for k, f in (("email", mask_email), ("phone", mask_phone)):
            if isinstance(j.get(k), str):
                j[k] = f(j[k])
        out.append(json.dumps(j, sort_keys=True, separators=(",", ":"),
                              ensure_ascii=False))
    return out


NORM_EDGE_LINES = [
    json.dumps({"id": "3", "name": "  Ada  ", "email": " Ada@Example.COM ",
                "phone": "+1 (555) 010-0001", "note": "keep me",
                "extra_unknown_field": [1, {"nested": True}]}),
    '{"email":42,"name":null,"phone":["555"]}',  # non-string fields untouched
    "{not json",                                  # verbatim
    "",                                           # normalize keeps, redact skips
    '[1,2,3]',                                    # non-object → verbatim
    '"bare string"',
    '{"name":" pad ","x":NaN}',          # non-JSON constant → verbatim
    json.dumps({"email": "x@y.z", "phone": "1+2+3 ext 9"}),
    json.dumps({"email": "ab@d.com", "phone": "+  42"}),
    json.dumps({"email": "a@b", "name": "Zoë  "}),
]


def test_normalize_matches_reference_loop(spark, capsys, tmp_path):
    """Line-faithful twin: unknown fields survive, corrupt lines pass
    VERBATIM (never re-serialized as {}), empty lines preserved."""
    p = tmp_path / "edge.jsonl"
    p.write_text("\n".join(NORM_EDGE_LINES) + "\n")
    out = str(tmp_path / "norm")
    rc, msgs = run_cli(spark, capsys, "normalize", str(p), "--out", out)
    assert rc == 0
    assert _read_text_dir(out) == reference_normalize(NORM_EDGE_LINES)
    assert msgs[-1]["normalized"] == len(NORM_EDGE_LINES)


def test_redact_matches_reference_loop(spark, capsys, tmp_path):
    p = tmp_path / "edge.jsonl"
    p.write_text("\n".join(NORM_EDGE_LINES) + "\n")
    out = str(tmp_path / "red")
    rc, msgs = run_cli(spark, capsys, "redact", str(p), "--out", out)
    assert rc == 0
    assert _read_text_dir(out) == reference_redact(NORM_EDGE_LINES)


BLANK_LINES = [
    "\t",                                         # whitespace only
    json.dumps({"email": "A@b.com", "phone": "555 0101"}),
    "\t",                                         # repeated: still kept
    "  \t ",
    json.dumps({"email": "A@b.com", "phone": "555 0102"}),
]


def test_line_commands_pass_whitespace_only_lines_verbatim(spark, capsys,
                                                           tmp_path):
    """A non-empty line of only whitespace is unparseable, not empty:
    normalize and redact pass it through verbatim and dedupe keeps every
    copy, exactly like any other corrupt line (src/cli.cpp:303-304)."""
    p = tmp_path / "blank.jsonl"
    p.write_text("\n".join(BLANK_LINES) + "\n")
    for cmd, twin in (("normalize", reference_normalize),
                      ("redact", reference_redact),
                      ("dedupe", reference_dedupe)):
        out = str(tmp_path / cmd)
        rc, _ = run_cli(spark, capsys, cmd, str(p), "--out", out)
        assert rc == 0
        assert _read_text_dir(out) == twin(BLANK_LINES), cmd


def test_line_commands_multi_file_order(spark, capsys, tmp_path):
    """normalize and redact write a DIRECTORY input in (file path,
    offset) order, like dedupe's first-wins: the bigger later file,
    which Spark plans first by size, must not come out first."""
    d = tmp_path / "in"
    d.mkdir()
    (d / "part-00000.jsonl").write_text(
        json.dumps({"email": "First@Example.com", "src": "file0"}) + "\n")
    later = [json.dumps({"email": f"U{i}@Example.com", "phone": "555 0101",
                         "pad": "x" * 200}) for i in range(200)]
    (d / "part-00001.jsonl").write_text("\n".join(later) + "\n")
    lines = ((d / "part-00000.jsonl").read_text().splitlines()
             + (d / "part-00001.jsonl").read_text().splitlines())
    for cmd, twin, count in (("normalize", reference_normalize, "normalized"),
                             ("redact", reference_redact, "redacted")):
        out = str(tmp_path / cmd)
        rc, msgs = run_cli(spark, capsys, cmd, str(d), "--out", out)
        assert rc == 0
        got = _read_text_dir(out)
        assert got == twin(lines), cmd
        assert '"src":"file0"' in got[0], cmd
        assert msgs[-1][count] == len(lines), cmd


def test_lineops_field_twins_match_column_functions(spark):
    """The python field helpers inside lineops must agree with the
    column-expression implementations (functions/normalize.py,
    functions/mask.py) on a shared vector set — the two surfaces may
    never drift."""
    from pyspark.sql import functions as F

    from acxspark.functions import lineops as L
    from acxspark.functions.mask import mask_email_redact, mask_phone_redact
    from acxspark.functions.normalize import phone_digits_keep_plus

    phones = ["+1 (555) 010-0001", "555-0002", " +44 20 7946 0958", "++1",
              "1+2", "+", "", "ext. 42", "+-+7(8)9"]
    emails = ["bob@example.com", "ab@d.com", "a@b", "@d.com", "no-at-sign",
              "x@", "ab@", "abc@x"]
    df = spark.createDataFrame(
        [(p, e) for p, e in zip(phones, emails + [""])], ["p", "e"]
    )
    rows = df.select(
        phone_digits_keep_plus(F.col("p")).alias("pd"),
        mask_phone_redact(F.col("p")).alias("mp"),
        mask_email_redact(F.col("e")).alias("me"),
        "p", "e",
    ).collect()
    for r in rows:
        assert r["pd"] == L.phone_digits_keep_plus_py(r["p"])
        assert r["mp"] == L.mask_phone_redact_py(r["p"])
        assert r["me"] == L.mask_email_redact_py(r["e"])


def test_phone_digits_keep_plus_reference_twin(spark):
    """Golden twin of the cli.cpp:374 char loop."""
    from pyspark.sql import functions as F

    from acxspark.functions.normalize import phone_digits_keep_plus

    def ref(s: str) -> str:
        o = ""
        for c in s:
            if c.isdigit() or (c == "+" and not o):
                o += c
        return o

    vecs = ["+1 (555) 010-0001", "555-0002", " +44 20 7946 0958", "++1",
            "1+2", "+", "", "ext. 42", "+-+7(8)9"]
    df = spark.createDataFrame([(v,) for v in vecs], ["p"])
    got = [r["o"] for r in
           df.select(phone_digits_keep_plus(F.col("p")).alias("o")).collect()]
    assert got == [ref(v) for v in vecs]


def test_report_and_diff(spark, capsys, contacts_jsonl, tmp_path):
    rc, msgs = run_cli(spark, capsys, "report", str(contacts_jsonl))
    assert rc == 0
    assert msgs[-1]["distinct_emails"] == 2  # Ada@Example.COM, bob@

    b = tmp_path / "b.jsonl"
    b.write_text(json.dumps({"id": "9", "email": "new@example.com"}) + "\n"
                 + json.dumps(CONTACTS[1]) + "\n")
    rc, msgs = run_cli(spark, capsys, "diff", str(contacts_jsonl), str(b))
    assert rc == 0
    assert msgs[-1] == {"added": 1, "removed": 1}  # +new@, -Ada@


def test_redact_and_scrub(spark, capsys, contacts_jsonl, tmp_path):
    out = str(tmp_path / "red.jsonl")
    rc, _ = run_cli(spark, capsys, "redact", str(contacts_jsonl),
                    "--out", out)
    assert rc == 0
    text = "\n".join(_read_text_dir(out))
    assert "bob@example.com" not in text

    out2 = str(tmp_path / "scrub.jsonl")
    rc, _ = run_cli(spark, capsys, "scrub", str(contacts_jsonl),
                    "--out", out2)
    assert rc == 0
    rows = [json.loads(l) for l in _read_text_dir(out2) if l]
    notes = {r.get("id"): r.get("note") for r in rows}
    assert "[EMAIL]" in notes["3"]


def test_sample_deterministic(spark, capsys, contacts_jsonl, tmp_path):
    outs = []
    for d in ("s1", "s2"):
        out = str(tmp_path / d)
        rc, _ = run_cli(spark, capsys, "sample", str(contacts_jsonl), "3",
                        "--out", out)
        assert rc == 0
        outs.append(sorted(_read_text_dir(out)))
    assert outs[0] == outs[1]
    assert len(outs[0]) == 3


def test_grep(spark, capsys, contacts_jsonl):
    rc, msgs = run_cli(spark, capsys, "grep", str(contacts_jsonl),
                       "Ada", "--fields", "name")
    assert rc == 0
    assert msgs[-1]["matches"] == 2


def test_merge_prefer_newer(spark, capsys, contacts_jsonl, tmp_path):
    newer = dict(CONTACTS[1], name="Bob II",
                 created_at="2027-01-01T00:00:00Z")
    b = tmp_path / "delta.jsonl"
    b.write_text(json.dumps(newer) + "\n")
    out = str(tmp_path / "merged")
    rc, msgs = run_cli(spark, capsys, "merge", str(contacts_jsonl), str(b),
                       "--out", out)
    assert rc == 0
    rows = [json.loads(l) for l in _read_text_dir(out) if l]
    names = {r.get("id"): r.get("name") for r in rows}
    assert names["1"] == "Bob II"


def test_merge_prefer_existing_enriches_note(spark, capsys, tmp_path):
    """merge.cpp:67-71: existing wins, but an empty note fills from
    the incoming match; unmatched incoming rows append."""
    a = tmp_path / "a.jsonl"
    a.write_text(json.dumps(CONTACTS[1]) + "\n")          # bob, note ""
    b = tmp_path / "b.jsonl"
    b.write_text(json.dumps(dict(CONTACTS[1], name="Bob Prime",
                                 note="from incoming")) + "\n"
                 + json.dumps({"id": "7", "name": "New", "email": "n@x.com",
                               "phone": "555-0007", "note": "",
                               "created_at": "2026-02-01T00:00:00Z"}) + "\n")
    out = str(tmp_path / "merged")
    rc, msgs = run_cli(spark, capsys, "merge", str(a), str(b),
                       "--strategy", "prefer-existing", "--out", out)
    assert rc == 0
    rows = {r["id"]: r for r in
            (json.loads(l) for l in _read_text_dir(out) if l)}
    assert rows["1"]["name"] == "Bob"                # existing wins
    assert rows["1"]["note"] == "from incoming"      # empty note enriched
    assert "7" in rows                               # unmatched appended
    assert msgs[-1]["merged"] == 2


def test_merge_preserves_keyless_existing_rows(spark, capsys, tmp_path):
    """A present existing row whose merge key is null must pass
    through unchanged — the full-outer join's 'incoming side absent'
    test is a presence marker, not key-null (which would wipe the row
    to all-NULL columns)."""
    a = tmp_path / "a.jsonl"
    keyless = {"name": "NoId", "email": "noid@x.com", "phone": "555-0009",
               "note": "imported flat", "created_at": "2026-01-05T00:00:00Z"}
    a.write_text(json.dumps(CONTACTS[1]) + "\n" + json.dumps(keyless) + "\n")
    b = tmp_path / "b.jsonl"
    b.write_text(json.dumps(dict(CONTACTS[1], name="Bob II",
                                 created_at="2027-01-01T00:00:00Z")) + "\n")
    out = str(tmp_path / "merged")
    rc, msgs = run_cli(spark, capsys, "merge", str(a), str(b), "--out", out)
    assert rc == 0
    rows = [json.loads(l) for l in _read_text_dir(out) if l]
    names = sorted(r.get("name") for r in rows)
    assert names == ["Bob II", "NoId"]
    noid = next(r for r in rows if r.get("name") == "NoId")
    assert noid["email"] == "noid@x.com"             # data intact


def test_delete_keeps_idless_rows(spark, capsys, tmp_path):
    """delete --id X must not also drop records without an id (plain
    `id != X` is NULL for them and filter would discard)."""
    base = tmp_path / "book.jsonl"
    keyless = {"name": "NoId", "email": "noid@x.com", "phone": "555-0009",
               "note": "", "created_at": "2026-01-05T00:00:00Z"}
    base.write_text(json.dumps(CONTACTS[1]) + "\n"
                    + json.dumps(keyless) + "\n")
    out = str(tmp_path / "after")
    rc, _ = run_cli(spark, capsys, "delete", str(base), "--out", out,
                    "--id", "1", "--yes",
                    "--audit", str(tmp_path / "a.log"))
    assert rc == 0
    rows = [json.loads(l) for l in _read_text_dir(out) if l]
    assert [r.get("name") for r in rows] == ["NoId"]


def test_export_csv_sorted(spark, capsys, contacts_jsonl, tmp_path):
    out = str(tmp_path / "export.csv")
    rc, msgs = run_cli(spark, capsys, "export", str(contacts_jsonl), out)
    assert rc == 0
    lines = [l for l in _read_text_dir(out) if l]
    ids = [l.split(",")[0] for l in lines if not l.startswith("id")]
    assert ids == sorted(ids)


def test_checksum_sign_verify(capsys, tmp_path, monkeypatch):
    f = tmp_path / "blob.bin"
    f.write_bytes(b"acx cli surface\n")
    monkeypatch.setenv("ACX_HMAC_KEY", "test-key")

    rc, msgs = run_cli(None, capsys, "checksum", str(f))
    assert rc == 0
    assert msgs[-1]["sha256"] == hashlib.sha256(f.read_bytes()).hexdigest()

    rc, msgs = run_cli(None, capsys, "sign", str(f))
    assert rc == 0
    sig = msgs[-1]["hmac_sha256"]

    rc, msgs = run_cli(None, capsys, "verify-file", str(f), sig)
    assert rc == 0 and msgs[-1]["ok"] is True

    rc, msgs = run_cli(None, capsys, "verify-file", str(f), "00" * 32)
    assert rc == 1 and msgs[-1]["ok"] is False


def test_add_edit_delete_lifecycle(spark, capsys, tmp_path):
    base = tmp_path / "book.jsonl"
    base.write_text(json.dumps(CONTACTS[1]) + "\n")
    audit = str(tmp_path / "audit.log")

    out1 = str(tmp_path / "v1")
    rc, msgs = run_cli(spark, capsys, "add", str(base), "--out", out1,
                       "--name", "Carol Jones",
                       "--email", "Carol@Example.com",
                       "--phone", "+1 555 010 0042", "--audit", audit)
    assert rc == 0
    new_id = msgs[-1]["created"]
    rows = [json.loads(l) for l in _read_text_dir(out1) if l]
    carol = next(r for r in rows if r["id"] == new_id)
    assert carol["email"] == "carol@example.com"        # lowercased
    assert carol["phone"].startswith("+")               # normalized
    assert carol["history"][0]["action"] == "created"

    # duplicate normalized email rejected (reference email_exists)
    rc, _ = run_cli(spark, capsys, "add", out1, "--out", str(tmp_path / "x"),
                    "--name", "Carol Two", "--email", "CAROL@example.com",
                    "--phone", "+1 555 010 0099", "--audit", audit)
    assert rc == 1

    # invalid name rejected
    rc, _ = run_cli(spark, capsys, "add", out1, "--out", str(tmp_path / "x"),
                    "--name", "X", "--email", "x@example.com",
                    "--phone", "+1 555 010 0098", "--audit", audit)
    assert rc == 1

    out2 = str(tmp_path / "v2")
    rc, _ = run_cli(spark, capsys, "edit", out1, "--out", out2,
                    "--id", new_id, "--name", "Carol J Smith",
                    "--audit", audit)
    assert rc == 0
    rows = [json.loads(l) for l in _read_text_dir(out2) if l]
    carol = next(r for r in rows if r["id"] == new_id)
    assert carol["name"] == "Carol J Smith"
    assert [h["action"] for h in carol["history"]] == ["created", "updated"]

    out3 = str(tmp_path / "v3")
    rc, _ = run_cli(spark, capsys, "delete", out2, "--out", out3,
                    "--id", new_id, "--audit", audit)
    assert rc == 1  # no --yes
    rc, _ = run_cli(spark, capsys, "delete", out2, "--out", out3,
                    "--id", new_id, "--yes", "--audit", audit)
    assert rc == 0
    rows = [json.loads(l) for l in _read_text_dir(out3) if l]
    assert all(r["id"] != new_id for r in rows)

    actions = [l.split(",")[1] for l in
               Path(audit).read_text().splitlines()]
    assert actions == ["CREATE", "UPDATE", "DELETE"]


def test_search_conjunctive(spark, capsys, contacts_jsonl):
    rc, msgs = run_cli(spark, capsys, "search", str(contacts_jsonl),
                       "--name", "ada", "--email", "ADA@")
    assert rc == 0
    assert msgs[-1]["matches"] == 2  # Ada + Ada Clone (ci substrings AND)
    rc, msgs = run_cli(spark, capsys, "search", str(contacts_jsonl),
                       "--name", "ada", "--id", "3")
    assert msgs[-1]["matches"] == 1


def test_prune_before(spark, capsys, contacts_jsonl, tmp_path):
    rc, msgs = run_cli(spark, capsys, "prune", str(contacts_jsonl),
                       "--before", "2026-01-03", "--dry-run")
    assert rc == 0
    # removed: bob (01-01), ada-clone (01-02), bob dup line, and the
    # two corrupt rows (created_at "" < cut, reference model semantics)
    assert msgs[-1]["would_remove"] == 5
    out = str(tmp_path / "pruned")
    rc, msgs = run_cli(spark, capsys, "prune", str(contacts_jsonl),
                       "--before", "2026-01-03", "--out", out)
    assert rc == 0 and msgs[-1]["removed"] == 5


def test_keygen_encrypt_decrypt_roundtrip(capsys, tmp_path):
    rc, msgs = run_cli(None, capsys, "keygen")
    assert rc == 0
    key = msgs[-1]["key_hex"]
    assert len(key) == 64

    src = tmp_path / "plain.jsonl"
    src.write_bytes(b'{"id":"1"}\n' * 10)
    enc, dec = str(tmp_path / "c.acxeg"), str(tmp_path / "plain2.jsonl")
    rc, _ = run_cli(None, capsys, "encrypt", str(src), enc, "--key", key)
    assert rc == 0
    assert Path(enc).read_bytes()[:6] != src.read_bytes()[:6]
    rc, _ = run_cli(None, capsys, "decrypt", enc, dec, "--key", key)
    assert rc == 0
    assert Path(dec).read_bytes() == src.read_bytes()


def test_schema_and_list(spark, capsys, contacts_jsonl):
    rc, msgs = run_cli(None, capsys, "schema")
    assert rc == 0 and "email" in json.dumps(msgs[-1])
    rc, _ = run_cli(spark, capsys, "list", str(contacts_jsonl),
                    "--limit", "2")
    assert rc == 0


def test_determinism_check(spark, capsys, contacts_jsonl):
    rc, msgs = run_cli(spark, capsys, "determinism-check",
                       str(contacts_jsonl))
    assert rc == 0 and msgs[-1]["deterministic"] is True


def test_selftest(spark, capsys):
    rc, msgs = run_cli(spark, capsys, "selftest", "--docs", "200")
    assert rc == 0
    v = msgs[-1]
    assert v["ok"] is True and v["deterministic"] is True
    assert v["recall"] >= 0.99


def test_dedupe_docs_pipeline(spark, capsys, tmp_path):
    docs = [{"url": f"http://ex.com/{i}", "text": f"unique page {i} " * 30}
            for i in range(8)]
    docs.append({"url": "http://ex.com/dup", "text": docs[0]["text"]})
    p = tmp_path / "docs.jsonl"
    p.write_text("\n".join(json.dumps(d) for d in docs) + "\n")
    out = str(tmp_path / "survivors")
    rc, msgs = run_cli(spark, capsys, "dedupe-docs", str(p), "--out", out)
    assert rc == 0
    m = msgs[-1]
    assert m["docs"] == 9 and m["survivors"] == 8 and m["dropped"] == 1
