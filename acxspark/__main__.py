"""``python -m acxspark`` — the reference's data-ops CLI surface on Spark.

The reference ships as a CLI (``acx``, src/cli.cpp); its data-ops
command list (cli.cpp:516-517: help JSON names ``hash report validate
backup dedupe diff redact normalize merge sample grep checksum``) is
the surface a switching user drives daily. This module exposes each of
those as a thin argparse wrapper over the SAME library functions the
contract queries already exercise — no new dataflow semantics live
here, only argument plumbing:

| command | reference | implementation |
|---|---|---|
| validate IN | cli.cpp validate (parallel line loop) | functions/validate.record_valid |
| normalize IN | cli.cpp:376-396 | functions/lineops.normalize_lines (line-faithful: corrupt lines verbatim) |
| dedupe IN | cli.cpp:289-308 (first-wins by email, fallback whole line) | operators/dedup_exact.first_wins |
| redact IN | cli.cpp:329-352 (mask email+phone) | functions/lineops.redact_lines (line-faithful) |
| scrub IN | cli.cpp scrub (policy redact to file) | plans/redact.scrub_text on ``note`` |
| report IN | report cmd | count + distinct email |
| diff A B | cli.cpp:309-328 (email set diff) | operators/relational.set_difference |
| merge A B [...] | src/merge.cpp strategies | operators/relational.merge_prefer_* |
| sample IN N | sample cmd | seeded hash-rank exact-N (queries.py device) |
| grep IN PATTERN | grep cmd | rlike over chosen fields |
| export IN OUT | storage.cpp:252-281 (sorted csv/tsv/jsonl) | io_paths.write_*_sorted |
| import IN | import cmd (malformed dropped) | io_paths.read_jsonl(keep_corrupt=False) |
| checksum FILE | checksum cmd | sha256 hex of file bytes |
| sign FILE / verify-file FILE SIG | sign / verify-file | functions/backup.sign_file / verify_file_hmac |
| dedupe-docs IN | (graft flagship) | plans/pipeline.run_pipeline over (url, text) |

First-wins order for the line-loop commands comes from ``_text_lines``:
a ``struct(file path, monotonically_increasing_id)`` ordinal over an
unsplit-per-file text scan — see that helper for why the monotonic id
alone is NOT file order on multi-file or split inputs.

Parallelism: ``ACX_THREADS`` (reference env, cli.cpp:507-511) or
``SPARK_GRAFT_CPUS``; defaults to all cores.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _spark(app: str) -> SparkSession:
    from acxspark.session import get_spark

    par = os.environ.get("ACX_THREADS") or os.environ.get("SPARK_GRAFT_CPUS")
    return get_spark(f"acx-{app}", parallelism=int(par) if par else None)


def _read(spark: SparkSession, path: str, keep_corrupt: bool = True) -> DataFrame:
    from acxspark.io_paths import read_csv, read_jsonl

    if path.endswith(".csv"):
        return read_csv(spark, path)
    if path.endswith(".tsv"):
        return read_csv(spark, path, sep="\t")
    return read_jsonl(spark, path, keep_corrupt=keep_corrupt)


def _write(df: DataFrame, path: str, fmt: str | None = None) -> int:
    """Write and return the row count from the SAME pass (Observation
    metrics ride the write job) — a separate ``df.count()`` would
    re-execute the whole plan just to print a number."""
    from pyspark.sql import Observation

    from acxspark.io_paths import write_csv_sorted, write_jsonl, write_tsv_sorted

    fmt = fmt or ("csv" if path.endswith(".csv")
                  else "tsv" if path.endswith(".tsv") else "jsonl")
    obs = Observation()
    df = df.drop("_corrupt_record", "_ord")
    if fmt == "csv":
        # the sorted writers attach the observation ABOVE their total
        # sort (below it, the range sampler double-counts)
        write_csv_sorted(df, path, observation=obs)
    elif fmt == "tsv":
        write_tsv_sorted(df, path, observation=obs)
    else:
        write_jsonl(df.observe(obs, F.count(F.lit(1)).alias("n")), path)
    return int(obs.get["n"])


def _text_lines(spark: SparkSession, path: str) -> DataFrame:
    """Raw text lines plus a per-file offset ordinal ``_ord``.

    ``monotonically_increasing_id`` alone is NOT file order: Spark
    plans file splits largest-first, so a multi-file directory (or a
    single file big enough to split) hands lower ids to later files.
    Pinning ``maxPartitionBytes`` high keeps every file one unsplit
    stream (``main`` restores the conf on injected sessions);
    bin-packed partitions still read their files sequentially, so
    ``struct(file path, monotonic id)`` is a true (file, offset)
    order — and a struct sorts lexicographically, so it drops
    straight into window/orderBy use."""
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(1 << 40))
    return spark.read.text(path).select(
        "value",
        F.struct(
            F.input_file_name().alias("f"),
            F.monotonically_increasing_id().alias("m"),
        ).alias("_ord"),
    )


def _write_lines(lines: DataFrame, path: str, line_fn=None) -> int:
    """Write the ``value`` column as text in ``_ord`` order, through
    ``line_fn`` when given, and return the line count from the same
    pass. The line function and the observe node sit ABOVE the sort:
    below a global sort the range sampler runs the child twice, so the
    function would run twice per line and the metric double-count."""
    from pyspark.sql import Observation

    obs = Observation()
    value = F.col("value")
    (
        lines.orderBy("_ord")
        .select((line_fn(value) if line_fn else value).alias("value"))
        .observe(obs, F.count(F.lit(1)).alias("n"))
        .write.mode("overwrite").text(path)
    )
    return int(obs.get["n"])


def _emit(obj: dict) -> None:
    print(json.dumps(obj))


def cmd_validate(args, spark) -> int:
    from acxspark.functions.validate import record_valid

    df = _read(spark, args.input)
    agg = df.select(
        record_valid(F.col("name"), F.col("email")).alias("ok")
    ).groupBy().agg(
        F.count(F.lit(1)).alias("total"),
        F.sum(F.col("ok").cast("long")).alias("valid"),
    ).collect()[0]
    _emit({"total": agg["total"], "valid": agg["valid"] or 0,
           "invalid": agg["total"] - (agg["valid"] or 0)})
    return 0


def cmd_normalize(args, spark) -> int:
    """Reference normalize loop (cli.cpp:377-396), line-faithful:
    unparseable / non-object lines pass through VERBATIM (the schema
    path would re-serialize them as ``{}``), empty lines are
    preserved, only STRING fields are rewritten, and parsed objects
    re-dump sorted-compact like ``J::dump`` (functions/lineops.py —
    field semantics property-tested against the column functions)."""
    from acxspark.functions.lineops import normalize_lines

    lines = _text_lines(spark, args.input)
    _emit({"normalized": _write_lines(lines, args.out, normalize_lines),
           "out": args.out})
    return 0


def cmd_dedupe(args, spark) -> int:
    """Reference ``acx dedupe`` (cli.cpp:289-308), line-faithful:
    every surviving line is written VERBATIM (the reference streams
    ``line`` through, never re-serializing), empty lines are skipped,
    unparseable lines always survive (the catch branch never touches
    the seen set), and the key is the email field when present AND a
    string, else the whole line. First-wins order = (file, offset)
    via the pinned-split text scan (_text_lines)."""
    from acxspark.operators.dedup_exact import first_wins

    lines = _text_lines(spark, args.input).filter(F.col("value") != "")
    var = F.try_parse_json(F.col("value"))
    field = F.try_variant_get(var, f"$.{args.key}", "variant")
    # reference json_get_string (cli.cpp:299-301): the key is used
    # only when the field exists AND is a JSON string — a numeric or
    # boolean email keys by the WHOLE LINE, it does not stringify.
    # unparseable → NULL key → first_wins keeps it unconditionally.
    key = (
        F.when(var.isNull(), F.lit(None).cast("string"))
        .when(F.schema_of_variant(field) == "STRING",
              F.try_variant_get(var, f"$.{args.key}", "string"))
        .otherwise(F.col("value"))
    )
    # the kept-count rides the write pass, above first_wins' union
    # (first_wins forks `lines`). the in-count is its own action but
    # only a bare text scan.
    kept = first_wins(lines.withColumn("_key", key), "_key", "_ord")
    n_kept = _write_lines(kept, args.out)
    n_in = lines.count()
    _emit({"kept": n_kept, "dropped": n_in - n_kept, "out": args.out})
    return 0


def cmd_redact(args, spark) -> int:
    """Reference redact loop (cli.cpp:329-352), line-faithful:
    unparseable / non-object lines pass through VERBATIM, empty lines
    are skipped, only STRING email/phone fields are masked
    (functions/lineops.py twins of functions/mask.py's redact-cmd
    variants), objects re-dump sorted-compact like ``J::dump``."""
    from acxspark.functions.lineops import redact_lines

    lines = _text_lines(spark, args.input).filter(F.col("value") != "")
    _emit({"redacted": _write_lines(lines, args.out, redact_lines),
           "out": args.out})
    return 0


def cmd_scrub(args, spark) -> int:
    """Book-level scrub (cli.cpp:747-765): the reference loads the
    BOOK (Storage skips unparseable lines) and redacts it — so corrupt
    lines are dropped here, unlike the line-loop redact command."""
    from acxspark.plans.redact import scrub_text

    df = _read(spark, args.input, keep_corrupt=False)
    out = scrub_text(df, text_col=args.field)
    n = _write(out, args.out)
    _emit({"scrubbed": n, "out": args.out})
    return 0


def cmd_report(args, spark) -> int:
    # book-level (reference report reads parsed contacts): corrupt
    # lines never reach the book, so they don't count toward total
    df = _read(spark, args.input, keep_corrupt=False)
    agg = df.groupBy().agg(
        F.count(F.lit(1)).alias("total"),
        F.count_distinct(F.col("email")).alias("distinct_emails"),
    ).collect()[0]
    _emit({"total": agg["total"], "distinct_emails": agg["distinct_emails"]})
    return 0


def cmd_diff(args, spark) -> int:
    from acxspark.operators.relational import set_difference

    a = _read(spark, args.a).select("email").filter(F.col("email").isNotNull())
    b = _read(spark, args.b).select("email").filter(F.col("email").isNotNull())
    added = set_difference(b, a).count()
    removed = set_difference(a, b).count()
    _emit({"added": added, "removed": removed})
    return 0


def cmd_merge(args, spark) -> int:
    """Reference merge (src/merge.cpp:45-78): unparseable incoming
    lines are SKIPPED by parse_contacts (catch → skip), hence
    keep_corrupt=False on both sides; prefer-existing enriches the
    ``note`` field of matches (merge.cpp:67-71) — ``--enrich``
    overrides which column."""
    from acxspark.operators.relational import (merge_prefer_existing,
                                               merge_prefer_newer)

    existing = _read(spark, args.a, keep_corrupt=False)
    incoming = _read(spark, args.b, keep_corrupt=False)
    if args.strategy == "prefer-newer":
        out = merge_prefer_newer(existing, incoming, args.key, "created_at")
    else:
        out = merge_prefer_existing(existing, incoming, args.key, args.enrich)
    n = _write(out.drop("src"), args.out)
    _emit({"merged": n, "out": args.out})
    return 0


def cmd_sample(args, spark) -> int:
    # seeded hash-rank exact-N: deterministic at every parallelism
    # (the queries.py reservoir_sample device)
    df = _read(spark, args.input)
    ranked = df.withColumn(
        "_r", F.xxhash64(F.to_json(F.struct(*df.columns)), F.lit(args.seed))
    ).orderBy("_r").limit(args.n).drop("_r")
    n = _write(ranked, args.out)  # written rows == min(n, |df|)
    _emit({"sampled": n, "out": args.out})
    return 0


def cmd_grep(args, spark) -> int:
    df = _read(spark, args.input)
    fields = args.fields.split(",") if args.fields else \
        [c for c in df.columns if c != "_corrupt_record"]
    pred = None
    for c in fields:
        p = F.col(c).rlike(args.pattern)
        pred = p if pred is None else (pred | p)
    hits = df.filter(pred)
    n = hits.count()
    for row in hits.limit(args.limit).collect():
        print(json.dumps({k: v for k, v in row.asDict().items()
                          if k != "_corrupt_record" and v is not None}))
    _emit({"matches": n})
    return 0


def cmd_export(args, spark) -> int:
    df = _read(spark, args.input, keep_corrupt=False)
    n = _write(df, args.out, fmt=args.format)
    _emit({"exported": n, "out": args.out})
    return 0


def cmd_import(args, spark) -> int:
    df = _read(spark, args.input, keep_corrupt=False)
    n = _write(df, args.out)
    _emit({"imported": n, "out": args.out})
    return 0


def _audit(args, action: str, rec_id: str) -> None:
    """Reference st.append_audit parity (storage.cpp:153-156): one
    ``ts,ACTION,id,user`` line appended per mutation, to --audit or
    ``<out>.audit``."""
    import time

    path = args.audit or f"{args.out}.audit"
    ts = time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime())
    with open(path, "a") as f:
        f.write(f"{ts},{action},{rec_id},{args.user}\n")


def _contacts_full(spark, path: str):
    from acxspark.io_paths import CONTACT_FULL_SCHEMA, read_jsonl

    return read_jsonl(spark, path, schema=CONTACT_FULL_SCHEMA,
                      keep_corrupt=False)


def cmd_add(args, spark) -> int:
    """Reference add_contact (storage.cpp:116-158): validate name /
    email / phone, reject duplicate normalized email or phone, store
    lowercased email + normalized phone, stamp created_at and a
    'created' history entry, audit CREATE. The id is the repo's
    content-deterministic UUID-shaped id (functions/crypto.py) rather
    than the reference's random uuid_v4 — re-runs agree, shape
    identical."""
    from acxspark.functions import validate as V
    from acxspark.functions.crypto import deterministic_id, now_iso8601_utc
    from acxspark.functions.normalize import norm_email, normalize_phone
    from acxspark.io_paths import write_jsonl
    from acxspark.operators.relational import history_entry

    df = _contacts_full(spark, args.input)
    new = spark.createDataFrame(
        [(args.name, args.email, args.phone, args.note or "")],
        "name string, email string, phone string, note string",
    )
    chk = new.select(
        V.is_valid_name("name").alias("vn"),
        V.is_valid_email("email").alias("ve"),
        V.is_valid_phone("phone").alias("vp"),
        norm_email(F.col("email")).alias("ne"),
        normalize_phone(F.col("phone")).alias("np"),
    ).first()
    for ok, err in ((chk["vn"], "Invalid name"), (chk["ve"], "Invalid email"),
                    (chk["vp"], "Invalid phone")):
        if not ok:
            print(f"ERROR: {err}", file=sys.stderr)
            return 1
    dup = df.filter(
        (norm_email(F.col("email")) == chk["ne"])
        | (normalize_phone(F.col("phone")) == chk["np"])
    ).limit(1).count()
    if dup:
        print("ERROR: Email or phone already exists", file=sys.stderr)
        return 1
    row = new.select(
        deterministic_id(F.concat_ws("\x01", "email", "phone")).alias("id"),
        F.col("name"),
        F.lit(chk["ne"]).alias("email"),
        F.lit(chk["np"]).alias("phone"),
        F.col("note"),
        now_iso8601_utc().alias("created_at"),
        F.lit(None).cast("string").alias("country"),
        F.array().cast("array<string>").alias("tags"),
        F.array(
            history_entry(now_iso8601_utc(), args.user, "created")
        ).alias("history"),
    )
    new_id = row.first()["id"]
    write_jsonl(df.unionByName(row), args.out)
    _audit(args, "CREATE", new_id)
    _emit({"created": new_id, "out": args.out})
    return 0


def cmd_edit(args, spark) -> int:
    """Reference edit_contact (storage.cpp:161-192): per-field
    validate + cross-record uniqueness (skipping the edited id),
    email lowercased / phone normalized on write, 'updated' history
    entry appended, audit UPDATE."""
    from acxspark.functions import validate as V
    from acxspark.functions.crypto import now_iso8601_utc
    from acxspark.functions.normalize import norm_email, normalize_phone
    from acxspark.io_paths import write_jsonl
    from acxspark.operators.relational import append_history

    df = _contacts_full(spark, args.input)
    # one scalar job for every per-field validation + normalization
    # (the add command's device), not one spark.range(1) job apiece
    exprs = [
        V.is_valid_name(F.lit(args.name)).alias("vn"),
        V.is_valid_email(F.lit(args.email)).alias("ve"),
        V.is_valid_phone(F.lit(args.phone)).alias("vp"),
        norm_email(F.lit(args.email)).alias("ne"),
        normalize_phone(F.lit(args.phone)).alias("np"),
    ]
    chk = spark.range(1).select(*exprs).first()
    is_target = F.col("id") == args.id
    ne, np_ = chk["ne"], chk["np"]
    # one scan answers existence AND both cross-record uniqueness
    # probes (reference skips the edited id when checking duplicates)
    probe = df.agg(
        F.max(is_target.cast("int")).alias("found"),
        F.max((~is_target & (norm_email(F.col("email")) == F.lit(ne)))
              .cast("int")).alias("dup_email"),
        F.max((~is_target & (normalize_phone(F.col("phone")) == F.lit(np_)))
              .cast("int")).alias("dup_phone"),
    ).first()
    if not probe["found"]:  # reference checks existence first
        print("ERROR: Not found", file=sys.stderr)
        return 1
    for field, ok, err in ((args.name, chk["vn"], "Invalid name"),
                           (args.email, chk["ve"], "Invalid email"),
                           (args.phone, chk["vp"], "Invalid phone")):
        if field is not None and not ok:
            print(f"ERROR: {err}", file=sys.stderr)
            return 1
    out = df
    if args.email is not None:
        if probe["dup_email"]:
            print("ERROR: Email already exists", file=sys.stderr)
            return 1
        out = out.withColumn("email", F.when(is_target, ne)
                             .otherwise(F.col("email")))
    if args.phone is not None:
        if probe["dup_phone"]:
            print("ERROR: Phone already exists", file=sys.stderr)
            return 1
        out = out.withColumn("phone", F.when(is_target, np_)
                             .otherwise(F.col("phone")))
    if args.name is not None:
        out = out.withColumn("name", F.when(is_target, F.lit(args.name))
                             .otherwise(F.col("name")))
    if args.note is not None:
        out = out.withColumn("note", F.when(is_target, F.lit(args.note))
                             .otherwise(F.col("note")))
    out = out.withColumn(
        "history",
        F.when(is_target, append_history(
            F.col("history"), now_iso8601_utc(), args.user, "updated"
        )).otherwise(F.col("history")),
    )
    write_jsonl(out, args.out)
    _audit(args, "UPDATE", args.id)
    _emit({"updated": args.id, "out": args.out})
    return 0


def cmd_delete(args, spark) -> int:
    """Reference delete (cli.cpp:712-719): requires --yes; audit
    DELETE."""
    from acxspark.io_paths import write_jsonl

    if not args.yes:
        print("Confirm with --yes", file=sys.stderr)
        return 1
    df = _contacts_full(spark, args.input)
    if df.filter(F.col("id") == args.id).limit(1).count() == 0:
        print("ERROR: Not found", file=sys.stderr)
        return 1
    # null-safe: plain `id != X` is NULL (→ filtered out) for id-less
    # records, which would silently delete every such row too
    write_jsonl(df.filter(~F.col("id").eqNullSafe(F.lit(args.id))), args.out)
    _audit(args, "DELETE", args.id)
    _emit({"deleted": args.id, "out": args.out})
    return 0


def cmd_search(args, spark) -> int:
    """Reference conjunctive per-field search (src/storage.cpp:235-250):
    --name/--email case-insensitive substring, --phone normalized-digit
    substring, --id exact; all given filters AND together."""
    from acxspark.functions.normalize import normalize_phone

    df = _read(spark, args.input)
    pred = F.lit(True)
    if args.name:
        pred &= F.lower(F.col("name")).contains(args.name.lower())
    if args.email:
        pred &= F.lower(F.col("email")).contains(args.email.lower())
    if args.phone:
        import re

        want = re.sub(r"[^0-9+]", "", args.phone)
        pred &= normalize_phone(F.col("phone")).contains(want)
    if args.id:
        pred &= F.col("id") == args.id
    hits = df.filter(pred)
    n = hits.count()
    for row in hits.limit(args.limit).collect():
        print(json.dumps({k: v for k, v in row.asDict().items()
                          if k != "_corrupt_record" and v is not None}))
    _emit({"matches": n})
    return 0


def cmd_prune(args, spark) -> int:
    """Reference prune (cli.cpp:960-966): drop records with
    ``created_at < --before`` (lexicographic ISO compare, exactly the
    reference's string ``<``); --dry-run only reports the count."""
    df = _read(spark, args.input)
    # absent created_at is "" in the reference model (Contact never
    # holds null) and "" < any date string, so such rows are pruned
    kept = df.filter(
        F.coalesce(F.col("created_at"), F.lit("")) >= args.before
    )
    n_total = df.count()
    if args.dry_run:
        _emit({"would_remove": n_total - kept.count()})
        return 0
    n_kept = _write(kept, args.out)
    _emit({"removed": n_total - n_kept, "out": args.out})
    return 0


def cmd_list(args, spark) -> int:
    df = _read(spark, args.input, keep_corrupt=False)
    for row in df.orderBy("id").limit(args.limit).collect():
        print(json.dumps({k: v for k, v in row.asDict().items()
                          if v is not None}))
    return 0


def cmd_schema(args, _spark_unused=None) -> int:
    from acxspark.io_paths import CONTACT_FULL_SCHEMA

    print(CONTACT_FULL_SCHEMA.json())
    return 0


def cmd_keygen(args, _spark_unused=None) -> int:
    from acxspark.functions.aescrypt import random_key_hex

    _emit({"key_hex": random_key_hex()})
    return 0


def cmd_encrypt(args, _spark_unused=None) -> int:
    from acxspark.functions.aescrypt import encrypt_file_aes256gcm

    encrypt_file_aes256gcm(args.file, args.out, args.key)
    _emit({"out": args.out})
    return 0


def cmd_decrypt(args, _spark_unused=None) -> int:
    from acxspark.functions.aescrypt import decrypt_file_aes256gcm

    decrypt_file_aes256gcm(args.file, args.out, args.key)
    _emit({"out": args.out})
    return 0


def cmd_determinism_check(args, spark) -> int:
    """Reference determinism-check (src/selftest.cpp:50-69): export →
    reimport → diff must be empty."""
    import tempfile

    from acxspark.io_paths import export_roundtrip_ok

    df = _read(spark, args.input, keep_corrupt=False)
    with tempfile.TemporaryDirectory() as tmp:
        ok = export_roundtrip_ok(spark, df.na.fill(""), tmp)
    _emit({"deterministic": ok})
    return 0 if ok else 1


def cmd_checksum(args, _spark_unused=None) -> int:
    h = hashlib.sha256()
    with open(args.file, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    _emit({"file": args.file, "sha256": h.hexdigest()})
    return 0


def cmd_sign(args, _spark_unused=None) -> int:
    from acxspark.functions.backup import sign_file

    _emit({"file": args.file, "hmac_sha256": sign_file(args.file)})
    return 0


def cmd_verify_file(args, _spark_unused=None) -> int:
    from acxspark.functions.backup import verify_file_hmac

    ok = verify_file_hmac(args.file, args.sig)
    _emit({"file": args.file, "ok": ok})
    return 0 if ok else 1


def cmd_selftest(args, spark) -> int:
    """Reference selftest (src/selftest.cpp, cli.cpp:968): exercise
    the engine end-to-end on synthetic data and print one JSON
    verdict. Here: a seeded corpus with planted duplicates through the
    full near-dup pipeline — gate on planted-pair recall and run-to-
    run determinism (two runs, identical cluster assignments)."""
    from acxspark.config import DedupConfig
    from acxspark.corpus import generate, to_spark
    from acxspark.plans.pipeline import run_pipeline

    web, tp, _tc = to_spark(spark, generate(n_docs=args.docs,
                                            seed=args.seed))
    labels = []
    for _ in range(2):
        res = run_pipeline(web, cfg=DedupConfig(), use_extract=True)
        labels.append({r["url"]: r["cluster_id"]
                       for r in res.clusters.collect()})
        res.release()
    pairs = tp.select("url_a", "url_b").collect()
    hit = sum(labels[0][r["url_a"]] == labels[0][r["url_b"]]
              for r in pairs)
    recall = hit / len(pairs) if pairs else 1.0
    verdict = {
        "docs": args.docs,
        "planted_pairs": len(pairs),
        "recall": round(recall, 4),
        "deterministic": labels[0] == labels[1],
        "ok": recall >= 0.99 and labels[0] == labels[1],
    }
    _emit(verdict)
    return 0 if verdict["ok"] else 1


def cmd_dedupe_docs(args, spark) -> int:
    from acxspark.config import DedupConfig
    from acxspark.io_paths import read_jsonl, write_jsonl
    from acxspark.plans.pipeline import run_pipeline
    from pyspark.sql import types as T

    schema = T.StructType([T.StructField("url", T.StringType()),
                           T.StructField("text", T.StringType())])
    docs = read_jsonl(spark, args.input, schema=schema,
                      keep_corrupt=False)
    res = run_pipeline(docs, DedupConfig())
    n_in, n_out = docs.count(), res.survivors.count()
    write_jsonl(res.survivors.select("url", "text"), args.out)
    res.release()
    _emit({"docs": n_in, "survivors": n_out, "dropped": n_in - n_out,
           "out": args.out})
    return 0


_NO_SPARK = {"checksum", "sign", "verify-file", "schema", "keygen",
             "encrypt", "decrypt"}


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="python -m acxspark",
        description="Spark-native twin of the acx data-ops CLI",
    )
    sub = p.add_subparsers(dest="cmd", required=True)

    def add(name, fn, *specs):
        sp = sub.add_parser(name)
        for flags, kw in specs:
            sp.add_argument(*flags, **kw)
        sp.set_defaults(fn=fn)
        return sp

    IN = (["input"], {})
    OUT = lambda d: (["--out"], {"default": d})  # noqa: E731
    add("validate", cmd_validate, IN)
    add("normalize", cmd_normalize, IN, OUT("acx-normalized.jsonl"))
    def _json_key(s: str) -> str:
        # the key is spliced into a variant path ($.<key>) — restrict
        # to identifier chars so dots/quotes can't change the path
        import re

        if not re.fullmatch(r"\w+", s):
            raise argparse.ArgumentTypeError(
                f"--key must be a simple identifier, got {s!r}")
        return s

    add("dedupe", cmd_dedupe, IN, OUT("acx-dedupe.jsonl"),
        (["--key"], {"default": "email", "type": _json_key}))
    add("redact", cmd_redact, IN, OUT("acx-redacted.jsonl"))
    add("scrub", cmd_scrub, IN, OUT("acx-scrubbed.jsonl"),
        (["--field"], {"default": "note"}))
    add("report", cmd_report, IN)
    add("diff", cmd_diff, (["a"], {}), (["b"], {}))
    add("merge", cmd_merge, (["a"], {}), (["b"], {}),
        OUT("acx-merged.jsonl"), (["--key"], {"default": "id"}),
        (["--strategy"], {"default": "prefer-newer",
                          "choices": ["prefer-newer", "prefer-existing"]}),
        (["--enrich"], {"default": "note",
                        "help": "column prefer-existing fills from "
                                "incoming matches (merge.cpp:67-71)"}))
    add("sample", cmd_sample, IN, (["n"], {"type": int}),
        OUT("acx-sample.jsonl"), (["--seed"], {"type": int, "default": 42}))
    add("grep", cmd_grep, IN, (["pattern"], {}),
        (["--fields"], {"default": None}),
        (["--limit"], {"type": int, "default": 20}))
    add("export", cmd_export, IN, (["out"], {}),
        (["--format"], {"default": None,
                        "choices": [None, "csv", "tsv", "jsonl"]}))
    add("import", cmd_import, IN, OUT("acx-imported.jsonl"))
    USER = (["--user"], {"default": "cli"})
    AUDIT = (["--audit"], {"default": None})
    add("add", cmd_add, IN, OUT("acx-data.jsonl"),
        (["--name"], {"required": True}), (["--email"], {"required": True}),
        (["--phone"], {"required": True}), (["--note"], {"default": ""}),
        USER, AUDIT)
    add("edit", cmd_edit, IN, OUT("acx-data.jsonl"),
        (["--id"], {"required": True}), (["--name"], {"default": None}),
        (["--email"], {"default": None}), (["--phone"], {"default": None}),
        (["--note"], {"default": None}), USER, AUDIT)
    add("delete", cmd_delete, IN, OUT("acx-data.jsonl"),
        (["--id"], {"required": True}),
        (["--yes"], {"action": "store_true"}), USER, AUDIT)
    add("search", cmd_search, IN,
        (["--name"], {"default": None}), (["--email"], {"default": None}),
        (["--phone"], {"default": None}), (["--id"], {"default": None}),
        (["--limit"], {"type": int, "default": 20}))
    add("prune", cmd_prune, IN, (["--before"], {"required": True}),
        OUT("acx-pruned.jsonl"),
        (["--dry-run"], {"action": "store_true"}))
    add("list", cmd_list, IN, (["--limit"], {"type": int, "default": 20}))
    add("schema", cmd_schema)
    add("keygen", cmd_keygen)
    add("encrypt", cmd_encrypt, (["file"], {}), (["out"], {}),
        (["--key"], {"required": True}))
    add("decrypt", cmd_decrypt, (["file"], {}), (["out"], {}),
        (["--key"], {"required": True}))
    add("determinism-check", cmd_determinism_check, IN)
    add("checksum", cmd_checksum, (["file"], {}))
    add("sign", cmd_sign, (["file"], {}))
    add("verify-file", cmd_verify_file, (["file"], {}), (["sig"], {}))
    add("selftest", cmd_selftest,
        (["--docs"], {"type": int, "default": 300}),
        (["--seed"], {"type": int, "default": 13}))
    add("dedupe-docs", cmd_dedupe_docs, IN, OUT("acx-dedupe-docs.jsonl"))
    return p


def main(argv: list[str] | None = None,
         spark: SparkSession | None = None) -> int:
    """``spark`` may be injected (tests reuse the session fixture);
    otherwise one is built per invocation."""
    args = build_parser().parse_args(argv)
    if args.cmd in _NO_SPARK:
        return args.fn(args)
    own = spark is None
    if own:
        spark = _spark(args.cmd)
    # _text_lines pins split sizing for the file-order contract; on an
    # injected (shared) session, put the conf back afterwards
    saved: dict[str, str | None] = {}
    if not own:
        for k in ("spark.sql.files.maxPartitionBytes",):
            saved[k] = spark.conf.get(k, None)
    try:
        return args.fn(args, spark)
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
        if own:
            spark.stop()


if __name__ == "__main__":
    sys.exit(main())
