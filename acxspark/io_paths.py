"""Import/export paths — reference format parity on Spark readers.

Reference surfaces (SURVEY §2.1):
- JSONL scan/sink: one object per line, blank lines skipped, malformed
  lines pass through or are dropped per command
  (src/jsonl.cpp:158-177, src/storage.cpp:30-39).
- CSV RFC 4180 scan (src/csv.cpp:7-41) and CSV/TSV sink with the fixed
  column order ``id,name,email,phone,note,created_at`` and rows sorted
  by id (src/storage.cpp:252-281).
- zstd-compressed backups (src/zstd_wrap.cpp:16-41) → parquet
  ``compression=zstd`` (session default).
- max-record-size guard: lines over the cap are skipped
  (src/storage.cpp:516,548).

Scale notes: exports use a TOTAL sort (range partitioning) only when
the reference's sorted-order contract is requested; otherwise
``sortWithinPartitions`` keeps files internally ordered without the
global shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

CONTACT_COLUMNS = ["id", "name", "email", "phone", "note", "created_at"]

CONTACT_SCHEMA = T.StructType(
    [T.StructField(c, T.StringType()) for c in CONTACT_COLUMNS]
)

# full record shape: the reference's Contact model carries a nested
# audit trail (history: array<struct{timestamp,user,action}>,
# src/model.hpp:8-27) and the JSON-Schema interchange shape adds
# tags: array<string> + country (schemas/contact.schema.json:1-36).
HISTORY_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("timestamp", T.StringType()),
            T.StructField("user", T.StringType()),
            T.StructField("action", T.StringType()),
        ]
    )
)

CONTACT_FULL_SCHEMA = T.StructType(
    list(CONTACT_SCHEMA.fields)
    + [
        T.StructField("country", T.StringType()),
        T.StructField("tags", T.ArrayType(T.StringType())),
        T.StructField("history", HISTORY_TYPE),
    ]
)


def read_jsonl(
    spark: SparkSession,
    path: str,
    schema: T.StructType = CONTACT_SCHEMA,
    keep_corrupt: bool = True,
    max_record_bytes: int | None = 1 << 20,
) -> DataFrame:
    """JSONL scan with the reference's malformed-line semantics.

    ``keep_corrupt=True`` = the dedupe-cmd behavior (unparseable lines
    pass through in ``_corrupt_record``, src/cli.cpp:303-304);
    ``False`` = the import behavior (dropped). Oversized lines are
    dropped either way (the 1 MiB guard, src/storage.cpp:516).

    Implemented as a text scan + ``from_json``, not ``read.json``: the
    byte cap must measure the RAW LINE (a parsed line can be oversized
    through fields outside the schema, which a re-serialized-struct
    proxy never sees), and line-based parsing also matches the
    reference's one-line-one-record loop where the json reader would
    explode a top-level array line into several rows."""
    full = T.StructType(
        list(schema.fields) + [T.StructField("_corrupt_record", T.StringType())]
    )
    lines = spark.read.text(path).filter(F.col("value") != "")
    if max_record_bytes is not None:
        # octet_length, not length: the reference caps raw BYTES, and
        # multi-byte UTF-8 would otherwise pass at up to 4x the cap
        lines = lines.filter(F.octet_length("value") <= max_record_bytes)
    # a non-empty line of only whitespace/control characters holds no
    # JSON value: PERMISSIVE from_json turns it into an all-null row
    # with NO _corrupt_record, so route it there explicitly — the
    # reference passes such a line through verbatim like any other
    # unparseable one (src/cli.cpp:303-304)
    blank = F.col("value").rlike(r"^[\s\p{Cntrl}]+$")
    r = F.col("_r")
    df = lines.select(
        F.from_json(
            F.col("value"), full,
            {"mode": "PERMISSIVE",
             "columnNameOfCorruptRecord": "_corrupt_record"},
        ).alias("_r"),
        F.when(blank, F.col("value")).alias("_blank"),
    ).select(
        *[r.getField(f.name).alias(f.name) for f in schema.fields],
        F.coalesce("_blank", r.getField("_corrupt_record"))
        .alias("_corrupt_record"),
    )
    if not keep_corrupt:
        df = df.filter(F.col("_corrupt_record").isNull()).drop("_corrupt_record")
    return df


def write_jsonl(df: DataFrame, path: str) -> None:
    """One compact JSON object per line (src/jsonl.cpp:173-177)."""
    df.write.mode("overwrite").json(path)


def read_csv(
    spark: SparkSession,
    path: str,
    sep: str = ",",
    schema: T.StructType = CONTACT_SCHEMA,
    failfast: bool = True,
) -> DataFrame:
    """RFC 4180 scan: quoted fields, '""' escape; ragged rows error
    under FAILFAST (src/csv.cpp:7-41 errors on bad rows).

    ``multiLine``: RFC 4180 allows raw newlines inside quoted fields
    (the reference's in_quotes loop and write_csv_sorted both support
    them) — without the option Spark splits records on every physical
    newline and a multi-line note corrupts the scan. Cost: multiLine
    files aren't split across tasks; acceptable for an
    import/export-parity surface (the reference parser is serial)."""
    df = (
        spark.read.schema(schema)
        .option("header", True)
        .option("sep", sep)
        .option("quote", '"')
        .option("escape", '"')
        .option("multiLine", True)
        .option("mode", "FAILFAST" if failfast else "PERMISSIVE")
        .csv(path)
    )
    # reference fields are plain strings; an absent/empty field is ""
    # (Contact never holds null, src/model.hpp:16-27) — Spark's CSV
    # reader maps empty→null, so restore the reference contract here.
    str_cols = [f.name for f in schema.fields if f.dataType == T.StringType()]
    return df.na.fill("", subset=str_cols)


def naive_split_fields(line_col) -> F.Column:
    """BUG-COMPAT naive CSV split (reference src/storage.cpp:446-455):
    split on ',' with NO quote handling — a quoted field containing a
    comma mis-parses exactly as the reference's importer does. Returns
    a struct of the 6 contact fields, or NULL for lines with fewer
    than 6 parts (the reference silently skips them); parts beyond 6
    are ignored (the reference reads parts[0..5] only)."""
    parts = F.split(line_col, ",")
    return F.when(
        F.size(parts) >= 6,
        F.struct(
            *[
                F.element_at(parts, i + 1).alias(c)
                for i, c in enumerate(CONTACT_COLUMNS)
            ]
        ),
    )


def read_csv_naive(spark: SparkSession, path: str) -> DataFrame:
    """The reference's naive CSV import scan, deliberately bug-compat
    (src/storage.cpp:441-464): line-split text, drop the header row,
    comma-split with NO quote handling, silently drop <6-field lines.

    Round 1-2 excluded this as bug-compat-only; it ships in round 3 so
    a reference user migrating malformed-but-working import flows gets
    identical mis-parses (the RFC 4180 path, :func:`read_csv`, is the
    correct-parsing default). Two documented deviations from the
    sequential importer: the header is dropped by matching the
    reference's own export header line (distributed text sources have
    no per-file line index), and the empty-id/created_at backfills
    (random uuid, wall clock, src/storage.cpp:456-457) are NOT applied
    — both are nondeterministic; use crypto.deterministic_id
    downstream instead."""
    header = ",".join(CONTACT_COLUMNS)
    lines = spark.read.text(path)
    return (
        lines.filter((F.col("value") != "") & (F.col("value") != header))
        .select(naive_split_fields(F.col("value")).alias("c"))
        .filter(F.col("c").isNotNull())
        .select(*[F.col(f"c.{c}").alias(c) for c in CONTACT_COLUMNS])
    )


def write_csv_sorted(df: DataFrame, path: str, sep: str = ",",
                     observation=None) -> None:
    """Header + rows TOTALLY sorted by id, RFC-escaped — the
    reference's deterministic export contract (src/storage.cpp:252-281,
    SUMMIT_SORT). orderBy = range-partitioned total sort; files are
    globally ordered by part index.

    ``observation``: optional ``pyspark.sql.Observation`` that counts
    the written rows (metric ``n``). It must attach ABOVE the sort —
    below it, the range partitioner's sampling pass scans the child
    twice and the metric double-counts."""
    out = df.select(*[F.col(c) for c in df.columns]).orderBy("id")
    if observation is not None:
        out = out.observe(observation, F.count(F.lit(1)).alias("n"))
    (
        out
        .write.mode("overwrite")
        .option("header", True)
        .option("sep", sep)
        .option("quote", '"')
        .option("escape", '"')
        # Spark's CSV WRITER trims field whitespace by default
        # (ignore*WhiteSpace default true on write, false on read) —
        # the reference's csv_escape preserves bytes exactly
        # (src/storage.cpp:252-260), so a padded name must round-trip
        .option("ignoreLeadingWhiteSpace", False)
        .option("ignoreTrailingWhiteSpace", False)
        .csv(path)
    )


def write_tsv_sorted(df: DataFrame, path: str, observation=None) -> None:
    write_csv_sorted(df, path, sep="\t", observation=observation)


def export_roundtrip_ok(spark: SparkSession, df: DataFrame, tmp: str) -> bool:
    """The reference's determinism property: export → reimport → diff
    == empty (src/selftest.cpp:50-69, DETERMINISM.md)."""
    path = f"{tmp}/roundtrip_csv"
    write_csv_sorted(df, path)
    back = read_csv(spark, path)
    a, b = df.select(*CONTACT_COLUMNS), back.select(*CONTACT_COLUMNS)
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()


# ---- bucketed point-lookup layout (reference DiskIndex parity) --------
#
# The reference keeps a sorted key→offset sidecar for O(log n) point
# lookups without scanning the data file (src/disk_index.cpp:15-100).
# The Spark-native analog is a LAYOUT, not a sidecar: hash-bucket the
# table by the normalized key into partition directories and sort rows
# by key within each bucket. A point lookup then
#   1. constant-folds pmod(xxhash64(lit(key)), n_buckets) to the one
#      bucket id → storage-level PARTITION PRUNING reads 1/n_buckets
#      of the directories and zero bytes of the rest;
#   2. hits parquet row-group min/max stats on the sorted key column
#      inside that bucket → row-group pruning within the directory.
# At 10^12 rows / 4096 buckets a lookup touches one directory's
# footer + one row group — the same asymptotics as the reference's
# binary search, distributed.

LAYOUT_META = "_ACX_LAYOUT.json"


def write_bucketed_by_key(
    df: DataFrame, path: str, key_col: str, n_buckets: int = 256
) -> None:
    """Materialize ``df`` hash-bucketed by ``key_col`` (see module
    note). Plain parquet + a layout sidecar — readable by any engine;
    :func:`point_lookup_bucketed` uses the sidecar to rebuild the
    pruning predicate."""
    import json as _json
    import os as _os

    (
        df.withColumn(
            "key_bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets))
        )
        .repartition("key_bucket")
        # key_bucket must LEAD the sort: the dynamic-partition writer
        # requires ordering by the partition column and would insert
        # its own key_bucket-only sort above a bare key sort — whose
        # stability (and thus the within-bucket key order the
        # row-group pruning depends on) is not guaranteed on spill
        .sortWithinPartitions("key_bucket", key_col)
        .write.mode("overwrite")
        .partitionBy("key_bucket")
        .parquet(path)
    )
    with open(_os.path.join(path, LAYOUT_META), "w") as f:
        _json.dump({"key_col": key_col, "n_buckets": n_buckets}, f)


def point_lookup_bucketed(spark: SparkSession, path: str, value) -> DataFrame:
    """Rows whose layout key equals ``value``. The bucket predicate is
    foldable (literal xxhash64), so Catalyst turns it into a partition
    filter — .explain shows PartitionFilters: [(key_bucket = <b>)]."""
    import json as _json
    import os as _os

    with open(_os.path.join(path, LAYOUT_META)) as f:
        layout = _json.load(f)
    df = spark.read.parquet(path)
    return df.filter(
        (
            F.col("key_bucket")
            == F.pmod(F.xxhash64(F.lit(value)), F.lit(layout["n_buckets"]))
        )
        & (F.col(layout["key_col"]) == F.lit(value))
    ).drop("key_bucket")
