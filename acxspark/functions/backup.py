"""Signed, hash-stamped catalog backups — reference backup parity.

The reference stamps each backup file with a sha256 of its content and
(when ``ACX_HMAC_KEY`` is set) writes a detached HMAC-SHA256 signature
next to it (``/root/reference/src/storage.cpp:66-88``,
``src/hmac.cpp:14-53``). Promoted to snapshot granularity for a
distributed table:

- :func:`sign_backup` copies the catalog's committed snapshot into a
  backup directory (tmp dir + atomic rename — a killed writer leaves
  no half-backup, same crash contract as the reference's
  ``write_file_atomic``), hashes every data file ON EXECUTORS via the
  ``binaryFile`` source (the driver never streams table bytes — at
  100 TB the per-file digests are the only thing collected, ~100 B per
  file), and signs the canonical manifest of (relpath, size, sha256)
  with HMAC-SHA256.
- :func:`verify_backup` recomputes the per-file digests the same way
  and checks (a) the manifest signature under the key, (b) the digest
  set against the manifest. Any flipped bit in any data file, any
  added/removed file, or any manifest tamper fails verification with a
  named reason.

The signature covers the MANIFEST (which covers the files), not a
concatenation of file bytes — so verification parallelizes per file
and an attacker cannot reorder/substitute files without breaking
either their digest or the signed manifest.
"""

from __future__ import annotations

import hashlib
import hmac as _hmac
import json
import os
import shutil
import tempfile
import time
from pathlib import Path

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

MANIFEST_NAME = "BACKUP_MANIFEST.json"
SIG_NAME = "BACKUP_MANIFEST.sig"


def _env_key(key: bytes | None) -> bytes:
    if key is not None:
        return key
    k = os.environ.get("ACX_HMAC_KEY", "")
    if not k:
        raise ValueError(
            "no HMAC key: pass key= or set ACX_HMAC_KEY (reference parity)"
        )
    return k.encode("utf-8")


def _file_digests(spark: SparkSession, d: Path) -> list[dict]:
    """(relpath, size, sha256) per data file, hashed executor-side.

    The binaryFile source skips dot/underscore-prefixed entries
    (_SUCCESS, .crc) — the manifest covers exactly the bytes a reader
    of the backup would consume."""
    rows = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", "true")
        .load(str(d))
        .select(
            F.col("path"),
            F.col("length").alias("size"),
            F.sha2(F.col("content"), 256).alias("sha256"),
        )
        .collect()
    )
    # Hadoop URIs vary in slash count ("file:/x" vs "file:///x"):
    # parse the URI to a filesystem path and relativize against the
    # RESOLVED directory — the manifest must be location-independent
    # (sign happens in the tmp dir, verify after the atomic rename).
    # (A first-substring-match on "/<dirname>/" was wrong whenever the
    # enclosing path itself contained that segment — e.g. any backup
    # under a "/data/..." root split at the wrong place and every
    # verify failed.)
    from pathlib import PurePosixPath
    from urllib.parse import unquote, urlparse

    # A symlink on the way to ``d`` can leave Hadoop's path unresolved
    # (/tmp vs /private/tmp): fall back to the unresolved absolute base.
    base = PurePosixPath(str(Path(d).resolve()))
    unresolved = PurePosixPath(os.path.abspath(d))
    out = []
    for r in rows:
        p = PurePosixPath(unquote(urlparse(r["path"]).path))
        try:
            rel = str(p.relative_to(base))
        except ValueError:
            rel = str(p.relative_to(unresolved))
        out.append({"path": rel, "size": int(r["size"]), "sha256": r["sha256"]})
    return sorted(out, key=lambda e: e["path"])


def _canonical(manifest: dict) -> bytes:
    return json.dumps(manifest, sort_keys=True, separators=(",", ":")).encode()


def _write_atomic(path: Path, data: bytes) -> None:
    fd, tmp = tempfile.mkstemp(dir=path.parent, suffix=".tmp")
    with os.fdopen(fd, "wb") as f:
        f.write(data)
    os.replace(tmp, path)


def sign_backup(
    spark: SparkSession,
    catalog,
    table: str,
    backup_dir: str | Path,
    key: bytes | None = None,
) -> Path:
    """Copy ``table``'s committed snapshot to ``backup_dir`` and sign it.

    Returns the backup path ``backup_dir/<table>-v<version>``. The copy
    lands under a tmp name and is renamed into place only after the
    signed manifest is written inside it — the rename is the commit
    point, so a reader never sees an unsigned backup.
    """
    key = _env_key(key)
    meta = catalog.latest_meta(table)
    snap = catalog._tdir(table) / meta["path"]
    backup_dir = Path(backup_dir)
    backup_dir.mkdir(parents=True, exist_ok=True)
    final = backup_dir / f"{table}-v{meta['version']:06d}"
    if final.exists():
        raise FileExistsError(f"backup already exists: {final}")
    tmp = Path(tempfile.mkdtemp(dir=backup_dir, prefix=f".{table}-"))
    try:
        data_dir = tmp / "data"
        shutil.copytree(snap, data_dir)
        manifest = {
            "table": table,
            "version": meta["version"],
            "snapshot": meta["path"],
            "created_utc": time.strftime("%Y-%m-%dT%H:%M:%SZ", time.gmtime()),
            "files": _file_digests(spark, data_dir),
        }
        body = _canonical(manifest)
        _write_atomic(tmp / MANIFEST_NAME, body)
        sig = _hmac.new(key, body, hashlib.sha256).hexdigest()
        _write_atomic(tmp / SIG_NAME, (sig + "\n").encode())
        os.rename(tmp, final)  # commit point
    except BaseException:
        shutil.rmtree(tmp, ignore_errors=True)
        raise
    return final


def verify_backup(
    spark: SparkSession,
    backup_path: str | Path,
    key: bytes | None = None,
) -> dict:
    """{"ok": bool, "reason": str, "n_files": int} for a signed backup.

    Fails closed: a missing manifest/signature, a bad signature, or any
    digest/size/file-set drift is ``ok=False`` with the first reason.
    """
    key = _env_key(key)
    backup_path = Path(backup_path)
    man_p = backup_path / MANIFEST_NAME
    sig_p = backup_path / SIG_NAME
    if not man_p.exists() or not sig_p.exists():
        return {"ok": False, "reason": "missing manifest or signature",
                "n_files": 0}
    body = man_p.read_bytes()
    want_sig = sig_p.read_text().strip()
    got_sig = _hmac.new(key, body, hashlib.sha256).hexdigest()
    if not _hmac.compare_digest(want_sig, got_sig):
        return {"ok": False, "reason": "signature mismatch", "n_files": 0}
    manifest = json.loads(body)
    expected = {(e["path"], e["size"], e["sha256"]) for e in manifest["files"]}
    try:
        recomputed = _file_digests(spark, backup_path / "data")
    except Exception:
        # Hadoop's ChecksumFileSystem validates the copied .crc
        # sidecars on read — a tampered data file throws before our
        # sha256 even runs. That IS a failed verification (two
        # independent integrity layers agree), not an error.
        return {
            "ok": False,
            "reason": "file digests differ from signed manifest",
            "n_files": 0,
        }
    actual = {(e["path"], e["size"], e["sha256"]) for e in recomputed}
    if expected != actual:
        return {
            "ok": False,
            "reason": "file digests differ from signed manifest",
            "n_files": len(actual),
        }
    return {"ok": True, "reason": "verified", "n_files": len(actual)}


# ---- file-granular sign/verify (reference CLI parity) -----------------
# `acx sign --file` / `acx verify --file --sig` / `acx verify-file
# --file --sha256` (reference src/cli.cpp:78-100,821,957; hmac key from
# ACX_HMAC_KEY). Driver-side by design: these operate on single local
# files (configs, exports, manifests), not on distributed tables — the
# table-granular analog is sign_backup/verify_backup above.


def sign_file(path: str | Path, key: bytes | None = None) -> str:
    """HMAC-SHA256 hex of a file's bytes under the key (env
    ``ACX_HMAC_KEY`` when not passed — reference parity)."""
    key = _env_key(key)
    return _hmac.new(key, Path(path).read_bytes(), hashlib.sha256).hexdigest()


def verify_file_hmac(path: str | Path, sig_hex: str,
                     key: bytes | None = None) -> bool:
    return _hmac.compare_digest(sign_file(path, key), sig_hex.strip().lower())


def verify_file_sha256(path: str | Path, sha256_hex: str) -> bool:
    return _hmac.compare_digest(
        hashlib.sha256(Path(path).read_bytes()).hexdigest(),
        sha256_hex.strip().lower(),
    )
