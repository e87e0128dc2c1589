"""Crypto/identity scalar function tests (reference src/utils.cpp,
src/hmac.cpp parity)."""

from __future__ import annotations

import hashlib
import hmac
import re

from pyspark.sql import functions as F

from acxspark.functions import crypto as C


def test_sha256_matches_hashlib(spark):
    df = spark.createDataFrame([("abc",), ("",)], "v string")
    got = {r["v"]: r["h"] for r in df.select("v", C.sha256_hex("v").alias("h")).collect()}
    assert got["abc"] == hashlib.sha256(b"abc").hexdigest()
    assert got[""] == hashlib.sha256(b"").hexdigest()


def test_hmac_matches_stdlib(spark):
    key = b"secret-key"
    df = spark.createDataFrame([("payload",), (None,)], "v string")
    got = [r["h"] for r in df.select(C.hmac_sha256_hex("v", key).alias("h")).collect()]
    assert got[0] == hmac.new(key, b"payload", hashlib.sha256).hexdigest()
    assert got[1] is None


def test_deterministic_id_shape_and_stability(spark):
    df = spark.createDataFrame([(1,), (2,), (1,)], "k long")
    ids = [r["i"] for r in df.select(C.deterministic_id("k").alias("i")).collect()]
    assert ids[0] == ids[2] and ids[0] != ids[1]  # pure function of key
    assert re.fullmatch(r"[0-9a-f]{8}-[0-9a-f]{4}-4[0-9a-f]{3}-[0-9a-f]{4}-[0-9a-f]{12}", ids[0])


def test_now_iso_format(spark):
    row = spark.range(1).select(C.now_iso8601_utc().alias("t")).collect()[0]
    assert re.fullmatch(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z", row["t"])


# ---------------------------------------------------- AES-256-GCM (r3)


def test_aes_file_roundtrip_key_container(tmp_path):
    """ACXEG1 parity (reference crypto_file.cpp:86-91): magic || iv(12)
    || tag(16) || ct, 32-byte hex key; roundtrip byte-identical;
    tamper => auth failure, wrong key => auth failure."""
    import pytest as _pytest

    from acxspark.functions import aescrypt as AC

    src = tmp_path / "plain.jsonl"
    src.write_bytes(b'{"id":"a"}\n{"id":"b"}\n' * 100)
    enc, dec = tmp_path / "x.acxeg", tmp_path / "out.jsonl"
    key = AC.random_key_hex()
    AC.encrypt_file_aes256gcm(str(src), str(enc), key_hex=key)
    blob = enc.read_bytes()
    assert blob[:6] == b"ACXEG1" and len(blob) == 6 + 12 + 16 + src.stat().st_size
    AC.decrypt_file_aes256gcm(str(enc), str(dec), key_hex=key)
    assert dec.read_bytes() == src.read_bytes()
    # tamper one ciphertext byte -> loud auth failure
    t = bytearray(blob); t[-1] ^= 1
    enc.write_bytes(bytes(t))
    with _pytest.raises(Exception):
        AC.decrypt_file_aes256gcm(str(enc), str(dec), key_hex=key)
    enc.write_bytes(blob)
    with _pytest.raises(Exception):
        AC.decrypt_file_aes256gcm(str(enc), str(dec), key_hex=AC.random_key_hex())


def test_aes_file_roundtrip_passphrase_container(tmp_path):
    """ACXEG2 parity (crypto_file.cpp:108-117): magic || salt(16) ||
    iters(4 BE) || iv || tag || ct with PBKDF2-HMAC-SHA256."""
    from acxspark.functions import aescrypt as AC

    src = tmp_path / "p.bin"
    src.write_bytes(bytes(range(256)) * 50)
    enc, dec = tmp_path / "p.acxeg", tmp_path / "p.out"
    AC.encrypt_file_aes256gcm(str(src), str(enc), passphrase="hunter2!")
    blob = enc.read_bytes()
    assert blob[:6] == b"ACXEG2"
    assert int.from_bytes(blob[22:26], "big") == 200000  # reference iters
    AC.decrypt_file_aes256gcm(str(enc), str(dec), passphrase="hunter2!")
    assert dec.read_bytes() == src.read_bytes()


def test_aes_column_roundtrip_deterministic(spark):
    """Distributed column crypto: id-derived nonces make ciphertext a
    pure function of (key, id, value) — byte-identical across
    partitionings — while distinct ids never share a nonce; decrypt
    restores plaintext, corrupt blob decrypts to NULL."""
    from pyspark.sql import functions as F

    from acxspark.functions import aescrypt as AC

    key = "ab" * 32
    rows = [(str(i), f"secret value {i}") for i in range(50)]
    df = spark.createDataFrame(rows, "id string, v string")
    enc1 = {r["id"]: bytes(r["c"]) for r in df.repartition(1).select(
        "id", AC.encrypt_col("v", "id", key).alias("c")).collect()}
    enc7 = {r["id"]: bytes(r["c"]) for r in df.repartition(7).select(
        "id", AC.encrypt_col("v", "id", key).alias("c")).collect()}
    assert enc1 == enc7  # deterministic across layouts
    nonces = {c[:12] for c in enc1.values()}
    assert len(nonces) == 50  # unique nonce per id
    back = df.withColumn("c", AC.encrypt_col("v", "id", key)).select(
        "id", "v", AC.decrypt_col("c", key).alias("p"),
        AC.decrypt_col(F.lit(b"\x00" * 40), key).alias("bad"))
    for r in back.collect():
        assert r["p"] == r["v"] and r["bad"] is None


def test_backup_sign_verify_and_tamper(spark, tmp_path):
    """Reference backup parity (src/storage.cpp:66-88): hash-stamped,
    HMAC-signed snapshot backup. Verify passes on the intact copy;
    a single flipped byte in any data file fails it; a wrong key and
    a tampered manifest fail it; a second sign of the same version
    refuses to overwrite."""
    import pytest

    from acxspark.catalog import ParquetSnapshotCatalog
    from acxspark.functions import backup as B

    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    cat.write("contacts", spark.range(500).withColumnRenamed("id", "k"))
    key = b"test-backup-key"

    bak = B.sign_backup(spark, cat, "contacts", tmp_path / "bak", key=key)
    assert bak.name == "contacts-v000000"
    res = B.verify_backup(spark, bak, key=key)
    assert res["ok"] and res["n_files"] >= 1

    # wrong key
    assert not B.verify_backup(spark, bak, key=b"other")["ok"]

    # flip one byte in the middle of a parquet data file
    part = next((bak / "data").glob("part-*.parquet"))
    raw = bytearray(part.read_bytes())
    raw[len(raw) // 2] ^= 0xFF
    part.write_bytes(bytes(raw))
    res2 = B.verify_backup(spark, bak, key=key)
    assert not res2["ok"] and "digest" in res2["reason"]

    # tampered manifest (size field) breaks the signature
    man = bak / B.MANIFEST_NAME
    man.write_bytes(man.read_bytes().replace(b'"size":', b'"size" :', 1))
    assert B.verify_backup(spark, bak, key=key)["reason"] == "signature mismatch"

    with pytest.raises(FileExistsError):
        B.sign_backup(spark, cat, "contacts", tmp_path / "bak", key=key)


def test_file_sign_verify_parity(tmp_path, monkeypatch):
    """acx sign / verify / verify-file parity (src/cli.cpp:78-100):
    HMAC roundtrip, env-key fallback, tamper and wrong-sig fail."""
    import hashlib
    import hmac as _hmac

    from acxspark.functions import backup as B

    f = tmp_path / "export.csv"
    f.write_bytes(b"id,email\n1,a@example.com\n")
    sig = B.sign_file(f, key=b"k1")
    # matches an independent stdlib computation
    assert sig == _hmac.new(b"k1", f.read_bytes(), hashlib.sha256).hexdigest()
    assert B.verify_file_hmac(f, sig, key=b"k1")
    assert B.verify_file_hmac(f, sig.upper(), key=b"k1")  # case-insensitive
    assert not B.verify_file_hmac(f, sig, key=b"k2")
    f.write_bytes(b"id,email\n1,b@example.com\n")
    assert not B.verify_file_hmac(f, sig, key=b"k1")

    sha = hashlib.sha256(f.read_bytes()).hexdigest()
    assert B.verify_file_sha256(f, sha)
    assert not B.verify_file_sha256(f, "00" * 32)

    # env-key fallback (ACX_HMAC_KEY, reference parity)
    monkeypatch.setenv("ACX_HMAC_KEY", "envkey")
    assert B.verify_file_hmac(f, B.sign_file(f))
    monkeypatch.delenv("ACX_HMAC_KEY")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="no HMAC key"):
        B.sign_file(f)


def test_encrypt_col_nonces_differ_across_columns(spark):
    """GCM nonce reuse across columns would leak the plaintext XOR:
    the nonce is domain-separated by the encrypted column's name, so
    two columns of one table under one key never share a nonce."""
    from acxspark.functions.aescrypt import encrypt_col, random_key_hex

    key = random_key_hex()
    df = spark.createDataFrame([("r1", "alice@x.com", "555-0001")],
                               ["id", "email", "phone"])
    row = df.select(
        encrypt_col("email", "id", key).alias("e"),
        encrypt_col("phone", "id", key).alias("p"),
    ).first()
    assert bytes(row["e"][:12]) != bytes(row["p"][:12])
    # expression value column without explicit context must refuse
    import pyspark.sql.functions as F
    import pytest as _pytest

    with _pytest.raises(ValueError, match="context"):
        encrypt_col(F.upper(F.col("email")), "id", key)


def test_backup_path_containing_data_segment(spark, tmp_path):
    """Manifests must relativize against the resolved backup dir, not
    the first '/<dirname>/' substring — a backup rooted under a
    '/data/...' path used to fail verification always."""
    from acxspark.catalog import ParquetSnapshotCatalog
    from acxspark.functions.backup import sign_backup, verify_backup

    root = tmp_path / "data" / "backups"   # 'data' segment in the path
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    cat.write("t", spark.range(5))
    bak = sign_backup(spark, cat, "t", root, key=b"test-key")
    v = verify_backup(spark, bak, key=b"test-key")
    assert v["ok"], v


def test_backup_through_symlinked_directory(spark, tmp_path):
    """A backup dir reached through a symlink (/tmp -> /private/tmp on
    macOS, symlinked data roots) must sign and verify: file paths that
    keep the unresolved prefix relativize against the unresolved base."""
    from acxspark.catalog import ParquetSnapshotCatalog
    from acxspark.functions.backup import sign_backup, verify_backup

    real = tmp_path / "real"
    real.mkdir()
    link = tmp_path / "link"
    link.symlink_to(real, target_is_directory=True)
    cat = ParquetSnapshotCatalog(tmp_path / "cat")
    cat.write("t", spark.range(5))
    bak = sign_backup(spark, cat, "t", link / "backups", key=b"test-key")
    v = verify_backup(spark, bak, key=b"test-key")
    assert v["ok"], v

