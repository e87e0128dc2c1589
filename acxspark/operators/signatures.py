"""Fused, batch-vectorized signature computation: one Arrow pass
producing shingles + MinHash + SimHash per document — the engine's
one signature kernel (the per-row reference oracles it is pinned
against live in tests/oracles.py).

- tokens are hashed ONCE in the JVM (:func:`token_hashes`, codegen
  xxhash64 per token) and the k-gram windows are combined in numpy: a
  pure-SQL k-gram build (slice + concat_ws per position) allocates
  O(text × k) transient strings per row and measured GC-bound and
  anti-scaling at local[32]. The window hash of
  [t_i .. t_{i+k-1}] is ``Σ_j hash(t_{i+j}) * B^j  (mod 2^64)`` with
  B odd — position-weighted, so permuted tokens hash differently.
- per-row loops cost ~250 µs/row of numpy dispatch overhead — at 10^9
  rows/executor-day that's the whole budget. Here the entire Arrow
  batch is flattened into ONE uint64 array and every stage is a
  handful of numpy calls over it (segment boundaries via ufunc
  ``reduceat``), so the cost approaches SIMD throughput.
- shingle multisets are NOT deduplicated: MinHash minima are invariant
  under duplicates, Spark's ``array_intersect``/``array_union``
  (Jaccard verify) produce distinct elements anyway, and SimHash with
  multiplicity weights is the standard frequency-weighted variant.

Layout per batch (R rows, M total tokens, S total shingles):
  flat tokens  u64[M]  →  window-poly  u64[M] (masked to S valid)
  → minhash: chunked (P × s) a*x+b with ``minimum.reduceat`` at row
    starts → (P × R) signatures
  → simhash: chunked (s × 64) bit matrix with ``add.reduceat`` at row
    starts → (R × 64) votes → u64 fingerprints
"""

from __future__ import annotations

import sys
from functools import lru_cache

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql import types as T

from acxspark.config import DEFAULT_CONFIG, DedupConfig
from acxspark.functions.normalize import tokens

_B = np.uint64(0x9E3779B97F4A7C15)  # window-poly base; odd ⇒ invertible mod 2^64
_I64MAX = np.int64(np.iinfo(np.int64).max)


# Persistent per-worker buffers, grown once to the high-water mark and
# reused for every batch. On this host first-touch page faults are
# globally serialized (sandbox kernel) — 32 workers cold-faulting
# ~30 MB/batch measured 17x CPU inflation vs 8 workers. Steady-state
# per-batch allocation must be ~zero; only Arrow-owned outputs remain.
_FLAT_BUF: list[np.ndarray] = []
_ACC_BUF: list[np.ndarray] = []
_SH_BUF: list[np.ndarray] = []


def token_hashes(text_col, seed: int = 42) -> Column:
    """array<long> of xxhash64(token, seed) — JVM-side, one hash per
    token, no positional string building."""
    return F.transform(tokens(text_col), lambda t: F.xxhash64(t, F.lit(seed)))


@lru_cache(maxsize=8)
def _perms(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    """Seed-pinned MinHash permutations ``x ↦ a_j*x + b_j mod 2^64``
    (odd multipliers ``a_j``), built once per worker."""
    rng = np.random.default_rng(seed)
    a = rng.integers(1, 1 << 63, size=num_perm, dtype=np.uint64) * np.uint64(2) + np.uint64(1)
    b = rng.integers(0, 1 << 63, size=num_perm, dtype=np.uint64)
    return a, b


def _grow(cache: list[np.ndarray], n: int, dtype) -> np.ndarray:
    if not cache or cache[0].shape[0] < n:
        cache[:] = [np.empty(max(n, 1 << 20), dtype=dtype)]
        cache[0][:1] = 0  # touch
    return cache[0]


def _flatten(tok_hashes: pd.Series) -> tuple[np.ndarray, np.ndarray]:
    """Series[list[i64]] → (flat u64[M] view into a reused buffer,
    row lengths i64[R])."""
    lens = np.fromiter(
        (0 if r is None else len(r) for r in tok_hashes), dtype=np.int64,
        count=len(tok_hashes),
    )
    m = int(lens.sum())
    if m == 0:
        return np.zeros(0, dtype=np.uint64), lens
    flat = _grow(_FLAT_BUF, m, np.uint64)
    pos = 0
    for r in tok_hashes:
        if r is None or len(r) == 0:
            continue
        n = len(r)
        flat[pos : pos + n] = np.asarray(r, dtype=np.int64).view(np.uint64)
        pos += n
    return flat[:m], lens


def _window_poly(flat: np.ndarray, lens: np.ndarray, k: int
                 ) -> tuple[np.ndarray, np.ndarray]:
    """All k-window polynomial hashes, flat across rows.

    Returns (shingles u64[S] view into a reused buffer, shingle counts
    i64[R]). Rows with 0 < len < k get ONE shingle over their full
    token run, so tiny docs still participate."""
    m = len(flat)
    ends = np.cumsum(lens)
    starts = ends - lens
    if m == 0:
        return np.zeros(0, dtype=np.uint64), np.zeros(len(lens), dtype=np.int64)
    acc = _grow(_ACC_BUF, m, np.uint64)[:m]
    acc[:] = 0
    mult = np.uint64(1)
    with np.errstate(over="ignore"):
        for j in range(k):
            acc[: m - j] += flat[j:] * mult
            mult *= _B
    # short rows (0 < len < k): single shingle = poly over all tokens,
    # which lives at the row's start index with the partial-window sum
    short = (lens > 0) & (lens < k)
    if short.any():
        for r in np.nonzero(short)[0]:
            s, ln = starts[r], lens[r]
            h = np.uint64(0)
            mlt = np.uint64(1)
            with np.errstate(over="ignore"):
                for j in range(int(ln)):
                    h += flat[s + j] * mlt
                    mlt *= _B
            acc[s] = h
    # valid windows per row = first max(len-k+1, 0) positions (short
    # rows: 1). Copy row runs into the shingle buffer — a small python
    # loop over ROWS (not elements), no M-sized index/mask temporaries.
    n_sh = np.maximum(lens - (k - 1), 0)
    n_sh[short] = 1
    s_total = int(n_sh.sum())
    out = _grow(_SH_BUF, s_total, np.uint64)
    pos = 0
    for r in range(len(lens)):
        c = int(n_sh[r])
        if c:
            s = int(starts[r])
            out[pos : pos + c] = acc[s : s + c]
            pos += c
    return out[:s_total], n_sh


#: bump whenever ANY signature kernel changes the VALUES it emits for
#: an unchanged config (config.fingerprint mixes this in, so committed
#: snapshots from older kernels read as stale and recompute instead of
#: silently mixing incompatible signatures). v2 fixed the binning of
#: the since-removed one-permutation estimator; k-permutation values
#: are unchanged since v1.
SIG_ALGO_VERSION = 2

_U64MAX = np.uint64(0xFFFFFFFFFFFFFFFF)

_KP_CHUNK = 2048  # shingles per block: (P × 2048) u64 = 2 MB work buffer per worker
_KP_BUF: dict[int, np.ndarray] = {}


def _minhash_kperm_flat(shingles: np.ndarray, n_sh: np.ndarray, num_perm: int,
                        seed: int) -> np.ndarray:
    """(R, num_perm) classical k-permutation MinHash, cache-blocked.

    min over shingles of (a_j*x + b_j mod 2^64) for each of P seed-
    pinned permutations — the textbook estimator (Broder 1997). The
    (P × chunk) work buffer is reused and L2-resident, so the stage is
    COMPUTE-bound (~P ops/byte), which is what actually scales with
    cores on bandwidth-capped hosts: this VM measured ~20 GB/s DRAM
    saturating at ~8 streaming processes, so a 1-op/byte estimator
    (one-permutation hashing) cannot speed up past 8 workers while
    this one can."""
    a, b = _perms(num_perm, seed)
    p = num_perm
    r_total = len(n_sh)
    out = np.full((r_total, p), _U64MAX, dtype=np.uint64)
    s_total = len(shingles)
    if s_total:
        buf = _KP_BUF.get(p)
        if buf is None:
            buf = np.empty((p, _KP_CHUNK), dtype=np.uint64)
            _KP_BUF[p] = buf
        ends = np.cumsum(n_sh)
        starts = ends - n_sh
        a_col, b_col = a[:, None], b[:, None]
        for c0 in range(0, s_total, _KP_CHUNK):
            c1 = min(c0 + _KP_CHUNK, s_total)
            view = buf[:, : c1 - c0]
            with np.errstate(over="ignore"):
                np.multiply(a_col, shingles[None, c0:c1], out=view)
                view += b_col
            rows = np.nonzero((starts < c1) & (ends > c0))[0]
            offs = np.maximum(starts[rows], c0) - c0
            mins = np.minimum.reduceat(view, offs, axis=1)
            # fancy index ⇒ copy semantics: explicit write-back required
            out[rows] = np.minimum(out[rows], mins.T)
    out = out.view(np.int64)
    out[n_sh == 0] = _I64MAX
    return out


_SIM_CHUNK = 2048  # shingles per block: bit matrix 128 KB, L2-resident


def _simhash_flat(shingles: np.ndarray, n_sh: np.ndarray) -> np.ndarray:
    """(R,) int64 fingerprints: blocked unpackbits + per-row bit sums.

    unpackbits emits bits in a fixed (byte-order × MSB-first)
    permutation of the logical bit index — a CONSISTENT relabeling,
    which SimHash is invariant to (Hamming distance is permutation-
    invariant). Blocked to a reused 128 KB bit buffer: the unblocked
    form allocated ~300 MB of fresh temps per Arrow batch, and on this
    page-fault-expensive host that made 32 concurrent workers SLOWER
    than 8 (cold-fault fraction grows as batches-per-worker shrinks)."""
    r_total = len(n_sh)
    out = np.zeros(r_total, dtype=np.int64)
    s_total = len(shingles)
    if not s_total:
        return out
    ends = np.cumsum(n_sh)
    starts = ends - n_sh
    counts = np.zeros((r_total, 64), dtype=np.int64)
    w = np.arange(64, dtype=np.uint64)
    for c0 in range(0, s_total, _SIM_CHUNK):
        c1 = min(c0 + _SIM_CHUNK, s_total)
        m = c1 - c0
        # 128 KB alloc → glibc freelist, not mmap; stays L2-resident
        bits = np.unpackbits(shingles[c0:c1].view(np.uint8).reshape(m, 8), axis=1)
        rows = np.nonzero((starts < c1) & (ends > c0))[0]
        offs = np.maximum(starts[rows], c0) - c0
        # dtype=int64: reduceat in uint8 would wrap at 255-shingle runs
        part = np.add.reduceat(bits, offs, axis=0, dtype=np.int64)
        counts[rows] += part
    votes = counts * 2 - n_sh[:, None]
    nonempty = n_sh > 0
    fps = (votes > 0).astype(np.uint64) << w[None, :]
    out_u = np.bitwise_or.reduce(fps, axis=1)
    out = np.where(nonempty, out_u.view(np.int64), np.int64(0))
    return out


def _df_cut(shingles: np.ndarray, n_sh: np.ndarray,
            drop: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Remove shingles in the sorted ``drop`` array (hot grams above
    the doc-frequency cut) from the flat multiset, recomputing per-row
    counts. One vectorized np.isin (binary search against the sorted
    drop set) per batch — no per-row Python."""
    if len(shingles) == 0 or len(drop) == 0:
        return shingles, n_sh
    keep = ~np.isin(shingles.view(np.int64), drop)
    n_new = np.zeros(len(n_sh), dtype=np.int64)
    nz = n_sh > 0
    if nz.any():
        ends = np.cumsum(n_sh)
        starts = (ends - n_sh)[nz]
        n_new[nz] = np.add.reduceat(keep.astype(np.int64), starts)
    return np.ascontiguousarray(shingles[keep]), n_new


def _row_lists(shingles: np.ndarray, n_sh: np.ndarray) -> list[np.ndarray]:
    """Per-row int64 views into the flat shingle array (Arrow copies
    them out before the next batch reuses the buffer)."""
    ends = np.cumsum(n_sh)
    sh_i64 = shingles.view(np.int64)
    return [sh_i64[e - n : e] for n, e in zip(n_sh, ends)]


def compute_signatures(tok_hashes: pd.Series, k: int, num_perm: int,
                       seed: int, drop: np.ndarray | None = None
                       ) -> pd.DataFrame:
    """Batch core (pure function, unit-testable without Spark).

    ``drop``: optional sorted int64 array of shingle hashes to remove
    before signature computation (the doc-frequency cut)."""
    flat, lens = _flatten(tok_hashes)
    shingles, n_sh = _window_poly(flat, lens, k)
    if drop is not None:
        shingles, n_sh = _df_cut(shingles, n_sh, drop)
    mh = _minhash_kperm_flat(shingles, n_sh, num_perm, seed)
    sh = _simhash_flat(shingles, n_sh)
    return pd.DataFrame({"shingles": _row_lists(shingles, n_sh),
                         "minhash": list(mh), "simhash": sh})


_SIG_SCHEMA = T.StructType(
    [
        T.StructField("shingles", T.ArrayType(T.LongType())),
        T.StructField("minhash", T.ArrayType(T.LongType())),
        T.StructField("simhash", T.LongType()),
    ]
)


@lru_cache(maxsize=8)
def _make_sig_udf(k: int, num_perm: int, seed: int):
    @pandas_udf(_SIG_SCHEMA)
    def _sig(tok: pd.Series) -> pd.DataFrame:
        return compute_signatures(tok, k, num_perm, seed)

    return _sig


def _make_sig_udf_dfcut(k: int, num_perm: int, seed: int, drop_bc):
    """Uncached variant closing over a broadcast of the hot-gram drop
    set (broadcast identity varies per call — lru_cache would pin a
    stale one)."""

    @pandas_udf(_SIG_SCHEMA)
    def _sig(tok: pd.Series) -> pd.DataFrame:
        return compute_signatures(tok, k, num_perm, seed, drop=drop_bc.value)

    return _sig


@lru_cache(maxsize=8)
def _make_shingle_udf(k: int):
    """Shingles-only twin of the signature UDF: the kernel's own
    window-poly hashes, without the MinHash/SimHash work."""

    @pandas_udf(T.ArrayType(T.LongType()))
    def _sh(tok: pd.Series) -> pd.Series:
        flat, lens = _flatten(tok)
        return pd.Series(_row_lists(*_window_poly(flat, lens, k)))

    return _sh


def signature_col(text_col, cfg: DedupConfig = DEFAULT_CONFIG) -> Column:
    return _make_sig_udf(cfg.shingle_k, cfg.num_perm, cfg.seed)(
        token_hashes(text_col, cfg.seed)
    )


def hot_shingle_hashes(df: DataFrame, text_col: str,
                       cfg: DedupConfig) -> np.ndarray:
    """Sorted int64 array of shingle hashes present in more than
    ``cfg.shingle_max_doc_freq`` fraction of documents.

    One distinct-grams-per-doc explode + count aggregation (map-side
    partial combine; the shuffle carries (gram, count) longs only).
    The hot set is tiny by construction — at most
    distinct_grams_per_doc / fraction entries (Zipf head), e.g. ~50k
    at 500 grams/doc and f=0.01 — so it broadcasts. At extreme scale
    the same threshold can be estimated from a corpus sample; exact
    counting is used here because it is also the oracle-checkable
    form (ngram.py max_doc_freq does the identical cut SQL-side)."""
    mod = cfg.df_sample_mod
    if mod > 1:
        # deterministic content-keyed sample (see config.df_sample_mod):
        # identical at every parallelism level, unlike F.sample
        df = df.filter(
            F.pmod(F.xxhash64(F.col(text_col), F.lit(cfg.seed)), F.lit(mod))
            == 0
        )
    n_docs = df.count()
    # floor at 1: fraction × tiny-corpus truncates to 0, which would
    # mark every gram in ≥1 doc hot and silently EMPTY every signature
    threshold = max(int(cfg.shingle_max_doc_freq * n_docs), 1)
    ex = df.select(
        F.explode(
            F.array_distinct(
                _make_shingle_udf(cfg.shingle_k)(
                    token_hashes(F.col(text_col), cfg.seed)
                )
            )
        ).alias("g")
    )
    hot = (
        ex.groupBy("g").agg(F.count("*").alias("n"))
        .filter(F.col("n") > threshold)
        .collect()
    )
    return np.sort(np.array([r["g"] for r in hot], dtype=np.int64))


# ---- drop-set store: the one owner of the committed drop set and its
# stamp rule. A base commit (plans/pipeline.py) commits the set it
# signed with; every crawl fold (plans/incremental.py) MUST sign its
# delta with it: a delta-derived set cuts a different gram population,
# and signatures over different gram sets neither band-collide nor
# Jaccard-compare. The set is trusted only while its stamp equals the
# base stamp below.
_DROP_SET_TABLE = "hot_shingles"
_STAMP_KEYS = ("config", "n_docs", "input_hash")


def base_stamp(catalog) -> dict:
    """Stamp of the base commit the committed signatures descend from:
    a base commit's top-level stamp, or the ``base`` a fold carried
    forward. Folds commit ``{"base": base_stamp(catalog)}``, never
    top-level stamp keys, so the batch plan's resume never takes a
    folded snapshot for a fresh base."""
    m = catalog.latest_meta("signatures")
    return m.get("base") or {k: m.get(k) for k in _STAMP_KEYS}


def commit_drop_set(catalog, spark, hot: np.ndarray, meta: dict) -> None:
    """Commit a base run's drop set under its signatures' stamp. Call
    AFTER the signatures commit: a crash during the signature scan
    must not leave a new-stamp set beside old signatures."""
    catalog.write(_DROP_SET_TABLE, spark.createDataFrame(
        [(int(x),) for x in hot], "h long"), meta=meta)


def committed_drop_set(catalog, spark, cfg: DedupConfig,
                       base: dict) -> np.ndarray | None:
    """The drop set a fold signs with: None without the cut; else the
    committed set if its stamp matches ``base``, or None after a
    warning (a stale set would diverge from the committed signatures;
    ``with_signatures`` then derives one from the delta)."""
    if cfg.shingle_max_doc_freq is None:
        return None
    if catalog.has(_DROP_SET_TABLE):
        hm = catalog.latest_meta(_DROP_SET_TABLE)
        if all(hm.get(k) == base.get(k) for k in _STAMP_KEYS):
            rows = catalog.read(spark, _DROP_SET_TABLE).collect()
            return np.sort(np.array([r["h"] for r in rows], dtype=np.int64))
    print("acxspark.incremental: shingle_max_doc_freq set but no committed "
          "hot_shingles snapshot matches the signatures stamp — falling "
          "back to a DELTA-derived drop set, which may diverge from the "
          "base signatures (re-run the full pipeline with a catalog to "
          "commit a coherent one)", file=sys.stderr)
    return None


def with_signatures(df: DataFrame, text_col: str = "text",
                    cfg: DedupConfig = DEFAULT_CONFIG,
                    id_col: str = "url",
                    hot_hashes: np.ndarray | None = None) -> DataFrame:
    """(id, shingles, minhash, simhash) — the one signature scan the
    whole pipeline shares.

    With ``cfg.shingle_max_doc_freq`` set this becomes EAGER (one
    count job + one gram-frequency aggregation at call time) and every
    downstream tier — LSH bands, exact-Jaccard verify, SimHash — runs
    on the doc-frequency-cut shingle multiset, which is the point:
    boilerplate grams stop synchronizing MinHash minima across
    unrelated documents, so band buckets stop growing linearly with
    corpus size (the mid-size quadratic candidate ramp).

    ``hot_hashes``: a PRE-COMPUTED sorted drop set to use instead of
    deriving one from ``df`` — a fold passes the base's committed set
    (:func:`committed_drop_set`)."""
    if cfg.shingle_max_doc_freq is None:
        sig = signature_col(F.col(text_col), cfg)
    else:
        drop = hot_hashes if hot_hashes is not None \
            else hot_shingle_hashes(df, text_col, cfg)
        drop_bc = df.sparkSession.sparkContext.broadcast(drop)
        sig = _make_sig_udf_dfcut(
            cfg.shingle_k, cfg.num_perm, cfg.seed, drop_bc
        )(token_hashes(F.col(text_col), cfg.seed))
    return df.select(F.col(id_col), sig.alias("_sig")).select(
        id_col,
        F.col("_sig.shingles").alias("shingles"),
        F.col("_sig.minhash").alias("minhash"),
        F.col("_sig.simhash").alias("simhash"),
    )
