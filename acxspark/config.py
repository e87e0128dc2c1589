"""Frozen dedup configuration.

BASELINE.json demands dup-pair recall >= 0.99 "at identical
shingle/signature config" — so the config is a frozen, hashable
dataclass whose fingerprint is recorded in lineage/metrics, making
"identical config" checkable rather than aspirational.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import asdict, dataclass, field


@dataclass(frozen=True)
class DedupConfig:
    """All knobs of the near-duplicate pipeline, pinned.

    MinHash/LSH parameterization: ``num_perm = bands * rows_per_band``.
    The LSH S-curve threshold is approximately ``(1/bands)**(1/rows)``;
    with bands=32, rows=4 the curve crosses ~0.42, giving collision
    probability > 0.9999 for pairs at Jaccard >= 0.8 — comfortably
    above the 0.99 recall gate for near-dups planted at 1-5%% token
    edits (Jaccard ~0.85+, FIXTURES.md §2).
    """

    # shingling
    shingle_k: int = 3            # word k-grams
    # MinHash
    num_perm: int = 128
    lsh_bands: int = 32
    lsh_rows: int = 4             # num_perm == lsh_bands * lsh_rows
    # SimHash (64-bit fingerprints: operators/signatures.py)
    simhash_tables: int = 4       # bit-chunk tables for Hamming-ball probe
    simhash_max_hamming: int = 3  # pigeonhole: d < tables ⇒ one chunk equal
    # verification. τ is on SHINGLE-level Jaccard: a 5% token-edit dup
    # destroys ~k shingles per edit, so token-level 95% similarity ≈
    # shingle Jaccard (1-0.15)/(1+0.15) ≈ 0.74; τ=0.68 keeps those
    # (recall gate) while random same-vocab docs sit far below.
    jaccard_threshold: float = 0.68
    # skew control for hot LSH bands (boilerplate shingles): bands
    # larger than this are dropped from pair generation, which also
    # bounds every pair-emitting task at cap²/2 rows (operators/lsh.py)
    max_band_size: int = 200
    # skew control for hot SimHash chunk buckets: a 16-bit chunk key
    # space (64 bits / 4 tables) caps out at 65k distinct buckets per
    # table — at 10^12 docs the mean bucket is ~1.5e7 rows and the
    # self-join is O(bucket²). Buckets above this are dropped from
    # pair generation. This is a recall/scale TRADEOFF, not free:
    # pigeonhole only guarantees ONE matching chunk at d <= 3 with 4
    # tables, so a pair whose sole clean chunk lands in a capped
    # bucket is lost from the SimHash tier (the MinHash/LSH tier can
    # still catch it, probabilistically). Rows dropped by the cap are
    # observable via the simhash_band_rows lineage counter.
    max_chunk_bucket: int = 1000
    # shingle-level doc-frequency cut (the ngram tier's max_doc_freq
    # generalized to the MinHash/SimHash tiers): shingles present in
    # more than this FRACTION of documents are dropped before
    # signature computation, so boilerplate grams stop colliding
    # whole crawl segments into the same LSH bands — the structural
    # fix for the mid-size quadratic candidate ramp (docs/SCALE.md).
    # None = off (the frozen oracle-parity default). Enabling it makes
    # with_signatures EAGER (one count job + one gram-frequency agg).
    shingle_max_doc_freq: float | None = None
    # doc-frequency ESTIMATION sample: count gram frequencies on the
    # 1/df_sample_mod fraction of docs whose xxhash64(text) ≡ 0
    # (mod df_sample_mod). Content-keyed, so the sample — and hence
    # the hot set, the signatures, and the survivors — is identical
    # at every parallelism level (a row-position sample would break
    # the determinism invariant). A gram at the f threshold appears
    # f·n/mod times in the sample; with f=0.01 and mod=10 that is
    # thousands of occurrences at any realistic corpus size, so the
    # estimate is tight while the agg pass shrinks ~mod×. 1 = exact.
    df_sample_mod: int = 1
    # determinism
    seed: int = 42
    # large-scale guards (reference 1 MiB record cap, storage.cpp:516)
    max_text_bytes: int = 1 << 20
    # incremental-fold batch budget (streaming/ingest.fold_batch): the
    # incremental plan force-broadcasts delta-sized tables (urls,
    # band keys — ~32 longs/doc), which is only valid under its
    # delta ≪ corpus contract; a single oversized micro-batch blows
    # the driver's broadcast build (measured: a 1.28M-doc batch OOMs
    # the BroadcastExchange at 8 cores while 320k folds fine).
    # Batches above this row count are deterministically split by
    # pmod(xxhash64(url), k) and folded as k sequential sub-batches —
    # identical semantics to the source having delivered k files.
    # 0 disables the split.
    incr_max_batch_rows: int = 400_000

    def __post_init__(self) -> None:
        if self.num_perm != self.lsh_bands * self.lsh_rows:
            raise ValueError(
                f"num_perm ({self.num_perm}) must equal "
                f"lsh_bands*lsh_rows ({self.lsh_bands}*{self.lsh_rows})"
            )
        if self.simhash_max_hamming >= self.simhash_tables:
            raise ValueError(
                "simhash_max_hamming must be < simhash_tables for the "
                "pigeonhole chunk-probe to be exhaustive"
            )

    def fingerprint(self) -> str:
        """Stable hash of the full config PLUS the signature-kernel
        algorithm version — recorded in lineage and compared by every
        snapshot-resume stamp. The version term makes snapshots from a
        code revision whose kernels produce DIFFERENT VALUES for the
        same config read as stale-and-recompute instead of silently
        mixing incompatible signatures in an incremental run."""
        from acxspark.operators.signatures import SIG_ALGO_VERSION

        blob = json.dumps(
            {**asdict(self), "_sig_algo": SIG_ALGO_VERSION}, sort_keys=True
        ).encode()
        return hashlib.sha256(blob).hexdigest()[:16]


DEFAULT_CONFIG = DedupConfig()
