"""Pure-Python reference math for the signature kernel and the bucket
pair generators — the per-row oracles the fused Arrow kernel
(acxspark/operators/signatures.py) and the Spark bucket paths
(acxspark/operators/lsh.py, simhash.py, ann.py) are pinned against.

Everything here is plain integer arithmetic mod 2^64 over Python ints,
one row at a time, so it shares no code path with what it checks.
"""

from __future__ import annotations

from collections import defaultdict
from itertools import combinations

M64 = (1 << 64) - 1
B = 0x9E3779B97F4A7C15  # window-poly base
I64MAX = (1 << 63) - 1


def to_i64(u: int) -> int:
    """Reinterpret an unsigned 64-bit value as a signed long."""
    u &= M64
    return u - (1 << 64) if u >= (1 << 63) else u


def window_poly_shingles(tokens: list[int], k: int) -> list[int]:
    """Unsigned k-window hashes Σ_j t[i+j]·B^j mod 2^64, in window
    order (a multiset). A row shorter than k gives ONE shingle over all
    its tokens; an empty row gives none."""
    t = [x & M64 for x in tokens]
    if not t:
        return []
    w = min(k, len(t))
    out = []
    for i in range(len(t) - w + 1):
        h, mult = 0, 1
        for j in range(w):
            h = (h + t[i + j] * mult) & M64
            mult = (mult * B) & M64
        out.append(h)
    return out


def kperm_minhash(shingles: list[int], a, b) -> list[int]:
    """Signature j = min over DISTINCT shingles x of (a_j·x + b_j) mod
    2^64 (unsigned), as signed longs; an empty row is all I64MAX."""
    if not shingles:
        return [I64MAX] * len(a)
    xs = set(shingles)
    return [to_i64(min((int(aj) * x + int(bj)) & M64 for x in xs))
            for aj, bj in zip(a, b)]


def simhash_bytewise(shingles: list[int]) -> int:
    """SimHash over the shingle MULTISET in the kernel's bit convention:
    fingerprint bit p votes on logical shingle bit 8·(p//8) + 7 − p%8
    (little-endian bytes, most significant bit first). Ties vote 0; an
    empty row is 0."""
    n = len(shingles)
    fp = 0
    for p in range(64):
        bit = 8 * (p // 8) + 7 - p % 8
        ones = sum((x >> bit) & 1 for x in shingles)
        if 2 * ones > n:
            fp |= 1 << p
    return to_i64(fp)


def bucket_pairs(members, cap: int) -> set[tuple]:
    """(a, b) pairs with a < b that share a key whose bucket holds 2..cap
    members. ``members`` is an iterable of (id, key)."""
    buckets = defaultdict(set)
    for i, key in members:
        buckets[key].add(i)
    out = set()
    for ids in buckets.values():
        if 2 <= len(ids) <= cap:
            out.update(combinations(sorted(ids), 2))
    return out
