"""Pure-Python reference math for the signature kernel, the bucket
pair generators and the containment check — the per-row oracles the
fused Arrow kernel (acxspark/operators/signatures.py), the Spark
bucket paths (acxspark/operators/lsh.py, simhash.py, ann.py) and the
codegen substring filter (acxspark/operators/verify.py) are pinned
against.

Everything here is plain integer arithmetic mod 2^64 over Python ints
or plain string search, one row at a time, so it shares no code path
with what it checks.
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


def _inner_outer(a, b, min_inner_chars: int):
    """(inner, outer) of a candidate pair — the shorter text is inner,
    text a on equal lengths — or None when the pair cannot be a
    containment (a NULL text, or an inner under ``min_inner_chars``)."""
    if a is None or b is None:
        return None
    inner, outer = (a, b) if len(a) <= len(b) else (b, a)
    if len(inner) < min_inner_chars:
        return None
    return inner, outer


def contains_scan(a, b, min_inner_chars: int = 64) -> bool:
    """Containment by CPython's substring search (``inner in outer``)."""
    io = _inner_outer(a, b, min_inner_chars)
    return io is not None and io[0] in io[1]


def suffix_array(s: str) -> list[int]:
    """O(n log² n) prefix-doubling suffix array over code points."""
    n = len(s)
    sa = list(range(n))
    rank = [ord(c) for c in s]
    k = 1
    while n:
        def key(i):
            return rank[i], rank[i + k] if i + k < n else -1
        sa.sort(key=key)
        tmp = [0] * n
        for j in range(1, n):
            tmp[sa[j]] = tmp[sa[j - 1]] + (key(sa[j]) != key(sa[j - 1]))
        rank = tmp
        if rank[sa[-1]] == n - 1:
            break
        k <<= 1
    return sa


def contains_suffix_array(a, b, min_inner_chars: int = 64) -> bool:
    """Containment by binary search for the inner text among the
    prefixes of the outer text's suffixes."""
    io = _inner_outer(a, b, min_inner_chars)
    if io is None:
        return False
    inner, outer = io
    sa = suffix_array(outer)
    lo, hi, m = 0, len(sa), len(inner)
    while lo < hi:
        mid = (lo + hi) // 2
        if outer[sa[mid]: sa[mid] + m] < inner:
            lo = mid + 1
        else:
            hi = mid
    return lo < len(sa) and outer[sa[lo]: sa[lo] + m] == inner
