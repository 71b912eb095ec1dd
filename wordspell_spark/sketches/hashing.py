"""Vectorized 64-bit hashing shared by every sketch kernel.

Design notes
------------
The reference (cannonflesh/wordspell) delegates hashing to
``bits-and-blooms/bloom`` (murmur-based, see go.mod:12).  We need a hash that

* is **vectorized** over numpy/pandas arrays (no per-row Python — mandated by
  BASELINE.json ``input_hint``),
* is **deterministic across processes and sessions** (sketch payloads are
  persisted and merged later; executor != driver),
* supports **k derived hash functions** via Kirsch–Mitzenmacher double
  hashing: ``g_i(x) = h1(x) + i * h2(x)  (mod m)``.

``pandas.util.hash_array`` (SipHash-1-3 with a caller-fixed 16-byte key,
implemented in C) satisfies all three for str/bytes/object arrays, and its
numeric path is a stable bit-mix.  ``h2`` is derived from ``h1`` with
splitmix64 and forced odd, which keeps the double-hash family well distributed
for power-of-two and prime table sizes alike.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

# Fixed keys: these are part of the on-disk sketch format. NEVER change them
# without bumping the payload version (see serde.py).
_HASH_KEY_1 = "wordspell-spark01"[:16]
_U64 = np.uint64


def _as_hashable_array(values) -> np.ndarray:
    """Normalize input to something pandas.util.hash_array accepts."""
    arr = np.asarray(values)
    if arr.dtype == object:
        return arr
    if arr.dtype.kind in ("i", "u"):
        # Single canonical integer width so int32 token ids and int64 ids of
        # equal value hash identically.
        return arr.astype(np.uint64, copy=False)
    if arr.dtype.kind == "f":
        return arr.astype(np.float64, copy=False)
    if arr.dtype.kind in ("U", "S"):
        return arr.astype(object)
    return arr


def hash64(values) -> np.ndarray:
    """Primary 64-bit hash of an array of str/bytes/int/float values.  An
    int held in an object array gets the key it has in an int array."""
    arr = _as_hashable_array(values)
    if arr.size == 0:
        return np.empty(0, dtype=_U64)
    if arr.dtype != object:
        return pd.util.hash_array(arr, hash_key=_HASH_KEY_1)
    out = pd.util.hash_array(arr, hash_key=_HASH_KEY_1, categorize=False)
    if "integer" in pd.api.types.infer_dtype(arr, skipna=True):
        ints = np.fromiter((isinstance(v, (int, np.integer)) and not isinstance(v, bool) for v in arr), bool, arr.size)
        out[ints] = hash64(np.fromiter((int(v) & 0xFFFF_FFFF_FFFF_FFFF for v in arr[ints]), _U64, ints.sum()))
    return out


def distinct_hashes(values) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Dedupe the raw values once, then hash only the distinct ones.

    Returns ``(uniq, keys, counts)``, aligned: each distinct value, its
    ``hash64`` key and its multiplicity.  The (key, count) pairs are the
    same multiset as hashing every value and counting the hashes, at the
    cost of hashing the distinct set only (Zipfian batches are mostly
    repeats).  One call per value column serves every value-keyed kind:
    bloom / hll / cms / theta read the keys and counts, freq the values and
    counts, sample the values and keys.  Numbers dedupe with ``np.unique``
    on what ``hash64`` hashes: floats on the raw float64 bit pattern, so
    +0.0 / -0.0 and distinct NaN payloads stay apart.  Other types dedupe
    with one ``pd.factorize`` pass; nulls come last, one entry per distinct
    null key, with the key ``hash64`` gives them (the value kinds skip
    them).  Keys can repeat: two distinct values whose 64-bit hashes
    collide give the same key twice.
    """
    vals = np.asarray(values)
    if vals.dtype.kind == "f":
        bits = np.ascontiguousarray(vals, dtype=np.float64).view(_U64)
        uniq, counts = np.unique(bits, return_counts=True)
        uniq = uniq.view(np.float64)
        return uniq, hash64(uniq), counts
    if vals.dtype.kind in "iu":
        uniq, counts = np.unique(vals, return_counts=True)
        return uniq, hash64(uniq), counts
    codes, uniq = pd.factorize(vals)
    keys, counts = hash64(uniq), np.bincount(codes[codes >= 0], minlength=len(uniq))
    null = codes < 0
    if null.any():
        nulls = vals[null]
        null_keys, first, null_counts = np.unique(hash64(nulls), return_index=True, return_counts=True)
        uniq = np.concatenate([np.asarray(uniq, dtype=object), nulls[first]])
        keys, counts = np.concatenate([keys, null_keys]), np.concatenate([counts, null_counts])
    return uniq, keys, counts


def unique_hashes(values) -> tuple[np.ndarray, np.ndarray]:
    """``distinct_hashes`` for the kinds that read hashes only:
    ``(keys, counts)``."""
    return distinct_hashes(values)[1:]


def normalize_items(uniq: np.ndarray) -> list:
    """Canonical python int/str items for value-carrying sketch kinds
    (freq, sample).  One definition so the normalization rules — and the
    values they feed to ``hash64`` — can never diverge between kinds."""
    if uniq.dtype.kind in "iu":
        return [int(v) for v in uniq]
    if uniq.dtype.kind in "US":
        return [str(v) for v in uniq]
    if uniq.dtype == object:
        out = []
        for v in uniq:
            if isinstance(v, (int, np.integer)):
                out.append(int(v))
            elif isinstance(v, (str, np.str_)):
                out.append(str(v))
            elif isinstance(v, bytes):
                out.append(v.decode("utf-8"))
            else:
                raise TypeError(f"sketch supports int/str items, got {type(v)}")
        return out
    raise TypeError(f"sketch supports int/str items, got dtype {uniq.dtype}")


_KMV_FULL_SCALE = 2.0**64


def kmv_estimate(hashes: np.ndarray, k: int) -> float:
    """Bottom-k distinct-count estimator shared by theta and sample:
    exact below k, else (k-1) * 2^64 / k-th smallest hash."""
    if hashes.size < k:
        return float(hashes.size)
    return (k - 1) * _KMV_FULL_SCALE / float(hashes[-1])


def kmv_rse(hashes: np.ndarray, k: int) -> float:
    """Published bound 1/sqrt(k-2); 0 in exact mode."""
    if hashes.size < k:
        return 0.0
    return 1.0 / ((k - 2) ** 0.5)


def splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant mix)."""
    x = x.astype(_U64, copy=True)
    x += _U64(0x9E3779B97F4A7C15)
    z = x
    z = (z ^ (z >> _U64(30))) * _U64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U64(27))) * _U64(0x94D049BB133111EB)
    z = z ^ (z >> _U64(31))
    return z


def double_hash(values) -> tuple[np.ndarray, np.ndarray]:
    """Return (h1, h2) with h2 odd — basis for k derived hash functions."""
    h1 = hash64(values)
    h2 = splitmix64(h1) | _U64(1)
    return h1, h2


def fnv_columns(column, width: int, valid_len: np.ndarray) -> np.ndarray:
    """FNV-1a-style 64-bit hash of rows given column by column: ``column(j)``
    is cell j of every row (j < ``width``), and row i hashes its length,
    then its first ``valid_len[i]`` cells, so padding never affects the
    hash and prefixes hash differently from padded equals."""
    fnv_prime = _U64(0x100000001B3)
    h = (np.full(valid_len.size, _U64(0xCBF29CE484222325)) ^ valid_len.astype(_U64)) * fnv_prime
    for j in range(min(width, int(valid_len.max(initial=0)))):
        h = np.where(valid_len > j, (h ^ column(j)) * fnv_prime, h)
    return splitmix64(h)


def row_hash_u32_matrix(mat: np.ndarray, valid_len: np.ndarray | None = None) -> np.ndarray:
    """``fnv_columns`` hash of each ROW of a (n, L) uint32 matrix.

    Used for hashing variable-length codepoint / token-id sequences (e.g. the
    SymSpell deletion neighborhood, reference
    components/wordmutate/component.go:30-66) without materializing Python
    strings.  Loops over L columns (small, ≤ max word length 24 — reference
    cap at component.go:32), fully vectorized over the n rows.
    ``valid_len[i]`` = number of meaningful leading cells in row i (all L
    by default).
    """
    n, width = mat.shape
    if valid_len is None:
        valid_len = np.full(n, width, dtype=np.int64)
    return fnv_columns(lambda j: mat[:, j], width, valid_len)
