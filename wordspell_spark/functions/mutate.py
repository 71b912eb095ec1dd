"""SymSpell mutation kernels — vectorized candidate generation (G1-G3).

Parity target: /root/reference/components/wordmutate/component.go.
Semantics reproduced exactly:

* ``Deletes(w)``: [w, all 1-rune deletions in position order, then for each
  1-deletion in order its 1-deletions]; nil if len==1 or len>24; len==2 →
  [w, first rune, second rune] (component.go:30-66).  Duplicates kept.
* ``InsertRune{Ru,En}``: one rune of the language alphabet at every position
  0..len, positions outer, alphabet inner (component.go:68-96); alphabets
  ru=33+hyphen (34), en=26+hyphen+backtick+quote (29) (component.go:23-28).
* ``InsertSpace``: positions 1..len-1 (component.go:98-109).

Vectorization: words are encoded once as numpy ``U24`` (UTF-32) and viewed as
an (n, 24) uint32 codepoint matrix; deletions/insertions are column slices (the
query-side deletes one column gather) and the results are viewed back as
strings (numpy NUL-terminates on view), so candidate generation is loops over
≤24 positions — never over rows
(input_hint: no per-row Python).  The corpus-scale Bloom build path skips
strings entirely and hashes candidate rows directly
(hashing.row_hash_u32_matrix).
"""

from __future__ import annotations

import numpy as np

from ..sketches.hashing import row_hash_u32_matrix

MAX_WORD_LEN = 24  # component.go:32 cap: bounds fan-out to ≤577 deletes

RU_ALPHABET = "абвгдеёжзийклмнопрстуфхцчшщъыьэюя-"  # component.go:25
EN_ALPHABET = "abcdefghijklmnopqrstuvwxyz-`'"  # component.go:26


def encode_words(words: np.ndarray, max_len: int = MAX_WORD_LEN) -> tuple[np.ndarray, np.ndarray]:
    """Object array of str → ((n, max_len) uint32 codepoint matrix, lengths).

    Words longer than max_len get length 0 (excluded from mutation, same as
    the reference returning nil).
    """
    arr = np.asarray(words, dtype=object)
    lens = np.array([len(w) for w in arr], dtype=np.int64)
    u = arr.astype(f"U{max_len}")
    mat = u.view(np.uint32).reshape(len(arr), max_len).copy()
    lens = np.where(lens > max_len, 0, lens)
    return mat, lens


def decode_rows(mat: np.ndarray) -> np.ndarray:
    """(n, L) uint32 codepoint matrix → object array of str (NUL-truncated)."""
    n, width = mat.shape
    return np.ascontiguousarray(mat).view(f"U{width}").reshape(n).astype(object)


def _delete_col(mat: np.ndarray, p: int) -> np.ndarray:
    """Remove column p, pad a trailing NUL column (keeps width constant)."""
    n = mat.shape[0]
    return np.concatenate([mat[:, :p], mat[:, p + 1 :], np.zeros((n, 1), dtype=np.uint32)], axis=1)


def deletion_hashes(mat: np.ndarray, lens: np.ndarray, include_self: bool = True) -> np.ndarray:
    """64-bit hashes of the SET of ≤2-rune deletions of each row, flattened.

    Corpus-scale Bloom-build path (A4, /root/reference/builder.go:97-119):
    only hashes, no strings.  Rows with len==1 / len==0 (too long) produce
    nothing; len==2 produces [w, c0, c1] per the reference special case.
    Duplicate candidates are harmless for Bloom insertion.
    """
    out = []
    width = mat.shape[1]
    eligible = (lens >= 2) & (lens <= width)
    if include_self:
        out.append(row_hash_u32_matrix(mat[eligible], lens[eligible]))
    # 1-deletions: delete original position p (valid when p < len)
    for p in range(width):
        mask = eligible & (lens > p)
        if not mask.any():
            continue
        out.append(row_hash_u32_matrix(_delete_col(mat[mask], p)[:, :width], lens[mask] - 1))
    # 2-deletions: delete original positions p < q; only rows with len >= 3
    for p in range(width):
        for q in range(p + 1, width):
            mask = eligible & (lens >= 3) & (lens > q)
            if not mask.any():
                continue
            m2 = _delete_col(_delete_col(mat[mask], q), p)[:, :width]
            out.append(row_hash_u32_matrix(m2, lens[mask] - 2))
    if not out:
        return np.empty(0, dtype=np.uint64)
    return np.concatenate(out)


def _deletion_ops(width: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The ≤2-deletions of a ``width``-rune row in Deletes() order, as
    (need, del_ord, cols): op i applies to rows of ≥ ``need[i]`` runes and
    reads source columns ``cols[i]`` (``width`` = a NUL pad column)."""
    keep = [list(range(width))]
    need, ords = [2], [0]
    # 1-deletions: ord = 1 + p
    for p in range(width):
        keep.append([c for c in range(width) if c != p])
        need.append(max(2, p + 1))
        ords.append(1 + p)
    # 2-deletions: ord = 1 + width + (p * width + q2) where q2 is the
    # position deleted in the second pass (order within deleteRune of the
    # 1-del), q its original index
    for p in range(width):
        for q2 in range(width - 1):
            q = q2 if q2 < p else q2 + 1
            keep.append([c for c in range(width) if c not in (p, q)])
            need.append(max(3, max(p, q) + 1))
            ords.append(1 + width + p * width + q2)
    cols = np.array([k + [width] * (width - len(k)) for k in keep], dtype=np.int32)
    return np.array(need), np.array(ords, dtype=np.int64), cols


_DELETE_OPS = _deletion_ops(MAX_WORD_LEN)


def delete_candidates(words: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Query-side Deletes(): strings with generation order.

    Returns (word_idx, del_ord, candidate) flat arrays.  del_ord reproduces
    the reference's sequential order: 0 = the word itself, then 1-deletions
    by position, then 2-deletions in (first-del, second-del) order — O3
    first-hit-wins ranking keys off this.  Rows come ordered by del_ord,
    then word; all of them are cut from the codepoint matrix by one gather.
    """
    mat, lens = encode_words(words)
    need, ords, cols = _DELETE_OPS
    op, row = np.nonzero(lens[None, :] >= need[:, None])
    padded = np.concatenate([mat, np.zeros((len(mat), 1), dtype=np.uint32)], axis=1)
    return row, ords[op], decode_rows(padded[row[:, None], cols[op]])


def one_deletions(words: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Every 1-deletion of every word of ≤ ``MAX_WORD_LEN + 1`` runes.

    Returns (word_idx, pos, rune, key) flat arrays, one row per rune of each
    such word (Σ len(w) rows): ``key`` is the word without its rune at
    ``pos``, ``rune`` that rune's codepoint.  Read backwards, a row says the
    word is ``key`` with ``rune`` inserted at ``pos`` — the index side of
    ``insert_candidates``.
    """
    mat, lens = encode_words(words, MAX_WORD_LEN + 1)
    width = mat.shape[1]
    idx_out, pos_out, rune_out, key_out = [], [], [], []
    for p in range(width):
        rows = np.flatnonzero(lens > p)
        if not rows.size:
            continue
        idx_out.append(rows)
        pos_out.append(np.full(rows.size, p, dtype=np.int64))
        rune_out.append(mat[rows, p])
        key_out.append(decode_rows(_delete_col(mat[rows], p)))
    if not idx_out:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.uint32), np.empty(0, dtype=object))
    return np.concatenate(idx_out), np.concatenate(pos_out), np.concatenate(rune_out), np.concatenate(key_out)


def alphabet_codes(alphabet: str) -> np.ndarray:
    return np.array([ord(c) for c in alphabet], dtype=np.uint32)


def insert_candidates(words: np.ndarray, alphabet: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """1-rune insertions at every position (G2).

    Returns (word_idx, ins_ord, candidate); ins_ord = position * |alphabet| +
    alphabet_index (reference loop order, component.go:68-96).
    """
    arr = np.asarray(words, dtype=object)
    mat, lens = encode_words(arr, MAX_WORD_LEN + 2)
    width = mat.shape[1]
    codes = alphabet_codes(alphabet)
    a = codes.size
    idx_out, ord_out, cand_out = [], [], []
    for i in range(width):
        mask = lens >= i  # insert position valid at 0..len
        if not mask.any():
            continue
        sub = mat[mask]
        n = sub.shape[0]
        # build (n*a, width) candidates: prefix, char, suffix
        expanded = np.repeat(sub, a, axis=0)
        cand = np.concatenate(
            [expanded[:, :i], np.tile(codes, n)[:, None], expanded[:, i : width - 1]], axis=1
        )
        rows = np.repeat(np.flatnonzero(mask), a)
        orders = i * a + np.tile(np.arange(a, dtype=np.int64), n)
        idx_out.append(rows)
        ord_out.append(orders)
        cand_out.append(decode_rows(cand))
    return np.concatenate(idx_out), np.concatenate(ord_out), np.concatenate(cand_out)


def split_candidates(words: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Space insertions at positions 1..len-1 (G3, component.go:98-109).

    Returns (word_idx, split_pos, candidate) — candidate is "left right".
    """
    arr = np.asarray(words, dtype=object)
    mat, lens = encode_words(arr, MAX_WORD_LEN + 2)
    width = mat.shape[1]
    space = np.uint32(ord(" "))
    idx_out, pos_out, cand_out = [], [], []
    for i in range(1, width - 1):
        mask = lens > i
        if not mask.any():
            continue
        sub = mat[mask]
        n = sub.shape[0]
        cand = np.concatenate(
            [sub[:, :i], np.full((n, 1), space, dtype=np.uint32), sub[:, i : width - 1]], axis=1
        )
        idx_out.append(np.flatnonzero(mask))
        pos_out.append(np.full(n, i, dtype=np.int64))
        cand_out.append(decode_rows(cand))
    if not idx_out:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64), np.empty(0, dtype=object))
    return np.concatenate(idx_out), np.concatenate(pos_out), np.concatenate(cand_out)
