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

Every mutation is an op table over a codepoint matrix: words are encoded
once as numpy ``U{width}`` (UTF-32) and viewed as an (n, width) uint32
matrix with a NUL column appended; an op lists the source columns of one
output row, so the candidates of all words come from one gather, viewed
back as strings (numpy NUL-terminates on view) — no per-row Python.
``_DELETE_OPS`` is the one definition of a deletion: ``delete_candidates``
gathers its ops, and ``delete_hashes`` hashes them column by column, for
the Bloom build (``deletion_hashes``) and the query's gate alike, so the
Bloom holds exactly the keys the gate tests.
"""

from __future__ import annotations

import numpy as np

from ..sketches.hashing import fnv_columns

MAX_WORD_LEN = 24  # component.go:32 cap: bounds fan-out to ≤577 deletes
_WIDE = MAX_WORD_LEN + 2  # the two-inserts of a 24-rune delete

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


def _pad(mat: np.ndarray) -> np.ndarray:
    """``mat`` with one NUL column appended: the source of every cell an op
    leaves empty."""
    return np.concatenate([mat, np.zeros((len(mat), 1), dtype=np.uint32)], axis=1)


def _gather(mat: np.ndarray, row: np.ndarray, cols: np.ndarray) -> np.ndarray:
    """Output row i reads row ``row[i]`` of ``_pad(mat)`` through its
    source columns ``cols[i]``: one gather from the flat matrix."""
    return _pad(mat).ravel()[(row * (mat.shape[1] + 1))[:, None] + cols]


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
# runes an op deletes (its NUL pad columns), and the first op of each column
# set: the row itself, its 1-deletions, its 2-deletions with p < q
_DELETED = (_DELETE_OPS[2] == MAX_WORD_LEN).sum(axis=1)
_DISTINCT_OPS = np.sort(np.unique(_DELETE_OPS[2], axis=0, return_index=True)[1])
# words per block of ``deletion_hashes``: bounds its per-(word, op) arrays
_BLOCK_WORDS = 256


def deletion_hashes(mat: np.ndarray, lens: np.ndarray) -> np.ndarray:
    """64-bit keys of the SET of ≤2-rune deletions of each row, flattened.

    Corpus-scale Bloom-build path (A4, the reference's builder.go:97-119):
    the distinct ops of ``_DELETE_OPS`` through ``delete_hashes``, no
    strings, ``_BLOCK_WORDS`` words at a time.  Rows with len==1 / len==0
    (too long) produce nothing; len==2 produces [w, c0, c1] per the
    reference special case.  Duplicate keys (the 1-deletions of a doubled
    rune) are harmless for Bloom insertion.
    """
    need, ords = _DELETE_OPS[0][_DISTINCT_OPS], _DELETE_OPS[1][_DISTINCT_OPS]
    # keys come op-major (op, then row), as from one pass over all words:
    # op o fills per_op[o] slots, and each block writes its cnt[o] keys of
    # op o at the next free one, start[o]
    per_op = np.cumsum(np.bincount(lens, minlength=MAX_WORD_LEN + 1)[::-1])[::-1][need]
    start = np.cumsum(per_op) - per_op
    out = np.empty(per_op.sum(), dtype=np.uint64)
    for s in range(0, lens.size, _BLOCK_WORDS):
        block = slice(s, s + _BLOCK_WORDS)
        fits = lens[None, block] >= need[:, None]
        op, row = np.nonzero(fits)
        cnt = fits.sum(axis=1)
        at = np.arange(op.size) + np.repeat(start - (np.cumsum(cnt) - cnt), cnt)
        out[at] = delete_hashes(mat[block], lens[block], row, ords[op])
        start += cnt
    return out


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
    return row, ords[op], decode_rows(_gather(mat, row, cols[op]))


def delete_hashes(mat: np.ndarray, lens: np.ndarray, row: np.ndarray, del_ord: np.ndarray) -> np.ndarray:
    """``row_hash_u32_matrix`` keys of the deletes (``row``, ``del_ord``)
    of ``encode_words`` output — the rows of ``delete_candidates`` — read
    column by column from the padded matrix, without building the deletes:
    the Bloom build's keys and the ones the query's gate tests."""
    _, ords, cols = _DELETE_OPS
    op = np.searchsorted(ords, del_ord)
    flat, at = _pad(mat).ravel(), row * (MAX_WORD_LEN + 1)
    return fnv_columns(lambda j: flat[at + cols[op, j]], MAX_WORD_LEN, lens[row] - _DELETED[op])


def one_deletions(words: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Every 1-deletion of every word of ≤ ``MAX_WORD_LEN + 2`` runes.

    Returns (word_idx, pos, rune, key) flat arrays, one row per rune of each
    such word (Σ len(w) rows): ``key`` is the word without its rune at
    ``pos``, ``rune`` that rune's codepoint.  Read backwards, a row says the
    word is ``key`` with ``rune`` inserted at ``pos`` — the index side of
    ``insert_candidates``, for keys up to the 25-rune one-inserts of a
    24-rune delete.  A loop over positions: one gather measured slower here.
    """
    mat, lens = encode_words(words, _WIDE)
    idx_out, pos_out, rune_out, key_out = [], [], [], []
    for p in range(_WIDE):
        rows = np.flatnonzero(lens > p)
        if not rows.size:
            continue
        idx_out.append(rows)
        pos_out.append(np.full(rows.size, p, dtype=np.int64))
        rune_out.append(mat[rows, p])
        key_out.append(decode_rows(np.delete(mat[rows], p, axis=1)))
    if not idx_out:
        return (np.empty(0, dtype=np.int64), np.empty(0, dtype=np.int64),
                np.empty(0, dtype=np.uint32), np.empty(0, dtype=object))
    return np.concatenate(idx_out), np.concatenate(pos_out), np.concatenate(rune_out), np.concatenate(key_out)


def alphabet_codes(alphabet: str) -> np.ndarray:
    return np.array([ord(c) for c in alphabet], dtype=np.uint32)


# _INSERT_OPS[i]: source columns of a ``_WIDE``-column row with one cell
# inserted at position i; the new cell reads the NUL pad column and is then
# overwritten with the inserted rune
_INSERT_OPS = np.array([np.insert(np.arange(_WIDE), i, _WIDE) for i in range(_WIDE + 1)], dtype=np.int32)


def _insertions(words: np.ndarray, runes: np.ndarray, lo: int, hi: int):
    """Each of ``runes`` inserted at positions ``lo..len - hi`` of each word
    of ≤ ``_WIDE`` runes, in (position, word, rune) order; longer words get
    none.  Returns (word_idx, position * |runes| + rune index, candidate):
    one gather per (position, word), broadcast over the runes."""
    arr = np.asarray(words, dtype=object)
    mat, lens = encode_words(arr, _WIDE)
    # encode_words gives a too-long word length 0, which would still take an
    # insertion at position 0; length -1 admits no position
    lens[np.fromiter(map(len, arr), np.int64, arr.size) > _WIDE] = -1
    at = np.arange(_WIDE + 1)[:, None]
    pos, row = np.nonzero((at >= lo) & (at <= lens[None, :] - hi))
    a = runes.size
    cand = np.repeat(_gather(mat, row, _INSERT_OPS[pos])[:, None, :], a, axis=1)
    cand[np.arange(row.size), :, pos] = runes
    return np.repeat(row, a), (pos[:, None] * a + np.arange(a)).ravel(), decode_rows(cand.reshape(-1, _WIDE + 1))


def insert_candidates(words: np.ndarray, alphabet: str) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """1-rune insertions at every position (G2).

    Returns (word_idx, ins_ord, candidate); ins_ord = position * |alphabet| +
    alphabet_index (reference loop order, component.go:68-96).  A word of
    more than ``_WIDE`` (26) runes gets no candidates, as in
    ``split_candidates`` and ``delete_candidates``.
    """
    return _insertions(words, alphabet_codes(alphabet), 0, 0)


def split_candidates(words: np.ndarray) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Space insertions at positions 1..len-1 (G3, component.go:98-109).

    Returns (word_idx, split_pos, candidate) — candidate is "left right".
    """
    return _insertions(words, alphabet_codes(" "), 1, 1)
