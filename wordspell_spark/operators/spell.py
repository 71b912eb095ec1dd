"""Spell-correction operators: deletion-Bloom build + query correction.

The wordspell-parity path (SURVEY.md §3.1/§3.2 steps 5-6):

* ``deletes_estimated`` — exact sizing pre-pass, formula identical to
  /root/reference/components/index/service.go:122-138 (Σ len²+1, +3 for
  2-rune words) feeding Bloom geometry (X6).
* ``build_deletion_bloom`` — A4: the flagship sketch build.  Partition-local
  partial Bloom filters over the SymSpell deletion neighborhoods of the
  index vocabulary (hash-only, never materializes candidate strings), then a
  bounded-fan-in tree merge (treeAggregate shape).  Parity:
  /root/reference/builder.go:97-119.
* ``IndexProbe`` — the executor-side word→weight lookup: an exact string
  hash table (``pd.Index.get_indexer``) plus the index's one-deletion map,
  built once on the driver and broadcast.  The Spark serving analogue of
  the reference's in-RAM index map (index/service.go:84-110) — a broadcast
  hash join executed vectorized inside the correction UDF.
* ``correct_queries`` — the full online pipeline (service.go:102-129) as ONE
  mapInPandas: clean → tokenize → pair merge → split tier → exact tier →
  deletes tier → Bloom gate → insert tiers → reassemble.  All tiers are
  batch-vectorized; the Bloom gates the insert explosion at two points
  before it happens (X1): a delete is expanded only if it passes, and a
  one-insert is expanded into two-inserts only if it passes too.
  Anti-masking preserves the reference's first-hit-wins tier order (X2/O3).

Scale: the serving path never shuffles the index or the Bloom filter —
queries stream through executors with two small broadcasts (index probe
+ Bloom payload), exactly how a 1000-executor cluster should serve a
100 TB-derived index.  Correction costs ~0.1 ms of CPU per query
(``correct_query_batch`` in 256-query slices, one thread, perfbench
``spell_correct`` inputs), so the work, not the input's byte size, sets
the task count: a query frame with fewer partitions than the task slots
(any file under one 128 MB split) gets ONE round-robin exchange of its
raw query rows (tens of bytes each) up to ``defaultParallelism``
partitions; a frame already that wide, or a streaming one, keeps the
exchange-free plan.  Each Arrow batch is then corrected in slices of 256
queries, which bounds a worker's transient candidate arrays whatever the
session's ``maxRecordsPerBatch``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType, StringType, StructField, StructType

from ..functions import mutate as M
from ..functions import processors as PROC
from ..harness import merge_partials, num_partitions
from ..sketches import bloom
from ..sketches.hashing import row_hash_u32_matrix
from .trademark import protect_spans_batch

NUM_WEIGHT = 1000  # index/models.go:8
DEFAULT_FPR = 0.005  # bloomfilter/component.go:16

# --------------------------------------------------------------- bloom build


def deletes_estimated(index_df: DataFrame, word_col: str = "word") -> int:
    """Exact Bloom sizing pre-pass (A5/X6, index/service.go:122-138)."""
    wl = F.length(F.col(word_col))
    est = F.sum(
        F.when(wl < 2, F.lit(0)).otherwise(
            wl * wl + F.lit(1) + F.when(wl == 2, F.lit(3)).otherwise(F.lit(0))
        )
    )
    return int(index_df.select(est).first()[0] or 0)


def build_deletion_bloom(
    index_df: DataFrame,
    word_col: str = "word",
    fpr: float = DEFAULT_FPR,
    n_estimate: int | None = None,
) -> bytes:
    """Distributed A4: one Bloom over all ≤2-deletions of the vocabulary.

    Stage A (mapInPandas): per-partition partial filter filled from
    vectorized deletion hashes — no strings, no per-row Python.
    Stage B: ``merge_partials`` ORs the partial filters into one payload,
    through bounded-fan-in tree levels when there are many partitions.
    """
    if n_estimate is None:
        n_estimate = max(64, deletes_estimated(index_df, word_col))
    m, k = bloom.optimal_m_k(n_estimate, fpr)

    schema = StructType([StructField("sketch", BinaryType(), False)])

    def partial(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        state = bloom.create(m=m, k=k)
        seen = False
        for pdf in batches:
            if pdf.empty:
                continue
            seen = True
            words = pdf[word_col].to_numpy()
            mat, lens = M.encode_words(words)
            bloom.update_hashes(state, M.deletion_hashes(mat, lens))
        if seen:
            yield pd.DataFrame({"sketch": [bloom.serialize(state)]})

    # partition by WORK GRAIN, not by the index's partition count: each task
    # fills ~1M deletion hashes (~a second of numpy), so a small thresholded
    # index collapses to one task instead of 32 near-empty mapInPandas
    # invocations each allocating a full m-bit filter (measured 12 CPU-s ->
    # ~4 at sf0.1), while a 10M-word index still fans out to thousands of
    # tasks.  coalesce keeps this shuffle-free.
    words = index_df.select(word_col)
    cur = num_partitions(words)
    n_parts = int(min(cur, max(1, n_estimate // 1_000_000)))
    if n_parts < cur:
        words = words.coalesce(n_parts)
    rows = merge_partials(words.mapInPandas(partial, schema=schema), []).collect()
    return bytes(rows[0]["sketch"]) if rows else bloom.serialize(bloom.create(m=m, k=k))


# --------------------------------------------------------------- index probe


@dataclass
class IndexProbe:
    """Exact word→freq table plus the index's one-deletion map.

    ``table`` is a pandas string hash index, so a lookup compares strings,
    not hashes (the reference serves the same index from a Go map in
    ≤300 MB).  The map groups ``M.one_deletions`` of the words by key:
    entries ``del_start[i]:del_start[i + 1]`` belong to ``del_keys[i]``.
    """

    words: np.ndarray  # object str, unique
    freqs: np.ndarray  # int64 aligned with words
    table: pd.Index
    del_keys: pd.Index  # distinct 1-deletions
    del_start: np.ndarray  # int64, len(del_keys) + 1
    del_word: np.ndarray  # word row per entry
    del_pos: np.ndarray  # deleted position per entry
    del_rune: np.ndarray  # deleted rune's codepoint per entry

    @classmethod
    def from_arrays(cls, words: np.ndarray, freqs: np.ndarray) -> "IndexProbe":
        """Raises ValueError on a repeated word: a word has one weight."""
        words = np.asarray(words, dtype=object)
        table = pd.Index(words)
        if not table.is_unique:
            raise ValueError(f"index word {table[table.duplicated()][0]!r} repeats")
        wi, pos, rune, key = M.one_deletions(words)
        codes, keys = pd.factorize(key)
        order = np.argsort(codes, kind="stable")
        start = np.concatenate([[0], np.cumsum(np.bincount(codes, minlength=len(keys)))])
        return cls(words, np.asarray(freqs, dtype=np.int64), table, pd.Index(keys),
                   start, wi[order], pos[order], rune[order])

    @classmethod
    def from_index_df(cls, index_df: DataFrame, word_col: str = "word", freq_col: str = "freq") -> "IndexProbe":
        pdf = index_df.select(word_col, freq_col).toPandas()
        return cls.from_arrays(pdf[word_col].to_numpy(), pdf[freq_col].to_numpy())

    def lookup(self, words: np.ndarray) -> np.ndarray:
        """Weights for a batch of strings; 0 for misses (J1 semantics)."""
        pos = self.table.get_indexer(np.asarray(words, dtype=object))
        out = np.zeros(pos.size, dtype=np.int64)
        out[pos >= 0] = self.freqs[pos[pos >= 0]]
        return out

    def insert_hits(self, strs: np.ndarray, alphabet: str):
        """Index words of positive weight that are a string of ``strs`` with
        one ``alphabet`` rune inserted, read from the one-deletion map.

        Returns (str_idx, ins_ord, word, freq): as a multiset, the rows of
        ``M.insert_candidates(strs, alphabet)`` whose ``lookup`` is > 0, for
        strings of ≤ ``MAX_WORD_LEN`` runes.
        """
        kid = self.del_keys.get_indexer(np.asarray(strs, dtype=object))
        lo = np.where(kid >= 0, self.del_start[kid], 0)
        cnt = np.where(kid >= 0, self.del_start[kid + 1], 0) - lo
        row = np.repeat(np.arange(kid.size), cnt)
        ent = np.arange(row.size) + np.repeat(lo - (np.cumsum(cnt) - cnt), cnt)
        codes = M.alphabet_codes(alphabet)
        by_code = np.argsort(codes)
        at = np.searchsorted(codes[by_code], self.del_rune[ent]).clip(max=codes.size - 1)
        aidx = by_code[at]
        wi = self.del_word[ent]
        ok = (codes[aidx] == self.del_rune[ent]) & (self.freqs[wi] > 0)
        ins_ord = self.del_pos[ent] * codes.size + aidx
        return row[ok], ins_ord[ok], self.words[wi[ok]], self.freqs[wi[ok]]


# --------------------------------------------------------------- correction


def _greedy_pair_merge(valid: np.ndarray, qbreak: np.ndarray) -> np.ndarray:
    """Greedy left-to-right pair-consume (checkWordPairs, service.go:131-149).

    valid[i] = pair (i, i+1) is semantically mergeable; qbreak[i] = token i
    starts a new query.  The reference walks left to right consuming two
    tokens on a merge — equivalently, within each maximal run of consecutive
    valid positions a merge happens at even offsets from the run start.
    Vectorized with a max-accumulate forward fill — no loop over tokens.
    """
    if valid.size == 0:
        return valid
    next_is_break = np.concatenate([qbreak[1:], [True]])
    v = valid & ~next_is_break
    idx = np.arange(v.size, dtype=np.int64)
    prev = np.concatenate([[False], v[:-1]])
    run_start = v & ~prev
    # marker: run starts carry their index; non-valid positions carry their
    # own index (resets the fill); in-run positions carry -1 (inherit max)
    marker = np.where(run_start, idx, np.where(v, -1, idx))
    filled = np.maximum.accumulate(marker)
    offsets = idx - filled
    return v & (offsets % 2 == 0)


def lang_majority(words: np.ndarray) -> np.ndarray:
    """Faithful LangByWord (langdetect/component.go:21-88), vectorized.

    num: all digits with at most one '.' or ','; ru/en: legal-rune majority
    with ≤2 illegal runes (so bigram keys like "le ft" classify as their
    word language — required for split-tier index probes).

    Implemented as pure numpy over codepoints (one utf-32 decode of the
    concatenated batch + reduceat) — the candidate tiers classify millions
    of generated strings per batch, and per-string regexes dominated the
    profile (~20× slower than this).
    """
    words = np.asarray(words, dtype=object)
    m = len(words)
    if m == 0:
        return np.empty(0, dtype=object)
    lens = np.fromiter(map(len, words), count=m, dtype=np.int64)
    chars = np.frombuffer("".join(words).encode("utf-32-le"), dtype=np.uint32)
    # reduceat over the NON-EMPTY subset only, scattered back: every offset
    # is then strictly valid.  (A clamped-offset scheme miscounted when an
    # empty string was the LAST element — the clamp shifted the previous
    # word's boundary and dropped its final char; round-1 ADVICE.)
    nonempty = lens > 0
    nz_offsets = np.concatenate([[0], np.cumsum(lens[nonempty])[:-1]])

    def seg_count(mask_chars: np.ndarray) -> np.ndarray:
        c = np.zeros(m, dtype=np.int64)
        if len(chars):
            c[nonempty] = np.add.reduceat(mask_chars.astype(np.int64), nz_offsets)
        return c

    DASH, BTICK, QUOTE = ord("-"), ord("`"), ord("'")
    is_cyr = ((chars >= 0x400) & (chars <= 0x52F)) | (chars == DASH)
    is_lat = (
        ((chars >= 97) & (chars <= 122))
        | ((chars >= 65) & (chars <= 90))
        | (chars == DASH)
        | (chars == BTICK)
        | (chars == QUOTE)
    )
    is_dig = (chars >= 48) & (chars <= 57)
    is_sep = (chars == 46) | (chars == 44)

    n = lens
    cyr = seg_count(is_cyr)
    enl = seg_count(is_lat)
    dig = seg_count(is_dig)
    sep = seg_count(is_sep)
    out = np.full(m, "unknown", dtype=object)
    en = (enl > n - enl) & ((n - enl) <= 2)
    ru = (cyr > n - cyr) & ((n - cyr) <= 2)
    is_num = (dig + sep == n) & (sep <= 1) & (n > 0)
    out[en] = "en"
    out[ru & ~en] = "ru"
    out[is_num] = "num"
    return out


def _weight(probe: IndexProbe, words: np.ndarray, langs: np.ndarray | None = None) -> np.ndarray:
    """index.Weight parity (index/service.go:84-110): unknown→0, num→1000,
    else index probe."""
    words = np.asarray(words, dtype=object)
    if langs is None:
        langs = lang_majority(words)
    w = probe.lookup(words)
    w = np.where(langs == "num", NUM_WEIGHT, w)
    return np.where(langs == "unknown", 0, w).astype(np.int64)


def _best_per_group(group_ids: np.ndarray, *keys: np.ndarray) -> np.ndarray:
    """Index of the lexicographically-least row (by keys, ascending) per
    group — vectorized argmin replacement for the reference's scan loops."""
    order = np.lexsort(tuple(reversed(keys)) + (group_ids,))
    sg = group_ids[order]
    first = np.concatenate([[True], sg[1:] != sg[:-1]])
    return order[first]


_ALPHABETS = ((M.RU_ALPHABET, "ru"), (M.EN_ALPHABET, "en"))


def _bloom_test_strings(state, words: np.ndarray) -> np.ndarray:
    mat, lens = M.encode_words(np.asarray(words, dtype=object))
    return bloom.contains_hashes(state, row_hash_u32_matrix(mat, lens))


def correct_token_batch(
    orig: np.ndarray,
    qid: np.ndarray,
    probe: IndexProbe,
    bloom_state,
    protected: np.ndarray | None = None,
) -> tuple[np.ndarray, np.ndarray]:
    """Vectorized Correct() over a flat token batch (service.go:102-129).

    orig: tokens as typed; qid: query id per token (tokens of one query
    contiguous, in order); protected: tokens to pass through untouched
    (DigestReady parity).  Returns (out_tokens, keep_mask) — keep_mask is
    False for tokens consumed by a pair merge.
    """
    n = len(orig)
    if n == 0:
        return np.empty(0, dtype=object), np.empty(0, dtype=bool)
    orig = np.asarray(orig, dtype=object)
    qid = np.asarray(qid)
    lower = pd.Series(orig, dtype=object).astype(str).str.lower().to_numpy(dtype=object)
    langs = lang_majority(lower)
    status = np.zeros(n, dtype=np.int8)  # 0 raw / 1 ready / 2 consumed
    out = lower.copy()
    if protected is not None and protected.any():
        status[protected] = 1
        out[protected] = orig[protected]

    # ---- pair-merge pass (wordPair, service.go:151-187)
    raw = status == 0
    nxt = np.concatenate([lower[1:], np.array([""], dtype=object)])
    nxt_raw = np.concatenate([raw[1:], [False]])
    nxt_lang = np.concatenate([langs[1:], np.array(["unknown"], dtype=object)])
    qbreak = np.concatenate([[True], qid[1:] != qid[:-1]])
    lang_ok = raw & nxt_raw & (langs != "num") & (langs != "unknown") & (langs == nxt_lang)
    mweight = np.zeros(n, dtype=np.int64)
    mweight[lang_ok] = probe.lookup(lower[lang_ok] + nxt[lang_ok])
    merge_at = _greedy_pair_merge(lang_ok & (mweight > 0), qbreak)
    out[merge_at] = lower[merge_at] + nxt[merge_at]
    status[merge_at] = 1
    status[np.concatenate([[False], merge_at[:-1]])] = 2

    # ---- per-word tiers, deduplicated: real query streams are Zipfian, so
    # the same token appears many times per batch — correct each DISTINCT
    # word once and scatter (reference dedups whole queries the same way,
    # examples/speller/main.go:61-75)
    act = np.flatnonzero(status == 0)
    if act.size:
        uniq, inv = np.unique(lower[act].astype(str), return_inverse=True)
        vals, resolved = _correct_words(uniq.astype(object), probe, bloom_state)
        hit = resolved[inv]
        rows = act[hit]
        out[rows] = vals[inv][hit]
        status[rows] = 1

    # ---- unresolved: return as typed (service.go:243)
    out[status == 0] = orig[status == 0]
    keep = status != 2
    return out, keep


def _correct_words(words: np.ndarray, probe: IndexProbe, bloom_state) -> tuple[np.ndarray, np.ndarray]:
    """Single-word correction tiers over DISTINCT lowercase words.

    Tier order per word is the reference's: split (splittedWord,
    service.go:114,189-208) → exact (service.go:213-215) → deletes +
    bloom-gated inserts (service.go:217-241).  Returns (values, resolved).
    """
    n = len(words)
    out = np.asarray(words, dtype=object).copy()
    resolved = np.zeros(n, dtype=bool)
    langs = lang_majority(words)

    # ---- split tier
    wi, spos, cands = M.split_candidates(out)
    if len(cands):
        w = _weight(probe, cands)
        hit = w > 0
        if hit.any():
            best = _best_per_group(wi[hit], -w[hit], spos[hit])
            rows = wi[hit][best]
            out[rows] = cands[hit][best]
            resolved[rows] = True

    # ---- exact tier
    act = np.flatnonzero(~resolved)
    if act.size:
        hit = _weight(probe, out[act], langs[act]) > 0
        resolved[act[hit]] = True  # out already holds the word

    # ---- deletes tier + bloom-gated insert tiers
    act = np.flatnonzero(~resolved)
    if act.size:
        rows, vals = _delete_insert_tiers(out[act], probe, bloom_state)
        out[act[rows]] = vals
        resolved[act[rows]] = True

    return out, resolved


def _delete_insert_tiers(words: np.ndarray, probe: IndexProbe, bloom_state):
    """Tiers b-d of correctWord for unresolved words.

    Faithful ranking: per word, candidates compete on
    (del_ord, stage, ins1_ord, -weight, gen_ord) — the set-oriented
    encoding of the reference's sequential first-hit-wins loop (X2/O3).
    Returns (word_row_indices, corrected_values).

    Gate premise: the Bloom holds every ≤2-deletion of every index word of
    2..``MAX_WORD_LEN`` runes.  A delete one or two inserts away from such a
    word is one of its deletions, so only deletes that pass are expanded.
    Likewise a one-insert that is one insert away from such a word is its
    1-deletion: one-inserts of ≤ ``MAX_WORD_LEN - 1`` runes are expanded only
    if they pass.  Longer ones lead to words the Bloom never saw and stay
    ungated.  Insert candidates are weighed by ``probe.lookup`` alone:
    inserting a rune of an en/ru delete's own alphabet never makes a string
    ``lang_majority`` calls num or unknown, so ``_weight``'s overrides
    cannot fire on them.

    Level-1 hits are not enumerated.  ``w`` is ``d`` with rune ``c``
    inserted at ``p`` exactly when deleting ``p`` from ``w`` gives ``d`` and
    ``w[p] == c``, so ``probe.insert_hits`` reads them from the index's
    one-deletion map, with the same ``ins_ord = p·|alphabet| + index of c``
    and the same repeats (``"aab"`` is ``"ab"`` plus ``a`` at 0 and at 1).
    The map holds Σ len(w) entries over the words of ≤ ``MAX_WORD_LEN + 1``
    runes: linear in the index, unlike the 2-deletion dictionary the Bloom
    stands in for.  Only the deletes still pending for level 2 are expanded
    into one-inserts.
    """
    dwi, dord, dcand = M.delete_candidates(words)
    if len(dcand) == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=object)
    INF = np.int64(1 << 60)

    # stage 0: the deletion itself is an index word
    dw = _weight(probe, dcand)
    hits = [  # columns: word, del_ord, stage, ins1_ord, neg_weight, gen, cand
        (dwi[dw > 0], dord[dw > 0], 0, np.zeros((dw > 0).sum(), dtype=np.int64),
         np.zeros((dw > 0).sum(), dtype=np.int64), np.zeros((dw > 0).sum(), dtype=np.int64),
         dcand[dw > 0])
    ]
    win0 = np.full(len(words), INF, dtype=np.int64)
    if (dw > 0).any():
        b = _best_per_group(dwi[dw > 0], dord[dw > 0])
        win0[dwi[dw > 0][b]] = dord[dw > 0][b]

    # bloom gate (X1): only deletes that could be an index-word deletion,
    # and only those ranked before the word's stage-0 winner
    need = (dw == 0) & (dord < win0[dwi])
    if need.any():
        gmask = np.zeros(len(dcand), dtype=bool)
        gmask[need] = _bloom_test_strings(bloom_state, dcand[need])
        g = np.flatnonzero(gmask)
        if g.size:
            g_words, g_ords, g_strs = dwi[g], dord[g], dcand[g]
            g_langs = lang_majority(g_strs)
            # ---- level-1 inserts: index words one insert away from a delete
            l1_hit_del = np.zeros(g.size, dtype=bool)
            for alphabet, lang in _ALPHABETS:
                sel = np.flatnonzero(g_langs == lang)
                if not sel.size:
                    continue
                iwi, iord, icand, iw = probe.insert_hits(g_strs[sel], alphabet)
                gi = sel[iwi]
                l1_hit_del[gi] = True
                hits.append((g_words[gi], g_ords[gi], 1, np.zeros(gi.size, dtype=np.int64), -iw, iord, icand))
            # ---- level-2 inserts, only where they can still win
            best_so_far = np.full(len(words), INF, dtype=np.int64)
            for h in hits:
                if len(h[0]):
                    b = _best_per_group(h[0], h[1])
                    np.minimum.at(best_so_far, h[0][b], h[1][b])
            pend = ~l1_hit_del & (g_ords < best_so_far[g_words])
            for alphabet, lang in _ALPHABETS:
                sel = np.flatnonzero(pend & (g_langs == lang))
                if not sel.size:
                    continue
                iwi, iord, icand = M.insert_candidates(g_strs[sel], alphabet)
                gi1 = sel[iwi]
                # second bloom gate: a one-insert of ≤ MAX_WORD_LEN-1 runes
                # leads to an index word only if it is that word's 1-deletion
                gated = np.fromiter(map(len, g_strs[gi1]), dtype=np.int64, count=gi1.size) + 1 < M.MAX_WORD_LEN
                keep = ~gated
                keep[gated] = _bloom_test_strings(bloom_state, icand[gated])
                mid = np.flatnonzero(keep)
                if not mid.size:
                    continue
                i2wi, i2ord, i2cand = M.insert_candidates(icand[mid], alphabet)
                iw = probe.lookup(i2cand)
                ih = iw > 0
                if ih.any():
                    parent1 = mid[i2wi[ih]]  # index into icand
                    gi = gi1[parent1]        # gated-delete row
                    hits.append((g_words[gi], g_ords[gi], 2, iord[parent1],
                                 -iw[ih], i2ord[ih], i2cand[ih]))

    # ---- final ranking across all tiers
    aw = np.concatenate([h[0] for h in hits])
    if aw.size == 0:
        return np.empty(0, dtype=np.int64), np.empty(0, dtype=object)
    a_ord = np.concatenate([h[1] for h in hits])
    a_stage = np.concatenate([np.full(len(h[0]), h[2], dtype=np.int64) for h in hits])
    a_i1 = np.concatenate([h[3] for h in hits])
    a_negw = np.concatenate([h[4] for h in hits])
    a_gen = np.concatenate([h[5] for h in hits])
    a_cand = np.concatenate([h[6] for h in hits])
    best = _best_per_group(aw, a_ord, a_stage, a_i1, a_negw, a_gen)
    return aw[best], a_cand[best]


# ------------------------------------------------------- post/pre processors


def dupremove_batch(tokens: np.ndarray, qid: np.ndarray) -> np.ndarray:
    """Neighbor-duplicate removal (F6/W3, processors/dupremove/processor.go:11-47).

    Drop a token equal (case-folded) to the next token's left hyphen-chunk,
    or to the previous kept token's right hyphen-chunk.  Two vectorized
    passes; left-rule drops cannot chain after the right-rule pass (a chunk
    is hyphen-free, so equal consecutive chunk-tokens already collapsed).
    Returns a keep mask.
    """
    n = len(tokens)
    if n == 0:
        return np.empty(0, dtype=bool)
    qid = np.asarray(qid)
    s = pd.Series(np.asarray(tokens, dtype=object), dtype=object).astype(str)
    low = s.str.lower()
    left_chunk = low.str.split("-").str[0].to_numpy(dtype=object)
    right_chunk = low.str.split("-").str[-1].to_numpy(dtype=object)
    low = low.to_numpy(dtype=object)
    qb = np.concatenate([[True], qid[1:] != qid[:-1]])
    next_same = ~np.concatenate([qb[1:], [True]])
    nxt_left = np.concatenate([left_chunk[1:], np.array([""], dtype=object)])
    keep1 = ~(next_same & (low == nxt_left))
    # previous token that survived pass 1, within the same query
    idx = np.arange(n)
    marker = np.where(keep1, idx, -1)
    prev_kept = np.concatenate([[-1], np.maximum.accumulate(marker)[:-1]])
    valid_prev = (prev_kept >= 0) & ~qb
    same_q = np.zeros(n, dtype=bool)
    pk = prev_kept.clip(min=0)
    same_q[valid_prev] = qid[pk[valid_prev]] == qid[valid_prev]
    drop_left = keep1 & same_q & (low == right_chunk[pk]) & valid_prev
    return keep1 & ~drop_left


def canonical_protected(tokens: np.ndarray) -> np.ndarray:
    """Combo tokens ('@' prefix) produced by the pre-processors are
    DigestReady: protected from correction (domain/digest.go:12-26).  The
    '@' cannot occur in raw queries — clean_text maps it to a space — so
    the prefix is an unforgeable marker, exactly as in the reference."""
    if len(tokens) == 0:
        return np.empty(0, dtype=bool)
    return (
        pd.Series(np.asarray(tokens, dtype=object), dtype=object)
        .astype(str)
        .str.startswith(PROC.COMBO_PREFIX)
        .to_numpy()
    )


def render_digest_tokens(tokens: np.ndarray) -> np.ndarray:
    """DigestReady rendering for a token batch: '@' dropped, '#' → space
    (domain/digest.go:14-19).  Safe to apply to every token — markup chars
    cannot survive clean_text in non-combo tokens."""
    if len(tokens) == 0:
        return tokens
    return (
        pd.Series(np.asarray(tokens, dtype=object), dtype=object)
        .astype(str)
        .str.replace(PROC.COMBO_PREFIX, "", regex=False)
        .str.replace(PROC.COMBO_SEPARATOR, " ", regex=False)
        .to_numpy(dtype=object)
    )


def preprocess_query_strings(q: pd.Series) -> pd.Series:
    """Clean + canonicalize raw query strings (P1 + F2-F5).

    clean_text parity first (vectorized regex), then the faithful
    processor chain (functions/processors.py: dimsuffix → dimensions →
    papersizes → units, service.go:77-83) which emits '@'-protected combo
    tokens.  The chain runs per query string — scalar Python, but query
    strings are tens of bytes and the reference performs the identical
    per-request regex work."""
    out = q.astype(str)
    out = out.str.replace(r"[^0-9a-zA-Zа-яА-ЯёЁ\s\-.,+=`'*%]", " ", regex=True)
    out = out.str.replace(r"\s-\s", " ", regex=True)
    return out.map(lambda s: " ".join(PROC.process_words(s.split())))


def correct_query_batch(
    queries: pd.Series, probe: IndexProbe, bloom_state, trademarks: list[str]
) -> np.ndarray:
    """Corrected strings for a batch of raw queries — the body of
    ``correct_queries``' UDF: preprocess → tokenize → protect →
    ``correct_token_batch`` → render → dupremove → reassemble."""
    q = preprocess_query_strings(queries)
    token_lists = q.str.split()
    counts = token_lists.str.len().fillna(0).astype(int).to_numpy()
    qid = np.repeat(np.arange(len(q)), counts)
    toks = np.array([t for lst in token_lists for t in (lst or [])], dtype=object)
    protected = canonical_protected(toks)
    if trademarks:
        protected |= protect_spans_batch(toks, qid, trademarks)
    out, keep = correct_token_batch(toks, qid, probe, bloom_state, protected=protected)
    # DigestReady render before dupremove, as the reference orders it
    # (service.go:108 parses/renders combos, :124 post-processes)
    out = render_digest_tokens(out)
    keep &= dupremove_batch(np.where(keep, out, ""), qid)
    offsets = np.concatenate([[0], np.cumsum(np.bincount(qid[keep], minlength=len(q)))])
    lists = pa.ListArray.from_arrays(pa.array(offsets, pa.int32()), pa.array(out[keep], pa.string()))
    return pc.binary_join(lists, " ").to_numpy(zero_copy_only=False)


# --------------------------------------------------------------- serving op

_CORRECT_SLICE = 256  # queries per correction call (bounds a worker's transient memory)


def correct_queries(
    queries_df: DataFrame,
    index_df: DataFrame,
    bloom_payload: bytes,
    query_col: str = "query",
    out_col: str = "corrected",
    trademarks: list[str] | None = None,
) -> DataFrame:
    """The online correction pipeline as ONE mapInPandas.

    Spark-first restatement of Service.Correct (service.go:102-129): the
    thresholded index and Bloom payload are broadcast once per executor
    (cold-start parity, service.go:42-100); queries stream through in Arrow
    batches.  Protected spans (trademarks F1) pass through untouched.

    Sized by work, not bytes: a batch ``queries_df`` with fewer partitions
    than ``defaultParallelism`` (a split holds up to 128 MB of queries, at
    ~0.1 ms of CPU each) is first spread round-robin over the task slots —
    the plan's only exchange, of the raw query rows; a frame that wide
    already, or a streaming one, has none.  Every Arrow batch is corrected
    in slices of ``_CORRECT_SLICE`` queries.  The output does not depend on
    the slice: every tier works per distinct word, and what it yields for a
    word depends on that word alone.  256 bounds each worker's transient
    candidate arrays; it measured faster and smaller than 512 or 1024.
    """
    spark = queries_df.sparkSession
    probe = IndexProbe.from_index_df(index_df)
    bc_probe = spark.sparkContext.broadcast(probe)
    bc_bloom = spark.sparkContext.broadcast(bloom_payload)
    bc_tm = spark.sparkContext.broadcast(trademarks or [])

    out_fields = queries_df.schema.fields + [StructField(out_col, StringType(), True)]
    out_schema = StructType(out_fields)
    pass_cols = [f.name for f in queries_df.schema.fields]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        probe = bc_probe.value
        bloom_state = bloom.deserialize(bc_bloom.value)
        tm = bc_tm.value
        slices = (b.iloc[i : i + _CORRECT_SLICE] for b in batches for i in range(0, len(b), _CORRECT_SLICE))
        for pdf in slices:
            yield pdf[pass_cols].assign(**{out_col: correct_query_batch(pdf[query_col], probe, bloom_state, tm)})

    slots = spark.sparkContext.defaultParallelism
    if not queries_df.isStreaming and num_partitions(queries_df) < slots:
        queries_df = queries_df.repartition(slots)
    return queries_df.mapInPandas(run, schema=out_schema)
