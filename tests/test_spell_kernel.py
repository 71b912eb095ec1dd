"""Correction-kernel tests (no Spark): golden cases modeled on the
reference's end-to-end suite (/root/reference/service_test.go:167-237) with a
transliterated mini-index (SURVEY.md §5)."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from wordspell_spark.functions import mutate as M
from wordspell_spark.operators.spell import (
    NUM_WEIGHT,
    IndexProbe,
    _greedy_pair_merge,
    correct_query_batch,
    correct_token_batch,
    lang_majority,
)
from wordspell_spark.sketches import bloom
from wordspell_spark.sketches.hashing import row_hash_u32_matrix

INDEX = {
    # unigrams (ru)
    "игрушки": 5000,
    "для": 9000,
    "детей": 4000,
    "дихлофос": 1200,
    "телефон": 8000,
    "чехол": 3000,
    "цвет": 1703405,
    # unigrams (en)
    "spark": 700,
    "filter": 650,
    "iphone": 900,
    # bigram keys (space-joined, like "рост цвет" in index/service_test.go:50)
    "игрушки для": 2000,
    "чехол iphone": 100,
}


@pytest.fixture(scope="module")
def probe():
    words = np.array(list(INDEX), dtype=object)
    freqs = np.array([INDEX[w] for w in words], dtype=np.int64)
    return IndexProbe.from_arrays(words, freqs)


def deletion_bloom(words) -> bloom.BloomState:
    st = bloom.create(n_estimate=sum(len(w) ** 2 + 1 for w in words), fpr=0.005)
    mat, lens = M.encode_words(np.array(list(words), dtype=object))
    bloom.update_hashes(st, M.deletion_hashes(mat, lens))
    return st


@pytest.fixture(scope="module")
def dbloom():
    return deletion_bloom(INDEX)


def run(probe, dbloom, queries: list[str]) -> list[str]:
    toks, qids = [], []
    for i, q in enumerate(queries):
        for t in q.split():
            toks.append(t)
            qids.append(i)
    out, keep = correct_token_batch(
        np.array(toks, dtype=object), np.array(qids, dtype=np.int64), probe, dbloom
    )
    res = ["" for _ in queries]
    for tok, q, k in zip(out, np.array(qids)[..., None][:, 0], keep):
        if k:
            res[q] = (res[q] + " " + tok).strip()
    return res


class TestIndexProbe:
    def test_repeated_word_is_rejected(self):
        # a word has one weight; the table would otherwise keep either
        words = np.array(["spark", "filter", "spark"], dtype=object)
        with pytest.raises(ValueError, match="'spark' repeats"):
            IndexProbe.from_arrays(words, np.array([1, 2, 3], dtype=np.int64))

    def test_lookup_is_exact(self, probe):
        got = probe.lookup(np.array(["телефон", "телефо", "", "игрушки для", "Телефон"], dtype=object))
        assert got.tolist() == [8000, 0, 0, 2000, 0]
        empty = IndexProbe.from_arrays(np.array([], dtype=object), np.array([], dtype=np.int64))
        assert empty.lookup(np.array(["a"], dtype=object)).tolist() == [0]
        assert [len(x) for x in empty.insert_hits(np.array(["a"], dtype=object), M.EN_ALPHABET)] == [0] * 4


# doubled letters come often from a small pool; digits, ё (outside the en
# alphabet), latin z (outside the ru one) and a space are never inserted
_RUNES = "ab-`'аяё0z "
_word = st.one_of(st.text(_RUNES, min_size=1, max_size=6), st.text(_RUNES, min_size=23, max_size=26))


@st.composite
def _index_and_strings(draw):
    words = draw(st.lists(_word, min_size=1, max_size=25, unique=True))
    freqs = draw(st.lists(st.integers(0, 3), min_size=len(words), max_size=len(words)))
    # the index words one deletion away, plus unrelated strings; ≤ MAX_WORD_LEN + 1 runes
    strs = [w[:p] + w[p + 1 :] for w in words for p in draw(st.sets(st.integers(0, len(w) - 1), max_size=2))]
    strs += draw(st.lists(_word, max_size=10))
    return words, freqs, [x for x in strs if len(x) <= M.MAX_WORD_LEN + 1]


@settings(max_examples=60, deadline=None)
@given(_index_and_strings())
def test_one_deletion_map_equals_insert_enumeration(case):
    """``insert_hits`` (read from the one-deletion map) returns, as a
    multiset of (string row, ins_ord, word), what enumerating every
    one-insert and looking it up returns, repeats included."""
    words, freqs, strs = case
    probe = IndexProbe.from_arrays(np.array(words, dtype=object), np.array(freqs, dtype=np.int64))
    strs = np.array(strs, dtype=object)
    for alphabet in (M.EN_ALPHABET, M.RU_ALPHABET):
        iwi, iord, icand = M.insert_candidates(strs, alphabet) if strs.size else ([], [], [])
        w = probe.lookup(np.asarray(icand, dtype=object))
        expect = Counter((int(i), int(o), c) for i, o, c, x in zip(iwi, iord, icand, w) if x > 0)
        row, ins_ord, word, freq = probe.insert_hits(strs, alphabet)
        assert Counter(zip(row.tolist(), ins_ord.tolist(), word.tolist())) == expect
        assert (freq == probe.lookup(word)).all() and (freq > 0).all()


def _deletes_reference(w: str) -> list[tuple[int, str]]:
    """Deletes() one word at a time: (del_ord, string) for the word, its
    1-deletions by position, then each 1-deletion's own 1-deletions."""
    if not 2 <= len(w) <= M.MAX_WORD_LEN:
        return []
    one = [w[:p] + w[p + 1 :] for p in range(len(w))]
    out = [(0, w)] + [(1 + p, d) for p, d in enumerate(one)]
    if len(w) >= 3:
        base = 1 + M.MAX_WORD_LEN
        out += [(base + p * M.MAX_WORD_LEN + q2, d[:q2] + d[q2 + 1 :]) for p, d in enumerate(one) for q2 in range(len(d))]
    return out


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.text(_RUNES, max_size=6), st.text(_RUNES, min_size=22, max_size=26)), max_size=8))
def test_delete_candidates_match_the_per_word_reference(words):
    wi, dord, cand = M.delete_candidates(np.array(words, dtype=object))
    expect = [(i, o, d) for i, w in enumerate(words) for o, d in _deletes_reference(w)]
    assert sorted(zip(wi.tolist(), dord.tolist(), cand.tolist())) == sorted(expect)
    assert (np.diff(dord) >= 0).all()


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.text(_RUNES, max_size=6), st.text(_RUNES, min_size=20, max_size=26)), max_size=6))
def test_bloom_keys_are_the_keys_the_gate_tests(words):
    """The Bloom build and the query gate hash one deletion neighborhood:
    per word, the ``deletion_hashes`` keys are the string keys of its
    ``delete_candidates``, and ``delete_hashes`` gives each delete row the
    key of its string."""
    arr = np.array(words, dtype=object)
    wi, dord, cand = M.delete_candidates(arr)
    string_keys = row_hash_u32_matrix(*M.encode_words(cand))
    assert M.delete_hashes(*M.encode_words(arr), wi, dord).tolist() == string_keys.tolist()
    for i, w in enumerate(words):
        built = M.deletion_hashes(*M.encode_words(np.array([w], dtype=object)))
        assert set(built.tolist()) == set(string_keys[wi == i].tolist()), w


def _inserts_reference(w: str, alphabet: str) -> list[tuple[int, str]]:
    """InsertRune() one word at a time: (ins_ord, string)."""
    return [(p * len(alphabet) + k, w[:p] + c + w[p:]) for p in range(len(w) + 1) for k, c in enumerate(alphabet)]


@settings(max_examples=40, deadline=None)
@given(st.lists(st.one_of(st.text(_RUNES, max_size=6), st.text(_RUNES, min_size=22, max_size=26)), max_size=8))
def test_insert_and_split_candidates_match_the_per_word_references(words):
    arr = np.array(words, dtype=object)
    for alphabet in (M.EN_ALPHABET, M.RU_ALPHABET):
        got = Counter(zip(*(x.tolist() for x in M.insert_candidates(arr, alphabet))))
        assert got == Counter((i, o, c) for i, w in enumerate(words) for o, c in _inserts_reference(w, alphabet))
    got = Counter(zip(*(x.tolist() for x in M.split_candidates(arr))))
    assert got == Counter((i, p, w[:p] + " " + w[p:]) for i, w in enumerate(words) for p in range(1, len(w)))


def test_exact_candidate_counts():
    twelve = np.array(["abcdefghijkl"], dtype=object)
    assert len(M.delete_candidates(twelve)[0]) == 1 + 12 + 12 * 11  # 145, duplicates kept
    assert M.deletion_hashes(*M.encode_words(twelve)).size == 1 + 12 + 12 * 11 // 2  # 79, the set
    assert len(M.split_candidates(twelve)[0]) == 11
    assert len(M.insert_candidates(np.array(["abcdefghijklmnopqr"], dtype=object), M.EN_ALPHABET)[0]) == 19 * 29 == 551
    assert M.delete_candidates(np.array(["ab"], dtype=object))[2].tolist() == ["ab", "b", "a"]


def test_words_too_long_to_encode_get_no_candidates():
    arr = np.array(["a" * 30, "ab"], dtype=object)
    for wi, _, cand in (M.insert_candidates(arr, M.EN_ALPHABET), M.split_candidates(arr), M.delete_candidates(arr)):
        assert set(wi.tolist()) == {1} and all(len(c) <= 3 for c in cand)


def test_deletion_hashes_in_blocks_keep_the_op_major_order():
    rng = np.random.default_rng(7)
    words = np.array(["".join(rng.choice(list("abcdef"), n)) for n in rng.integers(0, 30, 3 * M._BLOCK_WORDS + 5)], dtype=object)
    mat, lens = M.encode_words(words)
    need, ords, _ = M._DELETE_OPS
    op, row = np.nonzero(lens[None, :] >= need[M._DISTINCT_OPS, None])
    whole = M.delete_hashes(mat, lens, row, ords[M._DISTINCT_OPS[op]])
    assert M.deletion_hashes(mat, lens).tolist() == whole.tolist()


def test_map_returns_every_position_of_a_doubled_rune():
    probe = IndexProbe.from_arrays(np.array(["aab", "ab"], dtype=object), np.array([3, 5], dtype=np.int64))
    row, ins_ord, word, freq = probe.insert_hits(np.array(["ab", "b"], dtype=object), M.EN_ALPHABET)
    a = len(M.EN_ALPHABET)
    assert sorted(zip(row.tolist(), ins_ord.tolist(), word.tolist())) == [(0, 0, "aab"), (0, a, "aab"), (1, 0, "ab")]


class TestLangMajority:
    def test_basic(self):
        langs = lang_majority(np.array(["привет", "hello", "1000.345", "привет7x8", "ab-cd"], dtype=object))
        assert list(langs) == ["ru", "en", "num", "unknown", "en"]

    def test_bigram_keys_keep_language(self):
        # "le ft": 4 legal en + 1 space illegal → en (majority, ≤2 illegal)
        langs = lang_majority(np.array(["le ft", "игрушки для"], dtype=object))
        assert list(langs) == ["en", "ru"]

    def test_trailing_empty_string_does_not_shift_boundaries(self):
        # regression (round-1 ADVICE): a clamped reduceat offset made a
        # trailing empty element steal the previous word's last char
        langs = lang_majority(np.array(["ab", ""], dtype=object))
        assert list(langs) == ["en", "unknown"]
        langs = lang_majority(np.array(["12.5", ""], dtype=object))
        assert list(langs) == ["num", "unknown"]
        langs = lang_majority(np.array(["", "привет", "", "ok", ""], dtype=object))
        assert list(langs) == ["unknown", "ru", "unknown", "en", "unknown"]

    def test_all_empty_batch(self):
        langs = lang_majority(np.array(["", ""], dtype=object))
        assert list(langs) == ["unknown", "unknown"]


class TestGreedyPairMerge:
    def test_runs(self):
        valid = np.array([True, True, True, False])
        qb = np.array([True, False, False, False])
        got = _greedy_pair_merge(valid, qb)
        assert list(got) == [True, False, True, False]

    def test_query_boundary_blocks(self):
        valid = np.array([True, True])
        qb = np.array([True, True])  # second token starts a new query
        got = _greedy_pair_merge(valid, qb)
        assert list(got) == [False, False]


class TestCorrect:
    def test_exact_hit_lowercases(self, probe, dbloom):
        assert run(probe, dbloom, ["Телефон"]) == ["телефон"]

    def test_number_passthrough(self, probe, dbloom):
        assert run(probe, dbloom, ["1000.345"]) == ["1000.345"]

    def test_unknown_returned_as_typed(self, probe, dbloom):
        assert run(probe, dbloom, ["Zzzqqqxx"]) == ["Zzzqqqxx"]

    def test_delete_fix(self, probe, dbloom):
        # extra rune typo: deleting one rune lands on an index word (stage 0)
        assert run(probe, dbloom, ["телефонн"]) == ["телефон"]

    def test_insert_fix(self, probe, dbloom):
        # missing rune: delete of index word present in bloom → 1-insert hits
        assert run(probe, dbloom, ["телефн"]) == ["телефон"]

    def test_two_edit_fix(self, probe, dbloom):
        assert run(probe, dbloom, ["тилифон"]) == ["телефон"]

    def test_pair_merge(self, probe, dbloom):
        # "дихло фос" → adjacent same-lang merge hits unigram (service_test parity)
        assert run(probe, dbloom, ["дихло фос"]) == ["дихлофос"]

    def test_split_fused_words(self, probe, dbloom):
        # fused "игрушкидля" → split candidate probes bigram key
        assert run(probe, dbloom, ["игрушкидля детей"]) == ["игрушки для детей"]

    def test_en_correction(self, probe, dbloom):
        assert run(probe, dbloom, ["spakr"]) == ["spark"]
        # sparkk: one delete → exact
        assert run(probe, dbloom, ["sparkk"]) == ["spark"]

    def test_multi_token_query(self, probe, dbloom):
        assert run(probe, dbloom, ["чехол длля телефона"]) == ["чехол для телефон"]
        # at minimum the middle token must correct to "для"
        got = run(probe, dbloom, ["чехол длля iphone"])[0].split()
        assert got[0] == "чехол" and got[1] == "для"

    def test_batch_of_queries_isolated(self, probe, dbloom):
        got = run(probe, dbloom, ["дихло", "фос"])
        # separate queries must NOT pair-merge across the boundary
        assert got == ["дихло", "фос"] or got[0] != "дихлофос"

    def test_protected_tokens_untouched(self, probe, dbloom):
        toks = np.array(["Тилифон", "тилифон"], dtype=object)
        qids = np.array([0, 1], dtype=np.int64)
        prot = np.array([True, False])
        out, keep = correct_token_batch(toks, qids, probe, dbloom, protected=prot)
        assert out[0] == "Тилифон" and out[1] == "телефон"


def _own_alphabet(word: str) -> str:
    return M.RU_ALPHABET if lang_majority(np.array([word], dtype=object))[0] == "ru" else M.EN_ALPHABET


def _edit_tokens(word: str, n_del2: int, n_ins: int) -> np.ndarray:
    """Every distinct 1-deletion of ``word``, plus up to ``n_del2`` seeded
    distinct 2-deletions and ``n_ins`` seeded own-alphabet 1-insertions."""
    arr = np.array([word], dtype=object)
    _, dord, dels = M.delete_candidates(arr)
    rng = np.random.default_rng(len(word))
    del1 = np.unique(dels[(dord > 0) & (dord <= M.MAX_WORD_LEN)].astype(str))
    del2 = np.setdiff1d(dels[dord > M.MAX_WORD_LEN].astype(str), del1)
    ins = np.unique(M.insert_candidates(arr, _own_alphabet(word))[2].astype(str))
    picked = [rng.choice(del2, min(n_del2, del2.size), replace=False), rng.choice(ins, n_ins, replace=False)]
    return np.unique(np.concatenate([del1, *picked])).astype(object)


class TestInsertTierGates:
    """The Bloom gate of the insert tiers (on deletes) only skips work that
    cannot produce a hit, and the one-deletion map that stands in for insert
    enumeration at both levels reaches every index word up to
    ``MAX_WORD_LEN + 2`` runes."""

    def test_gates_lose_nothing_against_a_saturated_bloom(self, probe, dbloom):
        # an all-ones filter with dbloom's geometry passes every delete: the
        # ungated run, which reads the map with every one-insert of every
        # delete (tens of thousands per token).  2-deletion and 1-insertion
        # tokens are sampled, and tokens go one at a time to bound the
        # ungated candidate arrays.
        saturated = bloom.BloomState(dbloom.m, dbloom.k, np.ones(dbloom.m, dtype=bool))
        toks = np.concatenate([_edit_tokens(w, 6, 2) for w in INDEX if " " not in w])
        assert toks.size > 100
        changed = 0
        for t in toks:
            one = np.array([t], dtype=object)
            qid = np.zeros(1, dtype=np.int64)
            gated = correct_token_batch(one, qid, probe, dbloom)
            ungated = correct_token_batch(one, qid, probe, saturated)
            assert list(gated[0]) == list(ungated[0]) and list(gated[1]) == list(ungated[1]), t
            changed += gated[0][0] != t
        assert changed > toks.size // 2  # the tokens do reach the insert tiers

    def test_level1_expands_only_pending_deletes(self, probe, dbloom, monkeypatch):
        # a token one rune short of an index word hits at level 1 through
        # its own (first-ranked) delete, so no delete stays pending and no
        # one-insert is enumerated; tokens that need level 2 still are
        calls = []
        enumerate_inserts = M.insert_candidates
        monkeypatch.setattr(M, "insert_candidates", lambda s, a: calls.append(len(s)) or enumerate_inserts(s, a))
        one_short = expanded = 0
        for w in (w for w in INDEX if " " not in w):
            for t in _edit_tokens(w, 6, 2):
                calls.clear()
                out, _ = correct_token_batch(np.array([t], dtype=object), np.zeros(1, dtype=np.int64), probe, dbloom)
                if len(t) > 1 and len(t) + 1 == len(w) and out[0] == w:
                    assert calls == [], t
                    one_short += 1
                expanded += bool(calls)
        assert one_short > 30 and expanded > 0

    def test_intermediate_of_24_runes_is_not_gated(self, probe):
        # a 25-rune index word has no deletion neighborhood in the Bloom
        # (deletion_hashes skips words over MAX_WORD_LEN), so the 24-rune
        # one-insert leading to it is read from the one-deletion map, with
        # no Bloom test
        long_word = "abcdefghijklmnopqrstuvwxy"
        query = long_word[:5] + long_word[7:]
        assert (len(long_word), len(query)) == (M.MAX_WORD_LEN + 1, M.MAX_WORD_LEN - 1)
        words = list(INDEX) + [long_word]
        freqs = [INDEX.get(w, 50) for w in words]
        long_probe = IndexProbe.from_arrays(np.array(words, dtype=object), np.array(freqs, dtype=np.int64))
        st = deletion_bloom(words)
        # the query's own hash stands in for a Bloom false positive on the delete
        bloom.update_hashes(st, row_hash_u32_matrix(*M.encode_words(np.array([query], dtype=object))))
        assert run(long_probe, st, [query]) == [long_word]


    def test_two_inserts_reach_a_26_rune_word(self, probe):
        # a 24-rune query is a 26-rune index word minus two runes: level 2
        # reads the map with the query's 25-rune one-inserts, so the map must
        # hold the 1-deletions of words of MAX_WORD_LEN + 2 runes
        long_word = "abcdefghijklmnopqrstuvwxyz"
        query = long_word[:5] + long_word[7:]
        assert (len(long_word), len(query)) == (M.MAX_WORD_LEN + 2, M.MAX_WORD_LEN)
        words = list(INDEX) + [long_word]
        freqs = [INDEX.get(w, 50) for w in words]
        long_probe = IndexProbe.from_arrays(np.array(words, dtype=object), np.array(freqs, dtype=np.int64))
        st = deletion_bloom(words)
        # the query's own hash stands in for a Bloom false positive on the delete
        bloom.update_hashes(st, row_hash_u32_matrix(*M.encode_words(np.array([query], dtype=object))))
        assert run(long_probe, st, [query]) == [long_word]


def _walk_reference(word: str, weight, by_deletion) -> str | None:
    """correctWord one word at a time, first hit wins: split (heaviest,
    ties to the lower position), exact, then per delete in Deletes() order
    the delete, else its heaviest own-alphabet one-insert, else for each
    one-insert in order that string's heaviest one-insert.  ``by_deletion``
    maps a string to the (position, rune, index word) that insert into it.
    No Bloom: a delete an index word is ≤ 2 inserts away from is one of
    that word's deletions, so the gate never changes an answer."""

    def best_insert(s: str, alphabet: str) -> str | None:
        hits = [(-weight(x), p * len(alphabet) + alphabet.index(c), x)
                for p, c, x in by_deletion.get(s, ()) if c in alphabet and weight(x) > 0]
        return min(hits)[2] if hits else None

    splits = [(-weight(s), p, s) for p in range(1, len(word)) if weight(s := word[:p] + " " + word[p:]) > 0]
    if splits:
        return min(splits)[2]
    if weight(word) > 0:
        return word
    for _, d in _deletes_reference(word):
        if weight(d) > 0:
            return d
        lang = lang_majority(np.array([d], dtype=object))[0]
        alphabet = {"en": M.EN_ALPHABET, "ru": M.RU_ALPHABET}.get(lang)
        if alphabet is None:
            continue
        for s in [d] + [s for _, s in _inserts_reference(d, alphabet)]:
            if (hit := best_insert(s, alphabet)) is not None:
                return hit
    return None


def test_kernel_matches_a_sequential_walk_of_correct_word():
    """The vectorized rank key picks what the reference's sequential loop
    picks.  The index is INDEX plus dense short en/ru words of weight 1-3,
    so the deletes and inserts of one token often tie or compete, and
    bigram keys that are two splits of one fused string, some of which is
    an index word too.  The tokens are the fused strings, edits of INDEX's
    words and random short strings (digits included), as one batch."""
    rng = np.random.default_rng(11)
    words = [sorted({"".join(rng.choice(list(pool), int(rng.integers(2, 6)))) for _ in range(150)})
             for pool in ("abcde-", "абвгд")]
    pairs = [rng.choice(ws, 2) for ws in words for _ in range(25)]
    fused = [a + b for a, b in pairs]
    keys = [f"{a} {b}" for a, b in pairs] + [f"{a}{b[0]} {b[1:]}" for a, b in pairs if len(b) > 1] + fused[::3]
    index = {w: int(rng.integers(1, 4)) for w in words[0] + words[1] + keys} | INDEX
    probe = IndexProbe.from_arrays(np.array(list(index), dtype=object), np.array(list(index.values()), dtype=np.int64))

    def weight(s: str) -> int:
        lang = lang_majority(np.array([s], dtype=object))[0]
        return {"unknown": 0, "num": NUM_WEIGHT}.get(lang, index.get(s, 0))

    by_deletion = {}
    for w in index:
        for p, c in enumerate(w):
            by_deletion.setdefault(w[:p] + w[p + 1 :], []).append((p, c, w))
    pools = ["abcdef-", "абвгде", "ab1.2"]
    rand = ["".join(rng.choice(list(pools[i % 3]), int(rng.integers(1, 8)))) for i in range(300)]
    edits = [_edit_tokens(w, 12, 4) for w in INDEX if " " not in w]
    toks = np.unique(np.concatenate([*edits, rand, fused])).astype(object)
    out, _ = correct_token_batch(toks, np.arange(toks.size), probe, deletion_bloom(index))
    expect = [_walk_reference(t, weight, by_deletion) or t for t in toks]
    assert [(t, o) for t, o, e in zip(toks, out, expect) if o != e] == []
    assert (out != toks).sum() > toks.size // 2


def test_own_alphabet_inserts_never_make_num_or_unknown():
    """Insert candidates are weighed with ``probe.lookup`` alone: an
    own-alphabet rune inserted into an en or ru string never yields a string
    lang_majority calls num or unknown (so NUM_WEIGHT and the unknown→0
    override never apply to them)."""
    rng = np.random.default_rng(7)
    foreign = {"en": "0123456789.,йжЖ ", "ru": "0123456789.,qzQ "}
    for lang, alphabet in (("en", M.EN_ALPHABET), ("ru", M.RU_ALPHABET)):
        words = []
        while len(words) < 50:
            runes = list(rng.choice(list(alphabet + "-`'"), size=int(rng.integers(1, 12))))
            for _ in range(int(rng.integers(0, 3))):
                runes.insert(int(rng.integers(len(runes) + 1)), rng.choice(list(foreign[lang])))
            w = "".join(runes)
            if lang_majority(np.array([w], dtype=object))[0] == lang:
                words.append(w)
        assert any("-" in w for w in words) and any(set(w) & set("`'") for w in words)
        _, _, ins1 = M.insert_candidates(np.array(words, dtype=object), alphabet)
        assert not np.isin(lang_majority(ins1), ["num", "unknown"]).any()
        sub = ins1[rng.choice(ins1.size, 20 * len(words), replace=False)]
        _, _, ins2 = M.insert_candidates(sub, alphabet)
        assert not np.isin(lang_majority(ins2), ["num", "unknown"]).any()


def test_reassembly_edge_queries(probe, dbloom):
    """Query strings are rebuilt from their kept tokens; an empty or blank
    query gives "", whatever sits around it in the batch."""
    cases = {
        "": "",
        "дихло фос": "дихлофос",  # pair merge consumes the second token
        "   ": "",
        "пленка 4 д": "пленка 4D",  # '@' combo rendered
        "для для-детей": "для-детей",  # dupremove, left rule
        "\t": "",
        "Телефон телефон": "телефон",  # dupremove after correction
        "для-детей детей": "для-детей",  # dupremove, right rule
        "@x": "x",
    }
    got = correct_query_batch(pd.Series(list(cases), dtype=object), probe, dbloom, [])
    assert dict(zip(cases, got)) == cases
    assert correct_query_batch(pd.Series([], dtype=object), probe, dbloom, []).tolist() == []
