"""Distributed BPE training: exact parity with a pure-python reference
implementation (same Sennrich counting + tie-break), run-corpus arithmetic,
early stop, encode/train consistency, plan discipline."""

from __future__ import annotations

from collections import Counter

import numpy as np
import pytest

from wordspell_spark.operators import bpe as B


def _py_train(word_counts: dict[str, int], n_merges: int, min_count: int = 2, batch_k: int = 1):
    """Reference BPE: adjacent-pair counts incl. overlaps, merge applied
    left-to-right non-overlapping, ties by (a asc, b asc).  ``batch_k > 1``
    picks each round's merges from the top ``4*batch_k`` pairs with
    ``B._select_disjoint``, as batched training does."""
    table = {tuple(w.encode("utf-8")): c for w, c in word_counts.items()}
    merges = []
    while len(merges) < n_merges:
        pairs = Counter()
        for seq, c in table.items():
            for i in range(len(seq) - 1):
                pairs[(seq[i], seq[i + 1])] += c
        want = min(batch_k, n_merges - len(merges))
        top = sorted(pairs.items(), key=lambda kv: (-kv[1], kv[0]))[: 4 * want]
        chosen = B._select_disjoint(
            [{"a": a, "b": b, "total": c} for (a, b), c in top], want, min_count
        )
        if not chosen:
            break
        for a, b in chosen:
            new_id = 256 + len(merges)
            merges.append((a, b, new_id))
            table = {
                tuple(B._merge_one(list(seq), a, b, new_id)): c for seq, c in table.items()
            }
    return merges


def _py_encode(text: str, merges) -> list[int]:
    out = []
    for w in text.split():
        seq = list(w.encode("utf-8"))
        for a, b, n in merges:
            seq = B._merge_one(seq, a, b, n)
        out.extend(seq)
    return out


CORPUS = [
    "the cat sat on the mat",
    "the bat and the cat chat",
    "that hat on the cat is flat",
    "matters of fact do not chatter",
    "the the the cat cat mat",
]


class TestTrainParity:
    def test_merge_sequence_matches_reference(self, spark):
        df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)],
                                   "doc_id long, text string")
        got = B.train_bpe(df, 12, min_count=2)
        wc = Counter(w for t in CORPUS for w in t.split())
        want = _py_train(dict(wc), 12)
        assert got == want and len(got) >= 8

    def test_encodings_match_reference(self, spark):
        df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)],
                                   "doc_id long, text string")
        merges = B.train_bpe(df, 10)
        enc = {r["doc_id"]: list(r["tokens"]) for r in B.bpe_encode(df, merges).collect()}
        for i, t in enumerate(CORPUS):
            assert enc[i] == _py_encode(t, merges), i

    def test_vocab_bytes_roundtrip(self, spark):
        df = spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)],
                                   "doc_id long, text string")
        merges = B.train_bpe(df, 10)
        vocab = B.vocab_bytes(merges)
        row = B.bpe_encode(df, merges).filter("doc_id = 0").collect()[0]
        text = b"".join(vocab[t] for t in row["tokens"]).decode("utf-8")
        assert text == CORPUS[0].replace(" ", "")  # words concatenated

    def test_early_stop_on_min_count(self, spark):
        df = spark.createDataFrame([(0, "abcdefg hijklmn")], "doc_id long, text string")
        merges = B.train_bpe(df, 50, min_count=2)
        assert merges == []  # every pair occurs once

    def test_empty_and_whitespace_docs(self, spark):
        df = spark.createDataFrame([(0, "aa aa aa"), (1, "   "), (2, "")],
                                   "doc_id long, text string")
        merges = B.train_bpe(df, 1)
        assert merges == [(97, 97, 256)]
        out = {r["doc_id"]: r["n_tokens"] for r in B.bpe_encode(df, merges).collect()}
        assert out == {0: 3, 1: 0, 2: 0}


class TestRunCorpusArithmetic:
    def test_doubling_chain_and_popcount_tokens(self, spark):
        # words 'a'*(32..63): training must learn exactly the doubling chain,
        # and greedy encoding of a^n is 1 + popcount(n - 32) tokens
        rows = [(i, "a" * (i % 32 + 32)) for i in range(96)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        merges = B.train_bpe(df, 5)
        assert merges == [(97, 97, 256), (256, 256, 257), (257, 257, 258),
                          (258, 258, 259), (259, 259, 260)]
        out = {r["doc_id"]: r["n_tokens"] for r in B.bpe_encode(df, merges).collect()}
        for i in range(96):
            n = i % 32 + 32
            assert out[i] == 1 + bin(n % 32).count("1"), (i, n)


class TestScaleShape:
    def test_pair_count_is_catalyst(self, spark):
        # the per-iteration pair count aggregates in Catalyst (map-side
        # combined groupBy over the numpy per-partition partials), not in
        # a Python aggregation
        df = spark.createDataFrame([(0, "aa ab aa")], "doc_id long, text string")
        plan = B._pair_counts(B._word_table(df, "text"))._jdf.queryExecution().executedPlan().toString()
        assert plan.count("HashAggregate") >= 2  # partial + final
        assert plan.count("MapInPandas") == 1  # the numpy partial counter
        assert plan.count("ArrowEvalPython") <= 1  # only the word symbolizer

    def test_bad_n_merges(self, spark):
        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        with pytest.raises(ValueError):
            B.train_bpe(df, -1)


class TestEncodeEdgeCases:
    def test_null_text_and_unicode_separators(self, spark):
        # NULL text → zero tokens; NBSP is NOT a separator under the
        # ASCII-\s convention training uses (the bytes stay inside the word)
        from pyspark.sql import Row

        df = spark.createDataFrame(
            [Row(doc_id=0, text="aa aa"), Row(doc_id=1, text=None),
             Row(doc_id=2, text="aa\u00a0aa")],
            "doc_id long, text string")
        merges = B.train_bpe(df, 1)
        assert merges == [(97, 97, 256)]
        out = {r["doc_id"]: (r["n_tokens"], list(r["tokens"]))
               for r in B.bpe_encode(df, merges).collect()}
        assert out[0] == (2, [256, 256])
        assert out[1] == (0, [])
        # 'aa<nbsp>aa' is ONE word: 256, 0xC2, 0xA0, 256 — separator bytes kept
        assert out[2] == (4, [256, 0xC2, 0xA0, 256])

    def test_id_col_name_and_type_preserved(self, spark):
        df = spark.createDataFrame([("p1", "aa aa")], "page_id string, text string")
        merges = [(97, 97, 256)]
        out = B.bpe_encode(df, merges, id_col="page_id").collect()[0]
        assert out["page_id"] == "p1" and out["n_tokens"] == 2


class TestFlatKernels:
    """r5: the vectorized flat-stream kernels must BE _merge_one."""

    def test_flatten_split_roundtrip(self):
        words = [[97], [98, 99], [100, 101, 102], [256, 256]]
        flat = B._flatten_words(words)
        assert [list(w) for w in B._split_words(flat)] == words

    def test_merge_flat_matches_merge_one_on_runs(self):
        # a==b runs are the overlap-sensitive case: greedy non-overlap
        # keeps floor(k/2) merges per run of k
        for word in ([97] * 7, [97] * 6, [97, 98] * 4, [98, 97, 97, 97, 98],
                     [97, 97, 98, 97, 97, 97], [97], []):
            if not word:
                continue
            flat = B._flatten_words([word])
            got = list(B._split_words(B._merge_flat(flat, 97, 97, 300))[0])
            assert got == B._merge_one(list(word), 97, 97, 300), word

    def test_merge_flat_never_crosses_word_boundary(self):
        flat = B._flatten_words([[97, 98], [98, 99]])  # ...98 | 98... no (98,98) merge
        out = [list(w) for w in B._split_words(B._merge_flat(flat, 98, 98, 300))]
        assert out == [[97, 98], [98, 99]]

    def test_merge_flat_property_vs_merge_one(self):
        import numpy as np
        rng = np.random.default_rng(7)
        for trial in range(200):
            words = [list(rng.integers(97, 100, rng.integers(1, 9))) for _ in range(rng.integers(1, 6))]
            a, b = int(rng.integers(97, 100)), int(rng.integers(97, 100))
            flat = B._merge_flat(B._flatten_words(words), a, b, 300)
            got = [list(w) for w in B._split_words(flat)]
            want = [B._merge_one(list(w), a, b, 300) for w in words]
            assert got == want, (trial, words, a, b)


class TestBatchedMerges:
    """batch_k>1: the r5 scale path — top-K symbol-disjoint merges/round."""

    def test_merge_flat_multi_equals_sequential_for_disjoint_batches(self):
        rng = np.random.default_rng(11)
        for trial in range(200):
            words = [list(rng.integers(97, 105, rng.integers(1, 10))) for _ in range(rng.integers(1, 6))]
            # build a random symbol-disjoint batch over alphabet 97..104
            syms = list(rng.permutation(np.arange(97, 105)))
            n_pairs = int(rng.integers(1, 4))
            batch = []
            for j in range(n_pairs):
                a, b = int(syms[2 * j]), int(syms[2 * j + 1])
                if rng.integers(0, 4) == 0:
                    b = a  # include (x,x) run pairs in the property
                batch.append((a, b, 300 + j))
            # (x,x) pairs may collide with another pair's symbols — refilter
            used, clean = set(), []
            for a, b, n in batch:
                if a in used or b in used:
                    continue
                clean.append((a, b, n))
                used.update((a, b))
            flat = B._flatten_words(words)
            got = B._merge_flat_multi(flat, clean)
            seq = flat
            for a, b, n in clean:
                seq = B._merge_flat(seq, a, b, n)
            assert got.tolist() == seq.tolist(), (trial, words, clean)
            # disjointness ⇒ application order is irrelevant
            rev = flat
            for a, b, n in reversed(clean):
                rev = B._merge_flat(rev, a, b, n)
            assert got.tolist() == rev.tolist(), (trial, words, clean)

    def test_select_disjoint(self):
        rows = [
            {"a": 1, "b": 2, "total": 90},
            {"a": 2, "b": 3, "total": 80},  # conflicts with (1,2)
            {"a": 4, "b": 4, "total": 70},
            {"a": 4, "b": 5, "total": 60},  # conflicts with (4,4)
            {"a": 6, "b": 7, "total": 50},
            {"a": 8, "b": 9, "total": 1},  # below min_count floor
        ]
        assert B._select_disjoint(rows, 10, 2) == [(1, 2), (4, 4), (6, 7)]
        assert B._select_disjoint(rows, 2, 2) == [(1, 2), (4, 4)]
        assert B._select_disjoint(rows, 3, 100) == []

    def test_batch_k_one_is_exactly_sequential(self, spark):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
        )
        assert B.train_bpe(df, 10, batch_k=1) == B.train_bpe(df, 10)

    def test_batched_training_invariants(self, spark):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
        )
        merges = B.train_bpe(df, 12, batch_k=4)
        assert len(merges) <= 12
        # contiguous deterministic ids
        assert [n for _, _, n in merges] == list(range(256, 256 + len(merges)))
        # deterministic: a pure function of the corpus
        assert merges == B.train_bpe(df, 12, batch_k=4)
        # decode roundtrip: every token expands back to the original bytes
        vocab = B.vocab_bytes(merges)
        enc = {r["doc_id"]: list(r["tokens"]) for r in B.bpe_encode(df, merges).collect()}
        for i, text in enumerate(CORPUS):
            decoded = b"".join(vocab[t] for t in enc[i]).decode("utf-8")
            assert decoded == "".join(text.split()), i
        # batched encode never yields MORE tokens than byte-level
        n_bytes = sum(len(w.encode()) for t in CORPUS for w in t.split())
        assert sum(len(v) for v in enc.values()) <= n_bytes

    def test_batched_matches_reference(self, spark):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string"
        )
        wc = Counter(w for t in CORPUS for w in t.split())
        assert B.train_bpe(df, 12, batch_k=4) == _py_train(dict(wc), 12, batch_k=4)

    def test_bad_batch_k_rejected(self, spark):
        df = spark.createDataFrame([(0, "x")], "doc_id long, text string")
        with pytest.raises(ValueError, match="batch_k"):
            B.train_bpe(df, 1, batch_k=0)

