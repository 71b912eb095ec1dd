"""The benchmark workloads.

A workload generates its seeded inputs, runs one timed pass of the library
calls it measures, checks every output against an exact oracle, and, in a
traced run, turns the Spark event log plus a driver-side replay into
per-layer numbers.  It calls only public library functions.

Each pass yields the two timed figures of the workload: ``throughput``
(items per second of its main call), an end-to-end metric, and a list of
merge latency samples (the step that merges sketches into the served
answer), reported as the per-layer metric ``merge_layer``; a run reports the
median of the samples of all its passes.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import defaultdict
from contextlib import contextmanager

import numpy as np
import pandas as pd
import pyarrow.parquet as pq

import gen
import oracles
import probes
from wordspell_spark.functions import mutate as M
from wordspell_spark.harness import build_sketches, build_sketches_multi
from wordspell_spark.operators import checkpoint as CK
from wordspell_spark.operators import spell
from wordspell_spark.operators.index_build import build_frequency_index
from wordspell_spark.sketches import SketchSpec, bloom
from wordspell_spark.sketches.hashing import hash64, row_hash_u32_matrix

# the production 8-kind spec set of tools/sketch_job.py
SKETCH_SPECS = {
    "bloom": (SketchSpec("bloom", {"n_estimate": 200_000, "fpr": 0.005}), "tokens"),
    "hll": (SketchSpec("hll", {"p": 12}), "tokens"),
    "cms": (SketchSpec("cms", {"eps": 0.0005, "delta": 0.01}), "tokens"),
    "kll": (SketchSpec("kll", {"k": 200}), "n_tok"),
    "tdigest": (SketchSpec("tdigest", {"delta": 100.0}), "n_tok"),
    "theta": (SketchSpec("theta", {"k": 4096}), "tokens"),
    "freq": (SketchSpec("freq", {"k": 256}), "tokens"),
    "sample": (SketchSpec("sample", {"k": 1024}), "tokens"),
}
KINDS = sorted(SKETCH_SPECS)
HLL_SPEC = SketchSpec("hll", {"p": 12})
N_SPLITS = 8  # Parquet row groups, hence Spark input splits, per input
BATCH_ROWS = 20_000  # spark.sql.execution.arrow.maxRecordsPerBatch of the session

# per-layer metrics every traced run measures
COMMON_LAYERS = (
    "setup.spark_start_s",
    "setup.generate_s",
    "setup.warm_pass_s",
    "spark.jvm_peak_mb",
    "cpu.busy_s",
    "cpu.steal_s",
    "cpu.loadavg",
    "trace.overhead_pct",
    "trace.kernel_share",
    "sources.scan_s",
)
HARNESS_LAYERS = tuple(f"harness.{m}" for m in probes.HARNESS_METRICS)


@contextmanager
def job(spark, desc: str):
    """Label the Spark jobs of one timed call, so the event log maps back."""
    sc = spark.sparkContext
    sc.setJobDescription(desc)
    try:
        yield
    finally:
        sc.setJobDescription(None)


def median(values):
    return statistics.median(values) if values else 0.0


def _flatten(series: pd.Series) -> np.ndarray:
    first = series.iloc[0] if len(series) else None
    if isinstance(first, (np.ndarray, list)):
        chunks = [np.asarray(v) for v in series if len(v)]
        return np.concatenate(chunks) if chunks else np.empty(0)
    return series.to_numpy()


def replay_sketches(path: str) -> dict[str, float]:
    """Driver-side replay of input split 0 through the kernel entry points
    that ``build_sketches_multi``'s partial builder calls, in its order: per
    Arrow batch and group, flatten, ``hash64``, dedupe and
    ``update_unique_hashes`` (``SketchSpec.update`` for the kinds without
    it); then ``serialize`` per state and ``merge_payloads`` of one kind
    over the groups."""
    table = pq.ParquetFile(path).read_row_group(0, columns=["source", "tokens", "n_tok"])
    out: dict[str, float] = defaultdict(float)
    states: dict[str, dict] = {}
    items = distinct = 0
    for batch in table.to_batches(max_chunksize=BATCH_ROWS):
        pdf = batch.to_pandas()
        for key, sub in pdf.groupby("source", sort=False):
            ent = states.setdefault(key, {k: spec.create() for k, (spec, _) in SKETCH_SPECS.items()})
            flats = {vc: _flatten(sub[vc]) for vc in ("tokens", "n_tok")}
            t0 = time.perf_counter()
            h = hash64(flats["tokens"])
            t1 = time.perf_counter()
            codes, uniq = pd.factorize(h)
            hashed = (np.asarray(uniq, dtype=np.uint64), np.bincount(codes))
            t2 = time.perf_counter()
            out["sketches.hashing.hash64_s"] += t1 - t0
            out["sketches.hashing.dedupe_s"] += t2 - t1
            items += h.size
            distinct += uniq.size
            for k in KINDS:
                spec, vc = SKETCH_SPECS[k]
                fast = getattr(spec.module, "update_unique_hashes", None)
                t0 = time.perf_counter()
                if fast is not None:
                    fast(ent[k], *hashed)
                else:
                    spec.update(ent[k], flats[vc])
                out[f"sketches.{k}.update_s"] += time.perf_counter() - t0
    payloads = defaultdict(list)
    for ent in states.values():
        for k, st in ent.items():
            t0 = time.perf_counter()
            p = SKETCH_SPECS[k][0].serialize(st)
            out[f"sketches.{k}.serialize_s"] += time.perf_counter() - t0
            out[f"sketches.{k}.payload_bytes"] += len(p)
            payloads[k].append(p)
    for k, ps in payloads.items():
        t0 = time.perf_counter()
        SKETCH_SPECS[k][0].merge_payloads(ps)
        out[f"sketches.{k}.merge_s"] += time.perf_counter() - t0
    out["sketches.hashing.distinct_ratio"] = distinct / max(items, 1)
    return out


def _scan_s(spark, path: str, expr: str) -> float:
    times = []
    for i in range(3):
        t0 = time.perf_counter()
        with job(spark, f"scan#{i}"):
            spark.read.parquet(path).selectExpr(expr).collect()
        times.append(time.perf_counter() - t0)
    return median(times)


def _pass_layers(stages: dict, steps: tuple[str, ...], tags: list[int]) -> list[list]:
    """Stages of each traced pass, for the given call steps."""
    return [[s for step in steps for s in stages.get(f"{step}#{i}", [])] for i in tags]


def _median_dicts(dicts: list[dict]) -> dict[str, float]:
    keys = {k for d in dicts for k in d}
    return {k: median([d.get(k, 0.0) for d in dicts]) for k in keys}


def _partials_size(directory: str) -> tuple[int, int]:
    """(rows, bytes) of the Parquet files under ``directory``."""
    rows = size = 0
    for d, _, files in os.walk(directory):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(d, f)
                rows += pq.read_metadata(p).num_rows
                size += os.path.getsize(p)
    return rows, size


# ------------------------------------------------------------------ build_scan


class BuildScan:
    """8-kind ``build_sketches_multi`` grouped by the skewed ``source`` over
    the Zipfian sequences table, re-read from Parquet on every pass.

    throughput: input tokens per second of one build (scan to collect).
    merge latency: merging the per-source payloads of all 8 kinds into global
    sketches with ``SketchSpec.merge_payloads``, repeated ``merge_reps``
    times per pass: one merge takes ~10 ms, and the machine's speed drifts
    on a scale of seconds, so many samples spread over the run are needed.
    This is a driver-side merge, not the checkpoint layer's ``finalize``.

    The traced run also drives the checkpoint layer over a quarter of the
    same input (see ``checkpoint``); it is too slow and noisy on a 4-core
    host to be timed as a workload of its own within the benchmark's time
    budget."""

    name = "build_scan"
    aliases = {"throughput_per_s": "build_tokens_per_s"}
    merge_layer = "sketches.global_merge_s"
    own_layers = (
        (merge_layer,)
        + HARNESS_LAYERS
        + ("sketches.hashing.hash64_s", "sketches.hashing.dedupe_s", "sketches.hashing.distinct_ratio")
        + tuple(f"sketches.{k}.{m}" for k in KINDS for m in ("update_s", "serialize_s", "payload_bytes", "merge_s"))
        + tuple(
            f"checkpoint.{m}"
            for m in (
                "run_s",
                "resume_s",
                "partial_rows",
                "partials_bytes",
                "finalize_s",
                "tokens_per_s",
                "shuffle_bytes",
                "merge.task_s",
            )
        )
    )
    layers = COMMON_LAYERS + own_layers
    rows = 200_000
    merge_reps = 30
    ckpt_buckets = 64
    ckpt_reps = 3
    ckpt_share = 4  # the checkpoint rounds run over this fraction of the rows

    def __init__(self, work: str, seed: int, scale: float, side: bool = False):
        """``side``: only this workload's layers are wanted, measured in the
        traced run of another workload; one timed checkpoint round then."""
        self.seed = seed
        self.ckpt_reps = 1 if side else self.ckpt_reps
        self.n_rows = max(1000, int(self.rows * scale))
        self.path = os.path.join(work, "sequences.parquet")
        self.ckpt_path = os.path.join(work, "checkpoint-input.parquet")
        self.ckpt = os.path.join(work, "checkpoint")
        self.ckpt_ref = None

    def generate(self) -> None:
        self.table = gen.sequences(self.n_rows, self.seed)
        gen.write_parquet(self.table, self.path, N_SPLITS)
        gen.write_parquet(self._ckpt_table(), self.ckpt_path, N_SPLITS // 2)

    def _ckpt_table(self):
        return self.table.slice(0, self.n_rows // self.ckpt_share)

    def prepare(self) -> None:
        self.truth = oracles.token_truth(self.table)
        self.tokens = self.truth[None].items
        self.ckpt_truth = oracles.token_truth(self._ckpt_table())
        del self.table

    def warm(self, spark) -> list[str]:
        return self.run_pass(spark, -1)[2]

    def run_pass(self, spark, tag: int):
        t0 = time.perf_counter()
        with job(spark, f"build#{tag}"):
            rows = build_sketches_multi(spark.read.parquet(self.path), SKETCH_SPECS, ["source"]).collect()
        build_s = time.perf_counter() - t0
        rows = [r.asDict() for r in rows]
        by_kind = defaultdict(list)
        for r in rows:
            by_kind[r["kind"]].append(r["sketch"])
        times = []
        for _ in range(self.merge_reps):
            t0 = time.perf_counter()
            merged = {k: SKETCH_SPECS[k][0].merge_payloads(ps) for k, ps in by_kind.items()}
            times.append(time.perf_counter() - t0)
        failures = oracles.check_sketch_rows(rows, self.truth, KINDS)
        failures += oracles.check_merged(merged, self.truth[None])
        return self.tokens / build_s, times, failures

    def checkpoint(self, spark, job_id: str) -> tuple[dict[str, float], list[str]]:
        """HLL p=12 through ``run_checkpointed_build`` keyed by ``doc_id``
        into ``ckpt_buckets`` buckets x ``source``, over the first
        1/``ckpt_share`` of the rows: killed after half the buckets,
        resumed, then ``finalize``d and collected.  Checked against a
        one-pass ``build_sketches`` (byte-equal payloads) and the exact truth
        (rows/items, which a double-counting resume would break)."""
        df = spark.read.parquet(self.ckpt_path)
        n, half = self.ckpt_buckets, self.ckpt_buckets // 2
        args = (df, HLL_SPEC, ["source"], "tokens", "doc_id", self.ckpt, job_id)
        t0 = time.perf_counter()
        with job(spark, f"ckpt-run#{job_id}"):
            first = CK.run_checkpointed_build(*args, n_buckets=n, max_buckets_this_run=half)
        t1 = time.perf_counter()
        with job(spark, f"ckpt-resume#{job_id}"):
            second = CK.run_checkpointed_build(*args, n_buckets=n)
        t2 = time.perf_counter()
        with job(spark, f"ckpt-finalize#{job_id}"):
            rows = CK.finalize(spark, HLL_SPEC, ["source"], self.ckpt, job_id, n_buckets=n).collect()
        t3 = time.perf_counter()
        if self.ckpt_ref is None:  # same input every round: build the reference once
            with job(spark, "ckpt-reference"):
                ref = build_sketches(df, HLL_SPEC, ["source"], "tokens").collect()
            self.ckpt_ref = {r["source"]: r["sketch"] for r in ref}
        failures = [] if (first, second) == (half, n - half) else [f"checkpoint built {first}+{second} of {n} buckets"]
        failures += oracles.check_checkpoint([r.asDict() for r in rows], self.ckpt_ref, self.ckpt_truth)
        partial_rows, partials_bytes = _partials_size(os.path.join(self.ckpt, job_id, "partials"))
        shutil.rmtree(os.path.join(self.ckpt, job_id), ignore_errors=True)
        layers = {
            "checkpoint.run_s": t1 - t0,
            "checkpoint.resume_s": t2 - t1,
            "checkpoint.finalize_s": t3 - t2,
            "checkpoint.tokens_per_s": self.ckpt_truth[None].items / (t2 - t0),
            "checkpoint.partial_rows": partial_rows,
            "checkpoint.partials_bytes": partials_bytes,
        }
        return layers, failures

    def summary(self) -> dict[str, tuple[float, str]]:
        return {}

    def extras(self, spark) -> tuple[dict[str, float], list[str]]:
        out = {"sources.scan_s": _scan_s(spark, self.path, "sum(size(tokens))")}
        rep = replay_sketches(self.path)
        # kernel time of split 0: the Arrow->pandas conversion and flatten
        # are the harness's own work, not the kernels'
        self.kernel_split_s = sum(
            v for k, v in rep.items() if k.endswith(("hash64_s", "dedupe_s", "update_s", "serialize_s"))
        )
        out.update(rep)
        # an untimed round first: the closures of the checkpointed build run
        # for the first time in this context, and that start-up is not the
        # layer's cost; then the median of ``ckpt_reps`` timed rounds
        _, failures = self.checkpoint(spark, "warm")
        rounds = []
        for i in range(self.ckpt_reps):
            layers, fails = self.checkpoint(spark, f"timed{i}")
            rounds.append(layers)
            failures += fails
        out.update(_median_dicts(rounds))
        return out, failures

    def stage_layers(self, stages: dict, tags: list[int]) -> dict[str, float]:
        out = _median_dicts([probes.harness_layers(s) for s in _pass_layers(stages, ("build",), tags)])
        # share of the partial stage's task time that the replayed kernels
        # account for: one split's kernel time times the number of splits
        if out.get("harness.partial.task_s"):
            out["trace.kernel_share"] = self.kernel_split_s * N_SPLITS / out["harness.partial.task_s"]
        ids = [f"timed{i}" for i in range(self.ckpt_reps)]
        out["checkpoint.shuffle_bytes"] = median(
            [
                probes.harness_layers(stages.get(f"ckpt-run#{j}", []) + stages.get(f"ckpt-resume#{j}", []))[
                    "harness.shuffle.write_bytes"
                ]
                for j in ids
            ]
        )
        out["checkpoint.merge.task_s"] = median(
            [probes.harness_layers(stages.get(f"ckpt-finalize#{j}", []))["harness.merge.task_s"] for j in ids]
        )
        return out


# --------------------------------------------------------------- spell_correct


class SpellCorrect:
    """en+ru corpus -> ``build_frequency_index`` -> ``build_deletion_bloom``
    -> ``correct_queries`` over index words with seeded corruptions.  Skips
    the harness; the Bloom kernel is written at build (``update_hashes``)
    and read at query time (``contains_hashes``).

    throughput: corrected queries per second of ``correct_queries``.
    merge latency: ``build_deletion_bloom`` (partial filters + tree merge), built
    ``bloom_reps`` times per pass for more samples of this ~1 s step."""

    name = "spell_correct"
    aliases = {"throughput_per_s": "correct_queries_per_s"}
    merge_layer = "spell.bloom_build_s"
    own_layers = (
        merge_layer,
        "index_build.s",
        "index_build.words",
        "index_build.shuffle_bytes",
        "mutate.deletion_hashes_s",
        "mutate.deletion_hashes",
        "sketches.bloom.update_hashes_s",
        "spell.index_probe_s",
        "spell.correct_token_batch_s",
        "spell.correct.task_s",
        "spell.tokens",
        "spell.bloom.payload_bytes",
        "spell.bloom.fpr_observed",
        "spell.recall",
    )
    layers = COMMON_LAYERS + own_layers
    # 1.2M corpus words over the 50k-word vocabulary index about 7k words;
    # 6k queries make the correction tasks most of a correct_queries call
    tokens = 1_200_000
    queries = 6_000
    bloom_reps = 4

    def __init__(self, work: str, seed: int, scale: float, side: bool = False):
        self.seed = seed
        self.n_tokens = max(20_000, int(self.tokens * scale))
        self.n_queries = max(100, int(self.queries * scale))
        self.corpus_path = os.path.join(work, "corpus.parquet")
        self.queries_path = os.path.join(work, "queries.parquet")
        self.index_df = None
        self.index_s = []

    def generate(self) -> None:
        self.inputs = gen.spell_inputs(self.n_tokens, self.n_queries, self.seed)
        gen.write_parquet(self.inputs.corpus, self.corpus_path, N_SPLITS)
        gen.write_parquet(self.inputs.queries, self.queries_path, 1)

    def prepare(self) -> None:
        x = self.inputs
        self.exact = gen.exact_index(x.vocab, x.lang, x.doc_tokens, x.doc_offsets)
        words = np.array([w for _, w in self.exact], dtype=object)
        self.index_words = words
        self.member_hashes = M.deletion_hashes(*M.encode_words(words))
        self.query_text = np.asarray(x.queries.column("query").to_pylist(), dtype=object)

    def build_index(self, spark, tag: int) -> list[str]:
        if self.index_df is not None and self.index_df.sparkSession is spark:
            self.index_df.unpersist()
        t0 = time.perf_counter()
        with job(spark, f"index#{tag}"):
            self.index_df = build_frequency_index(spark.read.parquet(self.corpus_path), "text", ["doc_id"]).cache()
            n = self.index_df.count()
        self.index_s.append(time.perf_counter() - t0)
        self.index_words_built = n
        return oracles.check_index([tuple(r) for r in self.index_df.collect()], self.exact)

    def warm(self, spark) -> list[str]:
        return self.build_index(spark, -1) + self.run_pass(spark, -1)[2]

    def run_pass(self, spark, tag: int):
        bloom_s, failures = [], []
        for _ in range(self.bloom_reps):
            t0 = time.perf_counter()
            with job(spark, f"bloom#{tag}"):
                payload = spell.build_deletion_bloom(self.index_df)
            bloom_s.append(time.perf_counter() - t0)
            failures += oracles.check_bloom_hashes(payload, self.member_hashes)
        t1 = time.perf_counter()
        with job(spark, f"correct#{tag}"):
            rows = spell.correct_queries(spark.read.parquet(self.queries_path), self.index_df, payload).select(
                "query_id", "corrected"
            ).collect()
        t2 = time.perf_counter()
        self.payload = payload
        out = np.empty(self.n_queries, dtype=object)
        for r in rows:
            out[r["query_id"]] = r["corrected"]
        self.recall = oracles.recall(out, self.inputs.truth, self.inputs.kind)
        failures += oracles.check_corrections(out, self.query_text, self.inputs.kind)
        return self.n_queries / (t2 - t1), bloom_s, failures

    def summary(self) -> dict[str, tuple[float, str]]:
        """The index is built once per Spark context, in the warm pass, so
        its time is part of setup_s and shown here on its own."""
        return {
            "index_build_s": (self.index_s[0], "s"),
            "correct_recall": (self.recall, "ratio"),
        }

    def stage_layers(self, stages: dict, tags: list[int]) -> dict[str, float]:
        # the index of the traced context is built by its warm pass (tag -1)
        out = {
            "index_build.shuffle_bytes": sum(s.write_bytes for s in stages.get("index#-1", [])),
            "spell.correct.task_s": median(
                [sum(s.task_s for s in st) for st in _pass_layers(stages, ("correct",), tags)]
            ),
        }
        if out["spell.correct.task_s"]:
            out["trace.kernel_share"] = self.correct_batch_s / out["spell.correct.task_s"]
        return out

    def extras(self, spark) -> tuple[dict[str, float], list[str]]:
        out = {
            "index_build.s": self.index_s[-1],
            "index_build.words": self.index_words_built,
            "spell.bloom.payload_bytes": len(self.payload),
            "spell.recall": self.recall,
            "sources.scan_s": _scan_s(spark, self.corpus_path, "sum(length(text))"),
        }
        # driver-side build of the probe that correct_queries broadcasts
        t0 = time.perf_counter()
        probe = spell.IndexProbe.from_index_df(self.index_df)
        out["spell.index_probe_s"] = time.perf_counter() - t0

        # Bloom build kernels over the index words, as build_deletion_bloom's
        # partial builder calls them
        t0 = time.perf_counter()
        h = M.deletion_hashes(*M.encode_words(self.index_words))
        out["mutate.deletion_hashes_s"] = time.perf_counter() - t0
        out["mutate.deletion_hashes"] = h.size
        lens = np.array([len(w) for w in self.index_words])
        n_est = int(np.where(lens < 2, 0, lens * lens + 1 + 3 * (lens == 2)).sum())
        m, k = bloom.optimal_m_k(max(64, n_est), spell.DEFAULT_FPR)
        t0 = time.perf_counter()
        bloom.update_hashes(bloom.create(m=m, k=k), h)
        out["sketches.bloom.update_hashes_s"] = time.perf_counter() - t0

        # the correction kernel over the whole query set as one batch
        q = spell.preprocess_query_strings(pd.Series(self.query_text))
        lists = q.str.split()
        qid = np.repeat(np.arange(len(lists)), lists.str.len().to_numpy())
        toks = np.array([t for lst in lists for t in lst], dtype=object)
        state = bloom.deserialize(self.payload)
        t0 = time.perf_counter()
        spell.correct_token_batch(toks, qid, probe, state, protected=spell.canonical_protected(toks))
        self.correct_batch_s = out["spell.correct_token_batch_s"] = time.perf_counter() - t0
        out["spell.tokens"] = toks.size

        # observed false-positive rate on strings outside the deletion universe
        rng = np.random.default_rng([self.seed, 3])
        probes_ = np.concatenate(
            [gen.random_words(rng, gen.EN_LETTERS, 25_000), gen.random_words(rng, gen.RU_LETTERS, 25_000)]
        )
        ph = row_hash_u32_matrix(*M.encode_words(probes_))
        ph = ph[~np.isin(ph, h)]
        out["spell.bloom.fpr_observed"] = float(bloom.contains_hashes(state, ph).mean())
        return out, []


WORKLOADS = {w.name: w for w in (BuildScan, SpellCorrect)}
