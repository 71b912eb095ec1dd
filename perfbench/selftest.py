"""Self-test of the benchmark.

    python3 perfbench/selftest.py

1. The generators are pure functions of their seed.
2. Every oracle check passes on honest sketches built with the library's own
   kernels and fails on a deliberately corrupted payload or wrong answer.
3. A run fails when a metric it must produce is missing or reads 0, and a
   tiny run of every workload, plain and traced, prints every metric of
   BENCHMARK.json with its unit, as a number, and fails no check.
4. In a directory holding only BENCHMARK.json and this benchmark (no
   library), the benchmark exits non-zero without printing a result.

Exits non-zero at the first broken expectation.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(1, ROOT)

import gen  # noqa: E402
import oracles  # noqa: E402
import run  # noqa: E402
from wordspell_spark.functions import mutate as M  # noqa: E402
from wordspell_spark.sketches import bloom  # noqa: E402
from wordspell_spark.sketches.serde import SketchFormatError  # noqa: E402
from workloads import KINDS, SKETCH_SPECS  # noqa: E402


def expect(cond: bool, what: str) -> None:
    if not cond:
        raise SystemExit(f"selftest FAILED: {what}")
    print(f"ok  {what}")


def rejects(check, *args) -> bool:
    """A check rejects its input by reporting a failure or, for a payload
    too damaged to read, by raising (the run counts that pass as failed)."""
    try:
        return bool(check(*args))
    except (SketchFormatError, ValueError):
        return True


def check_generators() -> None:
    a, b = gen.sequences(2000, 5), gen.sequences(2000, 5)
    expect(a.equals(b) and not a.equals(gen.sequences(2000, 6)), "sequences are a function of the seed")
    x, y = gen.spell_inputs(20_000, 100, 5), gen.spell_inputs(20_000, 100, 5)
    expect(x.corpus.equals(y.corpus) and x.queries.equals(y.queries), "spell inputs are a function of the seed")


# corruptions: deserialize, damage the state, serialize again
CORRUPT = {
    "hll": lambda st: st.registers.fill(0),
    "theta": lambda st: setattr(st, "hashes", st.hashes[::2]),
    "cms": lambda st: st.counts.fill(0),
    "bloom": lambda st: st.bits.fill(False),
    "kll": lambda st: setattr(st, "compactors", [c + 50.0 for c in st.compactors]),
    "tdigest": lambda st: setattr(st, "means", st.means + 50.0),
    "freq": lambda st: setattr(st, "counters", {k: 2 * v + 1 for k, v in st.counters.items()}),
    "sample": lambda st: st.values.__setitem__(0, -1),
}


def _corrupt(kind: str, payload: bytes) -> bytes:
    spec = SKETCH_SPECS[kind][0]
    st = spec.deserialize(payload)
    CORRUPT[kind](st)
    return spec.serialize(st)


def check_sketch_oracles() -> None:
    table = gen.sequences(20_000, 3)
    truth = oracles.token_truth(table)
    src = np.asarray(table.column("source").to_pylist(), dtype=object)
    tokens = table.column("tokens").to_pylist()
    n_tok = table.column("n_tok").to_numpy()
    rows = []
    for g in (g for g in truth if g is not None):
        sel = src == g
        vals = {"tokens": np.concatenate([np.asarray(t) for t, s in zip(tokens, sel) if s]), "n_tok": n_tok[sel]}
        for k in KINDS:
            spec, vc = SKETCH_SPECS[k]
            st = spec.create()
            spec.update(st, vals[vc])
            items = truth[g].rows if k in oracles.QUANTILE_KINDS else truth[g].items
            rows.append({"source": g, "kind": k, "sketch": spec.serialize(st), "rows": truth[g].rows, "items": items})
    expect(not oracles.check_sketch_rows(rows, truth, KINDS), "honest 8-kind sketch table passes every check")
    for k in KINDS:
        bad = [dict(r, sketch=_corrupt(k, r["sketch"])) if (r["kind"], r["source"]) == (k, "web") else r for r in rows]
        expect(rejects(oracles.check_sketch_rows, bad, truth, KINDS), f"corrupted {k} payload fails its check")
    bad = [dict(r, rows=r["rows"] + 1) if r is rows[0] else r for r in rows]
    expect(rejects(oracles.check_sketch_rows, bad, truth, KINDS), "a double-counted row count fails")
    expect(rejects(oracles.check_sketch_rows, rows[1:], truth, KINDS), "a missing (source, kind) row fails")

    merged = {
        k: SKETCH_SPECS[k][0].merge_payloads([r["sketch"] for r in rows if r["kind"] == k]) for k in KINDS
    }
    expect(not oracles.check_merged(merged, truth[None]), "honest global merge passes every check")
    for k in KINDS:
        expect(rejects(oracles.check_merged, {k: _corrupt(k, merged[k])}, truth[None]), f"corrupted global {k} fails")

    ref = {r["source"]: r["sketch"] for r in rows if r["kind"] == "hll"}
    fin = [{"source": g, "sketch": p, "rows": truth[g].rows, "items": truth[g].items} for g, p in ref.items()]
    expect(not oracles.check_checkpoint(fin, ref, truth), "honest finalize table passes")
    flipped = bytearray(fin[0]["sketch"])
    flipped[-1] ^= 1
    bad = [dict(fin[0], sketch=bytes(flipped))] + fin[1:]
    expect(rejects(oracles.check_checkpoint, bad, ref, truth), "a finalize payload differing by one bit fails")
    bad = [dict(fin[0], items=2 * fin[0]["items"])] + fin[1:]
    expect(rejects(oracles.check_checkpoint, bad, ref, truth), "double-counted items after a resume fail")


def check_spell_oracles() -> None:
    x = gen.spell_inputs(20_000, 200, 4)
    exact = gen.exact_index(x.vocab, x.lang, x.doc_tokens, x.doc_offsets)
    rows = [(lang, w, f) for (lang, w), f in exact.items()]
    expect(not oracles.check_index(rows, exact), "exact index passes")
    expect(rejects(oracles.check_index, rows[1:], exact), "index missing a word fails")
    expect(rejects(oracles.check_index, [(rows[0][0], rows[0][1], rows[0][2] + 1)] + rows[1:], exact), "wrong frequency fails")

    words = np.array([w for _, w in exact], dtype=object)
    members = M.deletion_hashes(*M.encode_words(words))
    st = bloom.create(n_estimate=members.size, fpr=0.005)
    bloom.update_hashes(st, members)
    expect(not oracles.check_bloom_hashes(bloom.serialize(st), members), "full deletion Bloom passes")
    st.bits[: st.m // 2] = False
    expect(rejects(oracles.check_bloom_hashes, bloom.serialize(st), members), "Bloom with false negatives fails")

    queries = np.asarray(x.queries.column("query").to_pylist(), dtype=object)
    perfect = np.where(x.kind == "untouched", queries, x.truth)
    expect(not oracles.check_corrections(perfect, queries, x.kind), "untouched queries unchanged pass")
    expect(oracles.recall(perfect, x.truth, x.kind) == 1.0, "recall of perfect corrections is 1")
    bad = perfect.copy()
    bad[np.flatnonzero(x.kind == "untouched")[0]] += "x"
    expect(rejects(oracles.check_corrections, bad, queries, x.kind), "a changed untouched query fails")
    bad = perfect.copy()
    bad[0] = None
    expect(rejects(oracles.check_corrections, bad, queries, x.kind), "a missing query fails")
    expect(oracles.recall(queries, x.truth, x.kind) < 0.5, "uncorrected queries have low recall")


def check_metric_checks() -> None:
    required = ["a_s", "cpu.steal_s"]
    expect(not run.check_metrics({"a_s": 1.5, "cpu.steal_s": 0.0}, required), "measured metrics pass")
    expect(bool(run.check_metrics({"cpu.steal_s": 0.1}, required)), "a metric the run did not produce fails")
    expect(bool(run.check_metrics({"a_s": 0.0, "cpu.steal_s": 0.1}, required)), "a metric that reads 0 fails")


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7", "--seconds", "2",
           "--trace", str(trace), "--scale", "0.05"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)


def check_tiny_runs() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for wl in spec["workloads"]:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            p = _run(ROOT, wl["name"], trace)
            if p.returncode:
                sys.stderr.write(p.stderr[-4000:])
            res = json.loads(p.stdout.strip().splitlines()[-1])
            want = {m["name"]: m["unit"] for m in spec[key]}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            expect(p.returncode == 0 and got == want, f"{wl['name']} trace={trace} prints every {key} metric with its unit")
            expect(res["correct"] and res["failed"] == 0 and res["attempted"] >= 1, f"{wl['name']} trace={trace} passes its oracles")
            numbers = all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
            expect(numbers, f"{wl['name']} trace={trace} gives every metric a number")
            for m in spec[key]:
                print(f"      {m['name']} = {res['metrics'][m['name']]['value']} {m['unit']}")


def check_bare_directory() -> None:
    bare = os.path.join(ROOT, ".perfbench_work", f"bare-{os.getpid()}")
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"), ignore=shutil.ignore_patterns("__pycache__"))
        p = _run(bare, "build_scan", 0)
        printed = any(line.startswith("{") for line in p.stdout.splitlines())
        expect(p.returncode != 0 and not printed, "without the library the benchmark fails and prints no result")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


if __name__ == "__main__":
    check_generators()
    check_sketch_oracles()
    check_spell_oracles()
    check_metric_checks()
    check_bare_directory()
    check_tiny_runs()
    print("selftest passed")
