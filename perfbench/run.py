"""Benchmark of the sketch engine, one workload per run.

    python3 perfbench/run.py --workload build_scan --seed 1 --seconds 15 --trace 0

Runs the library from this driver process on local[<usable cores>] and checks
every output against an exact oracle.  ``--trace 0`` reports the end-to-end
metrics of BENCHMARK.json; ``--trace 1`` reports every per-layer metric from
a second Spark context with the event log on, plus the tracing overhead: the
workload's own layers from its timed passes, and the layers that only the
other workloads exercise from a few passes of those on smaller inputs.  A
readable report (every pass with its CPU noise, every metric with its unit,
the error rate) goes to stderr; the last stdout line is one JSON object with
the keys correct, attempted, failed and metrics.

Workloads, metric names and units are described in BENCHMARK.json.  Every
file the run writes lives under .perfbench_work/ in the checkout and is
removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SETUP_REPS = 3  # input generations per run; setup_s takes their median
# a traced run also measures the layers that only the other workloads
# exercise, on their inputs at this share of their size, in this many passes
SIDE_SCALE = 0.25
SIDE_PASSES = 2
# metrics whose honest value can be 0; any other metric that a run must
# produce and reads 0 points at a broken measurement
MAY_BE_ZERO = {"harness.spill_bytes", "cpu.steal_s", "spell.bloom.fpr_observed"}


def _env(work: str) -> None:
    """Keep every temp file inside the checkout, and make the library (which
    Spark's Python workers unpickle by module path) importable there."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(1, ROOT)


def start_spark(work: str, cores: int, event_log: str | None = None):
    from pyspark.sql import SparkSession

    from workloads import BATCH_ROWS

    b = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(max(cores, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(BATCH_ROWS))
        .config("spark.driver.memory", "2g")
        .config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
    )
    if event_log:
        os.makedirs(event_log)
        b = (
            b.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", event_log)
            .config("spark.eventLog.compress", "false")
        )
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark, *, shutdown_jvm: bool) -> None:
    """Stop the context; with ``shutdown_jvm`` also end the gateway JVM
    (and with it the Python worker daemon) and wait for it to exit."""
    from pyspark import SparkContext

    gateway = spark.sparkContext._gateway
    spark.stop()
    if not shutdown_jvm:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on stdin EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def measure(w, spark, seconds: float, first_tag: int, log: list, min_passes: int = 1) -> list:
    """Run passes until ``seconds`` have elapsed and ``min_passes`` have run.
    Every pass counts: a failing one is recorded and reported, never retried
    or dropped."""
    import probes

    out = []
    deadline = time.perf_counter() + seconds
    tag = first_tag
    while len(out) < min_passes or time.perf_counter() < deadline:
        rec = probes.Pass(f"{w.name}#{tag}")
        tp, merge_s = None, []
        try:
            with rec:
                tp, merge_s, rec.failures = w.run_pass(spark, tag)
        except Exception as e:  # noqa: BLE001 - a failed pass is a measured outcome
            traceback.print_exc()
            rec.failures = [f"{type(e).__name__}: {e}"]
        out.append((rec, tp, merge_s))
        log.append(rec)
        tag += 1
    return out


def _warm(w, spark, label: str, log: list) -> float:
    import probes

    rec = probes.Pass(label)
    try:
        with rec:
            rec.failures = w.warm(spark)
    except Exception as e:  # noqa: BLE001
        traceback.print_exc()
        rec.failures = [f"{type(e).__name__}: {e}"]
    log.append(rec)
    return rec.wall_s


def _extras(w, spark, label: str, log: list) -> dict[str, float]:
    """The workload's driver-side replays and layer probes; their oracle
    checks count."""
    import probes

    rec = probes.Pass(label)
    with rec:
        extra, rec.failures = w.extras(spark)
    log.append(rec)
    return extra


def _side_layers(o, spark, log: list) -> tuple[dict[str, float], int]:
    """Generate, warm and run ``SIDE_PASSES`` passes of workload ``o`` in the
    traced context, then its driver-side layer probes.  Returns those and the
    number of passes; its event-log layers are read once the context has
    stopped."""
    import workloads as W

    o.generate()
    o.prepare()
    _warm(o, spark, f"{o.name}#side-warm", log)
    passes = measure(o, spark, 0.0, 0, log, SIDE_PASSES)
    extra = _extras(o, spark, f"{o.name}#side-layers", log)
    extra[o.merge_layer] = W.median([m for _, _, ms in passes for m in ms])
    return extra, len(passes)


def run(args, work: str, w) -> tuple[dict, list]:
    import probes
    import workloads as W

    cores = len(os.sched_getaffinity(0))
    log: list = []
    layers: dict[str, float] = {}
    mem = probes.MemoryPeak()
    spark = None
    try:
        t0 = time.perf_counter()
        spark = start_spark(work, cores)
        layers["setup.spark_start_s"] = time.perf_counter() - t0

        gen_s = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            w.generate()
            gen_s.append(time.perf_counter() - t0)
        w.prepare()
        warm_s = _warm(w, spark, f"{w.name}#warm", log)
        layers["setup.generate_s"] = statistics.median(gen_s)
        layers["setup.warm_pass_s"] = warm_s

        window = args.seconds / 2 if args.trace else args.seconds
        mem.reset()
        plain = measure(w, spark, window, 0, log)
        layers["spark.jvm_peak_mb"] = mem.jvm_mb
        e2e = {
            "throughput_per_s": W.median([tp for _, tp, _ in plain if tp is not None]),
            "peak_rss_mb": mem.python_mb,
            # generation is repeated and its median taken; the cold first
            # pass of every closure (worker start, imports) runs once
            "setup_s": layers["setup.generate_s"] + warm_s,
        }
        if not any(tp is not None for _, tp, _ in plain):
            raise RuntimeError("no pass completed")
        for name, samples in (
            ("throughput_per_s", [tp for _, tp, _ in plain if tp is not None]),
            (w.merge_layer, [m for _, _, ms in plain for m in ms]),
        ):
            med, lo, hi = W.median(samples), min(samples), max(samples)
            print(f"{name}: median {med:.6g} of {len(samples)} samples, range {lo:.6g}..{hi:.6g}", file=sys.stderr)
        if not args.trace:
            return e2e, log

        # traced run: a fresh context in the same JVM with the event log on
        stop_spark(spark, shutdown_jvm=False)
        event_log = os.path.join(work, "eventlog")
        spark = start_spark(work, cores, event_log)
        _warm(w, spark, f"{w.name}#warm-traced", log)
        traced = measure(w, spark, window, len(plain), log)
        layers[w.merge_layer] = W.median([m for _, _, ms in traced for m in ms])
        layers.update(_extras(w, spark, f"{w.name}#layers", log))
        # the workloads name their Spark jobs after different steps, so the
        # side passes may reuse the tags of this workload's passes
        scale = args.scale * SIDE_SCALE
        others = [cls(work, args.seed, scale, side=True) for cls in W.WORKLOADS.values() if cls is not type(w)]
        side = [_side_layers(o, spark, log) for o in others]
        stop_spark(spark, shutdown_jvm=True)
        spark = None
        stages = probes.read_event_log(event_log)
        tags = list(range(len(plain), len(plain) + len(traced)))
        layers.update(w.stage_layers(stages, tags))
        for o, (extra, n_passes) in zip(others, side):
            extra.update(o.stage_layers(stages, list(range(n_passes))))
            layers.update({k: v for k, v in extra.items() if k in o.own_layers})

        recs = [r for r, _, _ in traced]
        layers["cpu.busy_s"] = W.median([r.busy_s for r in recs])
        layers["cpu.steal_s"] = W.median([r.steal_s for r in recs])
        layers["cpu.loadavg"] = W.median([r.load1 for r in recs])
        traced_tp = W.median([tp for _, tp, _ in traced if tp is not None])
        if traced_tp:
            layers["trace.overhead_pct"] = 100.0 * (e2e["throughput_per_s"] / traced_tp - 1.0)
        return layers, log
    finally:
        if spark is not None:
            stop_spark(spark, shutdown_jvm=True)
        mem.close()


def check_metrics(values: dict, required) -> list[str]:
    """Failures for the metrics a run must produce: missing, or 0 where 0
    cannot be a real measurement."""
    missing = [n for n in required if n not in values]
    zero = [n for n in required if n in values and n not in MAY_BE_ZERO and not values[n]]
    out = [f"metric not measured: {', '.join(missing)}"] if missing else []
    return out + ([f"metric reads 0: {', '.join(zero)}"] if zero else [])


def _report(metrics: dict, log: list, trace: int, w) -> None:
    """Human-readable report on stderr.  End-to-end metrics also show the
    workload's own name for them (build_tokens_per_s, finalize_s, ...)."""
    err = sys.stderr
    print(f"{'pass':<28}{'wall_s':>9}{'busy_s':>9}{'steal_s':>9}{'load1':>7}  checks", file=err)
    for r in log:
        status = "ok" if not r.failures else f"FAILED: {'; '.join(r.failures)[:300]}"
        print(f"{r.label:<28}{r.wall_s:9.3f}{r.busy_s:9.2f}{r.steal_s:9.2f}{r.load1:7.2f}  {status}", file=err)
    failed = sum(1 for r in log if r.failures)
    timed = sum(1 for r in log if r.label.rsplit("#", 1)[-1].isdigit())
    print(f"passes: {len(log)} ({timed} timed), failed: {failed}, error_rate: {failed / len(log):.4f} ratio", file=err)
    print(f"{'per-layer' if trace else 'end-to-end'} metrics (medians over the timed passes):", file=err)
    aliases = {} if trace else w.aliases
    for name, m in metrics.items():
        label = f"{name} = {aliases[name]}" if name in aliases else name
        print(f"  {label:<48}{m['value']:>18.6g} {m['unit']}", file=err)
    if not trace:
        for name, (value, unit) in w.summary().items():
            print(f"  {name:<48}{value:>18.6g} {unit}", file=err)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0, help="input size factor (the self-test uses a tiny one)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "wordspell_spark", "__init__.py")):
        print(f"perfbench: the wordspell_spark package is missing from {ROOT}", file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.workload not in {wl["name"] for wl in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
    _env(work)
    try:
        import probes
        import workloads as W

        w = W.WORKLOADS[args.workload](work, args.seed, args.scale)
        required = [m["name"] for m in wanted]
        declared = {m for cls in W.WORKLOADS.values() for m in cls.layers} if args.trace else set(required)
        if set(required) != declared:
            raise ValueError(f"BENCHMARK.json and the workloads disagree on {sorted(set(required) ^ declared)}")
        values, log = run(args, work, w)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    unknown = set(values) - set(required)
    if unknown:
        raise ValueError(f"metrics not in BENCHMARK.json: {sorted(unknown)}")
    rec = probes.Pass(f"{w.name}#metrics")
    rec.failures = check_metrics(values, required)
    log.append(rec)
    missing = [n for n in required if n not in values]
    if missing:
        _report({}, log, args.trace, w)
        raise RuntimeError(f"metrics not measured: {', '.join(missing)}")
    metrics = {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in wanted}
    _report(metrics, log, args.trace, w)
    failed = sum(1 for r in log if r.failures)
    print(json.dumps({"correct": failed == 0, "attempted": len(log), "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
