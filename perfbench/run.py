"""Run one benchmark workload for one seed and print one JSON result line.

    python3 perfbench/run.py --workload interactive_match --seed 1 --seconds 6 --trace 0

Run from the root of a source checkout; the engine is imported from there.
``--trace 0`` measures the end-to-end metrics with no tracing: set-up time
(median of two session starts, each followed by a warm-up request), then
requests in a closed loop with one client for ``--seconds``, then the
output checks.  ``--trace 1`` is the separate traced run: untraced requests
for Spark's own counters, then requests decomposed into one span per public
call, then the in-process similarity-kernel microbenchmark; it sets up once.

The last line of stdout is ``{"correct", "attempted", "failed", "metrics"}``;
the line before it holds the details (sample counts, the tail percentile,
the session config).  Spans are written to ``.perfbench/`` when the run ends.
All scratch files live under ``.perfbench/`` in the checkout and are removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback
from pathlib import Path

from probe import RssSampler, Tracer, descendants, engine_counters

HERE = Path(__file__).resolve().parent
ROOT = Path.cwd()
SETUP_REPEATS = 2  # a cold start (JVM launch) and a warm restart in that JVM
TRACE_UNTRACED_SHARE = 0.4  # of --seconds, for the untraced requests of a traced run
KERNEL_BUDGET_S = 0.2  # per similarity kernel


def _units() -> dict[str, dict[str, str]]:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def _cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_session(work: Path):
    from pyspark.sql import SparkSession

    cfg = json.loads((HERE / "session.json").read_text())
    b = SparkSession.builder.master(f"local[{_cpus()}]").appName("perfbench")
    for k, v in cfg.items():
        b = b.config(k, v)
    (work / "tmp").mkdir(parents=True, exist_ok=True)
    b = b.config("spark.local.dir", str(work / "spark-local"))
    b = b.config("spark.driver.extraJavaOptions", f"-Djava.io.tmpdir={work / 'tmp'}")
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait until every process this
    run started has ended."""
    from pyspark import SparkContext

    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    # Anything left (orphaned Python workers): SIGTERM, then SIGKILL.
    for sig, grace in ((signal.SIGTERM, 10), (signal.SIGKILL, 5)):
        for pid in descendants(os.getpid()):
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.monotonic() + grace
        while descendants(os.getpid()) and time.monotonic() < deadline:
            try:
                os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                pass
            time.sleep(0.1)


def tail(times: list[float]) -> tuple[float, float]:
    """``(value, percentile)``: the highest percentile with at least ten
    samples beyond it, or the maximum (percentile 100) below 11 samples."""
    s = sorted(times)
    n = len(s)
    if n < 11:
        return s[-1], 100.0
    return s[n - 11], 100.0 * (n - 10) / n


def kernel_us(pairs: list[tuple[str, str]]) -> dict[str, float]:
    """Microseconds per call of each similarity kernel on ``pairs``, in this
    process, on one thread."""
    from name_match_ml_spark.functions import similarity as sim

    strings = [s for pair in pairs for s in pair]
    calls = {sim.ratio: pairs, sim.partial_ratio: pairs, sim.token_set_ratio: pairs,
             sim.soundex: [(s,) for s in strings], sim.metaphone: [(s,) for s in strings]}
    out = {}
    for fn, args in calls.items():
        n, t0 = 0, time.perf_counter()
        while time.perf_counter() - t0 < KERNEL_BUDGET_S:
            for a in args:
                fn(*a)
            n += len(args)
        out[f"similarity.{fn.__name__}_us"] = (time.perf_counter() - t0) / n * 1e6
    return out


def _closed_loop(wl, spark, seconds: float, min_jobs: int = 1, on_job=None):
    """Requests one after another until ``seconds`` have passed and at least
    ``min_jobs`` requests ran.  Returns ``[(i, inputs, output or None,
    seconds)]``."""
    jobs, i = [], 0
    end = time.perf_counter() + seconds
    while len(jobs) < min_jobs or time.perf_counter() < end:
        inp = wl.prepare(spark, i)
        if on_job is not None:
            on_job(i)
        t0 = time.perf_counter()
        try:
            out = wl.run(spark, inp)
        except Exception:  # a failed request is counted, not fatal
            traceback.print_exc()
            out = None
        jobs.append((i, inp, out, time.perf_counter() - t0))
        i += 1
    return jobs


def _checked(wl, jobs) -> int:
    """Check every request's output; returns how many failed."""
    failed = 0
    for i, inp, out, _ in jobs:
        if out is None:
            failed += 1
            continue
        try:
            ok = wl.check(i, inp, out)
        except Exception:
            traceback.print_exc()
            ok = False
        failed += not ok
    return failed


def set_up(wl, work: Path, repeats: int = SETUP_REPEATS):
    """``repeats`` session starts, each followed by the workload's warm-up
    request; returns the last (live) session and the set-up times."""
    setup = []
    for k in range(repeats):
        t0 = time.perf_counter()
        spark = start_session(work)
        wl.warm(spark)
        setup.append(time.perf_counter() - t0)
        if k < repeats - 1:
            spark.stop()
    return spark, setup


def measure(wl, work: Path, seconds: float) -> tuple[dict, dict, int, int]:
    spark = None
    try:
        spark, setup = set_up(wl, work)
        # Memory is sampled while requests are served, after the first
        # session's Python workers are gone.
        with RssSampler() as rss:
            jobs = _closed_loop(wl, spark, seconds, wl.min_jobs)
        failed = _checked(wl, jobs)
    finally:
        shutdown(spark)
    times = [dt for _, _, out, dt in jobs if out is not None] or [float("nan")]
    rows = sum(inp["rows"] for _, inp, out, _ in jobs if out is not None)
    tail_s, tail_pct = tail(times)
    quality = {"match_recall": 1.0, "test_accuracy": 1.0, "test_auc": 1.0, "dedup_recall": 1.0}
    quality.update(wl.quality())
    metrics = {
        "setup_s": statistics.median(setup),
        "job_p50_s": statistics.median(times),
        "job_tail_s": tail_s,
        "rows_per_s": rows / sum(times),
        **quality,
        "success_rate": (len(jobs) - failed) / len(jobs),
        "peak_rss_mb": rss.peak / 2**20,
    }
    detail = {
        "setup_runs_s": setup,
        "job_s": times,
        "job_tail_percentile": tail_pct,
        "job_samples": len(jobs),
        "not_applicable_reported_as_1": sorted(set(quality) - set(wl.quality())),
        **(wl.detail() if hasattr(wl, "detail") else {}),
    }
    return metrics, detail, len(jobs), failed


def _median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def measure_traced(wl, work: Path, seconds: float, units: dict[str, str]) -> tuple[dict, dict, int, int]:
    spark = None
    try:
        spark, _ = set_up(wl, work, repeats=1)
        sc = spark.sparkContext
        untraced = _closed_loop(
            wl, spark, seconds * TRACE_UNTRACED_SHARE,
            on_job=lambda i: sc.setJobGroup(f"untraced-{i}", "untraced request"),
        )
        counters = [engine_counters(sc, f"untraced-{i}") for i, _, out, _ in untraced if out is not None]
        tracer = Tracer()
        traced, layers = [], []
        end = time.perf_counter() + seconds * (1 - TRACE_UNTRACED_SHARE)
        i = len(untraced)
        while not traced or time.perf_counter() < end:
            inp = wl.prepare(spark, i)
            sc.setJobGroup(f"traced-{i}", "traced request")
            tracer.request = i
            with tracer.span("request") as req:
                layers.append(wl.traced(spark, i, inp, tracer))
            traced.append(req["end"] - req["start"])
            i += 1
        failed = _checked(wl, untraced)
    finally:
        shutdown(spark)
    (ROOT / ".perfbench").mkdir(exist_ok=True)
    tracer.write(str(ROOT / ".perfbench" / f"spans-{wl.name}-{wl.seed}.json"))

    metrics = {name: 0.0 for name in units}
    for name, values in tracer.self_times().items():
        if f"{name}_s" in metrics:
            metrics[f"{name}_s"] = statistics.median(values)
    for key in ("matching.distinct_share", "matching.output_rows", "matching.not_found_rows",
                "blocking.candidate_pairs", "blocking.pair_share", "blocking.useful_share",
                "dedup.ngram_pairs", "dedup.minhash_pairs", "dedup.simhash_pairs"):
        metrics[key] = _median_or_zero([lay[key] for lay in layers if key in lay])
    pairs = sum(lay.get("scoring.pairs", 0) for lay in layers)
    repeats = sum(lay.get("scoring.repeat_pairs", 0) for lay in layers)
    metrics["scoring.repeat_pair_share"] = repeats / pairs if pairs else 0.0
    score_s = tracer.self_times().get("scoring.score", [])
    per_pair = [s / lay["scoring.scored_pairs"] * 1e6 for s, lay in zip(score_s, layers) if lay.get("scoring.scored_pairs")]
    metrics["scoring.us_per_pair"] = _median_or_zero(per_pair)
    for key in counters[0] if counters else ():
        metrics[f"engine.{key}"] = statistics.median(c[key] for c in counters)
    metrics.update(kernel_us(wl.text_pairs))
    untraced_s = [dt for _, _, out, dt in untraced if out is not None]
    metrics["trace.overhead_s"] = statistics.median(traced) - _median_or_zero(untraced_s)
    detail = {
        "untraced_requests": len(untraced),
        "traced_requests": len(traced),
        "traced_request_s": traced,
        "untraced_request_s": untraced_s,
        "request_self_s": tracer.self_times().get("request", []),
    }
    return metrics, detail, len(untraced), failed


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # On SIGTERM, unwind through the finally blocks that stop Spark.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not (ROOT / "name_match_ml_spark").is_dir():
        print("run from the root of a checkout that holds name_match_ml_spark/", file=sys.stderr)
        return 2
    units = _units()
    work = ROOT / ".perfbench" / f"work-{args.workload}-{args.seed}-{os.getpid()}"
    work.mkdir(parents=True, exist_ok=True)
    # Spark, the JVM and the Python workers keep every scratch file here.
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), os.environ.get("PYTHONPATH", "")) if p
    )
    sys.path[:0] = [str(ROOT), str(HERE)]
    try:
        from workloads import WORKLOADS

        if args.workload not in WORKLOADS:
            print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}", file=sys.stderr)
            return 2
        wl = WORKLOADS[args.workload](args.seed, work)
        if args.trace:
            metrics, detail, attempted, failed = measure_traced(wl, work, args.seconds, units["per_layer"])
            wanted = units["per_layer"]
        else:
            metrics, detail, attempted, failed = measure(wl, work, args.seconds)
            wanted = units["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)

    missing = set(wanted) - set(metrics)
    if missing:
        print(f"metrics not measured: {sorted(missing)}", file=sys.stderr)
        return 3
    session = json.loads((HERE / "session.json").read_text())
    print(json.dumps({"detail": {**detail, "session": {"master": f"local[{_cpus()}]", **session}}}))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in wanted.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
