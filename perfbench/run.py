#!/usr/bin/env python3
"""Seeded end-to-end benchmark of maup_spark, one workload per process.

    python3 perfbench/run.py --workload points_assign --seed 1 --seconds 16 --trace 0

Run from the repository root.  One run is one process with a fresh Spark
session at ``local[<cpus>]``: a closed loop with one client and no
concurrent jobs.  The run generates the workload's inputs from the seed
as parquet, computes the independent answer, starts the session, times
the job once cold, runs it twice more untimed while the JVM's JIT
settles, then times it warm until ``--seconds`` have passed (at least
five warm runs, ``spark.catalog.clearCache()`` before each).  Every
output is checked.

``--trace 0`` prints the end-to-end metrics.  ``--trace 1`` turns on
Spark's uncompressed event log, times the plain job warm for half the
window and the layered job (each layer boundary materialised on its
own) for the other half, then runs the workload's layer probes, and
prints the per-layer metrics.  The last stdout line is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the exit code is 0
only when every output passed its check.  A fuller report (machine,
versions, every timing sample, peak resident memory, spans,
per-operator event-log sums, tracing overhead) goes to
``.bench_work/results/`` in the repository root.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback
from types import SimpleNamespace

T_START = time.perf_counter()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import maup_spark  # noqa: E402  (fails fast when the program is absent)

if not os.path.abspath(maup_spark.__file__).startswith(ROOT + os.sep):
    sys.exit(f"maup_spark was imported from {maup_spark.__file__}, not from {ROOT}")

from perfbench.workloads import WORKLOADS, repair_check, repair_probe  # noqa: E402

SETTLE_RUNS = 2  # warm runs 1-2 are still 10-30% slower while the JIT compiles
MIN_WARM = 5

# The cold run's time and the peak resident memory go to the report but
# are not end-to-end metrics: across 10-seed sets of one commit their
# spreads reached 21% and 35% (one sample per fresh JVM, and heap growth
# that follows GC timing), more than a bound can hold.
END_TO_END = {
    "setup_s": "s", "warm_s": "s", "rows_per_s": "1/s", "ok_frac": "frac",
}

# A layer a workload's traced run does not reach reports 0.
PER_LAYER = {
    "index.cover_rows": "count",
    "spatial.candidate_s": "s", "spatial.candidates": "count",
    "spatial.useful_ratio": "ratio",
    "geom.auto_us_per_pair": "us", "geom.arrangement_us_per_pair": "us",
    "geom.pairs_positive": "count", "geom.pairs_touch": "count",
    "geom.pairs_empty": "count",
    "geom.touch_auto_us_per_pair": "us", "geom.touch_arrangement_us_per_pair": "us",
    **{f"op.{op}_{k}": u
       for op in ("assign_points", "intersections", "prorate", "adjacencies",
                  "smart_repair", "connected_components")
       for k, u in (("s", "s"), ("rows", "count"))},
    "fn.minhash_lsh_pairs_s": "s", "fn.lsh_candidates": "count",
    "fn.lsh_useful_ratio": "ratio", "fn.quality_score_s": "s",
    "fn.keep_best_s": "s",
    "spark.python_s": "s", "spark.python_bytes_in": "bytes",
    "spark.shuffle_write_bytes": "bytes", "spark.shuffle_fetch_wait_s": "s",
    "spark.spill_bytes": "bytes", "spark.gc_s": "s", "spark.task_run_s": "s",
    "spark.scheduler_delay_s": "s", "spark.tasks": "count",
    "spark.task_failures": "count",
}


def log(msg: str) -> None:
    print(f"# {msg}", file=sys.stderr, flush=True)


def timed(fn, *args):
    t0 = time.perf_counter()
    out = fn(*args)
    return time.perf_counter() - t0, out


# ------------------------------------------------------------- environment


def machine() -> dict:
    import numpy
    import pyspark

    with open("/proc/meminfo") as fh:
        mem_kb = int(next(l for l in fh if l.startswith("MemTotal")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": pyspark.__version__,
        "python": sys.version.split()[0],
        "numpy": numpy.__version__,
    }


def configure_session_env(env: dict, work: str, eventlog: str | None) -> None:
    """Size the session to the machine and keep every file Spark writes
    under ``work``; all of it goes through the environment, which the
    program's ``get_spark`` reads."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(env["nproc"])
    # a quarter of physical memory, 1-8 GB: the session's 24g default
    # overcommits small machines
    os.environ["SPARK_DRIVER_MEM"] = f"{max(1, min(8, int(env['ram_gb'] // 4)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    args = ["--driver-java-options", f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "--conf", "spark.ui.showConsoleProgress=false"]
    if eventlog:
        os.makedirs(eventlog, exist_ok=True)
        for kv in ("spark.eventLog.enabled=true",
                   f"spark.eventLog.dir=file://{eventlog}",
                   "spark.eventLog.compress=false",
                   "spark.eventLog.rolling.enabled=false"):
            args += ["--conf", kv]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


class RssSampler(threading.Thread):
    """Peak summed resident memory of this process's descendants (Spark's
    JVM and its Python workers), sampled from /proc."""

    def __init__(self, interval: float = 0.1):
        super().__init__(daemon=True)
        self.interval, self.peak_kb = interval, 0
        self._done = threading.Event()

    def _sample(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    fields = fh.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            pid = int(d)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21])
        total, todo = 0, list(children.get(os.getpid(), ()))
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo += children.get(pid, ())
        return total * (os.sysconf("SC_PAGE_SIZE") // 1024)

    def run(self) -> None:
        while not self._done.is_set():
            self.peak_kb = max(self.peak_kb, self._sample())
            self._done.wait(self.interval)

    def stop(self) -> float:
        self._done.set()
        self.join()
        return self.peak_kb / 1024.0


def stop_spark(spark) -> None:
    """Stop the session, then end the gateway JVM (it exits on stdin EOF,
    taking its Python workers with it) and wait for it."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


# ------------------------------------------------------------------- runs


class Tally:
    """Counts operations attempted and failed; an operation fails when it
    raises or its output fails its check."""

    def __init__(self):
        self.attempted = self.failed = 0
        self.errors: list[str] = []

    def run(self, label: str, check, expected, fn, *args):
        """Returns (seconds, per-layer metrics or None), or None on failure."""
        self.attempted += 1
        try:
            dt, out = timed(fn, *args)
            metrics, result = out if isinstance(out, tuple) else (None, out)
            errs = check(result, expected)
        except Exception as e:  # the run goes on; the failure is counted
            log(traceback.format_exc())
            errs = [f"{type(e).__name__}: {e}"]
        if errs:
            self.failed += 1
            self.errors.append(f"{label}: {'; '.join(errs)}")
            log(f"FAILED {label}: {'; '.join(errs)}")
            return None
        return dt, metrics


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory.  A span
    also labels the Spark jobs started inside it, so the event log
    attributes their tasks to it.  ``save`` materialises a layer's output
    as parquet and hands the next layer the re-read frame (a persisted
    frame would hide the producing plan's SQL metrics from the log)."""

    def __init__(self, sc, out_dir: str):
        self.sc, self.out_dir = sc, out_dir
        self.spans, self.run_id, self._stack = [], None, []

    @contextlib.contextmanager
    def span(self, name: str):
        s = SimpleNamespace(seconds=0.0)
        parent = self._stack[-1] if self._stack else None
        self._stack.append(name)
        self.sc.setJobDescription(f"trace:{self.run_id}:{name}")
        t0 = time.perf_counter()
        try:
            yield s
        finally:
            t1 = time.perf_counter()
            s.seconds = t1 - t0
            self._stack.pop()
            self.spans.append({"name": name, "start": t0 - T_START, "end": t1 - T_START,
                               "parent": parent, "run": self.run_id})
            self.sc.setJobDescription(
                f"trace:{self.run_id}:{parent}" if parent else None)

    def save(self, df, name: str):
        path = os.path.join(self.out_dir, f"{self.run_id}-{name}")
        df.write.mode("overwrite").parquet(path)
        back = df.sparkSession.read.parquet(path)
        return back.count(), back


def repeat(spark, tally, seconds, min_runs, label, check, expected, fn, *args) -> list:
    """Run ``fn`` with a cleared cache until ``seconds`` have passed and
    at least ``min_runs`` runs are done; returns the successful runs."""
    out, t0, i = [], time.perf_counter(), 0
    while i < min_runs or time.perf_counter() - t0 < seconds:
        spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(f"{label}:{i}")
        r = tally.run(f"{label} {i}", check, expected, fn, *args)
        if r is not None:
            out.append(r)
        i += 1
    spark.sparkContext.setJobDescription(None)
    return out


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def main() -> int:
    ap = argparse.ArgumentParser(description="maup_spark seeded benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "in"))
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work) -> int:
    w = WORKLOADS[args.workload]
    env = machine()
    # inputs and the independent answer: not part of setup_s
    gen_s, facts = timed(w["gen"], os.path.join(work, "in"), args.seed)
    exp_s, expected = timed(w["expected"], facts)
    log(f"{args.workload} seed={args.seed}: {facts['rows']} driving rows, "
        f"inputs {gen_s:.2f} s, expected answer {exp_s:.2f} s")
    eventlog = os.path.join(work, "eventlog") if args.trace else None
    configure_session_env(env, work, eventlog)

    from maup_spark.session import get_spark

    sampler = RssSampler()
    sampler.start()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.range(1).count()
    setup_s = time.perf_counter() - T_START - gen_s - exp_s
    tally = Tally()
    job = (w["check"], expected, w["job"], spark, facts)
    report = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
              "machine": env, "rows": facts["rows"], "setup_s": setup_s}
    try:
        spark.sparkContext.setJobDescription("cold")
        cold = tally.run("cold", *job)
        settle = repeat(spark, tally, 0, SETTLE_RUNS, "settle", *job)
        window = args.seconds / 2 if args.trace else args.seconds
        warm = [dt for dt, _ in repeat(spark, tally, window, 2 if args.trace else MIN_WARM,
                                       "warm", *job)]
        report.update(cold_s=cold[0] if cold else None, warm_s=median(warm),
                      settle_s=[dt for dt, _ in settle], warm_samples=warm)
        if args.trace:
            per_layer, traced = _traced(spark, w, facts, expected, tally, window, args,
                                        report, work)
    finally:
        peak_mb = sampler.stop()
        stop_spark(spark)
    report.update(peak_rss_mb=peak_mb, attempted=tally.attempted, failed=tally.failed,
                  errors=tally.errors)
    if args.trace:
        _eventlog_metrics(eventlog, per_layer, traced, report)
        metrics = {k: per_layer.get(k, 0) for k in PER_LAYER}
        units = PER_LAYER
    else:
        metrics = {
            "setup_s": setup_s, "warm_s": report["warm_s"],
            "rows_per_s": facts["rows"] / report["warm_s"],
            "ok_frac": (tally.attempted - tally.failed) / tally.attempted,
        }
        units = END_TO_END
    report["metrics"] = metrics
    results = os.path.join(ROOT, ".bench_work", "results")
    os.makedirs(results, exist_ok=True)
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    log(f"machine {env}; {len(report['warm_samples'])} warm samples; "
        f"peak RSS {peak_mb:.0f} MB; report .bench_work/results/{name}")
    correct = tally.failed == 0 and all(
        isinstance(v, (int, float)) and v == v for v in metrics.values())
    print(json.dumps({
        "correct": correct, "attempted": tally.attempted, "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0 if correct else 1


# ------------------------------------------------------------------ traced


def _traced(spark, w, facts, expected, tally, window, args, report, work):
    """Layered runs for ``window`` seconds (at least one), then the
    workload's layer probes; returns (per-layer medians, layered run ids)."""
    tr = Tracer(spark.sparkContext, os.path.join(work, "layers"))
    runs, t0 = [], time.perf_counter()
    while not runs or time.perf_counter() - t0 < window:
        spark.catalog.clearCache()
        tr.run_id = len(runs)
        runs.append((tr.run_id, tally.run(f"traced {tr.run_id}", w["check"], expected,
                                          w["trace"], spark, facts, tr)))
    ok = [(rid, r) for rid, r in runs if r is not None]
    per_layer = {k: median([r[1][k] for _, r in ok]) for k in (ok[0][1][1] if ok else {})}
    traced_warm = median([r[0] for _, r in ok])
    probes = {}
    for probe in PROBES.get(args.workload, ()):
        probes.update(probe(spark, tally, tr, facts, args.seed, work))
    per_layer.update(probes)
    report.update(traced_warm_s=traced_warm, trace_overhead_s=traced_warm - report["warm_s"],
                  spans=tr.spans, probes=probes)
    log(f"traced warm_s {traced_warm:.3f} vs untraced warm_s {report['warm_s']:.3f}: "
        f"overhead {traced_warm - report['warm_s']:+.3f} s")
    return per_layer, [rid for rid, _ in ok]


def _spark_probe(spark, tally, tr, run_id, check, expected, fn, facts) -> dict:
    """One checked, traced call outside the layered runs."""
    tr.run_id = run_id
    r = tally.run(f"{run_id} probe", check, expected, fn, spark, facts, tr)
    return r[1] if r else {}


def _generate(name: str, work: str, seed: int) -> tuple[dict, dict]:
    out = os.path.join(work, f"in-{name}")
    os.makedirs(out)
    facts = WORKLOADS[name]["gen"](out, seed)
    return facts, WORKLOADS[name]["expected"](facts)


def kernel_probe(spark, tally, tr, facts, seed, work) -> dict:
    from perfbench.kernel_probe import probe

    return probe(facts, "tile_adjacency" if "tiles" in facts else "polygon_overlay", seed)


def repair_step(spark, tally, tr, facts, seed, work) -> dict:
    expected = WORKLOADS["tile_adjacency"]["expected"](facts)
    return _spark_probe(spark, tally, tr, "repair", repair_check, expected,
                        repair_probe, facts)


def tile_probe(spark, tally, tr, facts, seed, work) -> dict:
    """The tile_adjacency workload's layers on a seeded tessellation:
    rook adjacencies (touching pairs are the output), smart_repair of
    the dirty copy, and the kernel probe over its touch pairs."""
    from perfbench.kernel_probe import probe

    tiles, expected = _generate("tile_adjacency", work, seed)
    m = _spark_probe(spark, tally, tr, "tile", WORKLOADS["tile_adjacency"]["check"],
                     expected, WORKLOADS["tile_adjacency"]["trace"], tiles)
    k = probe(tiles, "tile_adjacency", seed)
    out = {key: m[key] for key in ("op.adjacencies_s", "op.adjacencies_rows") if key in m}
    out["geom.touch_auto_us_per_pair"] = k["geom.auto_us_per_pair"]
    out["geom.touch_arrangement_us_per_pair"] = k["geom.arrangement_us_per_pair"]
    out.update(repair_step(spark, tally, tr, tiles, seed, work))
    return out


def functions_probe(spark, tally, tr, facts, seed, work) -> dict:
    """The text_dedup workload's layered chain (minhash_lsh_pairs ->
    connected_components -> quality_score -> keep_best) on a seeded
    corpus, checked against its planted families."""
    text, expected = _generate("text_dedup", work, seed)
    return _spark_probe(spark, tally, tr, "functions", WORKLOADS["text_dedup"]["check"],
                        expected, WORKLOADS["text_dedup"]["trace"], text)


# Layers a workload's own job does not reach.  tile_adjacency and
# text_dedup cost 30-40 s a run, more than the benchmark's time budget
# allows for two more workloads, so their layers ride on these traced runs.
PROBES = {
    "points_assign": (functions_probe,),
    "polygon_overlay": (kernel_probe, tile_probe),
    "tile_adjacency": (kernel_probe, repair_step),
}


def _eventlog_metrics(eventlog, per_layer, traced, report) -> None:
    from perfbench.eventlog import spark_layer_metrics, summarize

    (log_file,) = os.listdir(eventlog)
    summary = summarize(os.path.join(eventlog, log_file))
    per_run = [spark_layer_metrics(summary, f"trace:{rid}:") for rid in traced]
    for k in per_run[0] if per_run else ():
        per_layer[k] = median([m[k] for m in per_run])
    report["operators"] = summary["operators"]


if __name__ == "__main__":
    sys.exit(main())
