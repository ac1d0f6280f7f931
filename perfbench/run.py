#!/usr/bin/env python3
"""Benchmark of the paper's experiment pipeline and the curation drain.

Usage (from the repository root):

    python3 perfbench/run.py --workload kg_pipeline --seed 1 --seconds 1 --trace 0
    python3 perfbench/run.py --workload all          # every workload, a table on stderr

One process, one client, a closed loop on Spark ``local[nproc]``:
set-up (JVM launch, session and seeded inputs on disk), one cold
iteration, then warm iterations back to back until
``--seconds`` have passed (at least one). Only calls into the
library's public functions are timed; output checks run after each
timed call. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` — end-to-end metrics
with ``--trace 0``; per-layer metrics from a traced iteration with
``--trace 1`` (spans are also written to ``.bench_out/``).

Everything the run writes lives under the checkout's ``.bench_scratch/``
(removed at exit) and ``.bench_out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import resource
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DEFAULT_SEED = 1
DRIVER_MEM = "3g"

LAYERS = [
    "session", "sources", "operators.graph", "operators.splits", "operators.recommend",
    "operators.itemknn", "operators.walks", "operators.node2vec", "operators.kge",
    "operators.metrics", "plans.experiment", "streaming.curation", "operators.dedup",
    "operators.similarity",
]
UNITS = {"setup_s": "s", "e2e_s": "s", "rows_per_s": "1/s", "cpu_s": "s",
         "shuffle_write_mb": "MB", "write_mb": "MB"}


def _environment(scratch: str) -> None:
    """Keep every file the run (and the JVM it launches) writes inside
    the checkout; size the heap below the box; no console progress."""
    for sub in ("tmp", "spark-local", "jvm-tmp", "warehouse"):
        os.makedirs(os.path.join(scratch, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(scratch, "tmp")
    # the launcher JVM that spark-submit starts before the driver JVM
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={os.path.join(scratch, 'jvm-tmp')}"
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ.setdefault("SPARK_DRIVER_MEM", DRIVER_MEM)
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.pop("SPARK_GRAFT_CPUS", None)


def _session(scratch: str):
    from knowledge_graph_aware_recommender_systems_with_dbpedia_spark.session import get_spark

    jtmp = os.path.join(scratch, "jvm-tmp")
    spark = get_spark(
        app_name="perfbench",
        cpus=os.cpu_count(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(scratch, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={jtmp} -XX:-UsePerfData",
            # the harvester reads every job/stage of an iteration
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _peak_rss_mb(spark) -> float:
    """Peak resident set of the Python driver plus the JVM."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = int(spark._jvm.java.lang.ProcessHandle.current().pid())
    with open(f"/proc/{pid}/status") as fh:
        hwm = next(int(line.split()[1]) for line in fh if line.startswith("VmHWM"))
    return py + hwm / 1024.0


def _descendants() -> set[int]:
    """Pids of every live process below this one."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = set(), [os.getpid()]
    while todo:
        for c in children.get(todo.pop(), []):
            out.add(c)
            todo.append(c)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_processes(grace_s: float = 30.0) -> None:
    """End the JVM that PySpark launched and every process below this
    one (the JVM's Python workers too), and wait until each has ended.
    ``SparkSession.stop`` leaves the gateway JVM running until the
    Python process exits, and then it ends on its own, after us."""
    pids = _descendants()
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        try:
            gateway.shutdown()
        except Exception:
            pass
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        # the JVM exits when its stdin closes
        with contextlib.suppress(OSError):
            proc.stdin.close()
        try:
            proc.wait(timeout=grace_s)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + grace_s
    sig = signal.SIGTERM
    while True:
        left = [p for p in pids | _descendants() if _alive(p)]
        if not left:
            return
        if time.monotonic() > deadline:
            for p in left:
                with contextlib.suppress(OSError):
                    os.kill(p, sig)
            sig, deadline = signal.SIGKILL, time.monotonic() + grace_s
        # reap our own children; orphans are reaped by init
        with contextlib.suppress(ChildProcessError):
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        time.sleep(0.05)


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, scratch: str):
        import workloads

        self.wl = workloads.WORKLOADS[workload]
        self.name, self.seed, self.seconds = workload, seed, seconds
        self.root, self.scratch = scratch, os.path.join(scratch, workload)
        self.spark = None
        self.iterations: list[dict] = []
        self.reference = None

    # -------------------------------------------------------------- set-up
    def setup(self) -> float:
        """Session up (JVM launch included) and inputs on disk; returns
        the seconds taken."""
        in_dir = os.path.join(self.scratch, "inputs")
        t0 = time.perf_counter()
        self.spark = _session(self.root)
        self.session_s = time.perf_counter() - t0
        self.wl.generate(in_dir, self.seed)
        setup_s = time.perf_counter() - t0
        from harvest import StageMeter
        from inputs import content_hash

        self.input_hash = content_hash(in_dir)

        self.meter = StageMeter(self.spark)
        t0 = time.perf_counter()
        self.wl.prepare(self.spark, in_dir)
        self.prepare_s = time.perf_counter() - t0
        return setup_s

    # ----------------------------------------------------------- iteration
    def iterate(self, capture: bool, tracer=None) -> dict:
        i = len(self.iterations)
        out_dir = os.path.join(self.scratch, f"it{i}")
        os.makedirs(out_dir)
        rec = {"i": i, "traced": tracer is not None, "failures": []}
        m0 = self.meter.mark()
        c0 = time.process_time()
        t0 = time.perf_counter()
        try:
            if tracer is None:
                out = self.wl.run(self.spark, out_dir, capture=capture)
            else:
                with tracer.span("perfbench.iteration"):
                    out = self.wl.run(self.spark, out_dir, capture=capture, tracer=tracer)
        except Exception:
            rec["failures"].append(traceback.format_exc(limit=5))
            out = None
        rec["s"] = time.perf_counter() - t0
        rec["driver_cpu_s"] = time.process_time() - c0
        stages = self.meter.totals(self.meter.stage_ids(m0, self.meter.mark()))
        rec.update(cpu_s=stages.cpu_s, shuffle_write_mb=stages.shuffle_write_mb,
                   spark_write_mb=stages.output_mb, stages=stages.stages,
                   spill_mb=stages.spill_mb, failed_tasks=stages.failed_tasks)
        if out is not None:
            t0 = time.perf_counter()
            try:
                rec["failures"] += self.wl.check(self.spark, out, self.seed, DEFAULT_SEED)
            except Exception:
                rec["failures"].append(traceback.format_exc(limit=5))
            rec["check_s"] = time.perf_counter() - t0
            rec["step_s"] = out.step_s
            rec["outcome"] = out
            rec["write_mb"] = stages.output_mb + out.counts.get("report_bytes", 0) / 2**20
            # every iteration must reproduce the first one's results
            pinned = self.wl.pinned(out.values)
            if self.reference is None:
                self.reference = pinned
            elif pinned != self.reference:
                rec["failures"].append(
                    "results differ from the first iteration's: "
                    f"{_differences(pinned, self.reference)}")
        for f in rec["failures"]:
            print(f"[perfbench] iteration {i} failed: {f}", file=sys.stderr)
        shutil.rmtree(out_dir, ignore_errors=True)
        self.spark.catalog.clearCache()
        self.meter.forget()
        self.iterations.append(rec)
        return rec

    def loop(self) -> None:
        """Iterations back to back until ``seconds`` have passed, at
        least one; the first (cold) has its outputs fully checked."""
        t_end = time.perf_counter() + self.seconds
        self.iterate(capture=True)
        while time.perf_counter() < t_end:
            self.iterate(capture=False)

    # -------------------------------------------------------------- report
    def end_to_end(self, setup_s: float) -> dict:
        """Metrics of the first iteration after set-up: the pipeline in
        the JVM the set-up launched, which is what a one-shot run of the
        experiment CLI pays. Later iterations, if ``seconds`` allows
        any, are checked and their median printed on stderr as the warm
        time."""
        first = self.iterations[0]
        warm = [r["s"] for r in self.iterations[1:]]
        if warm:
            print(f"[perfbench] warm_e2e_s={statistics.median(warm):.3f} (n={len(warm)})",
                  file=sys.stderr)
        vals = {
            "setup_s": setup_s,
            "e2e_s": first["s"],
            "rows_per_s": self.wl.input_rows / first["s"],
            "cpu_s": first["cpu_s"],
            "shuffle_write_mb": first["shuffle_write_mb"],
            "write_mb": first.get("write_mb", float("nan")),
        }
        return {k: {"value": v, "unit": UNITS[k]} for k, v in vals.items()}

    def traced(self) -> dict:
        """An untraced iteration on the cold JVM (the reference), then
        one traced iteration, whose results must equal the reference's
        (checked like any iteration). ``trace_overhead`` is traced over
        untraced seconds; the untraced one pays the JIT warm-up, so the
        ratio understates the tracing cost by that much."""
        from harvest import Tracer

        first = self.iterate(capture=False)
        tracer = Tracer(self.spark, self.meter, trace_id=f"{self.name}-{self.seed}")
        # the full output check runs on the traced iteration, whose recs
        # the spans persisted, so collecting them recomputes nothing
        rec = self.iterate(capture=True, tracer=tracer)
        spans = tracer.report()
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        with open(os.path.join(ROOT, ".bench_out", f"spans-{self.name}-{self.seed}.json"), "w") as fh:
            json.dump(spans, fh, indent=1)
        metrics = per_layer(spans, rec, rec["s"] / first["s"], self.wl)
        metrics["session.s"] = metrics["session.self_s"] = {"value": self.session_s, "unit": "s"}
        # too noisy run to run on a shared 4-core VM to carry a bound
        metrics["root.step_s"] = {"value": statistics.median(rec["step_s"]), "unit": "s"}
        metrics["root.driver_cpu_s"] = {"value": rec["driver_cpu_s"], "unit": "s"}
        metrics["root.peak_rss_mb"] = {"value": _peak_rss_mb(self.spark), "unit": "MB"}
        return metrics

    def close(self) -> None:
        if self.spark is not None:
            self.spark.stop()
        shutil.rmtree(self.scratch, ignore_errors=True)


def per_layer(spans: list[dict], rec: dict, overhead: float, wl) -> dict:
    """Roll spans up by layer (module prefix of the span name)."""
    by_id = {s["span_id"]: s for s in spans}

    def layer_of(name):
        return next((l for l in sorted(LAYERS, key=len, reverse=True)
                     if name == l or name.startswith(l + ".")), None)

    out: dict = {}
    for layer in LAYERS:
        mine = [s for s in spans if layer_of(s["name"]) == layer]
        # outermost spans of the layer only, so nested calls count once
        outer = [s for s in mine
                 if not _has_ancestor(s, by_id, lambda a: layer_of(a["name"]) == layer)]
        out[f"{layer}.s"] = (sum(s["s"] for s in outer), "s")
        out[f"{layer}.self_s"] = (sum(s["self_s"] for s in mine), "s")
        out[f"{layer}.cpu_s"] = (sum(s["self_cpu_s"] for s in mine), "s")
        out[f"{layer}.shuffle_write_mb"] = (sum(s["self_shuffle_write_mb"] for s in mine), "MB")
    root = next(s for s in spans if s["name"] == "perfbench.iteration")
    out["root.s"] = (root["s"], "s")
    out["root.stages"] = (root["stages"], "count")
    out["root.spill_mb"] = (root["spill_mb"], "MB")
    out["root.failed_tasks"] = (root["failed_tasks"], "count")
    out["root.trace_overhead"] = (overhead, "ratio")
    kc = [s for s in spans if s["name"] == "operators.graph.filter_kcore"]
    out["operators.graph.filter_kcore.kept_ratio"] = (
        sum(s["kept"] for s in kc) / sum(s["in"] for s in kc) if kc else 0.0, "ratio")
    o = rec.get("outcome")
    fill = o.counts.get("fill", {}) if o else {}
    out["operators.recommend.fill_ratio"] = (
        fill["recs"] / fill["slots"] if fill.get("slots") else 0.0, "ratio")
    trig = o.counts.get("triggers", []) if o else []
    arrived = getattr(wl, "input_rows", 0)
    is_drain = bool(trig)
    out["streaming.curation.kept_ratio"] = (
        len(o.values["rows"]) / arrived if is_drain else 0.0, "ratio")
    out["streaming.curation.write_amp"] = (
        rec["spark_write_mb"] * 2**20 / wl.feed_bytes if is_drain else 0.0, "ratio")
    med = (lambda xs: statistics.median(xs) if xs else 0.0)
    out["streaming.curation.trigger.s"] = (
        med([t["duration_ms"].get("triggerExecution", 0) / 1e3 for t in trig]), "s")
    out["streaming.curation.trigger.plan_s"] = (
        med([t["duration_ms"].get("queryPlanning", 0) / 1e3 for t in trig]), "s")
    out["streaming.curation.trigger.input_rows"] = (med([t["input_rows"] for t in trig]), "count")
    return {k: {"value": v, "unit": u} for k, (v, u) in out.items()}


def _differences(got: dict, want: dict) -> str:
    keys = sorted(set(got) | set(want))
    diff = {k: (got.get(k), want.get(k)) for k in keys if got.get(k) != want.get(k)}
    return str(diff)[:500]


def _has_ancestor(span, by_id, pred) -> bool:
    p = span["parent"]
    while p is not None:
        if pred(by_id[p]):
            return True
        p = by_id[p]["parent"]
    return False


def run_one(workload: str, seed: int, seconds: float, trace: bool, scratch: str) -> dict:
    bench = Bench(workload, seed, seconds, scratch)
    os.makedirs(bench.scratch, exist_ok=True)
    t_start = time.perf_counter()
    try:
        setup_s = bench.setup()
        print(f"[perfbench] setup_s={setup_s:.2f} session_s={bench.session_s:.2f} "
              f"prepare_s={bench.prepare_s:.2f}", file=sys.stderr)
        if trace:
            metrics = bench.traced()
        else:
            bench.loop()
            metrics = bench.end_to_end(setup_s)
    finally:
        bench.close()
    failed = sum(1 for r in bench.iterations if r["failures"])
    first = bench.iterations[0].get("outcome")
    if first is not None:
        vals = first.values
        shown = {"rows": len(vals["rows"])} if "rows" in vals else vals
        print(f"[perfbench] results={json.dumps(shown)} "
              f"steps={[round(x, 2) for x in first.step_s]}", file=sys.stderr)
    print(f"[perfbench] {workload} seed={seed} inputs={bench.input_hash} "
          f"iterations={[(round(r['s'], 2), round(r.get('check_s', 0), 2)) for r in bench.iterations]} "
          f"failed={failed} run_s={time.perf_counter() - t_start:.1f}", file=sys.stderr)
    return {"correct": failed == 0, "attempted": len(bench.iterations), "failed": failed,
            "metrics": metrics}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=1.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path[:0] = [ROOT, HERE]
    try:
        import knowledge_graph_aware_recommender_systems_with_dbpedia_spark  # noqa: F401
        import scripts.make_lastfm_clone  # noqa: F401
        import workloads
    except ImportError as exc:
        print(f"[perfbench] cannot import the library from {ROOT}: {exc}", file=sys.stderr)
        return 2
    names = list(workloads.WORKLOADS) if args.workload == "all" else [args.workload]
    if any(n not in workloads.WORKLOADS for n in names):
        print(f"[perfbench] unknown workload {args.workload!r}", file=sys.stderr)
        return 2
    # one scratch root per process: the JVM keeps its temp and local
    # dirs there for its whole life, across workloads
    scratch = os.path.join(ROOT, ".bench_scratch", str(os.getpid()))
    _environment(scratch)
    # a SIGTERM unwinds like an exception, so the JVM is still stopped
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        results = {n: run_one(n, args.seed, args.seconds, bool(args.trace), scratch)
                   for n in names}
    finally:
        stop_processes()
        shutil.rmtree(scratch, ignore_errors=True)
    if args.workload == "all":
        for n, res in results.items():
            rate = res["failed"] / res["attempted"]
            print(f"{n}: error_rate={rate:.3f} ({res['failed']}/{res['attempted']})", file=sys.stderr)
            for k, m in res["metrics"].items():
                print(f"  {k:45s} {m['value']:14.6f} {m['unit']}", file=sys.stderr)
        res = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{n}.{k}": m for n, r in results.items()
                           for k, m in r["metrics"].items()}}
    else:
        res = results[args.workload]
    print(json.dumps(res))
    return 0


if __name__ == "__main__":
    sys.exit(main())
