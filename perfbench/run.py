#!/usr/bin/env python3
"""fuzzymatch_spark benchmark: closed-loop, single-client workloads on one
local[nproc] Spark session, driven through the library's public API.

    python3 perfbench/run.py --workload corpus_dedup --seed 1 --seconds 10 --trace 0

Run from the repository root.  The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics of a
separate traced run.  The line before it is the full report (every
sample count, per-op walls, the pinned environment).  ``--smoke`` runs
one op on a small input.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(ROOT, ".perfbench")

SETUP_REPS = 3
# An op is "stolen" when the hypervisor took more than this share of the
# VM's CPU time while it ran (the steal column of /proc/stat).  On a shared
# host, spells of 10-30% steal slow every op they overlap by 20-60%; such
# ops are timed and reported but left out of the metrics while enough
# clean ops remain.
STEAL_MAX = 0.02
# The timed window is extended past --seconds, up to this multiple of it,
# to collect --seconds of clean op wall.
STEAL_PATIENCE = 1.5
CORPUS_DOCS = 150      # -> ~190 images with planted twins
SEARCH_DOCS = 600
SMOKE_DOCS = 120

E2E_UNITS = {
    "setup_s": "s",
    "first_pass_s": "s",
    "items_per_s": "1/s",
    "op_p50_s": "s",
    "peak_rss_mb": "MB",
}
# Every per-layer metric is printed on every workload; a layer the
# workload never calls reads 0 there (the report lists them).
LAYER_UNITS = {
    "session.start_s": "s",
    "sources.images_s": "s",
    "sources.images_python_s": "s",
    "sources.images_rows": "count",
    "sources.images_boot_s": "s",
    "kernels.phash_us": "us",
    "kernels.score_ed_us": "us",
    "kernels.score_sw_us": "us",
    "functions.signature_s": "s",
    "functions.signature_python_s": "s",
    "functions.arrow_bytes": "B",
    "dedup.candidates_s": "s",
    "dedup.candidate_pairs": "count",
    "dedup.candidate_shuffle_records": "count",
    "dedup.candidate_shuffle_bytes": "B",
    "dedup.verify_s": "s",
    "dedup.verified_edges": "count",
    "dedup.verify_shuffle_bytes": "B",
    "dedup.dl_tier_pairs": "count",
    "dedup.dl_tier_frac": "1",
    "dedup.hamming_s": "s",
    "dedup.hamming_edges": "count",
    "suffix.pairs_s": "s",
    "suffix.pairs": "count",
    "cluster.cc_s": "s",
    "cluster.jobs": "count",
    "cluster.clusters": "count",
    "topk.construct_s": "s",
    "topk.execute_s": "s",
    "topk.jobs_per_query": "count",
    "topk.udf_rows_frac": "1",
    "pipeline.signatures_s": "s",
    "pipeline.candidate_edges_s": "s",
    "pipeline.scored_edges_s": "s",
    "pipeline.clusters_s": "s",
    "pipeline.bytes_written": "1",
    "stream.batch_first_s": "s",
    "stream.batch_last_s": "s",
    "stream.batch_growth": "1",
    "stream.bytes_written": "1",
    "stream.persisted_rdds": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.shuffle_write_bytes": "B",
    "spark.shuffle_read_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.gc_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.cpu_util": "1",
    "cache.persisted_rdds": "count",
    "trace.overhead_s": "s",
}
COMMON_LAYERS = ("session", "spark", "cache", "trace")


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True,
                    help="summed wall of the timed ops to reach")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[nproc]",
                    help="Spark master; 'nproc' is replaced by this process's CPU count")
    ap.add_argument("--driver-memory", default="1g")
    ap.add_argument("--shuffle-compress", choices=("true", "false"), default="true")
    ap.add_argument("--smoke", action="store_true",
                    help="one op per phase on a small input (the benchmark's own test)")
    return ap.parse_args(argv)


def pin_environment(args, work: str, jvm_options: str) -> dict:
    """Everything that decides where Spark writes and how wide it runs,
    set before the JVM starts and recorded in the report."""
    cpus = len(os.sched_getaffinity(0))
    scratch = os.path.join(work, "scratch")
    tmp = os.path.join(work, "tmp")
    os.makedirs(scratch)
    os.makedirs(tmp)
    # an inherited SPARK_LOCAL_DIRS would override spark.local.dir
    os.environ.pop("SPARK_LOCAL_DIRS", None)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_LOCAL_DIR"] = scratch
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    with open("/proc/loadavg") as f:
        loadavg = [float(x) for x in f.read().split()[:3]]
    return {
        "master": args.master.replace("nproc", str(cpus)),
        "nproc": cpus,
        "SPARK_GRAFT_CPUS": cpus,
        "loadavg_at_start": loadavg,
        "spark.local.dir": os.path.relpath(scratch, ROOT),
        "spark.shuffle.compress": args.shuffle_compress,
        "spark.shuffle.spill.compress": args.shuffle_compress,
        "spark.driver.memory": args.driver_memory,
        "jvm_options": jvm_options,
        "seed": args.seed,
    }


def spark_conf(env: dict, work: str, trace: bool) -> dict:
    conf = {
        "spark.shuffle.compress": env["spark.shuffle.compress"],
        "spark.shuffle.spill.compress": env["spark.shuffle.spill.compress"],
        "spark.driver.memory": env["spark.driver.memory"],
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData {env['jvm_options']}",
        "spark.ui.showConsoleProgress": "false",
    }
    if trace:
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": os.path.join(work, "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
        os.makedirs(conf["spark.eventLog.dir"])
    return conf


class RssSampler:
    """Resident memory summed over this process and all descendants (the
    Py4J JVM and its Python workers), sampled from /proc.  ``take_peak``
    returns the highest sample since its last call."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        parent: dict[int, int] = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                try:
                    with open(f"/proc/{name}/stat") as f:
                        parent[int(name)] = int(f.read().rsplit(")", 1)[1].split()[1])
                except (OSError, ValueError, IndexError):
                    continue  # the process exited while being read
        tree, frontier = set(), {os.getpid()}
        while frontier:
            tree |= frontier
            frontier = {p for p, pp in parent.items() if pp in frontier} - tree
        total = 0
        for pid in tree:
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
        return total

    def _sample(self) -> None:
        rss = self._tree_rss()
        with self._lock:
            self.peak = max(self.peak, rss)

    def take_peak(self) -> int:
        self._sample()
        with self._lock:
            peak, self.peak = self.peak, 0
        return peak

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Session:
    """The one SparkSession of a run.  ``start`` stops the current one, if
    any, and starts a new SparkContext in the same JVM."""

    def __init__(self, master: str, conf: dict):
        self.master = master
        self.conf = conf
        self.spark = None

    def start(self):
        from fuzzymatch_spark.session import get_spark

        self.stop()
        self.spark = get_spark(app_name="perfbench", master=self.master, extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stops the session, then the JVM, and waits for it to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits when its stdin closes
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None


def cpu_ticks() -> list[int]:
    """This VM's CPU ticks since boot by state (user, nice, system, idle,
    iowait, irq, softirq, steal, ...), summed over its CPUs."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def tick_deltas(before: list[int]) -> tuple[list[int], int]:
    after = cpu_ticks()
    delta = [a - b for a, b in zip(after, before)]
    return delta, max(1, sum(delta))


def quiesce(busy_max: float = 0.1, window: float = 0.25, cap: float = 5.0) -> float:
    """Waits, up to ``cap`` seconds, until the VM's CPUs are idle: less than
    ``busy_max`` of their ticks over one ``window`` went to anything but
    idle time, so background work left by set-up (JIT compilation, the last
    session's shutdown) does not land in the cold op.  Returns the wait."""
    t0 = time.perf_counter()
    while time.perf_counter() - t0 < cap:
        before = cpu_ticks()
        time.sleep(window)
        delta, total = tick_deltas(before)
        if 1 - (delta[3] + delta[4]) / total < busy_max:  # idle + iowait
            break
    return time.perf_counter() - t0


class Ops:
    """Counts attempted and failed ops; an op fails when it raises or its
    output check reports an error.  ``steal`` is the share of CPU time the
    hypervisor took during the last op."""

    def __init__(self, check):
        self.check = check
        self.attempted = 0
        self.failures: list[str] = []
        self.failed = 0
        self.steal = 0.0

    def fail(self, errors: list[str]) -> None:
        self.failed += 1
        self.failures.extend(f"op {self.attempted}: {e}" for e in errors)

    def run(self, fn) -> tuple[float, bool]:
        self.attempted += 1
        ticks0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # a failed op is counted, not fatal
            self.fail([f"{type(exc).__name__}: {exc}"])
            return time.perf_counter() - t0, False
        wall = time.perf_counter() - t0
        delta, total = tick_deltas(ticks0)
        self.steal = delta[7] / total
        errors = self.check(out)
        if errors:
            self.fail(errors)
        return wall, not errors


def run(args) -> tuple[dict, dict]:
    from workloads import WORKLOADS, persisted_rdds

    work = os.path.join(WORK_ROOT, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    trace = bool(args.trace)
    docs = SMOKE_DOCS if args.smoke else (
        CORPUS_DOCS if args.workload == "corpus_dedup" else SEARCH_DOCS
    )
    wl = WORKLOADS[args.workload](docs)
    env = pin_environment(args, work, wl.jvm_options)
    tracer = None
    if trace:
        from spans import Tracer
        tracer = Tracer()
    session = Session(env["master"], spark_conf(env, work, trace))
    ops = Ops(wl.check)

    # set-up: session start + input build, repeated; the first one also
    # launches the JVM.  The last one's session serves the run.  The cold
    # op is the first op in a fresh session; the last ``cold_passes``
    # set-ups each time one, after the CPUs fall idle.
    reps = 1 if args.smoke else SETUP_REPS
    setups, starts, colds, cold_steals, settles = [], [], [], [], []
    for rep in range(reps):
        session.stop()  # a set-up is timed from a stopped session
        t0 = time.perf_counter()
        spark = session.start()
        starts.append(time.perf_counter() - t0)
        if tracer:
            tracer.spark = spark
        wl.build(spark, args.seed, os.path.join(work, f"setup{rep}"), tracer)
        setups.append(time.perf_counter() - t0)
        if rep >= reps - wl.cold_passes:
            spark.catalog.clearCache()
            settles.append(quiesce())
            colds.append(ops.run(wl.op)[0])
            cold_steals.append(ops.steal)

    # The window counts op walls only, so check time never shortens it.
    # It closes once the clean (unstolen) ops sum to --seconds, or, in a
    # long steal spell, once all ops sum to STEAL_PATIENCE times that.
    # The metrics use the clean ops, or every op when too few are clean.
    # A traced run times one untraced op, the reference for its overhead.
    walls, steals, leaks, rss_peaks = [], [], [], []
    min_ops = 1 if args.smoke or trace else wl.min_ops

    def clean():
        return [i for i, st in enumerate(steals) if st <= STEAL_MAX]

    def window_closed():
        if trace or args.smoke:
            return len(walls) >= min_ops
        ok = clean()
        return (len(ok) >= min_ops and sum(walls[i] for i in ok) >= args.seconds) or (
            len(walls) >= min_ops and sum(walls) >= STEAL_PATIENCE * args.seconds
        )

    warmups, warmup_rss = [], []
    with RssSampler() as rss:
        for _ in range(0 if args.smoke else wl.warmup_ops):
            spark.catalog.clearCache()
            rss.take_peak()
            warmups.append(ops.run(wl.op)[0])
            warmup_rss.append(rss.take_peak() / 2**20)
        while not window_closed():
            # recompute per pass: a cache left by an earlier op cannot make
            # this one skip work; the count before clearing shows the leak
            leaks.append(persisted_rdds(spark))
            spark.catalog.clearCache()
            rss.take_peak()
            wall, ok = ops.run(wl.op)
            if ok:
                walls.append(wall)
                steals.append(ops.steal)
                rss_peaks.append(rss.take_peak() / 2**20)
            elif ops.failed > 3:
                break
    leaks.append(persisted_rdds(spark))

    if trace:
        layers = traced_layers(wl, tracer, session, ops, work, env, walls, starts[0])
    session.close()

    kept = clean()
    if len(kept) < min_ops:
        kept = list(range(len(walls)))
    timed = [walls[i] for i in kept]
    # warm-up ops count for memory: with two timed ops, a median over
    # them alone would be their mean
    timed_rss = warmup_rss + [rss_peaks[i] for i in kept]
    if not timed:  # every timed op failed: nothing was measured
        timed, timed_rss = [0.0], [0.0]
    half = len(timed) // 2
    e2e = {
        "setup_s": (statistics.median(setups), len(setups)),
        "first_pass_s": (statistics.median(colds), len(colds)),
        "items_per_s": (wl.items * len(timed) / (sum(timed) or 1.0), len(timed)),
        "op_p50_s": (statistics.median(timed), len(timed)),
        # the median over warm-up and timed ops of each op's peak
        "peak_rss_mb": (statistics.median(timed_rss), len(timed_rss)),
    }
    report = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "environment": env,
        "items_per_op": wl.items,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "fail_frac": ops.failed / ops.attempted,
        "failures": ops.failures[:20],
        "metrics": {
            k: {"value": v, "unit": E2E_UNITS[k], "samples": n} for k, (v, n) in e2e.items()
        },
        # reported only where at least ten samples lie beyond it
        "op_p90_s": (
            {"value": statistics.quantiles(timed, n=10)[-1], "unit": "s", "samples": len(timed)}
            if len(timed) >= 100 else
            {"value": None, "reason": f"{len(timed)} timed ops, fewer than 100"}
        ),
        # second-half median / first-half median of the timed ops: about 1
        # when they carry no warm-up drift
        "op_trend": (
            statistics.median(timed[half:]) / statistics.median(timed[:half]) if half else None
        ),
        "samples": {
            "setup_s": setups,
            "first_pass_s": colds,
            "first_pass_steal": cold_steals,
            "first_pass_settle_s": settles,
            "warmup_s": warmups,
            "warmup_peak_rss_mb": warmup_rss,
            "op_s": walls,
            "op_steal": steals,
            "op_kept": kept,
            "op_peak_rss_mb": rss_peaks,
            "persisted_rdds_before_clear": leaks,
        },
    }
    if trace:
        spans_path = os.path.join(WORK_ROOT, "spans", f"{args.workload}-seed{args.seed}.json")
        os.makedirs(os.path.dirname(spans_path), exist_ok=True)
        tracer.write(spans_path)
        report["spans"] = os.path.relpath(spans_path, ROOT)
        report["layers"] = layers
        called = COMMON_LAYERS + wl.layer_prefixes
        report["layers_not_called"] = [k for k in LAYER_UNITS if not k.startswith(called)]
    shutil.rmtree(work, ignore_errors=True)
    return report, e2e


def traced_layers(wl, tracer, session, ops, work, env, walls, session_start) -> dict:
    """Runs the traced op, stops the session so the event log is complete,
    and returns every per-layer metric."""
    from spans import event_log_by_group, sum_groups
    from workloads import persisted_rdds

    persisted = persisted_rdds(session.spark)
    ops.attempted += 1
    errors = wl.traced(tracer)
    if errors:
        ops.fail(errors)
    session.stop()
    groups = event_log_by_group(os.path.join(work, "eventlog"))

    op = tracer.last("op.traced")
    op_spans = tracer.subtree(op)
    engine = sum_groups(groups, op_spans)
    out = {name: 0.0 for name in LAYER_UNITS}
    out.update(wl.layers(tracer, groups))
    out.update({
        "session.start_s": session_start,
        "spark.jobs": sum(s.jobs for s in op_spans),
        "spark.stages": sum(s.stages for s in op_spans),
        "spark.tasks": sum(s.tasks for s in op_spans),
        "spark.shuffle_write_bytes": engine.get("shuffle_write_bytes", 0.0),
        "spark.shuffle_read_bytes": engine.get("shuffle_read_bytes", 0.0),
        "spark.spill_bytes": engine.get("spill_bytes", 0.0),
        "spark.gc_s": engine.get("gc_s", 0.0),
        "spark.executor_cpu_s": engine.get("executor_cpu_s", 0.0),
        "spark.cpu_util": engine.get("executor_cpu_s", 0.0) / (op.wall * env["nproc"]),
        "cache.persisted_rdds": persisted,
        "trace.overhead_s": op.wall - statistics.median(walls) if walls else 0.0,
    })
    return out


def main(argv=None) -> int:
    sys.path[:0] = [HERE, ROOT]
    try:
        import fuzzymatch_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the fuzzymatch_spark library is not importable from {ROOT}: {exc}",
              file=sys.stderr)
        return 2
    args = parse_args(argv)
    report, e2e = run(args)
    if args.trace:
        metrics = {k: {"value": float(v), "unit": LAYER_UNITS[k]}
                   for k, v in report["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": E2E_UNITS[k]} for k, (v, _) in e2e.items()}
    print(json.dumps(report, default=str))
    print(json.dumps({
        "correct": report["failed"] == 0,
        "attempted": report["attempted"],
        "failed": report["failed"],
        "metrics": metrics,
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
