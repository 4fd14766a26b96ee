#!/usr/bin/env python3
"""Transcript-pipeline benchmark: one workload per invocation.

    python3 perfbench/run.py --workload full_reprocess --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root (the package is imported from the parent of
this directory). The run:

1. pins the environment: ``local[<nproc>]``, a driver heap that fits
   physical RAM, Spark scratch and temp files under ``perfbench/.work``;
2. builds the session ``SETUP_ROUNDS`` times (stop and rebuild) and
   reports the median as ``setup_s``;
3. stages the seeded inputs and their reference answers (cached per
   seed, size and source digest), then makes the program commit the
   workload's starting state (timed once, printed as ``state_commit_s``);
4. runs untimed warm-up operations;
5. runs operations in a closed loop (one client, one job at a time) for
   ``--seconds``, checking every operation's output; the first output is
   also re-checked against expected counts that are off by one, and the
   run fails unless the gate reports mismatches (its self-test);
6. with ``--trace 1``, runs that loop with every operation in a span,
   runs the layer sweep, attributes Spark's stage, task and SQL metrics to
   the spans, writes the spans to ``perfbench/.work/traces/`` and reports
   the per-layer metrics instead of the end-to-end ones.

Human-readable lines come first; the last line of standard output is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
PACKAGE = "commerce_logs_pipeline_spark"
SETUP_ROUNDS = 5
DRIVER_HEAP_MB = 2048

T_START = time.monotonic()


def log(msg: str) -> None:
    """Progress line on standard error, stamped with seconds since start."""
    print(f"[perfbench {time.monotonic() - T_START:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


END_TO_END_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "peak_rss_mb": "MB",
}


def source_digest() -> str:
    """Hash of the package's and the benchmark's Python sources. Cached
    inputs, reference answers and the lookup table are kept under it, so
    code that changed never reads what other code wrote."""
    h = hashlib.sha256()
    for top in (os.path.join(ROOT, PACKAGE), HERE):
        for dirpath, dirnames, files in os.walk(top):
            dirnames[:] = sorted(
                d for d in dirnames if not d.startswith((".", "__pycache__")))
            for name in sorted(files):
                if not name.endswith(".py"):
                    continue
                path = os.path.join(dirpath, name)
                h.update(os.path.relpath(path, ROOT).encode() + b"\0")
                with open(path, "rb") as f:
                    h.update(f.read() + b"\0")
    return h.hexdigest()[:16]


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def pin_environment() -> dict:
    """Fix everything the session factory reads from the environment."""
    cpus = len(os.sched_getaffinity(0))
    heap_mb = min(DRIVER_HEAP_MB, mem_total_mb() // 4)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    for var in ("SPARK_GRAFT_EXTRA_CONF", "SPARK_LOCAL_DIRS", "LOCAL_DIRS"):
        os.environ.pop(var, None)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{heap_mb}m",
        "SPARK_GRAFT_LOCAL_DIR": os.path.join(WORK, "spark-local"),
        "SPARK_LOCAL_IP": "127.0.0.1",
        "SPARK_LOCAL_HOSTNAME": "localhost",
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    })
    with open("/proc/loadavg") as f:
        loadavg = " ".join(f.read().split()[:3])
    return {"nproc": cpus, "mem_total_mb": mem_total_mb(),
            "loadavg": loadavg, "driver_heap_mb": heap_mb}


def build_spark(cpus: int, ui: bool):
    """The program's session factory at ``local[cpus]``; the web UI (and
    with it the status REST API) only for traced runs."""
    from commerce_logs_pipeline_spark.session import build_session

    spark = build_session(
        app_name="perfbench",
        master=f"local[{cpus}]",
        # one shuffle partition per core, the ratio the session default
        # (32) has at its intended local[32]
        shuffle_partitions=cpus,
        extra_conf={
            "spark.ui.enabled": str(ui).lower(),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # a fixed, pre-touched heap: no heap resizing from run to run
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} "
                f"-Xms{os.environ['SPARK_GRAFT_DRIVER_MEM']} "
                "-XX:+AlwaysPreTouch",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except OSError:
                continue
            children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo += children.get(p, [])
    return out


def rss_mb(pids: list[int]) -> float:
    """Resident memory of ``pids`` together: the sum of their proportional
    set sizes, so pages the forked Python workers share count once."""
    total_kb = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
        except OSError:
            continue
    return total_kb / 1024.0


class RssSampler:
    """Peak resident memory of this process, the driver JVM and the Python
    workers (all descendants of this process), sampled from /proc."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.peak_mb = max(self.peak_mb, rss_mb(descendants(os.getpid())))

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class Loop:
    """Outcome of one closed-loop measurement."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.results = []
        #: mismatches the gate reported for expected counts off by one
        #: (None until an operation has completed)
        self.self_test = None

    def latencies(self) -> list[float]:
        return [x for r in self.results for x in r.latencies_s]

    def throughput(self) -> float:
        wall = sum(r.wall_s for r in self.results)
        return sum(r.work for r in self.results) / wall if wall else 0.0


def run_op(workload, spark, tracer=None, self_test=False):
    """One operation, its correctness check and its cleanup. Returns
    (result, mismatches, self-test mismatches): with ``self_test`` the
    output is checked a second time against expected counts that are off by
    one, which must report mismatches. The op itself sits in a span when
    tracing."""
    try:
        if tracer is None:
            result = workload.op(spark)
        else:
            with tracer.span(f"{workload.name}.op"):
                result = workload.op(spark)
        errors = workload.check(spark, result)
        tripped = []
        if self_test:
            workload.gate.offset = 1
            try:
                tripped = workload.check(spark, result)
            finally:
                workload.gate.offset = 0
        return result, errors, tripped
    finally:
        workload.after_op(spark)


def measure(workload, spark, seconds: float, tracer=None) -> Loop:
    """Closed loop for ``seconds``: the first operation always runs; each
    later one only if the previous one (with its check) would still have
    fitted before the deadline, so slow operations do not overrun it. The
    first operation that completes also runs the gate's self-test."""
    loop = Loop()
    deadline = time.monotonic() + seconds
    last = 0.0
    while loop.attempted == 0 or time.monotonic() + last <= deadline:
        t0 = time.monotonic()
        loop.attempted += 1
        try:
            result, errors, tripped = run_op(
                workload, spark, tracer, self_test=loop.self_test is None)
        except Exception:  # an operation that raises counts as failed
            traceback.print_exc()
            loop.failed += 1
            continue
        finally:
            last = time.monotonic() - t0
        if loop.self_test is None:
            loop.self_test = tripped
        if errors:
            print("\n".join(errors), file=sys.stderr)
            loop.failed += 1
        else:
            loop.results.append(result)
    return loop


def tail_latency(samples: list[float]) -> tuple[float, float] | None:
    """(percentile, value) of the highest percentile with at least ten
    samples above it, or None with fewer than eleven samples."""
    if len(samples) < 11:
        return None
    ordered = sorted(samples)
    k = len(ordered) - 11
    return 100.0 * (k + 1) / len(ordered), ordered[k]


def shutdown(spark) -> None:
    """Stop Spark, then the JVM and its Python workers, waiting for each."""
    from pyspark import SparkContext

    procs = descendants(os.getpid())[1:]
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.monotonic() + 30
    for pid in procs:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            try:
                with open(f"/proc/{pid}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package in {ROOT}; run from a "
              "checkout of the repository", file=sys.stderr)
        return 2
    env = pin_environment()
    sys.path[:0] = [ROOT, HERE]
    from workloads import WORKLOADS, Inputs, ensure_lookup_table

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(WORKLOADS)}", file=sys.stderr)
        return 2

    inputs = Inputs(os.path.join(WORK, "inputs", source_digest()), args.seed)
    run_dir = os.path.join(WORK, "run", f"{args.workload}-{os.getpid()}")
    workload = WORKLOADS[args.workload](inputs, run_dir)

    ensure_lookup_table(inputs)
    workload.prepare()
    setup_s = []
    spark = None
    try:
        for _ in range(SETUP_ROUNDS):
            t0 = time.perf_counter()
            if spark is not None:
                spark.stop()
            spark = build_spark(env["nproc"], ui=bool(args.trace))
            setup_s.append(time.perf_counter() - t0)
        log("session built")
        workload.stage(spark)  # the load generator: not part of set-up
        log("inputs staged")
        t0 = time.perf_counter()
        workload.commit(spark)
        commit_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        for _ in range(workload.warm_ops):
            workload.warm_op(spark)
        warmup_s = time.perf_counter() - t0
        log("warmed up")

        tracer = None
        if args.trace:
            from tracing import Tracer

            tracer = Tracer(spark)
            gc_s = tracer.jvm_gc_s()
        with RssSampler() as rss:
            loop = measure(workload, spark, args.seconds, tracer)
        if tracer is not None:
            gc_s = tracer.jvm_gc_s() - gc_s
        log("measured")
        if loop.self_test == []:
            print("gate self-test: expected counts off by one did not trip "
                  "the gate", file=sys.stderr)
            return 1
        metrics = {
            "setup_s": statistics.median(setup_s),
            "throughput_per_s": loop.throughput(),
            "peak_rss_mb": rss.peak_mb,
        }
        units = END_TO_END_UNITS
        summary(args, env, workload, loop, metrics, setup_s, commit_s,
                warmup_s)
        if tracer is not None:
            metrics = traced_run(args, env, workload, spark, tracer, inputs,
                                 setup_s, loop, gc_s)
            spark = None  # traced_run shut its sessions down
            units = {k: layer_unit(k) for k in metrics}
        attempted, failed = loop.attempted, loop.failed
    finally:
        if spark is not None:
            shutdown(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({
        "correct": failed == 0 and attempted > failed,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0


def summary(args, env, workload, loop, metrics, setup_s, commit_s,
            warmup_s) -> None:
    lat = loop.latencies()
    tail = tail_latency(lat)
    unit = workload.work_unit
    print(f"env: nproc={env['nproc']} mem_total_mb={env['mem_total_mb']} "
          f"loadavg={env['loadavg']} driver_heap_mb={env['driver_heap_mb']}")
    print(f"workload={args.workload} seed={args.seed} "
          f"seconds={args.seconds} ops={len(loop.results)} "
          f"latency_samples={len(lat)}")
    print(f"setup_s = {metrics['setup_s']:.3f} s (median session build; "
          f"rounds: {', '.join(f'{x:.3f}' for x in setup_s)})")
    print(f"state_commit_s = {commit_s:.3f} s; untimed warm-up "
          f"{warmup_s:.3f} s")
    print(f"{unit}_per_s = {metrics['throughput_per_s']:.2f} {unit}/s")
    print(f"latency_p50_s = {statistics.median(lat or [0.0]):.4f} s")
    if tail:
        print(f"latency_tail_s = {tail[1]:.4f} s (p{tail[0]:.1f} of "
              f"{len(lat)} samples)")
    else:
        print(f"latency_tail_s = n/a ({len(lat)} samples; a tail needs 11)")
    for r in loop.results:
        if "report" in r.detail:  # run_pipeline's own phase timings
            report = r.detail["report"]
            phases = report.extras["phases"]
            pass1 = phases.get("pass1_parse_route_write", 0.0)
            print(f"run_pipeline phases: {phases}; pass-1 share "
                  f"{pass1 / report.elapsed_sec:.3f}")
    print(f"peak_rss_mb = {metrics['peak_rss_mb']:.1f} MB")
    print(f"error_rate = {loop.failed / max(loop.attempted, 1):.4f} "
          f"({loop.failed} of {loop.attempted} operations)")
    if loop.self_test is not None:
        print(f"gate self-test: {len(loop.self_test)} mismatch(es) reported "
              "for expected counts off by one")


def traced_run(args, env, workload, spark, tracer, inputs, setup_s, loop,
               loop_gc_s):
    """Layer sweep, span attribution and the weak-scaling baseline after a
    traced loop. Returns the per-layer metrics; stops every session."""
    from tracing import LayerSweep, engine_metrics, weak_scaling

    sweep = LayerSweep(spark, tracer, inputs,
                       os.path.join(workload.work_dir, "sweep"))
    sweep.run()
    log("layer sweep done")
    tracer.attribute()
    metrics = {"session.build_s": setup_s[0]}  # the cold build
    metrics.update(sweep.metrics())
    metrics.update(engine_metrics(tracer, f"{workload.name}.op", loop_gc_s))
    # tracing overhead = 1 - this / throughput_per_s of an untraced run
    metrics["trace.throughput_per_s"] = loop.throughput()
    report = sweep.facts["pipeline_report"]
    tracer.dump(
        os.path.join(WORK, "traces", f"{args.workload}-seed{args.seed}.json"),
        {"workload": args.workload, "seed": args.seed, "env": env},
    )
    t0 = time.perf_counter()
    spark.stop()
    spark1 = build_spark(1, ui=True)  # the web UI, as on the local[nproc] side
    try:
        metrics["pipeline.weak_scaling_eff"] = weak_scaling(
            spark1, sweep.head, os.path.join(workload.work_dir, "weak"),
            env["nproc"], report.turns_per_sec)
    finally:
        shutdown(spark1)
    log(f"weak-scaling baseline done ({time.perf_counter() - t0:.1f} s)")
    for k, v in metrics.items():
        print(f"{k} = {v}")
    return metrics


def layer_unit(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if "bytes" in name:
        return "bytes"
    if name.endswith(("_s", "_s_p50")):
        return "s"
    if name.endswith(("ratio", "skew", "eff", "per_task", "per_input_row")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    sys.exit(main())
