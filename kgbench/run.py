"""Layered benchmark of the shipped KG-construction DAG.

Run from the repository root:

    python3 kgbench/run.py --workload learned --seed 1 --seconds 3 --trace 0

One invocation runs one workload (see ``workloads.WORKLOADS``):

1. set-up (``setup_s``): start a ``local[$(nproc)]`` session, generate the
   inputs from ``--seed`` with ``sources.synthetic``, compute the expected
   output, and warm the JVM and the Python workers with an untimed run;
2. measurement: closed-loop runs (the next starts once the previous one
   has committed) until ``--seconds`` have passed, at least one; every run
   gets a fresh warehouse or checkpoint and every output is checked;
3. ``--trace 1`` instead: the session runs with the Spark event log on.
   After the warm-up, one run with the event log detached, then one run
   with the event log attached and each layer call wrapped
   (``tracing.traced_run``); their difference is the tracing overhead.

The last line of standard output is the result: end-to-end metrics with
``--trace 0``, per-layer metrics with ``--trace 1``.  The line before it
is the full record (sample counts, input sizes, environment stamp), which
is also appended to ``.kgbench/records.jsonl``.  The exit code is 1 when
any run failed or failed its output check.
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
import tempfile
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".kgbench")

# the pinned run environment: one local JVM using every core of the host,
# a fixed shuffle width, and a driver heap that fits a small host
CORES = len(os.sched_getaffinity(0))
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "2g"

END_TO_END_UNITS = {
    "setup_s": "s", "wall_s": "s", "turns_per_s": "1/s",
    "batch_latency_s": "s", "peak_rss_mb": "MB",
}


def pin_process_env(run_dir: str) -> None:
    """Environment the JVM and its Python workers inherit; must run before
    pyspark launches the JVM.  Every scratch file stays under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    # no hsperfdata files in the system temp dir, for the spark-submit
    # launcher JVM here and for the driver JVM in start_session
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    paths = [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join([ROOT] + paths)
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(run_dir: str, event_log_dir: str | None = None):
    from usc_ds_relationextraction_spark.session import get_spark
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        # the heap is committed and touched up front, so peak RSS does not
        # depend on when the JVM happens to grow it
        "spark.driver.extraJavaOptions":
            f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch -XX:-UsePerfData "
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        "spark.local.dir": os.path.join(run_dir, "local"),
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + event_log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    spark = get_spark(app_name="kgbench", master=f"local[{CORES}]",
                      shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def shutdown_jvm() -> None:
    """Stop the py4j gateway JVM (and with it the Python worker daemon) and
    wait for it to exit, so no process outlives the benchmark."""
    from pyspark import SparkContext
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = SparkContext._jvm = None  # a later session relaunches
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


class PssSampler:
    """Peak memory of this process tree: the Python driver, its JVM and the
    JVM's Python workers.  Each sample sums the processes' proportional set
    size (``Pss`` in ``/proc/<pid>/smaps_rollup``): the Python workers are
    forked from one daemon and share most pages, which plain RSS would
    count once per worker.  A sample reads the JVM's page tables for about
    25 ms, so it is taken once a second, not more often."""

    def __init__(self, interval: float = 1.0) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    @staticmethod
    def tree_pss() -> int:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as fh:
                    data = fh.read()
            except OSError:  # the process exited while we listed /proc
                continue
            ppid = int(data[data.rindex(")") + 2:].split()[1])
            children.setdefault(ppid, []).append(int(d))
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            todo.extend(children.get(pid, []))
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _run(self) -> None:
        while True:
            self.peak_bytes = max(self.peak_bytes, self.tree_pss())
            if self._stop.wait(self.interval):
                return

    def __enter__(self) -> "PssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5.0)


def source_id() -> str:
    """Commit sha when the tree is a git checkout, else a digest of the
    package sources: the benchmark is also run from exported source trees
    that have no ``.git``."""
    try:
        sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        if sha.returncode == 0:
            return sha.stdout.strip()
    except (OSError, subprocess.TimeoutExpired):
        pass
    h = hashlib.sha1()
    pkg = os.path.join(ROOT, "usc_ds_relationextraction_spark")
    for base, _dirs, files in sorted(os.walk(pkg)):
        for fn in sorted(files):
            if fn.endswith(".py"):
                with open(os.path.join(base, fn), "rb") as fh:
                    h.update(fn.encode() + fh.read())
    return "src-" + h.hexdigest()


class Tally:
    """Runs attempted and failed; a run fails when it raises or when its
    output check reports a problem."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0

    def run_checked(self, workload, spark, run_dir: str, tracer=None):
        self.attempted += 1
        try:
            run = workload.run(spark, run_dir, tracer)
            problems = workload.check(run)
        except Exception:  # noqa: BLE001 — one failed run must not end the loop
            traceback.print_exc()
            self.failed += 1
            return None
        if problems:
            print(f"output check failed: {problems}", file=sys.stderr)
            self.failed += 1
            return None
        return run


def measure(workload, spark, run_dir: str, seconds: float,
            tally: Tally) -> list:
    """Closed loop: start runs until ``seconds`` have passed (at least one)."""
    runs = []
    deadline = time.perf_counter() + seconds
    while tally.attempted == 0 or time.perf_counter() < deadline:
        run = tally.run_checked(workload, spark,
                                os.path.join(run_dir, f"run{tally.attempted}"))
        if run is not None:
            runs.append(run)
    return runs


def end_to_end(runs: list, n_turns: int, setup_s: float,
               peak_bytes: int) -> dict[str, float]:
    walls = [r.wall_s for r in runs]
    lat = [x for r in runs for x in r.latencies]
    wall = statistics.median(walls)
    return {
        "setup_s": setup_s,
        "wall_s": wall,
        "turns_per_s": n_turns / wall,
        "batch_latency_s": statistics.median(lat),
        "peak_rss_mb": peak_bytes / 2**20,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_dir = os.path.join(OUT, f"{args.workload}-s{args.seed}-p{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    pin_process_env(run_dir)
    try:
        return _main(args, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _main(args, run_dir: str) -> int:
    # repo imports only after the environment is pinned; in a tree without
    # the package they fail here, before any result is printed
    from kgbench import tracing
    from kgbench.workloads import WORKLOADS
    from bench import LoadSampler, _cpu_canary, _loadavg

    if args.workload not in WORKLOADS:
        raise SystemExit(f"unknown workload {args.workload!r}; "
                         f"choose from {sorted(WORKLOADS)}")
    workload = WORKLOADS[args.workload]()
    tally = Tally()
    canary_s, cpu_mhz = _cpu_canary()
    load_before = _loadavg()

    t0 = time.perf_counter()
    spark = start_session(run_dir, os.path.join(run_dir, "eventlog")
                          if args.trace else None)
    runs: list = []
    metrics: dict[str, float] = {}
    try:
        t1 = time.perf_counter()
        inputs = workload.prepare(spark, args.seed,
                                  os.path.join(run_dir, "data"))
        t2 = time.perf_counter()
        workload.warm_up(spark, os.path.join(run_dir, "warmup"))
        setup_s = time.perf_counter() - t0
        phases = {"session_s": t1 - t0, "prepare_s": t2 - t1,
                  "warm_up_s": t0 + setup_s - t2}

        with LoadSampler() as load, PssSampler() as mem:
            if args.trace:
                traced, runs = tracing.traced_run(workload, spark, run_dir,
                                                  tally, CORES)
                metrics = traced or {}
            else:
                runs = measure(workload, spark, os.path.join(run_dir, "timed"),
                               args.seconds, tally)
                if runs:
                    metrics = end_to_end(runs, inputs["n_turns"], setup_s,
                                         mem.peak_bytes)
    finally:
        spark.stop()
        shutdown_jvm()

    budget = CORES * 1.25  # bench.py's rule, for this host's core count
    record = {
        "workload": args.workload, "seed": args.seed,
        "seconds": args.seconds, "trace": args.trace, "inputs": inputs,
        "setup": phases,
        "samples": {"runs": len(runs),
                    "batches": sum(len(r.latencies) for r in runs),
                    "wall_s": [r.wall_s for r in runs]},
        "stamp": {
            "source": source_id(), "nproc": CORES,
            "master": f"local[{CORES}]",
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_memory": DRIVER_MEMORY,
            "cpu_canary_md5_2m_sec": canary_s, "cpu_mhz": cpu_mhz,
            "loadavg_before": load_before,
            "loadavg_peak_during": load.peak,
            "contended": load.peak > budget or load_before > CORES / 2,
        },
        "attempted": tally.attempted, "failed": tally.failed,
        "metrics": metrics,
    }
    f1 = [r.f1 for r in runs if r.f1 is not None]
    if f1:
        record["learned_f1"] = statistics.median(f1)
    print(json.dumps(record))
    with open(os.path.join(OUT, "records.jsonl"), "a") as fh:
        fh.write(json.dumps(record) + "\n")

    units = END_TO_END_UNITS if not args.trace else tracing.PER_LAYER_UNITS
    ok = tally.failed == 0 and bool(metrics)
    print(json.dumps({
        "correct": ok, "attempted": tally.attempted, "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in metrics.items()},
    }))
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
