#!/usr/bin/env python3
"""KG-construction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload repo_batch --seed 1 --seconds 1 --trace 0

Run from the repository root. ``--trace 0`` times whole runs, the first of
them the JVM's first run of the program, and prints the end-to-end metrics;
``--trace 1`` makes one run layer by layer, beside an untraced run, and
prints the per-layer metrics. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")
DIGESTS = os.path.join(ROOT, "perfbench", "digests.json")
WORKLOAD_NAMES = ("repo_batch", "alias_dense", "commit_stream")
# the per-layer wall times of a traced run add up to its total within this share
LAYER_SUM_TOLERANCE = 0.05
# set-up writes the inputs this many times and counts the median write
SETUP_WRITES = 3
# --seed n uses the inputs of data seed 1 + (n - 1) mod DATA_SEEDS, whose
# digests digests.json holds, so every run's output is checked against a
# recorded digest. Folding also keeps synth_corpus' 64-bit row keys (seed
# times 1_000_003, then multiplied again) clear of ANSI overflow errors.
DATA_SEEDS = 10


def data_seed(seed: int) -> int:
    return 1 + (seed - 1) % DATA_SEEDS


def pin_environment(work: str) -> dict:
    """Fix master, heap, scratch directories and the workers' import path
    before the JVM starts; returns what was pinned.

    The master gets half the cores this process may run on: the JVM's
    compiler and collector threads and the Python workers run beside the
    task threads, and on a shared host a task slot per core makes every
    stolen core a straggler. At the shipped sizes two slots cost at most
    10% against four on a quiet host."""
    cpus = len(os.sched_getaffinity(0))
    cores = max(1, cpus // 2)
    with open("/proc/meminfo") as f:
        mem_mb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1]) // 1024
    heap_mb = min(4096, mem_mb // 4)
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    for d in (local_dirs, tmp):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "SPARK_LOCAL_DIRS": local_dirs,
        # the pandas-UDF workers import kgpipe_spark from the checkout
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # the workers run this interpreter, whatever `python` is on PATH
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": tmp,
        # the session's default collector, pinned against the caller's env
        "SPARK_GC_OPTS": "-XX:+UseParallelGC",
        # every JVM, the launcher's too: temp files local, no /tmp/hsperfdata
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    }
    os.environ.update(env)
    return {"master": f"local[{cores}]", "cores": cores, "cpus": cpus, "mem_total_mb": mem_mb, **env}


def start_spark(cores: int, work: str):
    from kgpipe_spark.session import get_spark

    spark = get_spark(
        app_name="kgpipe-perfbench",
        master=f"local[{cores}]",
        extra_conf={
            # keep every job and stage of a run in the status store
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers have exited."""
    from perfbench.counters import jvm_pid, process_tree

    gateway = spark.sparkContext._gateway
    pids = process_tree(jvm_pid(spark))
    spark.stop()
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def drop_one_triple(spark, out: str) -> None:
    """Rewrite ``out`` without its first triple (the self-tests' corruption)."""
    from kgpipe_spark.sources.iceberg import read_table, write_table

    kg = read_table(spark, out)
    rows = kg.collect()
    write_table(spark.createDataFrame(rows[1:], kg.schema), out + ".cut", mode="overwrite")
    shutil.rmtree(out)
    os.rename(out + ".cut", out)


def _cpu_times() -> list:
    with open("/proc/stat") as f:
        return [int(v) for v in f.readline().split()[1:]]


def _metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


class Bench:
    """One workload at one seed in one Spark session.

    Every run's output is checked; ``attempted`` and ``failed`` count the
    checked runs, the warm-up included. ``corrupt`` drops one triple from
    every timed run's output before its check."""

    def __init__(self, spark, workload, seed: int, scale: float, cores: int, work: str, corrupt=False):
        self.spark = spark
        self.workload = workload
        self.seed = seed
        self.scale = scale
        self.cores = cores
        self.work = work
        self.corrupt = corrupt
        self.attempted = 0
        self.failed = 0
        self.runs = 0

    def _out(self) -> str:
        self.runs += 1
        return os.path.join(self.work, f"out-{self.runs}")

    def _discard(self, out: str) -> None:
        for path in (out, out + ".ckpt", out + ".drain", out + ".drain.ckpt"):
            shutil.rmtree(path, ignore_errors=True)

    def recorded_digest(self):
        if self.scale != 1.0 or not os.path.exists(DIGESTS):
            return None
        with open(DIGESTS) as f:
            return json.load(f).get(self.workload.name, {}).get(str(self.seed))

    def record_digest(self) -> None:
        recorded = {}
        if os.path.exists(DIGESTS):
            with open(DIGESTS) as f:
                recorded = json.load(f)
        recorded.setdefault(self.workload.name, {})[str(self.seed)] = self.reference
        with open(DIGESTS, "w") as f:
            json.dump(recorded, f, indent=1, sort_keys=True)
            f.write("\n")

    def digest_of(self, out: str) -> list:
        """Set ``self.digest`` to the digest of ``out``; returns the
        problems the same aggregation finds."""
        from kgpipe_spark.sources.iceberg import read_table
        from perfbench.checks import kg_digest

        self.digest, duplicated = kg_digest(read_table(self.spark, out))
        return ["duplicate (s,p,o,kind)"] if duplicated else []

    def check(self, out: str, compare: bool = True) -> list:
        """Problems with one run's output; a run with problems has failed."""
        problems = self.workload.check(self.spark, self.inputs, out) + self.digest_of(out)
        if compare and self.digest != self.reference:
            problems.append(f"digest {self.digest} != expected {self.reference}")
        return problems

    def _count(self, problems: list) -> bool:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"[perfbench] run {self.attempted} failed: {problems}", file=sys.stderr)
        return not problems

    def setup(self, warm_up: bool, writes: int = 1) -> float:
        """Write the inputs ``writes`` times and, with ``warm_up``, make one
        untimed run; returns the median write's seconds plus the warm-up's.

        Each write goes to its own directory; the last one is used. The
        expected digest is the one recorded for this workload and seed in
        digests.json, else the warm-up's; without a recorded digest the
        warm-up is made regardless. The warm-up's output gets the digest and
        duplicate checks only; every timed run gets all checks."""
        writes_s, previous = [], None
        for i in range(writes):
            work = os.path.join(self.work, f"inputs-{i}")
            t = time.perf_counter()
            self.inputs = self.workload.write_inputs(self.spark, work, self.seed, self.scale)
            writes_s.append(time.perf_counter() - t)
            if previous:
                shutil.rmtree(previous)
            previous = work
        inputs_s = statistics.median(writes_s)
        self.setup_parts = {"inputs_s": inputs_s, "input_writes_s": writes_s}
        self.reference = self.recorded_digest()
        if not warm_up and self.reference is not None:
            return inputs_s
        out = self._out()
        t1 = time.perf_counter()
        self.workload.run(self.spark, self.inputs, out)
        warmup_s = time.perf_counter() - t1
        self.setup_parts["warmup_s"] = warmup_s
        problems = self.digest_of(out)
        if self.reference is None:
            self.reference = self.digest
        elif self.digest != self.reference:
            problems.append(f"digest {self.digest} != expected {self.reference}")
        self._count(problems)
        self._discard(out)
        return inputs_s + warmup_s

    def timed_run(self):
        """One timed, checked run: (seconds, RunResult, peak RSS MB), or None
        when it failed."""
        from perfbench.counters import jvm_pid, peak_rss_mb, reset_peak_rss

        pid = jvm_pid(self.spark)
        out = self._out()
        # no run pays for the garbage that earlier work left on the heap
        self.spark.sparkContext._jvm.java.lang.System.gc()
        reset_peak_rss(pid)
        try:
            t0 = time.perf_counter()
            result = self.workload.run(self.spark, self.inputs, out)
            dt = time.perf_counter() - t0
            peak = peak_rss_mb(pid)
            if self.corrupt:
                drop_one_triple(self.spark, out)
            problems = self.check(out)
        except Exception as e:  # a run that raises is a failed run
            traceback.print_exc()
            problems = [repr(e)]
        self._discard(out)
        return (dt, result, peak) if self._count(problems) else None

    def measure(self, seconds: float) -> dict:
        """Timed runs until ``seconds`` have passed, at least one; medians.

        Without a warm-up in set-up the first timed run is the JVM's first
        run of the program, and later ones are warmer."""
        run_s, tput, batch_s, rss = [], [], [], []
        start = time.perf_counter()
        while True:
            cycle = time.perf_counter()
            done = self.timed_run()
            if done:
                dt, result, peak = done
                run_s.append(dt)
                tput.append(self.digest[0] / dt)
                # a batch workload's run is its one batch
                batch_s.extend(result.batch_s or [dt])
                rss.append(peak)
            now = time.perf_counter()
            # stop where the total lands nearest to ``seconds``
            if now - start + (now - cycle) / 2 > seconds:
                break
        self.batches_s = batch_s
        if not run_s:
            return {}
        return {
            "run_s": _metric(statistics.median(run_s), "s"),
            "triples_per_s": _metric(statistics.median(tput), "1/s"),
            "batch_p50_s": _metric(statistics.median(batch_s), "s"),
            "peak_rss_mb": _metric(statistics.median(rss), "MB"),
        }

    def trace(self) -> dict:
        """One traced run: per-layer counters, ratios, and the trace's totals
        against an untraced run of the program in the same invocation: the
        warm-up, or the real drain that a streaming workload's trace makes."""
        from perfbench.counters import LayerTracer

        tracer = LayerTracer(self.spark)
        out = self._out()
        ratios = self.workload.traced(self.spark, self.inputs, out, tracer)
        total = tracer.total_s()
        if self.workload.trace_runs_program:
            warmup_s = tracer.wall["streaming"]
            self._count(self.check(out + ".drain"))
        else:
            warmup_s = self.setup_parts["warmup_s"]
        # invariants decide failure; a digest that differs from the untraced
        # runs' is reported, not failed
        self._count(self.check(out, compare=False))
        metrics = tracer.counters(self.cores)
        metrics.update({name: _metric(v, unit) for name, (v, unit) in ratios.items()})
        # the replay's layers, without the real drain of a streaming workload
        replay_s = sum(wall for name, wall in tracer.wall.items() if name != "streaming")
        metrics.update(
            {
                "trace.total_s": _metric(total, "s"),
                "trace.layer_sum_ratio": _metric(sum(tracer.wall.values()) / total, "ratio"),
                "trace.warmup_s": _metric(warmup_s, "s"),
                "trace.replay_ratio": _metric(replay_s / warmup_s, "ratio"),
                "trace.digest_match": _metric(int(self.digest == self.reference), "bool"),
                "error_rate": _metric(self.failed / self.attempted, "ratio"),
            }
        )
        self._discard(out)
        return metrics


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    p.add_argument("--seed", type=int, default=42)
    p.add_argument("--seconds", type=float, default=1)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--record", action="store_true", help="store the warm-up's digest in digests.json for an unrecorded seed"
    )
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    for module in ("pyspark", "kgpipe_spark"):
        if importlib.util.find_spec(module) is None:
            print(f"[perfbench] cannot import {module}; run from a checkout of the repository", file=sys.stderr)
            return 2
    from perfbench.workloads import WORKLOADS

    shutil.rmtree(WORK, ignore_errors=True)
    env = pin_environment(WORK)
    env["data_seed"] = data_seed(args.seed)
    env["loadavg_start"] = os.getloadavg()
    cpu_start = _cpu_times()
    t0 = time.perf_counter()
    spark = start_spark(env["cores"], WORK)
    try:
        session_s = time.perf_counter() - t0
        bench = Bench(spark, WORKLOADS[args.workload], env["data_seed"], 1.0, env["cores"], WORK)
        # a traced run is set beside an untraced one; a timed run is the JVM's first
        warm_up = args.record or (args.trace and not bench.workload.trace_runs_program)
        # setup_s, the only figure the repeated writes steady, is not reported with --trace 1
        setup_s = session_s + bench.setup(warm_up=bool(warm_up), writes=1 if args.trace else SETUP_WRITES)
        env.update(session_s=session_s, **bench.setup_parts)
        t1 = time.perf_counter()
        if args.trace:
            metrics = bench.trace()
        else:
            metrics = {"setup_s": _metric(setup_s, "s"), **bench.measure(args.seconds)}
        env["measure_s"] = time.perf_counter() - t1
        env["batches_s"] = getattr(bench, "batches_s", [])
        if args.record and bench.failed == 0:
            bench.record_digest()
    finally:
        t2 = time.perf_counter()
        stop_spark(spark)
        shutil.rmtree(WORK, ignore_errors=True)
        env["stop_s"] = time.perf_counter() - t2
    env["loadavg_end"] = os.getloadavg()
    # the share of CPU time the hypervisor gave to other guests
    cpu = [b - a for a, b in zip(cpu_start, _cpu_times())]
    env["cpu_steal_share"] = cpu[7] / max(sum(cpu), 1)
    print("[perfbench] env " + json.dumps(env, sort_keys=True))
    result = {
        "correct": bench.failed == 0 and len(metrics) > 1,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
