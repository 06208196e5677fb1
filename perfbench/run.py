"""Benchmark of the taxi engine: CSV -> gold build, Q1-Q4 on gold, and
suite registry operators.

    python3 perfbench/run.py --workload gold_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root.  One Python process drives one
``local[N]`` SparkSession with a single client in a closed loop: each
operation starts when the previous one has finished.  Inputs are
generated from ``--seed``; every operation's output is checked against
DuckDB outside the timed region.  With ``--trace 0`` the last stdout
line carries the end-to-end metrics, with ``--trace 1`` the per-layer
ones (and the tracing overhead).  The line before it is a report with
every workload-specific metric, the pinned environment and the inputs.
See ``perfbench/README.md`` for what each metric means.
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
from dataclasses import dataclass, field
from pathlib import Path

BENCH_DIR = Path(__file__).resolve().parent
ROOT = BENCH_DIR.parent
WORK = BENCH_DIR / ".work"
PACKAGE = "nyc_taxi_data_clickhouse_spark"


def _spec_units(key: str) -> dict[str, str]:
    """Metric name -> unit for one metric list of BENCHMARK.json."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec[key]}


DRIVER_MEM = "1g"
MAX_CORES = 4


def pin_environment() -> dict:
    """Pin the session's knobs before the package reads them."""
    cores = min(MAX_CORES, len(os.sched_getaffinity(0)))
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": str(WORK / "spark-local"),
        "TMPDIR": str(tmp),
    }
    os.environ.update(env)
    for knob in ("SPARK_GRAFT_SHUFFLE", "SPARK_GRAFT_UI"):
        os.environ.pop(knob, None)
    # Spark drops derby.log and spark-warehouse/ into the working directory
    os.chdir(WORK)
    return {**env, "cores": cores, "cwd": str(WORK)}


def _vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


def _reset_peak_rss(pid: int | str) -> None:
    """Restart VmHWM from the current resident size (proc(5), clear_refs)."""
    with open(f"/proc/{pid}/clear_refs", "w") as f:
        f.write("5")


def _host_cpu_ticks() -> list[int]:
    """The host's CPU time counters (user ... steal), from /proc/stat."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


_TICK_S = 1 / os.sysconf("SC_CLK_TCK")
#: the JVM's JIT compiler threads (thread names are cut to 15 bytes)
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as f:
        text = f.read()
    return text[text.index("(") + 1:text.rindex(")")], text.rsplit(")", 1)[1].split()


def tree_cpu_s(jvm_pid: int) -> float:
    """CPU seconds used so far by this process and all its descendants
    (the JVM and its Python workers), reaped children included, less
    what the JVM's JIT compiler threads used: in a run this short they
    are still compiling during the measured passes, and took about half
    of the JVM's CPU time there."""
    stats = {}
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                fields = _stat(f"/proc/{entry}/stat")[1]
            except OSError:  # exited meanwhile
                continue
            stats[int(entry)] = (int(fields[1]), sum(map(int, fields[11:15])))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        ticks += stats.get(pid, (0, 0))[1]
        todo.extend(children.get(pid, ()))
    for tid in os.listdir(f"/proc/{jvm_pid}/task"):
        try:
            name, fields = _stat(f"/proc/{jvm_pid}/task/{tid}/stat")
        except OSError:  # a thread that ended meanwhile
            continue
        if name in JIT_THREADS:
            ticks -= int(fields[11]) + int(fields[12])
    return ticks * _TICK_S


class Session:
    """The one SparkSession of a run."""

    def __init__(self) -> None:
        self.spark = None

    def start(self):
        from nyc_taxi_data_clickhouse_spark.session import get_spark

        self.spark = get_spark(extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # a fixed heap size: heap resizing adds run-to-run noise; a
            # fixed set of JIT compiler threads, so that none exits and
            # takes its CPU time into the process total (tree_cpu_s)
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={WORK / 'tmp'} -Xms{DRIVER_MEM}"
                " -XX:-UseDynamicNumberOfCompilerThreads",
        })
        return self.spark

    def jvm_pid(self) -> int:
        return self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def shutdown(self) -> None:
        """Stop the session and wait for the JVM the session launched."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def _summary(samples: list[float]) -> dict:
    return {"n": len(samples), "median": statistics.median(samples), "runs": samples}


@dataclass
class Tally:
    """Operation outcomes, and the wall and CPU times of those that
    completed."""

    order: list[str]
    jvm_pid: int
    attempted: int = 0
    failed: int = 0
    samples: dict[str, list[float]] = field(default_factory=dict)
    cpu: dict[str, list[float]] = field(default_factory=dict)
    traced: dict[str, list[float]] = field(default_factory=dict)

    def attempt(self, w, kind: str, call) -> tuple[float, float] | None:
        """Run ``call(kind)`` -> (output, wall or None) and verify it;
        returns the call's (wall, CPU) seconds."""
        self.attempted += 1
        try:
            c0 = tree_cpu_s(self.jvm_pid)
            t0 = time.perf_counter()
            out, wall = call(kind)
            t1 = time.perf_counter()
            cpu = tree_cpu_s(self.jvm_pid) - c0
            ok = w.verify(kind, out)
        except Exception:
            traceback.print_exc()
            self.failed += 1
            return None
        if not ok:
            print(f"verification failed: {w.name}/{kind}", file=sys.stderr)
            self.failed += 1
        return (wall if wall is not None else t1 - t0), cpu

    def medians(self, samples: dict[str, list[float]]) -> dict[str, float]:
        if any(not samples.get(k) for k in self.order):
            raise RuntimeError(f"an operation kind never completed: {samples}")
        return {k: statistics.median(samples[k]) for k in self.order}


def _measure(w, order: list[str], seconds: float, tracer, jvm_pid: int) -> Tally:
    """Whole passes until ``seconds`` have elapsed, at least one.  With a
    tracer, untraced and traced passes alternate, so both kinds of call
    see the same warm-up and neither is an immediate repeat of the other."""
    tally = Tally(order, jvm_pid)

    def untraced(kind):
        return w.run(kind), None

    def traced(kind):
        with tracer.span(f"op.{kind}", counted=False) as op:
            return w.traced(tracer, kind, op["id"])

    modes = [(untraced, tally.samples)]
    if tracer is not None:
        modes.append((traced, tally.traced))
    deadline = time.perf_counter() + seconds
    passes = 0
    while passes < len(modes) or time.perf_counter() < deadline:
        call, walls = modes[passes % len(modes)]
        for kind in order:
            took = tally.attempt(w, kind, call)
            if took is not None:
                walls.setdefault(kind, []).append(took[0])
                if call is untraced:
                    tally.cpu.setdefault(kind, []).append(took[1])
        passes += 1
    return tally


def run_benchmark(workload: str, seed: int, seconds: float, trace: bool,
                  scale: float = 1.0) -> tuple[dict, dict]:
    """Run one workload; returns (result line, report line)."""
    t_start = time.perf_counter()
    env = pin_environment()
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        raise SystemExit(f"{PACKAGE}/ not found next to perfbench/: run from a checkout")
    sys.path.insert(0, str(ROOT))
    # the benchmark's own dependencies, imported before set-up is timed
    import duckdb, numpy, pyarrow.parquet  # noqa: E401, F401

    rundir = WORK / f"run-{workload}-{os.getpid()}"
    shutil.rmtree(rundir, ignore_errors=True)
    session = Session()
    try:
        # one cold set-up: package import, JVM launch, the process's first
        # registry() call (its caches are empty), inputs and fixture
        s0 = time.perf_counter()
        import workloads
        from nyc_taxi_data_clickhouse_spark import suite
        s1 = time.perf_counter()
        spark = session.start()
        s2 = time.perf_counter()
        suite.registry()
        s3 = time.perf_counter()
        w = workloads.WORKLOADS[workload](spark, scale)
        info = w.prepare(str(rundir), seed)
        s4 = time.perf_counter()
        setup = {"import_s": s1 - s0, "session_start_s": s2 - s1,
                 "registry_s": s3 - s2, "prepare_s": s4 - s3}
        phases = {"setup": s4}

        order = w.order(seed)
        warm_up = {k: [] for k in order}
        for _ in range(w.warm_up_passes):
            for kind in order:
                t0 = time.perf_counter()
                w.run(kind)
                warm_up[kind].append(time.perf_counter() - t0)
        phases["warm_up"] = time.perf_counter()
        w.expect()
        phases["expect"] = time.perf_counter()

        # peak memory from here on: the measured passes, not the input
        # generator, the set-up or the DuckDB oracle
        pids = {"python": "self", "jvm": session.jvm_pid()}
        for pid in pids.values():
            _reset_peak_rss(pid)
        from tracing import StatusStore, Tracer

        tracer = Tracer(StatusStore(spark)) if trace else None
        cpu0 = _host_cpu_ticks()
        tally = _measure(w, order, seconds, tracer, pids["jvm"])
        cpu1 = _host_cpu_ticks()
        phases["measure"] = time.perf_counter()
        busy = [b - a for a, b in zip(cpu0, cpu1)]
        env["host_steal_share"] = busy[7] / max(1, sum(busy))
        medians = tally.medians(tally.samples)
        cpu_medians = tally.medians(tally.cpu)
        rss_mb = {name: _vm_hwm_mb(pid) for name, pid in pids.items()}
        cores = env["cores"]

        named = {
            "setup_s": (s4 - s0, "s"),
            "pass_s": (sum(medians.values()), "s"),
            "pass_cpu_s": (sum(cpu_medians.values()), "s"),
            **w.report(medians, cores),
            "error_rate": (tally.failed / tally.attempted, "ratio"),
            "peak_rss_mb": (sum(rss_mb.values()), "MB"),
        }
        if trace:
            units = _spec_units("per_layer")
            layers = w.layers(tracer.spans, cores)
            if set(layers) - set(units):
                raise RuntimeError(f"not in BENCHMARK.json: {set(layers) - set(units)}")
            values = {name: layers.get(name, 0.0) for name in units}
            values["session.start_s"] = setup["session_start_s"]
            values["suite.registry_s"] = setup["registry_s"]
            values["trace.overhead_s"] = sum(
                statistics.median(tally.traced[k]) - medians[k]
                for k in order if tally.traced.get(k))
            (WORK / "traces").mkdir(exist_ok=True)
            tracer.dump(str(WORK / "traces" / f"{workload}-seed{seed}.jsonl"))
        else:
            units = _spec_units("end_to_end")
            values = {n: named[n][0] for n in units}
        result = {
            "correct": tally.failed == 0,
            "attempted": tally.attempted,
            "failed": tally.failed,
            "metrics": {n: {"value": values[n], "unit": u} for n, u in units.items()},
        }
        report = {
            "workload": workload,
            "seed": seed,
            "trace": trace,
            "correct": tally.failed == 0,
            "metrics": {n: {"value": v, "unit": u} for n, (v, u) in named.items()},
            "samples": {k: _summary(v) for k, v in tally.samples.items()},
            "cpu_samples": {k: _summary(v) for k, v in tally.cpu.items()},
            "traced_samples": {k: _summary(v) for k, v in tally.traced.items()},
            "warm_up_s": warm_up,
            "setup_parts_s": setup,
            "peak_rss_mb": rss_mb,
            "phase_ends_s": {k: v - t_start for k, v in phases.items()},
            "environment": {**env, "driver_memory": DRIVER_MEM,
                            "seconds": seconds, "scale": scale},
            "inputs": info,
        }
        return result, report
    finally:
        try:
            session.shutdown()
        finally:
            shutil.rmtree(rundir, ignore_errors=True)


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    # turn SIGTERM into SystemExit, so the JVM is still stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    result, report = run_benchmark(args.workload, args.seed, args.seconds, bool(args.trace))
    print(json.dumps(report))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
