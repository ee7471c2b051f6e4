#!/usr/bin/env python3
"""Run one benchmark workload against the engine and print its metrics.

    python3 perfbench/run.py --workload board_poll --seed 1 --seconds 10 --trace 0

The engine is imported from the checkout that holds this file; it runs on
``local[nproc]`` through ``presto_weather_spark.session.build_session`` and
the query registry (``Query.fn(spark, sf_dir)`` plus an action). Inputs are
the tables under ``perfbench/data/<scale>``; the seed fixes request and key
order. All scratch state lives under ``.perfbench_work/`` in the checkout
and is removed at exit.

The last line of standard output is one JSON object: the end-to-end metrics
of ``BENCHMARK.json`` with ``--trace 0``, its per-layer metrics with
``--trace 1``. The lines before it print every figure with its unit,
including ``error_rate`` and the latency sample count; the traced run prints
its end-to-end figures too, so the tracing overhead is their difference
from an untraced run with the same seed.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from pathlib import Path  # noqa: E402

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from check import compare, duck_connection, normalize  # noqa: E402
from tracing import Request, Tracer  # noqa: E402
from workloads import LAYERS, WORKLOADS, Workload, layer_of  # noqa: E402

DRIVER_MEM = "2g"
# Warm-up calls run this many at a time; the timed window has one client.
WARM_THREADS = 2
# Every window runs at least this many passes; the CPU figures come from
# them.
CPU_PASSES = 2


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True, help="length of the timed window")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", default="sf0.01", help="table set under perfbench/data")
    return p.parse_args(argv)


def prepare_environment(work: Path) -> None:
    """Point every scratch path into the checkout and make Spark's Python
    workers import the package whatever the working directory is."""
    for sub in ("scratch", "tmp", "warehouse", "data"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    pythonpath = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + pythonpath if pythonpath else "")
    sys.path.insert(0, str(ROOT))
    os.environ["SPARK_GRAFT_SCRATCH_DIR"] = str(work / "scratch")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", DRIVER_MEM)
    os.environ["TMPDIR"] = str(work / "tmp")
    # No JVM (the launcher's included) may write its perf-data file to /tmp.
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        [
            "--conf spark.ui.showConsoleProgress=false",
            # Keep every job and stage of a window for the traced run.
            "--conf spark.ui.retainedJobs=100000",
            "--conf spark.ui.retainedStages=100000",
            f"--conf spark.sql.warehouse.dir={work / 'warehouse'}",
            "pyspark-shell",
        ]
    )


class Bench:
    """One run: set-up, warm-up, the timed window, the output check."""

    def __init__(self, args: argparse.Namespace, work: Path) -> None:
        self.args = args
        self.work = work
        self.workload: Workload = WORKLOADS[args.workload]
        self.data = HERE / "data" / args.scale
        self.rng = random.Random(f"{args.workload}-{args.seed}")
        self.requests: list[Request] = []
        self.expected: dict[str, tuple[list[str], list[tuple]]] = {}
        self.warm_errors: dict[str, str] = {}
        self.seq = 0
        self.pass_walls: list[float] = []
        self.warm_dir = ""
        self.tracer: Tracer | None = None
        self.spark = None
        self.jvm_pid = 0
        self.queries = None

    # -- set-up -------------------------------------------------------------

    def fresh_tables(self, tag: str) -> str:
        dest = self.work / "data" / tag
        shutil.copytree(self.data, dest)
        return str(dest)

    def setup(self) -> dict[str, float]:
        from presto_weather_spark import session

        t = time.perf_counter()
        self.spark = session.build_session(f"perfbench-{self.workload.name}")
        build_s = time.perf_counter() - t
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()
        if self.args.trace:
            self.tracer = Tracer()
            self.tracer.wrap_load_table()
        from presto_weather_spark.registry import all_queries

        self.queries = all_queries()
        missing = [k for k in self.workload.keys if k not in self.queries]
        if missing:
            raise SystemExit(f"workload keys not in the registry: {missing}")

        t = time.perf_counter()
        self.warm_dir = self.fresh_tables("warm")
        # One collected call of every key, a few at a time: it pays each
        # key's first-call costs (Python workers, code generation) and gives
        # the results the output check compares.
        with ThreadPoolExecutor(WARM_THREADS) as pool:
            outcomes = pool.map(self.warm_one, self.workload.keys)
            for key, outcome in zip(self.workload.keys, outcomes):
                if isinstance(outcome, str):
                    self.warm_errors[key] = outcome
                else:
                    self.expected[key] = outcome
        warmup_s = time.perf_counter() - t
        return {"session.build_s": build_s, "session.warmup_s": warmup_s}

    def warm_one(self, key: str) -> tuple[list[str], list[tuple]] | str:
        try:
            return self.collect(key, self.warm_dir)
        except Exception as exc:  # the check reports it; the run goes on
            traceback.print_exc()
            return f"{key}: warm-up raised {exc!r}"[:300]

    def collect(self, key: str, sf_dir: str) -> tuple[list[str], list[tuple]]:
        pdf = self.queries[key].fn(self.spark, sf_dir).toPandas()
        return sorted(pdf.columns), normalize(pdf)

    # -- one request --------------------------------------------------------

    def call(self, key: str, sf_dir: str) -> Request:
        q = self.queries[key]
        self.seq += 1
        req = Request(key=key, layer=layer_of(q.fn), group=f"perfbench-{self.seq}")
        if self.tracer:
            self.tracer.begin(self.spark, req)
        req.start = time.time()
        cpu0 = cpu_times(self.jvm_pid)
        t0 = time.perf_counter()
        pdf = None
        try:
            df = q.fn(self.spark, sf_dir)
            t1 = time.perf_counter()
            if self.workload.loop == "board":
                pdf = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            req.plan_s, req.exec_s = t1 - t0, t2 - t1
        except Exception:
            traceback.print_exc()
            req.ok = False
        cpu1 = cpu_times(self.jvm_pid)
        req.end = time.time()
        req.cpu_driver_s, req.cpu_jvm_s, req.cpu_workers_s = (b - a for a, b in zip(cpu0, cpu1))
        if self.tracer:
            self.tracer.end(self.spark)
        if pdf is not None and (sorted(pdf.columns), normalize(pdf)) != self.expected.get(key):
            print(f"{key}: result differs from the checked warm-up result", file=sys.stderr)
            req.ok = False
        return req

    # -- timed window -------------------------------------------------------

    def run_window(self) -> float:
        """Runs whole passes until their busy time reaches ``--seconds`` and
        the CPU figures' passes are done; returns the window's wall time."""
        if self.tracer:
            self.tracer.start_window(self.spark)
        start = time.perf_counter()
        while len(self.pass_walls) < CPU_PASSES or sum(self.pass_walls) < self.args.seconds:
            self.pass_walls.append(self.run_pass(f"pass-{len(self.pass_walls):04d}"))
        return time.perf_counter() - start

    def run_pass(self, tag: str) -> float:
        """One pass over the workload's slots in seeded order; returns its
        wall time. A batch pass reads a fresh copy of the tables (the copy
        is not timed); the board reads the same tables every time."""
        sf_dir = self.warm_dir if self.workload.loop == "board" else self.fresh_tables(tag)
        slots = self.workload.slots()
        order = self.rng.sample(slots, len(slots))
        p0 = time.perf_counter()
        for key in order:
            self.requests.append(self.call(key, sf_dir))
        return time.perf_counter() - p0

    # -- output check -------------------------------------------------------

    def check(self) -> list[str]:
        """Compare every key's warm-up result with its DuckDB oracle, or
        with a second run for keys that have none. Returns the mismatches."""
        problems = list(self.warm_errors.values())
        con = duck_connection(str(self.data))
        rerun_dir = None
        try:
            for key in self.workload.keys:
                if key not in self.expected:
                    continue
                columns, rows = self.expected[key]
                oracle = self.queries[key].oracle
                try:
                    if oracle is not None:
                        problem = compare(key, columns, rows, oracle, con)
                    else:
                        rerun_dir = rerun_dir or self.fresh_tables("check")
                        again = self.collect(key, rerun_dir)
                        problem = None if again == (columns, rows) else f"{key}: rows differ between two runs"
                except Exception as exc:
                    problem = f"{key}: check raised {exc!r}"[:300]
                if problem:
                    problems.append(problem)
        finally:
            con.close()
        return problems

    def peak_rss_mb(self) -> tuple[float, float]:
        """Peak resident memory of the driver JVM and of this Python process."""
        jvm_kb = 0
        with open(f"/proc/{self.jvm_pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    jvm_kb = int(line.split()[1])
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return jvm_kb / 1024.0, py_kb / 1024.0

    def stop(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers)
        to exit."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        self.spark.stop()
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


def cpu_times(jvm_pid: int) -> tuple[float, float, float]:
    """CPU seconds (user + system, reaped children included) used so far by
    the Python driver, the driver JVM and the JVM's Python workers.

    Time the hypervisor steals from the machine is not counted, so these
    figures hold still when other tenants slow the host down."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # the process ended while the list was read
            continue
        parent[int(entry)] = int(fields[1])
        ticks[int(entry)] = sum(int(x) for x in fields[11:15])
    me = os.getpid()
    driver = jvm = workers = 0
    for pid, n in ticks.items():
        p = pid
        while p > 1 and p not in (me, jvm_pid):
            p = parent.get(p, 0)
        if pid == jvm_pid:
            jvm += n
        elif p == jvm_pid:
            workers += n
        elif p == me:
            driver += n
    hz = os.sysconf("SC_CLK_TCK")
    return driver / hz, jvm / hz, workers / hz


def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "presto_weather_spark").is_dir():
        print(f"no presto_weather_spark package next to {HERE}", file=sys.stderr)
        return 2
    data = HERE / "data" / args.scale
    if not data.is_dir():
        print(f"no table set at {data}", file=sys.stderr)
        return 2
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    prepare_environment(work)

    bench = Bench(args, work)
    try:
        setup_layers = bench.setup()
        setup_wall_s = time.perf_counter() - T_PROCESS
        setup_cpu_s = sum(cpu_times(bench.jvm_pid))
        window_s = bench.run_window()
        jvm_mb, py_mb = bench.peak_rss_mb()
        layer = (
            bench.tracer.layer_metrics(bench.spark, bench.requests, LAYERS) if bench.tracer else {}
        )
        problems = bench.check()
    finally:
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only when no other run is using it
        except OSError:
            pass

    reqs = bench.requests
    bad_keys = {p.split(":", 1)[0] for p in problems}
    failed = sum(1 for r in reqs if not r.ok or r.key in bad_keys)
    done = [r for r in reqs if r.ok]
    wall: dict[str, list[float]] = {}
    for r in done:
        wall.setdefault(r.key, []).append(r.plan_s + r.exec_s)
    # CPU figures come from the window's first passes only, the same work
    # at the same point of the JVM's warm-up in every run; a faster host
    # fits more passes in the window but does not make them look warmer.
    cpu: dict[str, list[float]] = {}
    for r in reqs[: CPU_PASSES * len(bench.workload.slots())]:
        if r.ok:
            cpu.setdefault(r.key, []).append(r.cpu_s)
    slots = bench.workload.slots()
    unsampled = sorted(set(slots) - set(cpu))
    if unsampled:
        print(f"no completed request in the timed window for {unsampled}", file=sys.stderr)
        return 1
    # Both pass figures are one pass (for board_poll: one refresh of the
    # whole board) built from each key's median, so one slow request moves
    # them no more than it moves that key's median.
    e2e = {
        # CPU seconds of the driver, the JVM and its Python workers from
        # process start to the first timed request.
        "setup_s": setup_cpu_s,
        "pass_cpu_s": sum(statistics.median(cpu[k]) for k in slots),
    }
    # Wall-clock figures follow the share of the host other tenants take
    # (25-70% apart between runs minutes apart), so they are printed but
    # carry no bound; CPU time leaves that stolen time out.
    lat = [x for xs in wall.values() for x in xs]
    wall_clock = {
        "setup_wall_s": (setup_wall_s, "s"),
        "throughput_qps": (len(done) / window_s, "1/s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_p90_s": (percentile(lat, 90), "s"),
        "pass_s": (sum(statistics.median(wall[k]) for k in slots), "s"),
    }
    peak_mb = jvm_mb + py_mb
    # Peak memory follows the JVM's heap sizing more than the program
    # (about ±20% run to run on board_poll), so it carries no bound.
    layer["spark.peak_rss_mb"] = peak_mb
    layer.update(setup_layers)
    for p in problems:
        print(f"CHECK FAILED {p}")
    for key in sorted(wall):
        print(
            f"key {key} n={len(wall[key])} median_s={statistics.median(wall[key]):.4f} "
            f"max_s={max(wall[key]):.4f} median_cpu_s={statistics.median(cpu.get(key, [0.0])):.4f}"
        )
    print(
        f"workload={args.workload} seed={args.seed} scale={args.scale} "
        f"window_s={window_s:.3f} passes={len(bench.pass_walls)} samples={len(lat)} "
        f"pass_walls={[round(x, 2) for x in bench.pass_walls]} "
        f"checked_keys={len(bench.workload.keys)} jvm_rss_mb={jvm_mb:.1f} py_rss_mb={py_mb:.1f}"
    )
    print(f"error_rate {failed / max(len(reqs), 1):.6f} 1 ({failed}/{len(reqs)})")
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    for name, value in e2e.items():
        print(f"{name} {value:.6f} {units.get(name, '')}")
    for name, (value, unit) in wall_clock.items():
        print(f"{name} {value:.6f} {unit}")
    print(f"peak_rss_mb {peak_mb:.6f} MB")
    if args.trace:
        for name, value in sorted(layer.items()):
            print(f"{name} {value:.6f} {units.get(name, '')}")
    group = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = layer if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in group}
    result = {
        "correct": not problems and failed == 0,
        "attempted": len(reqs),
        "failed": failed,
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
