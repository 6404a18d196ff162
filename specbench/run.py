"""Spec-serving benchmark for views_transformation_library_spark.

Run from the repository root:

    python3 specbench/run.py --workload pgm_lazy --seed 1 --seconds 20 --trace 0

One closed-loop client (one thread, no concurrent submits) sends the
workload's seeded JSON specs through ``registry.transform_json``, cycling a
fixed seeded order, and fully evaluates every result: row count plus
``bit_xor(xxhash64(all columns))`` with doubles rounded to 6 places, so
Catalyst cannot prune work. The timed phase runs the number of whole
cycles that brings it nearest to ``--seconds``.

Set-up (process start to ready) is the Spark session start, seeded input
generation and a warm-up that runs every spec ``WARM_PASSES`` times. Every
result is checked: a spec must return the same row count and checksum on
every repeat, and for ``EXPECTED_SEED`` the values recorded in
``expected.json``.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` is the separate
traced run: the Spark event log is switched on through the launch conf,
timed executions alternate between traced and untraced, and it prints the
per-layer metrics, including the tracing overhead (traced over untraced
median spec latency). Spans go to ``.specbench/traces/``.

The next-to-last stdout line is a run record (host fingerprint, input
digest, per-spec results); the last line is the result JSON.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import platform
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

from spans import RssSampler, Tracer, descendants, event_log_totals  # noqa: E402
from workloads import BOUND_STEPS, PANEL_SCHEMA, WORKLOADS, make_inputs, spec_order, step_types  # noqa: E402

EXPECTED_SEED = 1
# passes over the specs before timing: the first is cold (1.5-3x a later
# execution) and the second still ran 10-30 % above the passes after it, so
# with one pass the timed medians depended on how many cycles a host's speed
# let into the timed phase
WARM_PASSES = 2
# traced executions of every spec in a --trace 1 run. A call site's counts
# are the fewest seen across them: with adaptive execution on, whether a
# shuffle stage shared by concurrent broadcast jobs is reused or run again
# depends on which job gets there first, so the same plan can launch one
# more job (month_append's splag4d build: 5 or 6 jobs; with adaptive
# execution off it launches 3 every time). Sites whose counts varied are
# reported in counts.unstable_sites and in the run record.
TRACED_REPEATS = 2
EXPECTED_PATH = os.path.join(HERE, "expected.json")
FLOOR_SAMPLES = 10
PACKAGE = "views_transformation_library_spark"


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=EXPECTED_SEED)
    p.add_argument("--seconds", type=float, default=20.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("default", "tiny"), default="default")
    p.add_argument("--write-expected", action="store_true",
                   help=f"record the first warm-pass results as the expected values (seed {EXPECTED_SEED} only)")
    return p.parse_args(argv)


def process_age_s() -> float:
    """Seconds since this process started, from /proc (10 ms resolution)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> list[int]:
    """Aggregate /proc/stat cpu counters (user, nice, system, idle, iowait,
    irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_canary_ms(repeats: int = 5) -> float:
    """Median time of a fixed pure-Python loop: how fast one core of the
    host runs for this process right now, independent of the program."""
    out = []
    for _ in range(repeats):
        t0 = time.perf_counter()
        sum(i * i for i in range(200_000))
        out.append((time.perf_counter() - t0) * 1000)
    return statistics.median(out)


def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 0


def prepare_env(root: str, run_dir: str, trace: bool) -> dict[str, str]:
    """Run hygiene, applied before the JVM starts: all cores, a driver heap
    sized to the host, committed and touched at start (so the collector
    does not grow it during the timed phase, and committed heap is resident
    heap for peak_offheap_mb), the repository on the Python workers' path,
    and scratch, warehouse and event-log directories private to this run."""
    dirs = {k: os.path.join(run_dir, k) for k in ("inputs", "local", "tmp", "warehouse", "eventlog")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    heap_mb = min(4096, max(1024, mem_total_mb() // 8))
    java_opts = (f"-Djava.io.tmpdir={dirs['tmp']} -Dderby.system.home={dirs['warehouse']} -XX:-UsePerfData "
                 f"-Xms{heap_mb}m -XX:+AlwaysPreTouch")
    submit = ["--conf", f"spark.sql.warehouse.dir={dirs['warehouse']}", "--driver-java-options", java_opts]
    if trace:
        submit += ["--conf", "spark.eventLog.enabled=true", "--conf", "spark.eventLog.compress=false",
                   "--conf", f"spark.eventLog.dir=file://{dirs['eventlog']}"]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(host_cores()),
        "SPARK_DRIVER_MEMORY": f"{heap_mb}m",
        "PYTHONPATH": os.pathsep.join([root, *filter(None, [os.environ.get("PYTHONPATH")])]),
        "PYSPARK_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": dirs["local"],
        "TMPDIR": dirs["tmp"],
        "PYSPARK_SUBMIT_ARGS": shlex.join(submit + ["pyspark-shell"]),
    })
    return dirs


def checksum(df) -> tuple[int, int]:
    """(rows, bit_xor(xxhash64(all columns))) in one aggregate; doubles are
    rounded to 6 places so summation order cannot flip the hash."""
    from pyspark.sql import functions as F

    cols = [
        F.round(df[c], 6) + F.lit(0.0) if t in ("double", "float") else df[c]
        for c, t in df.dtypes
    ]
    row = df.agg(F.count(F.lit(1)), F.coalesce(F.bit_xor(F.xxhash64(*cols)), F.lit(0))).collect()[0]
    return int(row[0]), int(row[1])


class Bench:
    def __init__(self, args: argparse.Namespace, root: str, run_dir: str):
        self.args = args
        self.root = root
        self.run_dir = run_dir
        # numpy seeds must be non-negative; any integer maps to one stream
        self.seed_key = args.seed % 2**63
        self.order = spec_order(args.workload, self.seed_key)
        self.tracer = None
        self.traced_now = False
        self.originals: dict = {}  # registry steps replaced by traced wrappers
        self.current_spec = ""
        self.results: dict[str, tuple[int, int] | None] = {}
        self.reference: dict[str, tuple[int, int] | None] = {}
        self.failures: list[str] = []
        self.writes: list[tuple[int, int, int]] = []  # (bytes, files, rows) per traced month cycle

    # -- set-up ---------------------------------------------------------------
    def start(self, rss: RssSampler) -> None:
        self.dirs = prepare_env(self.root, self.run_dir, self.args.trace)
        sys.path.insert(0, self.root)
        t0 = time.perf_counter()
        from views_transformation_library_spark import registry
        from views_transformation_library_spark.session import get_spark
        from views_transformation_library_spark.sources import tables

        self.registry, self.tables = registry, tables
        self.spark = get_spark(app_name="specbench")
        self.sc = self.spark.sparkContext
        self.session_ms = (time.perf_counter() - t0) * 1000
        rss.heap_committed = self.heap_committed
        self.tracer = Tracer(self.sc, enabled=False)

        t0 = time.perf_counter()
        self.paths, self.input_digest = make_inputs(
            self.args.workload, self.seed_key, self.args.scale, self.dirs["inputs"])
        self.inputs_ms = (time.perf_counter() - t0) * 1000
        if "cm_edges" in self.paths:
            from views_transformation_library_spark.operators import spatial_graph

            edges = tables.read_parquet(self.spark, self.paths["cm_edges"])
            cents = tables.read_parquet(self.spark, self.paths["cm_centroids"])
            registry.register(
                "splag_country_edges",
                lambda df, *a, **k: spatial_graph.splag_country(df, edges, cents, *a, **k),
            )

        t0 = time.perf_counter()
        for rep in range(WARM_PASSES):
            for spec in self.order:
                res = self.execute(spec)[1]
                if rep and res != self.results[spec.id]:
                    self.failures.append(f"warm pass {rep} {spec.id}: got {res}, "
                                         f"first pass {self.results[spec.id]}")
                self.results.setdefault(spec.id, res)
        self.warm_ms = (time.perf_counter() - t0) * 1000
        self.setup_s = process_age_s()
        self.set_reference()

    def heap_committed(self) -> int:
        """Bytes of heap the JVM has committed, through its MemoryMXBean."""
        mx = self.sc._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
        return mx.getHeapMemoryUsage().getCommitted()

    def heap_live(self) -> int:
        """Bytes of heap still in use after a full collection."""
        jvm = self.sc._jvm
        jvm.java.lang.System.gc()
        return jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage().getUsed()

    def set_reference(self) -> None:
        expected = {}
        if self.args.seed == EXPECTED_SEED and os.path.exists(EXPECTED_PATH):
            with open(EXPECTED_PATH) as f:
                expected = json.load(f).get(self.args.scale, {}).get(self.args.workload, {})
        for spec in self.order:
            ref = tuple(expected[spec.id]) if spec.id in expected else self.results[spec.id]
            self.reference[spec.id] = ref
            if self.results[spec.id] != ref:
                self.failures.append(f"warm pass {spec.id}: got {self.results[spec.id]}, expected {ref}")

    # -- one spec ---------------------------------------------------------------
    def execute(self, spec) -> tuple[float, tuple[int, int] | None]:
        """Run one spec; return (wall seconds, result or None on error)."""
        span = self.tracer.span
        self.current_spec = spec.id
        t0 = time.perf_counter()
        try:
            with span("spec", spec.id):
                if spec.table == "month":
                    res = self.month_cycle(spec)
                else:
                    with span("sources.read", spec.id):
                        df = self.tables.read_parquet(self.spark, self.paths[spec.table])
                    with span("registry.transform_json", spec.id):
                        out = self.registry.transform_json(df, spec.json)
                    with span("action", spec.id, count_jobs=True):
                        res = checksum(out)
                    del df, out
        except Exception:
            self.failures.append(f"{spec.id}: {traceback.format_exc(limit=3)}")
            res = None
        wall = time.perf_counter() - t0
        if spec.table == "month":
            if self.traced_now and res is not None:
                self.record_writes(res)
            self.reset_month_table()
        gc.collect()
        return wall, res

    def month_cycle(self, spec) -> tuple[int, int]:
        """Append month M+1, read the whole table back, run the feature chain,
        write the features and checksum what was written."""
        span, tables = self.tracer.span, self.tables
        table, features = self.paths["month"], self.month_features_path()
        with span("sources.write", spec.id, count_jobs=True):
            tables.write_parquet(tables.read_parquet(self.spark, self.paths["month_new"]),
                                 table, partition_by=["time_id"], mode="append")
        with span("sources.read", spec.id):
            df = tables.read_parquet(self.spark, table, schema=PANEL_SCHEMA)
        with span("registry.transform_json", spec.id):
            out = self.registry.transform_json(df, spec.json)
        with span("sources.write", spec.id, count_jobs=True):
            tables.write_parquet(out, features)
        with span("action", spec.id, count_jobs=True):
            return checksum(tables.read_parquet(self.spark, features))

    def record_writes(self, res: tuple[int, int]) -> None:
        """Bytes, data files and rows the month cycle just wrote."""
        import pyarrow.parquet as pq

        files = [os.path.join(d, f) for d in (self.new_month_dir(), self.month_features_path())
                 for f in os.listdir(d) if f.endswith(".parquet")]
        rows = pq.read_metadata(self.paths["month_new"]).num_rows + res[0]
        self.writes.append((sum(os.path.getsize(f) for f in files), len(files), rows))

    def month_features_path(self) -> str:
        return os.path.join(self.dirs["inputs"], "month_features")

    def new_month_dir(self) -> str:
        return os.path.join(self.paths["month"], f"time_id={int(self.paths['month_base_months']) + 1}")

    def reset_month_table(self) -> None:
        shutil.rmtree(self.new_month_dir(), ignore_errors=True)
        shutil.rmtree(self.month_features_path(), ignore_errors=True)

    # -- timed phase ------------------------------------------------------------
    def timed_phase(self) -> dict:
        """Whole cycles, as many as bring the timed phase nearest to --seconds
        at the mean cycle time so far (at least one). Traced runs make at
        least 2 * TRACED_REPEATS cycles and an even count, so every spec runs
        traced and untraced equally often."""
        runs = []  # (cycle, spec id, traced, wall s, ok)
        ticks0 = cpu_ticks()
        cycles, t0 = 0, time.perf_counter()
        min_cycles = 2 * TRACED_REPEATS if self.args.trace else 1
        while (cycles < min_cycles or (self.args.trace and cycles % 2)
               or (time.perf_counter() - t0) * (cycles + 0.5) / cycles <= self.args.seconds):
            for pos, spec in enumerate(self.order):
                traced = bool(self.args.trace) and (pos + cycles) % 2 == 1
                self.set_traced(traced)
                self.tracer.execution += traced
                wall, res = self.execute(spec)
                ok = res is not None and res == self.reference[spec.id]
                if res is not None and not ok:
                    self.failures.append(f"{spec.id} cycle {cycles}: got {res}, expected {self.reference[spec.id]}")
                runs.append((cycles, spec.id, traced, wall, ok))
            cycles += 1
        self.set_traced(False)
        wall = time.perf_counter() - t0
        d = [b - a for a, b in zip(ticks0, cpu_ticks())]
        # share of host CPU time the hypervisor gave to other guests
        steal = d[7] / sum(d) if sum(d) else 0.0
        return {"runs": runs, "cycles": cycles, "wall_s": wall, "steal": steal}

    def set_traced(self, on: bool) -> None:
        """Switch spans, job counting and per-step registry wrappers on or off."""
        if on == self.traced_now:
            return
        self.traced_now = on
        self.tracer.enabled = on
        if on:
            for name in {s["type"] for spec in self.order for s in spec.steps}:
                fn = self.originals[name] = self.registry.REGISTRY[name]
                self.registry.register(name, self.traced_step(BOUND_STEPS.get(name, name), fn))
        else:
            for name, fn in self.originals.items():
                self.registry.register(name, fn)

    def traced_step(self, op: str, fn):
        def step(df, *a, **k):
            with self.tracer.span(f"op.{op}", self.current_spec, count_jobs=True):
                return fn(df, *a, **k)
        return step

    def job_floor_ms(self) -> list[float]:
        out = []
        for _ in range(FLOOR_SAMPLES):
            t0 = time.perf_counter()
            self.spark.range(1).collect()
            out.append((time.perf_counter() - t0) * 1000)
        return out

    # -- teardown ---------------------------------------------------------------
    def stop(self) -> None:
        """Stop Spark, end the JVM and wait for every process it started."""
        from pyspark import SparkContext

        kids = descendants(os.getpid())
        gateway = SparkContext._gateway
        if getattr(self, "spark", None) is not None:
            self.spark.stop()
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
        deadline = time.time() + 30
        for pid in kids:
            while os.path.exists(f"/proc/{pid}") and time.time() < deadline:
                time.sleep(0.1)
            if os.path.exists(f"/proc/{pid}"):
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass


def p90(values: list[float]) -> float:
    return statistics.quantiles(values, n=10, method="inclusive")[8] if len(values) > 1 else sum(values)


def end_to_end(bench: Bench, phase: dict, offheap_peak: int) -> dict:
    by_spec: dict[str, list[float]] = {}
    for _, sid, _, w, ok in phase["runs"]:
        if ok:
            by_spec.setdefault(sid, []).append(w * 1000)
    done = sum(map(len, by_spec.values()))
    attempted = len(phase["runs"])
    return {
        "setup_s": (bench.setup_s, "s"),
        # every spec weighs the same: a slowdown of the slowest spec moves
        # this as much as one of the fastest, which a pooled median would not
        "spec_p50_ms": (statistics.geometric_mean([statistics.median(v) for v in by_spec.values()])
                        if by_spec else 0.0, "ms"),
        "specs_per_s": (done / phase["wall_s"], "1/s"),
        "peak_offheap_mb": (offheap_peak / 2**20, "MB"),
        "ok_frac": (done / attempted, "ratio"),
    }


def per_layer(bench: Bench, phase: dict, floor: list[float], totals: dict, heap_live: int) -> dict:
    spans = bench.tracer.spans
    sites = bench.tracer.call_sites()
    traced_cycles = sum(r[2] for r in phase["runs"]) / len(bench.order)

    def p50(name):
        v = [s.ms for s in spans if s.name == name]
        return statistics.median(v) if v else 0.0

    def count(attr, match):
        """Per cycle: every call site's fewest jobs/stages/tasks, summed."""
        return sum(min(getattr(s, attr) for s in v) for (_, name, _), v in sites.items() if match(name))

    traced = [w for *_, tr, w, ok in phase["runs"] if tr and ok]
    untraced = [w for *_, tr, w, ok in phase["runs"] if not tr and ok]
    half = phase["cycles"] // 2
    by_spec: dict[str, list[list[float]]] = {}
    for cyc, sid, _, w, ok in phase["runs"]:
        if ok:
            by_spec.setdefault(sid, [[], []])[cyc >= half].append(w)
    drift = [statistics.median(b) / statistics.median(a) for a, b in by_spec.values() if a and b]
    traced_wall_ms = sum(s.ms for s in spans if s.name == "spec")
    floor_ms = statistics.median(floor)
    action_ms = sum(s.ms for s in spans if s.name == "action") / traced_cycles
    all_jobs = count("jobs", lambda n: True)
    m = {
        "session.start_ms": (bench.session_ms, "ms"),
        "setup.inputs_ms": (bench.inputs_ms, "ms"),
        "setup.warm_ms": (bench.warm_ms, "ms"),
        "spark.job_floor_ms": (floor_ms, "ms"),
        "registry.build_ms": (p50("registry.transform_json"), "ms"),
        "registry.build_jobs": (count("jobs", lambda n: n.startswith("op.")), "count"),
        "action.ms": (p50("action"), "ms"),
        "action.jobs": (count("jobs", "action".__eq__), "count"),
        "action.stages": (count("stages", "action".__eq__), "count"),
        "action.tasks": (count("tasks", "action".__eq__), "count"),
        # share of the evaluation, and of the whole spec, that launching the
        # spec's jobs would take at the empty-job latency: near 1, the wall is
        # per-job latency; near 0, it is the work inside the jobs
        "action.floor_share": (count("jobs", "action".__eq__) * floor_ms / action_ms if action_ms else 0.0,
                               "ratio"),
        "spec.floor_share": (all_jobs * floor_ms * traced_cycles / traced_wall_ms if traced_wall_ms else 0.0,
                             "ratio"),
        "counts.unstable_sites": (len(unstable_sites(sites)), "count"),
        "sources.read_ms": (p50("sources.read"), "ms"),
        "sources.write_ms": (p50("sources.write"), "ms"),
        "sources.write_bytes_per_row": (statistics.median([b / r for b, _, r in bench.writes])
                                        if bench.writes else 0.0, "bytes/row"),
        "sources.files_written": (min([f for _, f, _ in bench.writes], default=0), "count"),
        "exec.busy_ms": (totals["busy_ms"] / traced_cycles, "ms"),
        "exec.cpu_ms": (totals["cpu_ms"] / traced_cycles, "ms"),
        "exec.gc_ms": (totals["gc_ms"] / traced_cycles, "ms"),
        "shuffle.write_bytes": (totals["shuffle_write_bytes"] / traced_cycles, "bytes"),
        "shuffle.read_bytes": (totals["shuffle_read_bytes"] / traced_cycles, "bytes"),
        "spill.bytes": (totals["spill_bytes"] / traced_cycles, "bytes"),
        "jvm.heap_live_mb": (heap_live / 2**20, "MB"),
        "exec.util": (totals["busy_ms"] / (traced_wall_ms * host_cores()) if traced_wall_ms else 0.0, "ratio"),
        "drift_ratio": (statistics.median(drift) if drift else 1.0, "ratio"),
        "trace.overhead_ratio": (statistics.median(traced) / statistics.median(untraced)
                                 if traced and untraced else 1.0, "ratio"),
        # a run times too few specs for a tail with ten samples beyond it, so
        # p90 is reported here, unbounded, from the untraced executions
        "spec.p90_ms": (p90(untraced) * 1000, "ms"),
    }
    for op in step_types():
        name = f"op.{op}"
        calls = [s.ms for s in spans if s.name == name]
        jobs = [min(s.jobs for s in v) for (_, n, _), v in sites.items() if n == name]
        m[f"{name}.build_ms"] = (statistics.median(calls) if calls else 0.0, "ms")
        m[f"{name}.build_jobs"] = (statistics.mean(jobs) if jobs else 0.0, "count")
    return m


def site_counts(sites: dict) -> dict[str, list[list[int]]]:
    """Every distinct (jobs, stages, tasks) each job-counting call site gave."""
    return {f"{spec}/{name}/{k}": sorted({(s.jobs, s.stages, s.tasks) for s in v})
            for (spec, name, k), v in sorted(sites.items()) if any(s.jobs for s in v)}


def unstable_sites(sites: dict) -> list[str]:
    return [k for k, v in site_counts(sites).items() if len(v) > 1]


def write_expected(bench: Bench) -> None:
    data = {}
    if os.path.exists(EXPECTED_PATH):
        with open(EXPECTED_PATH) as f:
            data = json.load(f)
    data.setdefault(bench.args.scale, {})[bench.args.workload] = {
        sid: list(res) for sid, res in sorted(bench.results.items()) if res is not None
    }
    with open(EXPECTED_PATH, "w") as f:
        json.dump(data, f, indent=1, sort_keys=True)
        f.write("\n")


def host_fingerprint(bench: Bench) -> dict:
    jvm = bench.spark.sparkContext._jvm
    return {
        "nproc": host_cores(),
        "mem_total_mb": mem_total_mb(),
        "spark": bench.spark.version,
        "java": jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "driver_memory": os.environ["SPARK_DRIVER_MEMORY"],
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, PACKAGE, "registry.py")):
        print(f"specbench: no {PACKAGE}/ in {root}; run from the repository root", file=sys.stderr)
        return 2
    if args.write_expected and args.seed != EXPECTED_SEED:
        print(f"specbench: --write-expected needs --seed {EXPECTED_SEED}", file=sys.stderr)
        return 2
    # a terminated run still stops Spark and removes its directories
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    run_dir = os.path.join(root, ".specbench", f"run-{os.getpid()}")
    rss = RssSampler()
    rss.start()
    bench = Bench(args, root, run_dir)
    try:
        try:
            bench.start(rss)
            floor_before = bench.job_floor_ms() if args.trace else []
            canary = [host_canary_ms()]
            phase = bench.timed_phase()
            canary.append(host_canary_ms())
            rss.stop()
            floor = floor_before + (bench.job_floor_ms() if args.trace else [])
            heap_live = bench.heap_live() if args.trace else 0
            record = {
                "workload": args.workload, "seed": args.seed, "scale": args.scale, "trace": args.trace,
                "host": host_fingerprint(bench), "input_digest": bench.input_digest,
                "cycles": phase["cycles"], "cpu_steal": round(phase["steal"], 4),
                "host_canary_ms": [round(c, 3) for c in canary],
                "timed": [[c, sid, tr, round(w * 1000, 3), ok] for c, sid, tr, w, ok in phase["runs"]],
                "results": {k: list(v) if v else None for k, v in bench.results.items()},
            }
        finally:
            rss.stop()
            bench.stop()
        if args.trace:
            totals = event_log_totals(bench.dirs["eventlog"], "specbench:")
            metrics = per_layer(bench, phase, floor, totals, heap_live)
            record["count_sites"] = site_counts(bench.tracer.call_sites())
            bench.tracer.dump(os.path.join(root, ".specbench", "traces",
                                           f"{args.workload}-seed{args.seed}.jsonl"))
        else:
            metrics = end_to_end(bench, phase, rss.peak)
        if args.write_expected:
            write_expected(bench)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in bench.failures:
        print(f"specbench: FAILED {line}", file=sys.stderr)
    failed = sum(1 for r in phase["runs"] if not r[4])
    print(json.dumps(record, sort_keys=True))
    print(json.dumps({
        "correct": not bench.failures,
        "attempted": len(phase["runs"]),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
