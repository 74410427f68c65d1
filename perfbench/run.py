"""Pipeline benchmark: incremental medallion update and compile loop.

    python3 perfbench/run.py --workload {increment,compile_loop} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout of the program. Each workload is one closed
loop in this process: a single caller starts the next step only after the
previous one finished. Inputs come from ``gen.py`` and the seed; every step's
output is checked against an independent reference (``reference.py``).

The last line of standard output is the result JSON: the end-to-end metrics
with ``--trace 0``, the per-layer metrics of a traced run with ``--trace 1``.
The line before it records the host, the seed and the per-step samples.
Every file the run writes lives under ``.perfbench_work`` in the checkout,
which is removed when the run ends.
"""

from __future__ import annotations

import argparse
import ast
import contextlib
import hashlib
import importlib.util
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
DRIVER_MEM = "2g"
MAX_FAILURES_IN_A_ROW = 3
END_TO_END_UNITS = {
    "setup_s": "s", "cold_s": "s", "step_p50_s": "s", "step_tail_s": "s", "cpu_s": "s",
    "peak_rss_mb": "MB", "written_mb": "MB", "ok_ratio": "ratio",
}


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value): the highest nearest-rank percentile with at least
    ten samples above it. Below twenty samples that percentile would not be
    above the median, and the slowest sample is reported instead."""
    xs = sorted(samples)
    n = len(xs)
    if n < 20:
        return 100.0, xs[-1]
    rank = n - 10  # 1-based rank of the value with exactly ten samples above
    return 100.0 * rank / n, xs[rank - 1]


def files_since(root: str, since: float) -> tuple[int, int]:
    """(bytes, files) of the regular files under ``root`` modified at or
    after ``since``: what a step left written."""
    size = count = 0
    for base, _, names in os.walk(root):
        for n in names:
            try:
                st = os.stat(os.path.join(base, n))
            except FileNotFoundError:
                continue
            if st.st_mtime >= since:
                size += st.st_size
                count += 1
    return size, count


# what ``calibrate()`` takes on the reference host (4-vCPU Xeon at 2.1 GHz,
# Python 3.11); a calibrated workload reports its times at that speed
CALIBRATION_REF_S = 0.1


def calibrate() -> float:
    """Wall seconds of a fixed pure-Python arithmetic loop: the current
    speed of this CPU for interpreted code, which nothing the program does
    can change. On a shared host that speed drifts by a quarter and more
    within minutes; a step's time over the calibrations around it does not
    drift with it."""
    t0 = time.perf_counter()
    s = 0
    for i in range(1_000_000):
        s += i * i % 7
    return time.perf_counter() - t0


def _proc_cpu(pid: int) -> float:
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    return (int(fields[11]) + int(fields[12])) / os.sysconf("SC_CLK_TCK")


def _host_steal_s() -> float:
    """CPU time the hypervisor gave to others, summed over all CPUs: a step
    that waited on the host shows it here."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) * 1024 / 1e6
    return 0.0


def _quiet_cli(argv: list[str]) -> str:
    """Run the program's CLI in-process; returns its standard output."""
    from lakehouse_plumber_spark.__main__ import main

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        rc = main(argv)
    if rc != 0:
        raise RuntimeError(f"CLI {argv[0]} exited {rc}: {buf.getvalue()[-2000:]}")
    return buf.getvalue()


READY = "perfbench: ready"


def start_increment(work: str, data: str, project: str, root: str):
    """The program's start-up for the increment workload: import it, start a
    Spark session (a fresh JVM), register the catalog, discover the
    flowgroups and open a fresh store at ``root``."""
    import yaml
    from lakehouse_plumber_spark import PipelineRunner, get_spark
    from lakehouse_plumber_spark.parsers import discover_flowgroups
    from lakehouse_plumber_spark.tables import new_store

    spark = get_spark("perfbench", **{
        # keep the JVM's files in the work dir; -UsePerfData: no /tmp/hsperfdata
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp -XX:-UsePerfData",
        "spark.sql.warehouse.dir": f"{work}/spark-warehouse",
        "spark.ui.showConsoleProgress": "false",
    })
    spark.sparkContext.setLogLevel("ERROR")
    for fn in sorted(os.listdir(data)):
        spark.read.parquet(f"{data}/{fn}").createOrReplaceTempView(fn.split(".")[0])
    with open(f"{project}/substitutions/bench.yaml") as f:
        tokens = yaml.safe_load(f)["bench"]
    fgs = discover_flowgroups(project, tokens=tokens)
    shutil.rmtree(root, ignore_errors=True)
    runner = PipelineRunner(spark, store=new_store(spark, root), base_dir=project)
    return spark, fgs, runner


def stop_spark(spark) -> None:
    """Stop the session and wait until its JVM has exited."""
    gateway = spark.sparkContext._gateway
    spark.stop()
    gateway.shutdown()
    gateway.proc.stdin.close()  # the JVM exits when its stdin closes
    try:
        gateway.proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        gateway.proc.kill()
        gateway.proc.wait()


def startup_probe(work: str, data: str, project: str, root: str) -> None:
    """Child side of one increment set-up sample: start up, report ready,
    then stop once the parent closes standard input."""
    spark, _, _ = start_increment(work, data, project, root)
    print(READY, flush=True)
    sys.stdin.read()
    stop_spark(spark)
    shutil.rmtree(root, ignore_errors=True)


class Increment:
    """One persistent store; each step lands one seeded batch and runs the
    project's flowgroups through ``discover_flowgroups`` + ``run_many``. The
    cold step is the initial load: a seeded history of
    ``gen.HISTORY_BATCHES`` batches in one go, so every timed step appends to
    tables and a dedup index that already hold that history."""

    setup_reps = 2  # each launches a JVM, about ten seconds
    cold_every = 0  # a fresh JVM happens once per process: one cold step
    calibrated = False  # JVM threads, not interpreted code: times as measured

    def __init__(self, seed: int, work: str):
        import gen

        self.seed, self.work, self.spark, self.runner = seed, work, None, None
        self.data, self.project, self.landing = f"{work}/data", f"{work}/increment", f"{work}/landing"
        gen.make_tables(self.data)
        gen.make_increment_project(self.project, self.landing)
        self.history: list[str] = []
        for k in range(1, gen.HISTORY_BATCHES + 1):
            gen.make_batch(seed, k, self.landing, self.history)
        self.landed = 0

    def start(self, reps: int) -> list[float]:
        """Set-up samples, each a full start-up with a fresh JVM: ``reps - 1``
        child processes that start up and stop, then this process's own
        start-up, whose session the steps use."""
        samples = []
        code = (f"import sys; sys.path[:0] = [{HERE!r}, {CHECKOUT!r}]; import run; "
                f"run.startup_probe({self.work!r}, {self.data!r}, {self.project!r}, "
                f"{self.work + '/probe'!r})")
        for _ in range(reps - 1):
            t0 = time.perf_counter()
            child = subprocess.Popen([sys.executable, "-c", code], cwd=CHECKOUT,
                                     stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
            try:
                ready = any(line.strip() == READY for line in child.stdout)
                elapsed = time.perf_counter() - t0
                child.stdin.close()
                rc = child.wait(timeout=60)
            finally:
                if child.poll() is None:
                    child.kill()
                    child.wait()
                child.stdout.close()
            if not ready or rc != 0:
                raise RuntimeError(f"set-up probe exited {rc} (ready: {ready})")
            samples.append(elapsed)
        t0 = time.perf_counter()
        self.root = f"{os.environ['LHP_SPARK_WAREHOUSE']}/increment"
        self.spark, self.fgs, self.runner = start_increment(self.work, self.data, self.project,
                                                            self.root)
        samples.append(time.perf_counter() - t0)
        return samples

    @property
    def jvm_pid(self) -> int | None:
        return self.spark.sparkContext._gateway.proc.pid if self.spark else None

    def prepare(self, k: int) -> None:
        """Step 0 runs over the history landed at generation; step ``k`` lands
        batch ``HISTORY_BATCHES + k``. ``docs_batch`` holds the documents
        the step brings."""
        import gen

        if k == 0:
            batches = range(1, gen.HISTORY_BATCHES + 1)
        else:
            batches = [gen.HISTORY_BATCHES + k]
            gen.make_batch(self.seed, batches[0], self.landing, self.history)
        files = [f"{self.landing}/{name}/batch_{b:05d}.parquet"
                 for name in sorted(os.listdir(self.landing)) for b in batches]
        self.landed = sum(os.path.getsize(f) for f in files)
        self.spark.read.parquet(*[f for f in files if "/docs/" in f]) \
            .createOrReplaceTempView("docs_batch")

    def step(self, k: int) -> None:
        self.runner.run_many(self.fgs)

    def check(self, k: int) -> dict[str, int]:
        import reference

        self.expected = reference.increment_expected(self.data, self.landing)
        self.got = reference.engine_tables(self.runner.store, self.expected)
        return reference.compare(self.got, self.expected)

    def written(self, since: float) -> tuple[int, int]:
        return files_since(self.root, since)

    def close(self) -> None:
        if self.spark is not None:
            stop_spark(self.spark)
            self.spark = None


class CompileLoop:
    """Each step edits a seeded few percent of the spec files, then runs
    ``validate``, ``compile -j 1`` and ``jobs`` through the CLI in-process.
    A cold step starts from an empty ``.lhp/cache`` and output tree; cold
    and timed steps alternate, so both medians sample the whole run."""

    jvm_pid = None
    spark = None
    setup_reps = 5
    cold_every = 2  # every second step of the loop recreates the cold state
    calibrated = True  # one Python thread: times at the reference host's speed

    def __init__(self, seed: int, work: str):
        import gen

        self.seed, self.project = seed, f"{work}/compile"
        self.out = f"{self.project}/generated"
        self.manifest = gen.make_compile_project(seed, self.project)
        self.edited: dict[str, int] = {}
        self.before: dict[str, str] = {}

    def start(self, reps: int) -> list[float]:
        """Set-up samples: the CLI's start-up, importing the program and its
        compile layers in a fresh interpreter. The run stays on one CPU, so
        that ``calibrate()`` measures the CPU the steps run on: a host that
        shares its cores gives each CPU its own, drifting, speed."""
        os.sched_setaffinity(0, {max(os.sched_getaffinity(0))})
        samples = []
        for _ in range(reps):
            t0 = time.perf_counter()
            subprocess.run(
                [sys.executable, "-c", "import lakehouse_plumber_spark.__main__, "
                 "lakehouse_plumber_spark.codegen, lakehouse_plumber_spark.dag"],
                cwd=CHECKOUT, check=True)
            samples.append(time.perf_counter() - t0)
        import lakehouse_plumber_spark.__main__  # noqa: F401  (the steps' CLI, here)
        return samples

    def prepare(self, k: int) -> None:
        """Step 0 starts cold: no parse or graph cache and no output tree."""
        import gen

        if k == 0:
            shutil.rmtree(f"{self.project}/.lhp", ignore_errors=True)
            shutil.rmtree(self.out, ignore_errors=True)
            self.before, self.edited = {}, {}
            return
        self.before = {f: self._digest(f) for f in os.listdir(self.out)}
        self.edited = gen.edit_compile_project(self.seed, k, self.manifest)

    def step(self, k: int) -> None:
        argv = [self.project, "--env", "bench"]
        _quiet_cli(["validate", *argv])
        self.log = _quiet_cli(["compile", *argv, "-j", "1", "-o", self.out])
        _quiet_cli(["jobs", *argv, "-o", f"{self.project}/jobs.yaml"])

    def _digest(self, name: str) -> str:
        with open(f"{self.out}/{name}", "rb") as f:
            return hashlib.sha256(f.read()).hexdigest()

    def check(self, k: int, literal: dict[str, int] | None = None) -> dict[str, int]:
        """Every output parses, carries its current literal, and an output
        whose flowgroup was not edited is byte-identical to before."""
        literal = literal or {out: lit for _, out, lit in self.manifest}
        bad = {"unparsable": 0, "literal_missing": 0, "changed_unedited": 0, "missing": 0}
        outputs = set(os.listdir(self.out))
        bad["missing"] = len(set(literal) - outputs)
        for name in sorted(outputs & set(literal)):
            with open(f"{self.out}/{name}") as f:
                src = f.read()
            try:
                ast.parse(src)
            except SyntaxError:
                bad["unparsable"] += 1
            if str(literal[name]) not in src:
                bad["literal_missing"] += 1
            if name in self.before and name not in self.edited and \
                    self._digest(name) != self.before[name]:
                bad["changed_unedited"] += 1
        return bad

    def written(self, since: float) -> tuple[int, int]:
        size, count = files_since(self.out, since)
        return size + os.path.getsize(f"{self.project}/jobs.yaml"), count + 1

    def rewritten(self) -> tuple[int, int]:
        lines = self.log.splitlines()
        wrote = sum(1 for ln in lines if ln.startswith("wrote "))
        return wrote, wrote + sum(1 for ln in lines if ln.startswith("unchanged "))

    def close(self) -> None:
        pass


WORKLOADS = {"increment": Increment, "compile_loop": CompileLoop}


def _planted_check(bench) -> bool:
    """The gate must count one perturbed reference row as a failure; checked
    against the engine rows the last check read."""
    import reference

    if isinstance(bench, CompileLoop):
        literal = {out: lit for _, out, lit in bench.manifest}
        name = sorted(literal)[0]
        return sum(bench.check(0, {**literal, name: -1}).values()) > 0
    return sum(reference.compare(bench.got, reference.planted(bench.expected)).values()) > 0


def _layer_metrics(tracer, bench, step_stats: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics of one traced step."""
    import tracing as tr

    t = tr.layer_totals(tracer.spans, step_stats["k"])

    def g(name, key="s"):
        return t.get(name, {}).get(key, 0.0)

    m: dict[str, tuple[float, str]] = {}
    m["parsers.discover_s"] = (g("parsers.discover"), "s")
    m["parsers.load_flowgroup_s"] = (g("parsers.load_flowgroup"), "s")
    m["parsers.flowgroups"] = (g("parsers.discover", "value"), "count")
    reads = g("parse_cache.read", "calls")
    m["parse_cache.hit_ratio"] = ((reads - step_stats["parse_misses"]) / reads if reads else 0.0, "ratio")
    m["dag.validate_s"] = (g("dag.validate"), "s")
    m["dag.deps_s"] = (g("dag.deps"), "s")
    gets = g("graph_cache.get", "calls")
    m["graph_cache.hit_ratio"] = (g("graph_cache.get", "value") / gets if gets else 0.0, "ratio")
    m["codegen.compile_s"] = (g("codegen.compile"), "s")
    m["codegen.kb"] = (g("codegen.compile", "value") / 1000.0, "kB")
    wrote, compiled = bench.rewritten() if isinstance(bench, CompileLoop) else (0, 0)
    m["codegen.rewritten_ratio"] = (wrote / compiled if compiled else 0.0, "ratio")
    m["runner.run_s"] = (g("runner.run"), "s")
    m["runner.self_s"] = (g("runner.run", "self_s"), "s")
    m["runner.actions"] = (sum(v["calls"] for k, v in t.items() if k.startswith("operators.")), "count")
    for typ, sub in tr.OPERATORS:
        m[f"operators.{typ}.{sub}.s"] = (g(f"operators.{typ}.{sub}"), "s")
        m[f"operators.{typ}.{sub}.calls"] = (g(f"operators.{typ}.{sub}", "calls"), "count")
    m["cdc.apply_changes_s"] = (g("cdc.apply_changes"), "s")
    m["quarantine.run_s"] = (g("quarantine.run"), "s")
    m["incremental.update_s"] = (g("incremental.update"), "s")
    m["expectations.apply_s"] = (g("expectations.apply"), "s")
    m["expectations.check_s"] = (g("expectations.check"), "s")
    for layer in ("text", "dedup", "sample"):
        m[f"llm.{layer}_s"] = (g(f"llm.{layer}"), "s")
    m["materialize.calls"] = (g("materialize", "calls"), "count")
    m["materialize.s"] = (g("materialize"), "s")
    for meth in tr.TABLE_METHODS:
        m[f"tables.{meth}_s"] = (g(f"tables.{meth}"), "s")
        m[f"tables.{meth}.calls"] = (g(f"tables.{meth}", "calls"), "count")
    mb = step_stats["written_bytes"] / 1e6
    m["tables.mb_written"] = (mb if bench.spark else 0.0, "MB")
    m["tables.files_written"] = (step_stats["written_files"] if bench.spark else 0, "count")
    m["tables.write_amp"] = (mb / (bench.landed / 1e6) if bench.spark and bench.landed else 0.0, "ratio")
    spark_counts = step_stats.get("spark", {})
    for name in ("streaming.queries", "streaming.batches", "streaming.input_rows",
                 "streaming.state_rows", "spark.jobs", "spark.stages", "spark.tasks",
                 "spark.failed_tasks"):
        m[name] = (spark_counts.get(name, 0), "count")
    for phase in tr.STREAM_PHASES:
        m[f"streaming.{phase}_ms"] = (spark_counts.get(f"streaming.{phase}_ms", 0), "ms")
    m["py.cpu_s"] = (step_stats["py_cpu"], "s")
    m["jvm.cpu_s"] = (step_stats["jvm_cpu"], "s")
    m["jvm.gc_s"] = (step_stats.get("gc_s", 0.0), "s")
    return m


# counters that repeat exactly for a seed: reported from the first traced step
EXACT = ("parsers.flowgroups", "codegen.kb", "runner.actions", "spark.", "streaming.queries",
         "streaming.batches", "streaming.input_rows", "streaming.state_rows", ".calls")


def _one_step(bench, k: int, tracer=None, probe=None) -> dict:
    """Prepare, run and check step ``k``; only the run is timed. With a
    ``tracer`` the step is traced and its per-layer metrics are attached."""
    bench.prepare(k)
    cache_dir = f"{bench.project}/.lhp/cache/parse"
    n_cache = len(os.listdir(cache_dir)) if os.path.isdir(cache_dir) else 0
    if tracer:
        tracer.step, tracer.enabled = k, True
        if probe:
            probe.begin(k)
        gc0 = probe.gc_seconds() if probe else 0.0
    pid = bench.jvm_pid
    py0, jvm0, steal0 = time.process_time(), _proc_cpu(pid) if pid else 0.0, _host_steal_s()
    since = time.time()
    t0 = time.perf_counter()
    error = None
    try:
        bench.step(k)
    except Exception as e:  # a failing step is counted, and the loop goes on
        error = f"{type(e).__name__}: {e}"
    stats = {"k": k, "s": time.perf_counter() - t0, "traced": tracer is not None,
             "py_cpu": time.process_time() - py0,
             "jvm_cpu": (_proc_cpu(pid) - jvm0) if pid else 0.0,
             "host_steal_s": _host_steal_s() - steal0}
    if tracer:
        tracer.enabled = False
        if probe:
            stats["spark"] = probe.end()
            stats["gc_s"] = probe.gc_seconds() - gc0
    stats["cpu"] = stats["py_cpu"] + stats["jvm_cpu"]
    stats["written_bytes"], stats["written_files"] = bench.written(since)
    stats["parse_misses"] = (len(os.listdir(cache_dir)) if os.path.isdir(cache_dir) else 0) - n_cache
    stats["mismatches"] = {"error": error} if error else bench.check(k)
    stats["failed"] = bool(error or any(stats["mismatches"].values()))
    if tracer:
        stats["layers"] = _layer_metrics(tracer, bench, stats)
    return stats


def measure(bench, seconds: float, traced: bool) -> tuple[dict, dict]:
    """Set-up, the first cold step, then a loop of timed steps (with a cold
    step every ``bench.cold_every``-th, if set) that stops before a step
    would end more than ``seconds`` seconds after set-up began. It runs at
    least one timed step."""
    tracer = probe = None
    t_start = time.perf_counter()
    setup = bench.start(bench.setup_reps)
    if traced:
        import tracing as tr

        tracer = tr.Tracer()
        tr.install(tracer)
        if bench.spark is not None:
            probe = tr.SparkProbe(bench.spark)

    cals: list[float] = []

    def step(k: int, *trace) -> dict:
        """One step. A calibrated workload scales the step's times, and the
        per-layer times of a traced step, to the reference speed by the
        calibrations just before and just after it."""
        if not bench.calibrated:
            return _one_step(bench, k, *trace)
        if not cals:
            cals.append(calibrate())
        stats = _one_step(bench, k, *trace)
        cals.append(calibrate())
        stats["scale"] = CALIBRATION_REF_S / ((cals[-2] + cals[-1]) / 2)
        stats["s"] *= stats["scale"]
        stats["cpu"] *= stats["scale"]
        if "layers" in stats:
            stats["layers"] = {name: (v * stats["scale"] if unit == "s" else v, unit)
                               for name, (v, unit) in stats["layers"].items()}
        return stats

    cold = [step(0)]
    selfcheck = _planted_check(bench) if not cold[-1]["mismatches"].get("error") else False
    steps: list[dict] = []
    k = n = 0
    while True:
        t_step = time.perf_counter()
        n += 1
        if bench.cold_every and n % bench.cold_every == 0:
            cold.append(step(0))
        else:
            k += 1
            # a traced run alternates, so its traced steps sit between untraced ones
            steps.append(step(k, *((tracer, probe) if traced and k % 2 == 0 else ())))
        if len(steps) >= MAX_FAILURES_IN_A_ROW and all(s["failed"] for s in steps[-MAX_FAILURES_IN_A_ROW:]):
            break
        # a traced run needs at least one untraced and one traced step
        done = not traced or any(s["traced"] for s in steps)
        now = time.perf_counter()
        if done and now + (now - t_step) - t_start > seconds:
            break

    # set-up ran before any calibration: scaled by the run's median one
    setup_scale = CALIBRATION_REF_S / statistics.median(cals) if cals else 1.0
    peak = _peak_rss_mb(os.getpid()) + (_peak_rss_mb(bench.jvm_pid) if bench.jvm_pid else 0.0)
    timed = [s for s in steps if not s["traced"]]
    times = [s["s"] for s in timed]
    pct, tail_s = tail(times)
    attempted = len(cold) + len(steps)
    failed = sum(s["failed"] for s in cold + steps)
    result = {"correct": failed == 0 and bool(selfcheck), "attempted": attempted, "failed": failed}
    if traced:
        layer_steps = [s["layers"] for s in steps if s["traced"]]
        metrics = {}
        for name, (_, unit) in layer_steps[0].items():
            vals = [ls[name][0] for ls in layer_steps]
            exact = any(e in name for e in EXACT)
            metrics[name] = {"value": vals[0] if exact else statistics.median(vals), "unit": unit}
        traced_s = statistics.median(s["s"] for s in steps if s["traced"])
        plain_s = statistics.median(times)
        metrics["trace.traced_step_s"] = {"value": traced_s, "unit": "s"}
        metrics["trace.untraced_step_s"] = {"value": plain_s, "unit": "s"}
        metrics["trace.overhead_ratio"] = {"value": traced_s / plain_s - 1.0, "unit": "ratio"}
    else:
        values = {
            "setup_s": statistics.median(setup) * setup_scale,
            "cold_s": statistics.median(s["s"] for s in cold),
            "step_p50_s": statistics.median(times),
            "step_tail_s": tail_s,
            "cpu_s": statistics.median(s["cpu"] for s in timed),
            "peak_rss_mb": peak,
            "written_mb": statistics.median(s["written_bytes"] for s in timed) / 1e6,
            "ok_ratio": (attempted - failed) / attempted,
        }
        metrics = {n: {"value": v, "unit": END_TO_END_UNITS[n]} for n, v in values.items()}
    result["metrics"] = metrics
    details = {
        "setup_samples_s": setup, "cold_samples_s": [s["s"] for s in cold], "step_samples_s": times,
        "step_cpu_s": [s["cpu"] for s in timed], "calibration_s": cals,
        "step_host_steal_s": [s["host_steal_s"] for s in timed],
        "tail_percentile": pct, "selfcheck_detected_planted_row": selfcheck,
        "mismatches": [s["mismatches"] for s in cold + steps],
    }
    return details, result


def _versions(spark, nproc: int) -> dict:
    import pyspark

    if spark is not None:
        java = spark._jvm.java.lang.System.getProperty("java.version")
    else:
        p = subprocess.run(["java", "-XX:-UsePerfData", "-version"], capture_output=True, text=True)
        java = p.stderr.split('"')[1] if '"' in p.stderr else "unknown"
    return {"nproc": nproc, "pyspark": pyspark.__version__,
            "java": java, "python": sys.version.split()[0]}


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS), required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)

    sys.path.insert(0, CHECKOUT)
    # outside a checkout of the program there is nothing to measure; the
    # program itself is imported first inside the timed set-up
    if importlib.util.find_spec("lakehouse_plumber_spark") is None:
        print("perfbench: lakehouse_plumber_spark not found; run from a checkout", file=sys.stderr)
        return 2

    work = os.path.join(CHECKOUT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(f"{work}/tmp")
    nproc = len(os.sched_getaffinity(0))
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(nproc), "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "LHP_SPARK_WAREHOUSE": f"{work}/warehouse", "SPARK_LOCAL_DIRS": f"{work}/spark-local",
        "TMPDIR": f"{work}/tmp", "LHP_SECRET_API_TOKEN": "bench-token",
        "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",  # the launcher JVM spark-submit starts
    })
    import tempfile

    tempfile.tempdir = None
    bench = None
    try:
        t0 = time.perf_counter()
        bench = WORKLOADS[args.workload](args.seed, work)
        gen_s = time.perf_counter() - t0
        details, result = measure(bench, args.seconds, bool(args.trace))
        details.update(workload=args.workload, seed=args.seed, trace=args.trace,
                       generate_s=gen_s, wall_s=time.perf_counter() - t0,
                       host=_versions(bench.spark, nproc))
    finally:
        if bench is not None:
            bench.close()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(details))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
