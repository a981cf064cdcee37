"""Benchmark of the engine's batch jobs, driven through the registry.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload mape_anonymize --seed 1 --seconds 5 --trace 0

Each workload is a list of registered ops. The load is a closed loop
with one client: one process runs the ops one after another, and a
pass is every op of the workload once, in an order the seed permutes
(fixed for the whole run, because an op's neighbours change its time).
An op is ``__spark_entry__.queries()[name](spark, sf_dir)`` drained
through the noop sink. ``bench_reset`` runs before every pass so no
pass reuses another pass's in-session memo.

A run has three phases:

1. Set-up (``setup_s``, from process start to the first timed pass):
   session start, then one cold pass in which every op's result is
   collected: first touch of the tables, code generation and the first
   JIT compilation. The collected rows are compared with the op's
   DuckDB oracle, with the checks of ``tests/oracle_utils.compare_query``;
   the DuckDB side and the comparison are not counted in ``setup_s``.

   The engine keys its on-disk fixtures by the name of the table
   directory, so the ops read the tables through a link named after the
   scale factor and a hash of the engine's sources: each source tree
   builds its own fixtures, in the cold pass of its first run, and
   later runs of the same tree reuse them (the run context records
   ``fixtures_existed``). Fixtures that no table directory keys are
   removed at the start of every run and rebuilt in its cold pass.
2. Timed passes, started until ``--seconds`` have elapsed.
3. Shutdown: the session and the JVM are stopped and every process of
   the tree is waited for.

``--trace 1`` reports the per-layer metrics from a separate run with a
Spark event log on. After the cold pass it runs one untraced warm pass
that is not counted, then its timed passes come in pairs of one traced
and one untraced pass. The order within a pair alternates from pair to
pair and, for the first pair, with the seed's parity, so a residual
warming trend does not favour either kind across runs.
A traced pass runs with the public functions of the engine's modules
wrapped in spans. Every pass of a traced run, traced
or not, also forces the op's own physical planning to read its
Catalyst phases, so both kinds do the same Spark work and the tracing
overhead (median traced minus median untraced pass time) is the cost
of the spans alone.

The last line of standard output is one JSON object
``{"correct", "attempted", "failed", "metrics"}``; the line before it
names every metric with its unit. ``attempted`` and ``failed`` count op
executions; an op fails when it raises or its rows differ from the
oracle, and then the command exits 1. The full record of a run (run
context, per-op times and job counts, spans) is written under
``.perfbench_run/results/``. All scratch files (Spark local dirs,
temporary files, event log) go under ``.perfbench_run/work/`` and the
table links under ``.perfbench_run/data/``; the engine itself keeps its
fixtures in its own fixed directory (that of
``__spark_entry__._CSV_FIXTURE``).
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import hashlib  # noqa: E402
import itertools  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402
from contextlib import nullcontext  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import sparkstats, tracing  # noqa: E402

PKG = "mape_calculation_and_anonymization_spark"
WORK = os.path.join(ROOT, ".perfbench_run", "work")
RESULTS = os.path.join(ROOT, ".perfbench_run", "results")
DATA = os.path.join(ROOT, ".perfbench_run", "data")

# workload -> (scale factor directory name, ops). The directories sit
# beside the engine's oracle tables (``__spark_entry__._ORACLE_SF_DIR``).
WORKLOADS = {
    # The paper's own two batch jobs in one pass, at sf0.1. The daily
    # WAPE report: CSV ingest, two-stage shuffle aggregates, the zone
    # pivot, the persistence backtest and the xlsx workbook. Keyed
    # anonymization: label rewrite, the blake2b Arrow UDF, key tables
    # upserted with an atomic swap and re-read, snappy parquet. It has
    # no checkpoint barriers and no stream drains, so changes to those
    # should leave it flat.
    "mape_anonymize": ("sf0.1", (
        "mape_daily_portfolio", "mape_daily_zone_pivot", "backtest_persistence_wape",
        "k2_excel_sheets", "s1_csv_scan", "x4_label_anonymization", "x5_uid_pseudonym",
        "anonymization_fates", "k1_parquet_roundtrip",
    )),
    # LLM-corpus curation: construction-dominated (checkpoint barriers,
    # streaming drains, the co-occurrence graph) plus the interpreted
    # text gates. Run at sf0.01: at sf0.1 one run of these ops took
    # 85-100 s on a 4-core host (a 45-55 s cold pass, 11-13 s of oracle
    # checks, a 17-23 s pass), too long to repeat the twenty-odd runs
    # per workload that comparing two commits takes.
    "corpus_curation": ("sf0.01", (
        "minhash_incremental", "stream_minhash_pairs", "semantic_dedup_gated",
        "pagerank_influencers", "text_quality",
    )),
}

# layer name -> modules whose public functions get spans in a traced run
LAYERS = {
    "fixtures": ["fixtures"],
    "sources.readers": ["sources.readers"],
    "sources.sinks": ["sources.sinks"],
    "functions.labels": ["functions.labels"],
    "functions.hashing": ["functions.hashing"],
    "operators.mape": ["operators.mape"],
    "operators.anonymize": ["operators.anonymize"],
    "operators.keys": ["operators.keys"],
    "operators.timeseries": ["operators.timeseries"],
    "operators.dedup": ["operators.dedup"],
    "operators.similarity": ["operators.similarity"],
    "operators.graph": ["operators.graph"],
    "operators.text": ["operators.text"],
    "streaming": ["streaming.windows", "streaming.stateful",
                  "streaming.upsert", "streaming.neardup"],
}
ENTRY_LAYER = "entry"

# pass_s (median pass wall time) is printed on the summary line but not
# reported as a gated metric: with one timed pass per run its spread
# across seeds on a shared 4-core host is as wide as the largest bound.
END_TO_END_UNITS = {"setup_s": "s", "cpu_s": "s"}

_ERR = sys.stderr


def say(msg: str) -> None:
    print(f"perfbench: {msg}", file=_ERR, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if not args.seconds > 0:
        p.error("--seconds must be positive")
    return args


def source_sha() -> str:
    """Content hash of the engine's sources (the checkout has no .git)."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "__spark_entry__.py")]
    for d, _, names in sorted(os.walk(os.path.join(ROOT, PKG))):
        files += [os.path.join(d, n) for n in sorted(names) if n.endswith(".py")]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


def git_commit() -> str | None:
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
    except OSError:
        return None
    return out.stdout.strip() or None


def prepare_work_dir() -> str:
    """Fresh scratch dirs inside the checkout; returns the Spark log path."""
    shutil.rmtree(WORK, ignore_errors=True)
    for sub in ("local", "tmp", "events", "warehouse"):
        os.makedirs(os.path.join(WORK, sub))
    os.makedirs(RESULTS, exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "local")
    # Python workers import the engine by module path
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    # The JVM and its Python workers inherit fd 2: send it to a file so
    # ERROR lines can be counted per op, and keep our own stderr.
    global _ERR
    _ERR = os.fdopen(os.dup(2), "w")
    log = os.path.join(WORK, "spark.log")
    fd = os.open(log, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    return log


def restore_stderr() -> None:
    sys.stderr.flush()
    os.dup2(_ERR.fileno(), 2)


class _Collected:
    """The two DataFrame members ``compare_query`` reads, over rows
    already collected, so the check times only the DuckDB side."""

    def __init__(self, columns, rows):
        self.columns = columns
        self._rows = rows

    def collect(self):
        return self._rows


class Bench:
    def __init__(self, args, sf_dir: str, spark_log: str, sha: str):
        self.args = args
        self.sf_dir = sf_dir
        self.sha = sha
        self.spark_log = spark_log
        ops = WORKLOADS[args.workload][1]
        self.ops = random.Random(args.seed).sample(ops, len(ops))
        self.attempted = 0
        self.failures: list[dict] = []
        self.cores = len(os.sched_getaffinity(0))

    # -- session -----------------------------------------------------------
    def start(self) -> None:
        import __spark_entry__ as entry
        from mape_calculation_and_anonymization_spark.session import get_spark

        self.entry = entry
        self.registry = entry.queries()
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(WORK, "local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')} "
                f"-Dderby.system.home={os.path.join(WORK, 'tmp')}",
        }
        if self.args.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(WORK, "events"),
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        t = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", cpus=self.cores, extra_conf=conf)
        self.startup_s = time.perf_counter() - t
        sc = self.spark.sparkContext
        self.jvm_pid = sc._gateway.proc.pid
        self._dag = sc._jsc.sc().dagScheduler()
        self.context = {
            "workload": self.args.workload, "seed": self.args.seed, "order": self.ops,
            "sf_dir": self.sf_dir, "cores": self.cores, "commit": git_commit(),
            "source_sha": self.sha, "spark": sc.version,
            "java": sc._jvm.System.getProperty("java.version"),
            "python": sys.version.split()[0], "seconds": self.args.seconds,
            "trace": self.args.trace,
        }

    def next_job_id(self) -> int:
        return self._dag.nextJobId()

    def stop(self) -> None:
        """Stop the session, end the JVM and wait for every descendant."""
        from pyspark import SparkContext

        me = os.getpid()
        pids = [p for p in sparkstats.process_tree(me) if p != me]
        if SparkContext._gateway is None:
            return
        proc = SparkContext._gateway.proc
        try:
            if SparkContext._active_spark_context is not None:
                SparkContext._active_spark_context.stop()
        finally:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
            deadline = time.monotonic() + 30
            while pids:
                pids = [p for p in pids if _alive(p)]
                if pids and time.monotonic() > deadline:
                    for p in pids:
                        _kill(p)
                    deadline = time.monotonic() + 10
                if pids:
                    time.sleep(0.1)

    # -- ops -----------------------------------------------------------------
    def cleanup(self) -> None:
        spark = self.spark
        spark.catalog.clearCache()
        # memory-sink tables keep their rows on the driver for the session
        for tbl in spark.catalog.listTables():
            if tbl.isTemporary and tbl.name.startswith("mem_"):
                spark.catalog.dropTempView(tbl.name)
        # checkpoint blocks are released when the DataFrame is collected
        gc.collect()

    def fail(self, name: str, phase: str, detail: str) -> None:
        self.failures.append({"op": name, "phase": phase, "detail": detail[-2000:]})
        say(f"{name} failed in {phase}: {detail.splitlines()[-1] if detail else ''}")

    def oracle_pass(self) -> tuple[float, list[dict]]:
        """Cold pass that collects every op and checks it against DuckDB.

        Returns the seconds spent in the DuckDB side and the comparison
        (excluded from set-up) and one record per op."""
        sys.path.insert(0, os.path.join(ROOT, "tests"))
        from oracle_utils import compare_query

        oracles = self.entry.oracle_sql_at(self.sf_dir)
        self.entry.bench_reset(self.sf_dir)
        check_s, records = 0.0, []
        for name in self.ops:
            self.attempted += 1
            rec = {"op": name}
            t = time.perf_counter()
            try:
                df = self.registry[name](self.spark, self.sf_dir)
                got = _Collected(list(df.columns), [tuple(r) for r in df.collect()])
            except Exception:
                self.fail(name, "oracle pass", traceback.format_exc())
                self.cleanup()
                continue
            rec["spark_s"] = time.perf_counter() - t
            t = time.perf_counter()
            try:
                ok, msg = compare_query(self.spark, self.sf_dir, lambda *_: got, oracles[name])
            except Exception:
                ok, msg = False, traceback.format_exc()
            rec["check_s"] = time.perf_counter() - t
            check_s += rec["check_s"]
            rec["oracle"] = msg
            if not ok:
                self.fail(name, "oracle check", msg)
            records.append(rec)
            self.cleanup()
        return check_s, records

    def run_op(self, name: str, tracer: tracing.Tracer | None) -> dict:
        rec = {"op": name}
        log0 = os.path.getsize(self.spark_log)
        plan = self.args.trace  # every pass of a traced run plans the same way
        j0, t0 = self.next_job_id(), time.perf_counter()
        try:
            with tracer.trace(name) if tracer else nullcontext():
                with tracer.span(f"__spark_entry__.{name}", ENTRY_LAYER) if tracer else nullcontext():
                    df = self.registry[name](self.spark, self.sf_dir)
                j1, t1 = self.next_job_id(), time.perf_counter()
                if plan:
                    rec["catalyst"] = catalyst_phases(df)
                t2 = time.perf_counter()
                with tracer.span("noop_write", "exec") if tracer else nullcontext():
                    df.write.format("noop").mode("overwrite").save()
                j3, t3 = self.next_job_id(), time.perf_counter()
        except Exception:
            self.fail(name, "timed pass", traceback.format_exc())
            rec["failed"] = True
        else:
            rec.update(construct_s=t1 - t0, exec_s=t3 - t2, construct_jobs=(j0, j1),
                       exec_jobs=(j1, j3), wall_s=t3 - t0)
        self.cleanup()
        rec["error_log_lines"] = sparkstats.count_error_lines(
            self.spark_log, log0, os.path.getsize(self.spark_log))
        return rec

    def run_pass(self, tracer: tracing.Tracer | None = None) -> dict:
        self.entry.bench_reset(self.sf_dir)
        me = os.getpid()
        c0, t0 = sparkstats.tree_cpu_s(me), time.perf_counter()
        ops = []
        for name in self.ops:
            self.attempted += 1
            ops.append(self.run_op(name, tracer))
        return {"wall_s": time.perf_counter() - t0,
                "cpu_s": sparkstats.tree_cpu_s(me) - c0, "ops": ops}

    def timed(self, block) -> list[dict]:
        """Runs ``block`` (which returns passes) until ``--seconds`` have
        elapsed, at least once."""
        passes, t0 = [], time.perf_counter()
        while not passes or time.perf_counter() - t0 < self.args.seconds:
            passes += block()
        return passes

    def traced_pair(self, tracer: tracing.Tracer, traced_first: bool) -> list[dict]:
        """One untraced and one traced pass, in the order given."""
        def traced_pass():
            restore = instrument(tracer)
            try:
                p = self.run_pass(tracer)
            finally:
                restore()
            p["traced"] = True
            return p

        if traced_first:
            return [traced_pass(), self.run_pass()]
        untraced = self.run_pass()
        return [untraced, traced_pass()]


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _kill(pid: int) -> None:
    try:
        os.kill(pid, signal.SIGKILL)
    except ProcessLookupError:
        pass


def catalyst_phases(df) -> dict[str, float]:
    """Analysis/optimization/planning seconds of the DataFrame's own
    QueryExecution (planning is forced here; the noop write plans again,
    so a traced run calls this in every pass, traced or not)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    it = qe.tracker().phases().iterator()
    out = {}
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2().durationMs() / 1000.0
    return out


def table_link(tables: str, sha: str) -> str:
    """A link to the table directory ``tables``, named after it and the
    source hash ``sha``: the engine derives its fixture key from that
    name, so each source tree gets fixtures of its own."""
    link = os.path.join(DATA, f"{os.path.basename(tables)}_{sha}")
    if not os.path.islink(link):
        os.makedirs(DATA, exist_ok=True)
        os.symlink(tables, link)
    return link


def prepare_fixtures(entry, sf_dir: str) -> bool:
    """Remove the engine's fixtures that no table directory keys (built
    from whichever tables ran first), so this run builds them from its
    own. Returns whether the fixtures keyed by ``sf_dir`` exist."""
    root = os.path.dirname(entry._CSV_FIXTURE)
    if os.path.isdir(root):
        for name in os.listdir(root):
            if not re.match(r"sf\d", name):
                path = os.path.join(root, name)
                if os.path.isdir(path) and not os.path.islink(path):
                    shutil.rmtree(path, ignore_errors=True)
                else:
                    os.remove(path)
    return os.path.isdir(os.path.join(root, entry._fixture_sf_tag(sf_dir)))


def tail(values: list[float]) -> tuple[float, str, int]:
    """Highest percentile with at least ten samples beyond it; the
    maximum when there are too few samples for that."""
    s, n = sorted(values), len(values)
    if n <= 10:
        return s[-1], "max", n
    k = n - 11
    return s[k], f"p{100 * (k + 1) // n}", n



def per_layer(bench: Bench, all_passes: list[dict], spans: list[tracing.Span],
              jvm_hwm: int) -> dict:
    """Per traced pass: means of the layer totals over the traced passes."""
    passes = [p for p in all_passes if p.get("traced")]
    untraced = [p for p in all_passes if not p.get("traced")]
    n = len(passes)
    ops = [o for p in passes for o in p["ops"] if not o.get("failed")]
    construct = {j for o in ops for j in range(*o["construct_jobs"])}
    execute = {j for o in ops for j in range(*o["exec_jobs"])}
    (log,) = os.listdir(os.path.join(WORK, "events"))  # one application
    job_of_stage, stages = sparkstats.read_event_log(os.path.join(WORK, "events", log))
    c = sparkstats.job_totals(job_of_stage, stages, construct)
    x = sparkstats.job_totals(job_of_stage, stages, execute)
    exec_wall = sum(o["exec_s"] for o in ops) / n
    m = {
        "session.startup_s": bench.startup_s,
        "construct.wall_s": sum(o["construct_s"] for o in ops) / n,
        "construct.jobs": len(construct) / n,
        "construct.executor_cpu_s": c["executor_cpu_s"] / n,
    }
    for phase in ("analysis", "optimization", "planning"):
        m[f"catalyst.{phase}_s"] = sum(o["catalyst"].get(phase, 0.0) for o in ops) / n
    m["exec.wall_s"] = exec_wall
    m["exec.jobs"] = len(execute) / n
    for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "python_eval_s"):
        m[f"exec.{k}"] = x[k] / n
    m["exec.core_busy_ratio"] = x["executor_run_s"] / n / (bench.cores * exec_wall)
    m["exec.failed_tasks"] = (c["failed_tasks"] + x["failed_tasks"]) / n
    m["io.output_bytes"] = (c["output_bytes"] + x["output_bytes"]) / n
    m["spark.error_log_lines"] = sum(o["error_log_lines"] for p in passes for o in p["ops"]) / n
    totals = tracing.layer_totals(spans)
    for layer in [ENTRY_LAYER, *LAYERS]:
        row = totals.get(layer, {"self_s": 0.0, "jobs": 0})
        m[f"{layer}.self_s"] = row["self_s"] / n
        m[f"{layer}.jobs"] = row["jobs"] / n
    traced_pass_s = statistics.median(p["wall_s"] for p in passes)
    m["trace.pass_s"] = traced_pass_s
    m["trace.overhead_s"] = traced_pass_s - statistics.median(p["wall_s"] for p in untraced)
    m["jvm.peak_rss_mb"] = jvm_hwm / 2**20
    return m


PER_LAYER_UNITS = {
    "session.startup_s": "s", "construct.wall_s": "s", "construct.jobs": "count",
    "construct.executor_cpu_s": "s", "catalyst.analysis_s": "s",
    "catalyst.optimization_s": "s", "catalyst.planning_s": "s", "exec.wall_s": "s",
    "exec.jobs": "count", "exec.stages": "count", "exec.tasks": "count",
    "exec.executor_run_s": "s", "exec.executor_cpu_s": "s", "exec.gc_s": "s",
    "exec.shuffle_read_bytes": "bytes", "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes", "exec.python_eval_s": "s", "exec.core_busy_ratio": "ratio",
    "exec.failed_tasks": "count", "io.output_bytes": "bytes",
    "spark.error_log_lines": "count", "trace.pass_s": "s", "trace.overhead_s": "s",
    "jvm.peak_rss_mb": "MB",
    **{f"{layer}.{k}": u for layer in [ENTRY_LAYER, *LAYERS]
       for k, u in (("self_s", "s"), ("jobs", "count"))},
}


def instrument(tracer: tracing.Tracer):
    import importlib

    layers = {layer: [importlib.import_module(f"{PKG}.{m}") for m in mods]
              for layer, mods in LAYERS.items()}
    return tracing.instrument(layers, tracer, (PKG, "__spark_entry__"))


def main(argv=None) -> int:
    args = parse_args(argv)
    missing = [p for p in (os.path.join(ROOT, "__spark_entry__.py"), os.path.join(ROOT, PKG))
               if not os.path.exists(p)]
    if missing:
        say(f"cannot run: missing {', '.join(missing)}")
        return 2
    spark_log = prepare_work_dir()
    import __spark_entry__

    tables = os.path.join(os.path.dirname(__spark_entry__._ORACLE_SF_DIR),
                          WORKLOADS[args.workload][0])
    if not os.path.isdir(tables):
        say(f"cannot run: missing {tables}")
        return 2
    sha = source_sha()
    sf_dir = table_link(tables, sha)
    fixtures_existed = prepare_fixtures(__spark_entry__, sf_dir)
    bench = Bench(args, sf_dir, spark_log, sha)
    psi0 = sparkstats.cpu_pressure()
    try:
        bench.start()
        check_s, oracle = bench.oracle_pass()
        if args.trace:
            bench.run_pass()  # warm pass, not counted
        setup_s = time.perf_counter() - T0 - check_s
        if args.trace:
            tracer = tracing.Tracer(job_counter=bench.next_job_id)
            pair = itertools.count(args.seed)
            passes = bench.timed(lambda: bench.traced_pair(tracer, next(pair) % 2 == 0))
        else:
            passes = bench.timed(lambda: [bench.run_pass()])
        jvm_hwm = sparkstats.vm_hwm_bytes(bench.jvm_pid)
        # each live process's own peak, summed; workers that already exited are not in it
        tree_hwm = sum(sparkstats.vm_hwm_bytes(p) for p in sparkstats.process_tree(os.getpid()))
    finally:
        bench.stop()
        restore_stderr()
    psi1 = sparkstats.cpu_pressure()
    wall = time.perf_counter() - T0
    peak_rss_mb = tree_hwm / 2**20
    context = dict(bench.context, run_wall_s=wall, jvm_vm_hwm_mb=jvm_hwm / 2**20,
                   peak_rss_mb=peak_rss_mb, fixtures_existed=fixtures_existed,
                   tables=tables,
                   cpu_pressure_some_avg60_end=psi1.get("avg60"),
                   cpu_pressure_some_share=(psi1.get("total", 0) - psi0.get("total", 0)) / 1e6 / wall)
    all_ops = [o for p in passes for o in p["ops"]]
    pass_s = statistics.median(p["wall_s"] for p in passes)
    tail_s, tail_q, tail_n = tail([p["wall_s"] for p in passes])
    if args.trace:
        metrics = per_layer(bench, passes, tracer.spans, jvm_hwm)
        units = PER_LAYER_UNITS
    else:
        metrics = {"setup_s": setup_s,
                   "cpu_s": statistics.median(p["cpu_s"] for p in passes)}
        units = END_TO_END_UNITS
    failed = len(bench.failures)
    record = {
        "context": context, "metrics": metrics, "oracle": oracle, "passes": passes,
        "failures": bench.failures,
        "pass_tail_s": {"value": tail_s, "quantile": tail_q, "samples": tail_n},
        "error_log_lines": sum(o["error_log_lines"] for o in all_ops),
    }
    if args.trace:
        record["spans"] = [vars(s) for s in tracer.spans]
    out = os.path.join(RESULTS, f"{args.workload}_seed{args.seed}_trace{args.trace}.json")
    with open(out, "w") as fh:
        json.dump(record, fh, default=list)
    shutil.rmtree(WORK, ignore_errors=True)

    summary = " ".join(f"{k}={v:.4f}{units[k]}" for k, v in metrics.items())
    print(f"perfbench {args.workload} seed={args.seed} passes={len(passes)} "
          f"pass_s={pass_s:.4f}s pass_tail_s={tail_s:.4f}s({tail_q},n={tail_n}) "
          f"peak_rss_mb={peak_rss_mb:.1f}MB "
          f"failed_ops={failed / bench.attempted:.4f}ratio({failed}/{bench.attempted}) "
          f"{summary} record={os.path.relpath(out, ROOT)}")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": bench.attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
