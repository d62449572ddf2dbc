#!/usr/bin/env python3
"""Benchmark: three workloads through the program's public entry points.

    python3 perfbench/run.py --workload migrate_resync --seed 1 \\
        --seconds 4 --trace 0
    python3 perfbench/run.py --workload all --seed 1   # every workload

Each run generates its migration inputs from ``--seed`` under
``perfbench/.work`` (the query workload reads the harness tables in
``perfbench/data``), sets up a Spark session once, timed from process
start, then repeats passes for ``--seconds`` seconds (at least one).
``run_s`` is the first pass, the one a user running one migration or
one query set in a fresh process waits for; later passes run warm and
are reported as context. Every pass is checked: a migration pass against
the reference-upsert model, a query pass against each query's DuckDB
twin (untimed, on the outputs the pass collected). ``--trace 1``
alternates untraced and traced passes and reports the per-layer metrics
of the traced ones (see ``tracing.py``). The last stdout line is one JSON object; the line
before it holds every end-to-end metric of the workload, including the
ones BENCHMARK.json leaves out. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

import generate  # noqa: E402
import model  # noqa: E402
import tracing  # noqa: E402

# The harness's own sf0.01 tables, copied byte for byte: at this scale
# the six queries are bound by planning and job scheduling, and the
# DuckDB twin of the set-similarity join (quadratic in documents) stays
# a few seconds.
TABLES = os.path.join(HERE, "data", "sf0.01")

QUERY_ITERATIVE = [
    "setsim_join_docs",
    "bellman_ford_trade_distance",
    "pagerank_customer_supplier",
    "label_propagation_docs",
    "stream_cdc_apply_orders_batchmerge",
    "stream_rate_limit_hourly_batchmerge",
]

_SHAPES = ["B1", "B1flat", "B3"]

WORKLOADS = {
    # a few large B1 containers against a pre-seeded B2 target: both
    # sides content-hashed and joined, 60% of documents are skips
    "migrate_resync": dict(
        kind="migration", sanitize=False, strong_verify=True,
        containers=[generate.Container("crm", f"people{i}", 10000, "B1")
                    for i in range(4)], with_target=True),
    # small containers of skewed sizes into an empty target, sanitized:
    # all inserts, per-container fixed costs dominate; the shapes
    # rotate by container index (B1, B1 with a flat string address, B3)
    "migrate_initial_sanitized": dict(
        kind="migration", sanitize=True, strong_verify=False,
        containers=[generate.Container(f"db{d}", f"c{d}{i}", n,
                                       _SHAPES[(d + i) % 3])
                    for d in range(2)
                    for i, n in enumerate([3000, 1500, 800, 400, 200, 100])],
        with_target=False),
    "query_iterative": dict(kind="query", queries=QUERY_ITERATIVE),
}

END_TO_END = {  # name -> unit; the migration-only ones are None on queries
    "setup_s": "s", "run_s": "s", "docs_per_s": "docs/s",
    "error_rate": "ratio", "docs_lost": "docs",
    "target_bytes_ratio": "ratio", "peak_rss_mb": "MB",
}

PER_LAYER = {
    "migration.migrate_container_ms": "ms",
    "migration.migrate_container_jobs": "count",
    "migration.rows_classified": "count",
    "migration.skip_ratio": "ratio",
    "migration.quarantined": "count",
    "migration.classify_plan_ms": "ms",
    "migration.verify_ms": "ms",
    "migration.verify_jobs": "count",
    "document_model.plan_ms": "ms",
    "sinks.merge_ms": "ms",
    "sinks.merge_jobs": "count",
    "sinks.bytes_written": "bytes",
    "sinks.files_written": "count",
    "sinks.rows_written": "count",
    "sanitizer.plan_ms": "ms",
    "orchestrator.containers": "count",
    "orchestrator.self_ms": "ms",
    "sources.catalog.calls": "count",
    "sources.catalog.ms": "ms",
    "queries.build_ms": "ms",
    "queries.build_jobs": "count",
    "queries.action_ms": "ms",
    "queries.action_jobs": "count",
    **{f"query.{q}.{m}": u for q in QUERY_ITERATIVE
       for m, u in (("s", "s"), ("jobs", "count"))},
    "session.load_table_calls": "count",
    "session.load_table_ms": "ms",
    "cache_scope.release_ms": "ms",
    "cache_scope.released": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_ms": "ms",
    "spark.executor_cpu_ms": "ms",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.slot_busy_ratio": "ratio",
    "trace.unattributed_jobs": "count",
    "trace.overhead_s": "s",
}

_MIGRATION_LAYERS = ("migration.", "document_model.", "sinks.",
                     "sanitizer.", "orchestrator.", "sources.catalog.")
_QUERY_LAYERS = ("queries.", "query.", "session.", "cache_scope.")


def _not_applicable(kind: str, sanitize: bool) -> dict[str, str]:
    """Per-layer metrics that cannot move on a workload, and why."""
    out = {}
    for name in PER_LAYER:
        if kind == "query" and name.startswith(_MIGRATION_LAYERS):
            out[name] = "query workload: no migration layer runs"
        elif kind == "migration" and name.startswith(_QUERY_LAYERS):
            out[name] = "migration workload: no registry query runs"
        elif name == "sanitizer.plan_ms" and not sanitize:
            out[name] = "sanitize is off on this workload"
    return out


# ---------------------------------------------------------------------------
# host
# ---------------------------------------------------------------------------

def _process_start_wall() -> float:
    """Wall-clock time this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def live_spark_drivers() -> list[int]:
    """PIDs of other live Spark JVMs on this host (same test as
    bench.py): timings taken next to one are contended."""
    pids, me = [], os.getpid()
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == me:
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().decode("utf-8", "replace")
        except OSError:
            continue
        if "org.apache.spark" in cmd and "java" in cmd.split("\x00")[0]:
            pids.append(int(pid))
    return pids


def _descendants(root: int) -> list[int]:
    """``root`` and every process below it."""
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            for tid in os.listdir(f"/proc/{pid}/task"):
                with open(f"/proc/{pid}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:  # process ended while being read
            continue
    return out


def _peak_rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:  # process ended while being read
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the peak RSS of each process in this tree: the driver, its
    JVM and the Python workers the JVM forks. The kernel keeps each
    peak, so nothing samples while the passes run: a sampling thread
    competes with the driver's Python thread and made ``run_s`` spread
    about three times wider on the 4-vCPU build host."""
    return sum(map(_peak_rss_kb, _descendants(os.getpid()))) / 1024.0


def calibration_probe_s(spark) -> float:
    """Fixed pure-JVM probe (no program code, no I/O): host context for
    reading a run, never a metric."""
    from pyspark.sql import functions as F

    t0 = time.perf_counter()
    (spark.range(0, 20_000_000, 1, 8)
     .agg(F.sum(F.pmod(F.xxhash64("id"), F.lit(1_000_003)))).collect())
    return time.perf_counter() - t0


def _dir_stats(path: str) -> tuple[int, int, int]:
    """(parquet bytes, parquet files, rows from the footers) under path."""
    import pyarrow.parquet as pq

    n_bytes = n_files = rows = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                n_bytes += os.path.getsize(p)
                n_files += 1
                rows += pq.read_metadata(p).num_rows
    return n_bytes, n_files, rows


# ---------------------------------------------------------------------------
# workloads
# ---------------------------------------------------------------------------

class Migration:
    """A migration workload: generated accounts, the reference model's
    expectations, and one pass = every container through the
    orchestrator's public entry point, one container per call."""

    python_workers = False  # the migration path runs no Python UDF

    def __init__(self, spec: dict, seed: int, work: str):
        import duckdb

        self.spec = spec
        self.src = os.path.join(work, "source")
        self.tgt = os.path.join(work, "target")
        self.pristine = (os.path.join(work, "target_pristine")
                         if spec["with_target"] else None)
        generate.write_account(seed, spec["containers"], self.src,
                               self.pristine)
        self.con = duckdb.connect()
        self.expected, self.pk = {}, {}
        for c in spec["containers"]:
            k = (c.database, c.name)
            self.pk[k] = generate.pk_paths(c.shape)
            target = (model.read_docs(self.con, self._path(self.pristine, k),
                                      self.pk[k])
                      if self.pristine else [])
            self.expected[k] = model.expect(
                model.read_docs(self.con, self._path(self.src, k),
                                self.pk[k]), target)
        self.source_bytes = _dir_stats(self.src)[0]

    @staticmethod
    def _path(root: str, k: tuple[str, str]) -> str:
        return os.path.join(root, k[0], k[1] + ".parquet")

    def touch(self, spark) -> None:
        for k in self.expected:
            spark.read.parquet(self._path(self.src, k)).count()

    def prepare(self) -> None:
        """Restore the pristine target (untimed)."""
        shutil.rmtree(self.tgt, ignore_errors=True)
        if self.pristine:
            shutil.copytree(self.pristine, self.tgt)
        else:
            os.makedirs(self.tgt)

    def run_pass(self, spark, tracer=None) -> list[dict]:
        from sync_cosmos_db_spark import orchestrator

        ops = []
        # the generated (database, container) pairs: listing them through
        # the catalog here would count the benchmark's own calls as the
        # program's in a traced pass
        for db, c in self.expected:
            op = {"key": (db, c), "error": None}
            try:
                summary = orchestrator.migrate_account_path(
                    spark, self.src, self.tgt, database=db, container=c,
                    sanitize=self.spec["sanitize"],
                    strong_verify=self.spec["strong_verify"],
                    max_parallel=1)
                op["result"] = summary["results"][db][c]
            except Exception as exc:  # an op that raises is a failure
                op["error"] = f"{type(exc).__name__}: {exc}"[:300]
            ops.append(op)
        return ops

    def check(self, ops: list[dict]) -> dict:
        """Check every completed container against the model (untimed)."""
        out = {"raised": 0, "wrong": 0, "docs_lost": 0,
               "docs_committed": 0, "problems": []}
        for op in ops:
            k = op["key"]
            exp = self.expected[k]
            if op["error"] is not None:
                out["raised"] += 1
                out["problems"].append(f"{k}: raised {op['error'][:120]}")
                continue
            r = op["result"]
            got = (r.inserted, r.updated, r.skipped, r.errors)
            written = self._path(self.tgt, k)
            after = model.read_keys(self.con, written, self.pk[k])
            problems = []
            if got != exp.counts:
                problems.append(f"counts {got} != expected {exp.counts}")
            missing = (exp.after - exp.before) - after
            if missing:
                problems.append(f"{len(missing)} source docs not written")
            if self.spec["sanitize"]:
                leaked = model.leaked_pii(self.con, self._path(self.src, k),
                                          written)
                if leaked:
                    problems.append(f"{leaked} docs keep source PII")
            if problems:
                out["wrong"] += 1
                out["problems"].append(f"{k}: " + "; ".join(problems))
            out["docs_committed"] += exp.valid
            out["docs_lost"] += model.docs_lost(exp, after)
        out["target_bytes"] = _dir_stats(self.tgt)[0]
        return out


class Queries:
    """A query workload over the harness tables in ``TABLES`` (fixed
    inputs: the seed does not change them). A pass executes every query
    and collects its output; each output is then compared, untimed, with
    the query's DuckDB twin."""

    python_workers = True

    def __init__(self, spec: dict, seed: int, work: str):
        from sync_cosmos_db_spark.queries import get_oracle_sql

        self.spec = spec
        self.tables = TABLES
        self.oracles = get_oracle_sql()
        spec = importlib.util.spec_from_file_location(
            "perfbench_oracle_utils",
            os.path.join(ROOT, "tests", "oracle_utils.py"))
        self.oracle_utils = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(self.oracle_utils)

    def touch(self, spark) -> None:
        """Build the registry (part of the program's set-up) and touch
        every table."""
        from sync_cosmos_db_spark.queries import get_queries
        from sync_cosmos_db_spark.session import load_table

        self.queries = get_queries()
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents",
                  "embeddings"):
            load_table(spark, self.tables, t).count()

    def prepare(self) -> None:
        pass

    def run_pass(self, spark, tracer=None) -> list[dict]:
        from sync_cosmos_db_spark import cache_scope

        ops = []
        for name in self.spec["queries"]:
            op = {"query": name, "error": None}
            try:
                with _maybe_span(tracer, f"query.{name}", "queries"):
                    with _maybe_span(tracer, "queries.build", "queries"):
                        df = self.queries[name](spark, self.tables)
                    with _maybe_span(tracer, "queries.action", "queries"):
                        op["output"] = _Collected(df.schema, df.toPandas())
            except Exception as exc:
                op["error"] = f"{type(exc).__name__}: {exc}"[:300]
            cache_scope.release_persisted()
            ops.append(op)
        return ops

    def check(self, ops: list[dict]) -> dict:
        """Compare each collected output with its DuckDB twin; a
        mismatch, or a check that cannot run (no twin, a DuckDB error),
        is a wrong output."""
        out = {"raised": 0, "wrong": 0, "problems": []}
        con = self.oracle_utils.duckdb_connect(self.tables)
        try:
            for op in ops:
                name = op["query"]
                if op["error"] is not None:
                    out["raised"] += 1
                    out["problems"].append(f"{name}: raised "
                                           f"{op['error'][:120]}")
                    continue
                try:
                    self.oracle_utils.compare(op.pop("output"), con,
                                              self.oracles[name], name=name)
                except Exception as exc:  # AssertionError, KeyError, ...
                    out["wrong"] += 1
                    out["problems"].append(f"{name}: {exc!r:.300}")
        finally:
            con.close()
        return out


class _Collected:
    """A query output already collected in a timed pass, shaped like the
    DataFrame ``oracle_utils.compare`` expects."""

    def __init__(self, schema, pdf):
        self.schema, self._pdf = schema, pdf

    def toPandas(self):
        return self._pdf


def _maybe_span(tracer, name: str, layer: str):
    return (tracer.span(name, layer) if tracer is not None
            else contextlib.nullcontext())


# ---------------------------------------------------------------------------
# session set-up
# ---------------------------------------------------------------------------

def _configure_env(work: str, cores: int) -> None:
    """Keep Spark's and Python's scratch files inside the run's work
    directory (no JVM perf-data file in /tmp either), and run local[N]
    on every core."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cores)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f'--driver-java-options "-Djava.io.tmpdir={tmp} -XX:-UsePerfData"'
        " pyspark-shell")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(
            os.pathsep) if p])


def set_up(workload, cores: int):
    """``session.get_spark`` plus the warm-up bench.py does: touch every
    input table once, then start the Python worker pool when the
    workload uses one."""
    from sync_cosmos_db_spark.session import get_spark

    spark = get_spark(app_name="perfbench",
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    workload.touch(spark)
    if workload.python_workers:
        spark.range(cores).repartition(cores).mapInPandas(
            lambda it: it, "id long").count()
    return spark


def _shutdown(spark) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# per-layer metrics of one traced pass
# ---------------------------------------------------------------------------

def layer_metrics(tracer, jobs, stages, wall_s: float, cores: int,
                  unattributed: int) -> dict[str, float]:
    spans = tracer.spans
    by_id = {s.id: s for s in spans}
    children: dict[str, list] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)

    def inclusive_jobs(s) -> int:
        return len(s.jobs) + sum(inclusive_jobs(c)
                                 for c in children.get(s.id, []))

    def named(name):
        return [s for s in spans if s.name == name]

    def outermost(layer):
        """Spans of a layer not nested in a span of the same layer."""
        out = []
        for s in spans:
            if s.layer != layer:
                continue
            p = by_id.get(s.parent)
            while p is not None and p.layer != layer:
                p = by_id.get(p.parent)
            if p is None:
                out.append(s)
        return out

    m: dict[str, float] = {}
    mc = named("migration.migrate_container")
    results = [s.attrs.get("result") or {} for s in mc]
    classified = sum(r.get("inserted", 0) + r.get("updated", 0)
                     + r.get("skipped", 0) for r in results)
    m["migration.migrate_container_ms"] = sum(s.ms for s in mc)
    m["migration.migrate_container_jobs"] = sum(map(inclusive_jobs, mc))
    m["migration.rows_classified"] = classified
    m["migration.skip_ratio"] = (sum(r.get("skipped", 0) for r in results)
                                 / classified if classified else 0.0)
    m["migration.quarantined"] = sum(r.get("errors", 0) for r in results)
    m["migration.classify_plan_ms"] = sum(
        s.ms for s in named("migration.classify_actions"))
    vm = named("migration.verify_migration")
    m["migration.verify_ms"] = sum(s.ms for s in vm)
    m["migration.verify_jobs"] = sum(map(inclusive_jobs, vm))
    m["document_model.plan_ms"] = sum(s.ms for s in
                                      outermost("document_model"))
    merges = named("sinks.merge_to_parquet")
    m["sinks.merge_ms"] = sum(s.ms for s in merges)
    m["sinks.merge_jobs"] = sum(map(inclusive_jobs, merges))
    written = [_dir_stats(s.attrs["path"]) for s in merges
               if "error" not in s.attrs and "path" in s.attrs]
    m["sinks.bytes_written"] = sum(w[0] for w in written)
    m["sinks.files_written"] = sum(w[1] for w in written)
    m["sinks.rows_written"] = sum(w[2] for w in written)
    m["sanitizer.plan_ms"] = sum(s.ms for s in outermost("sanitizer"))
    orch = [s for s in spans if s.layer == "orchestrator"]
    m["orchestrator.containers"] = len(
        named("orchestrator.migrate_container_path"))
    m["orchestrator.self_ms"] = sum(
        s.ms - sum(c.ms for c in children.get(s.id, [])) for s in orch)
    cat = outermost("sources.catalog")
    m["sources.catalog.calls"] = len(cat)
    m["sources.catalog.ms"] = sum(s.ms for s in cat)
    for part in ("build", "action"):
        ss = named(f"queries.{part}")
        m[f"queries.{part}_ms"] = sum(s.ms for s in ss)
        m[f"queries.{part}_jobs"] = sum(map(inclusive_jobs, ss))
    for q in QUERY_ITERATIVE:
        ss = named(f"query.{q}")
        m[f"query.{q}.s"] = sum(s.ms for s in ss) / 1000.0
        m[f"query.{q}.jobs"] = sum(map(inclusive_jobs, ss))
    lt = named("session.load_table")
    m["session.load_table_calls"] = len(lt)
    m["session.load_table_ms"] = sum(s.ms for s in lt)
    rel = named("cache_scope.release_persisted")
    m["cache_scope.release_ms"] = sum(s.ms for s in rel)
    m["cache_scope.released"] = sum(s.attrs.get("result") or 0
                                    for s in rel)
    st = stages.values()
    run_ms = sum(s["run_ms"] for s in st)
    m["spark.jobs"] = len(jobs)
    m["spark.stages"] = len(stages)
    m["spark.tasks"] = sum(s["tasks"] for s in st)
    m["spark.executor_run_ms"] = run_ms
    m["spark.executor_cpu_ms"] = sum(s["cpu_ms"] for s in st)
    m["spark.shuffle_write_bytes"] = sum(s["shuffle_write"] for s in st)
    m["spark.spill_bytes"] = sum(s["spill"] for s in st)
    m["spark.slot_busy_ratio"] = run_ms / (wall_s * 1000.0 * cores)
    m["trace.unattributed_jobs"] = unattributed
    return m


# ---------------------------------------------------------------------------
# one workload
# ---------------------------------------------------------------------------

def run_workload(args) -> int:
    spec = WORKLOADS[args.workload]
    start_wall = _process_start_wall()
    # the program must be importable from the checkout; fail before
    # generating anything when it is not
    sys.path.insert(0, ROOT)
    import sync_cosmos_db_spark.orchestrator  # noqa: F401
    import sync_cosmos_db_spark.queries  # noqa: F401

    cores = len(os.sched_getaffinity(0))
    contended = live_spark_drivers()
    if contended:
        print(f"WARNING: {len(contended)} other Spark JVM(s) live "
              f"(pids {contended}); timings are contended",
              file=sys.stderr)
    work = os.path.join(WORK, f"{args.workload}-seed{args.seed}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    _configure_env(work, cores)

    t_gen = time.time()
    workload = (Migration if spec["kind"] == "migration" else Queries)(
        spec, args.seed, work)
    gen_s = time.time() - t_gen

    # one set-up, timed from process start: a second one in the same
    # process would reuse the running JVM and the warm read plans, and
    # hide their cost
    spark = set_up(workload, cores)
    setup_s = time.time() - start_wall - gen_s

    attempted = failed = wrong = 0
    problems = []
    walls, checks, traced, traced_walls = [], [], [], []
    deadline = time.perf_counter() + args.seconds
    while True:
        # a traced run alternates untraced and traced passes
        use_trace = bool(args.trace) and len(walls) > len(traced_walls)
        workload.prepare()
        tracer, after = None, None
        if use_trace:
            after = tracing.last_job_id(spark.sparkContext)
            tracer = tracing.Tracer(spark)
            tracer.install()
        t0 = time.perf_counter()
        try:
            ops = workload.run_pass(spark, tracer)
        finally:
            wall = time.perf_counter() - t0
            if tracer is not None:
                tracer.uninstall()
        result = workload.check(ops)
        attempted += len(ops)
        failed += result["raised"] + result["wrong"]
        wrong += result["wrong"]
        problems += result["problems"]
        if use_trace:
            jobs, stages = tracing.read_jobs(spark.sparkContext, after)
            unattributed = tracer.attribute_jobs(jobs)
            traced.append((tracer, layer_metrics(
                tracer, jobs, stages, wall, cores, unattributed)))
            traced_walls.append(wall)
        else:
            walls.append(wall)
            checks.append(result)
        # a traced run ends on an untraced pass: U T U at least
        if time.perf_counter() >= deadline and (
                not args.trace or len(walls) > len(traced_walls) > 0):
            break

    peak_rss = peak_rss_mb()  # before the probe, which is not the program
    calib = calibration_probe_s(spark)
    _shutdown(spark)
    shutil.rmtree(work, ignore_errors=True)  # inputs and Spark scratch

    # the first pass of the fresh session: it pays code generation and
    # JIT warm-up the way a one-shot run does, and varies less from run
    # to run than the warm passes after it, whose speed depends on what
    # the JIT made of the first
    run_s, first = walls[0], checks[0]
    e2e = {"setup_s": setup_s, "run_s": run_s,
           "error_rate": failed / attempted,
           "peak_rss_mb": peak_rss}
    if spec["kind"] == "migration":
        e2e["docs_per_s"] = first["docs_committed"] / run_s
        e2e["docs_lost"] = first["docs_lost"]
        e2e["target_bytes_ratio"] = (first["target_bytes"]
                                     / workload.source_bytes)
    na = _not_applicable(spec["kind"], spec.get("sanitize", False))
    context = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "contended_spark_drivers": len(contended),
        "calibration_probe_s": calib,
        "input_generation_s": gen_s, "pass_walls_s": walls,
        "traced_pass_walls_s": traced_walls,
        "problems": sorted(set(problems))[:20],
    }
    print("perfbench context " + json.dumps(context))
    print("perfbench metrics " + json.dumps(
        {k: {"value": e2e.get(k), "unit": u}
         for k, u in END_TO_END.items()}))

    if args.trace:
        per_pass = [m for _, m in traced]
        metrics = {k: statistics.median(m[k] for m in per_pass)
                   for k in per_pass[0]}
        # the first pass is the only cold one: compare the traced
        # passes with the untraced passes that follow one
        metrics["trace.overhead_s"] = (statistics.median(traced_walls)
                                       - statistics.median(walls[1:]))
        out = {k: {"value": metrics[k], "unit": u}
               for k, u in PER_LAYER.items()}
        _write_spans(work + "-trace.json", traced, na)
        print("perfbench not_applicable " + json.dumps(na))
    else:
        out = {k: {"value": e2e[k], "unit": END_TO_END[k]}
               for k in _listed_end_to_end()}
    print(json.dumps({"correct": wrong == 0,
                      "attempted": attempted, "failed": failed,
                      "metrics": out}))
    return 0


def _listed_end_to_end() -> list[str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [m["name"] for m in json.load(f)["end_to_end"]]


def _write_spans(path: str, traced, na: dict) -> None:
    out = {"not_applicable": na, "passes": []}
    for tracer, metrics in traced:
        out["passes"].append({
            "metrics": metrics,
            "spans": [{"id": s.id, "name": s.name, "layer": s.layer,
                       "parent": s.parent, "main_thread": s.main,
                       "start_ms": s.wall0_ms, "ms": s.ms, "jobs": s.jobs,
                       "attrs": {k: v for k, v in s.attrs.items()
                                 if k != "_prev_group"}}
                      for s in tracer.spans]})
    with open(path, "w") as f:
        json.dump(out, f, default=str)


# ---------------------------------------------------------------------------
# every workload
# ---------------------------------------------------------------------------

def run_all(args) -> int:
    """Run each workload in its own process and print every end-to-end
    metric by name and unit."""
    rows, correct, attempted, failed, flat = {}, True, 0, 0, {}
    for name in WORKLOADS:
        proc = subprocess.run(
            [sys.executable, os.path.abspath(__file__), "--workload", name,
             "--seed", str(args.seed), "--seconds", str(args.seconds),
             "--trace", "0"], capture_output=True, text=True, timeout=600)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            print(f"{name}: exited {proc.returncode}")
            return 1
        full = next(json.loads(ln.split(" ", 2)[2]) for ln in lines
                    if ln.startswith("perfbench metrics "))
        last = json.loads(lines[-1])
        correct &= last["correct"]
        attempted += last["attempted"]
        failed += last["failed"]
        rows[name] = full
        for k, v in full.items():
            if v["value"] is not None:
                flat[f"{name}.{k}"] = v
    names = list(END_TO_END)
    print(f"{'workload':28s}" + "".join(f"{n:>20s}" for n in names))
    print(f"{'':28s}" + "".join(f"{'(' + END_TO_END[n] + ')':>20s}"
                                for n in names))
    for w, full in rows.items():
        cells = []
        for n in names:
            v = full[n]["value"]
            cells.append(f"{'n/a':>20s}" if v is None else f"{v:>20.4f}")
        print(f"{w:28s}" + "".join(cells))
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": flat}))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=sorted(WORKLOADS) + ["all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=4)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_workload(args)


if __name__ == "__main__":
    sys.exit(main())
