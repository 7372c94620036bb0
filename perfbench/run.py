"""Steady-state benchmark of the engine, one workload per process.

Run from the repository root:

    python3 perfbench/run.py --workload pipelines --seed 1 --seconds 15 --trace 0

A run generates its inputs from ``--seed`` (before the clock starts), starts
a Spark session on ``local[<nproc>]`` through the package's ``get_spark``,
loads the workload's base tables, makes an untimed warm-up pass (the
*checked* pass), then makes timed passes until ``--seconds`` have gone by
and the workload's minimum number of passes is made.
It checks the outputs, stops Spark, and prints one JSON context line and,
last, the result line ``{"correct", "attempted", "failed", "metrics"}``.

With ``--trace 0`` the metrics are the end-to-end ones (END_TO_END). With
``--trace 1`` every second timed pass is traced — job group per step, spans
around each step and each wrapped public call — and the metrics are the
per-layer ones (PER_LAYER), read from the traced passes' spans and the
Spark status store; the untraced passes in between give the tracing
overhead. Spans are written to ``perfbench/out/``.
"""

from __future__ import annotations

import argparse
import contextlib
import datetime as dt
import decimal
import hashlib
import importlib
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import gen
import procstat
import stats
from spans import Tracer, self_times, union_length
from workloads import (WORKLOADS, Step, ingest_steps, pipeline_checks,
                       registry_steps)

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "fts_errors_clustering_spark"
#: untimed passes between set-up and the timed window; the first is the
#: checked pass. One is all a run's time budget affords: pass times keep
#: falling for several passes as the JVM compiles more code (README.md).
WARMUP_PASSES = 1
#: timed passes a traced run makes at least: it alternates untraced /
#: traced / untraced so that the drift between neighbouring passes cancels
#: out of the tracing overhead
MIN_TRACED_RUN_PASSES = 3

END_TO_END = {"setup_s": "s", "pass_s": "s", "cpu_s": "s", "peak_rss_mb": "MB"}

#: the eager public calls the two pipelines compose, wrapped in spans on
#: traced passes (module whose namespace the pipelines call them from,
#: function names)
PHASES = (
    (f"{PACKAGE}.operators.pipelines",
     ("fit_tfidf", "fit_lsa_svd", "fit_kmeans_best",
      "external_cluster_metrics", "fit_word2vec", "dbscan_labels")),
    (f"{PACKAGE}.operators.knn", ("knee_epsilon_value",)),
)
PHASE_METRICS = ("tfidf.fit_tfidf", "tfidf.fit_lsa_svd",
                 "clustering.fit_kmeans_best",
                 "clustering.external_cluster_metrics",
                 "clustering.fit_word2vec", "knn.knee_epsilon_value",
                 "dbscan.dbscan_labels")
OPERATOR_MODULES = ("dedup", "similarity", "curation", "graph", "bpe",
                    "retrieval", "textstats", "relational", "pipelines")

PER_LAYER = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "driver.self_s": "s",
    "registry.build_s": "s", "registry.materialize_s": "s",
    "registry.release_s": "s",
    "spark.executor_cpu_s": "s", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    **{f"operators.{m}.s": "s" for m in OPERATOR_MODULES},
    **{f"{p}_s": "s" for p in PHASE_METRICS},
    "sources.json_read_s": "s", "sources.publish_s": "s",
    "sources.readback_s": "s", "sources.bytes_written_per_input_byte": "ratio",
    "sources.table_load_s": "s",
    "spark.cached_mb": "MB", "session.start_s": "s",
    "trace.pass_s": "s", "trace.overhead_s": "s", "trace.query_self_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def pin_environment(work: str, tables_dir: str) -> dict[str, str]:
    """Host-facing settings the package reads from the environment. Every
    program-decided Spark setting stays at the package's default."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    env = {
        # the package defaults to 32, i.e. local[32] on any host
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        # session partition sizing walks this directory
        "SPARK_GRAFT_SF_DIR": tables_dir,
        "SPARK_LOCAL_DIRS": local,
        # Python workers import the package from the checkout
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        # keep every temporary file inside the checkout
        "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f'"-Djava.io.tmpdir={tmp}" -XX:-UsePerfData',
    }
    os.environ.update(env)
    import tempfile
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return env


# --- result hashing and the DuckDB oracle ------------------------------------

def _norm(v):
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if isinstance(v, dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def _row_key(t):
    return tuple((v is None, str(type(v)), str(v)) for v in t)


def canonical_rows(columns: list[str], rows) -> list[tuple]:
    """Rows as tuples of normalised cells, columns ordered by lower-cased
    name, rows in a total order: equal results give equal lists whatever
    the engine's row and column order."""
    idx = sorted(range(len(columns)), key=lambda i: columns[i].lower())
    return sorted((tuple(_norm(r[i]) for i in idx) for r in rows), key=_row_key)


def result_hash(rows) -> str:
    """Order-insensitive hash of collected rows."""
    canon = sorted((tuple(_norm(v) for v in r) for r in rows), key=_row_key)
    return hashlib.sha256(repr(canon).encode()).hexdigest()


def oracle_mismatch(duck, sql: str, columns: list[str], rows) -> str | None:
    res = duck.execute(sql)
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()
    if sorted(c.lower() for c in columns) != sorted(c.lower() for c in dcols):
        return f"columns {sorted(columns)} != oracle {sorted(dcols)}"
    if len(rows) != len(drows):
        return f"{len(rows)} rows != oracle {len(drows)}"
    if canonical_rows(columns, rows) != canonical_rows(dcols, drows):
        return "values differ from the oracle"
    return None


def check_outputs(steps: list[Step], checked: Pass, later: list[Pass],
                  duck) -> dict:
    """Count every step execution of every pass as one attempt, and as a
    failure when it raised, when the checked pass's rows break the step's
    invariant or differ from its DuckDB oracle, or when a later pass's
    rows hash differently from the checked pass's."""
    out = {"attempted": 0, "failed": 0, "oracle_matched": 0,
           "invariants_held": 0, "hashes_matched": 0, "failures": []}
    checked_hash: dict[str, str] = {}

    def record(p, step, err):
        out["attempted"] += 1
        if err is not None:
            out["failed"] += 1
            if len(out["failures"]) < 20:
                out["failures"].append(f"pass {p.index} {step.name}: {err}")

    for step in steps:
        err = checked.errors.get(step.name)
        if err is None and step.check is not None:
            err = step.check(checked.rows[step.name])
            out["invariants_held"] += err is None
        if err is None and step.oracle is not None:
            err = oracle_mismatch(duck, step.oracle, checked.columns[step.name],
                                  checked.rows[step.name])
            out["oracle_matched"] += err is None
        if err is None and not step.volatile:
            checked_hash[step.name] = result_hash(checked.rows[step.name])
        record(checked, step, err)
    for p in later:
        for step in steps:
            err = p.errors.get(step.name)
            if err is None and step.name in checked_hash:
                if result_hash(p.rows[step.name]) != checked_hash[step.name]:
                    err = "result hash differs from the checked pass"
                else:
                    out["hashes_matched"] += 1
            record(p, step, err)
    return out


# --- Spark status store -------------------------------------------------------

def stage_stats(spark, group: str, epoch_offset: float) -> dict:
    """Jobs, stages, tasks and stage metrics of one job group. Stage spans
    come back in the perf_counter time base (``epoch_offset`` = wall clock
    minus perf_counter)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    out = {"jobs": 0, "stages": 0, "tasks": 0, "cpu_s": 0.0,
           "shuffle_read": 0, "shuffle_write": 0, "spill": 0, "spans": []}
    for jid in tracker.getJobIdsForGroup(group):
        out["jobs"] += 1
        info = tracker.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            d = store.lastStageAttempt(sid)
            if d.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += d.numTasks()
            out["cpu_s"] += d.executorCpuTime() / 1e9
            out["shuffle_read"] += d.shuffleReadBytes()
            out["shuffle_write"] += d.shuffleWriteBytes()
            out["spill"] += d.diskBytesSpilled()
            sub, done = d.submissionTime(), d.completionTime()
            if sub.isDefined() and done.isDefined():
                out["spans"].append(
                    (sub.get().getTime() / 1e3 - epoch_offset,
                     done.get().getTime() / 1e3 - epoch_offset))
    return out


def jvm_busy_ms(spark) -> tuple[int, int]:
    """Total JIT-compilation and garbage-collection milliseconds the driver
    JVM has spent so far."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    gc = sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans())
    return mf.getCompilationMXBean().getTotalCompilationTime(), gc


def cached_mb(spark) -> float:
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


@contextlib.contextmanager
def phase_spans(tracer: Tracer):
    """Wrap the pipelines' eager public calls in spans for one pass."""
    saved = []
    for modname, names in PHASES:
        mod = importlib.import_module(modname)
        for n in names:
            fn = getattr(mod, n)
            saved.append((mod, n, fn))
            owner = fn.__module__.rsplit(".", 1)[1]
            setattr(mod, n, tracer.wrap(f"{owner}.{n}", fn))
    try:
        yield
    finally:
        for mod, n, fn in saved:
            setattr(mod, n, fn)


# --- one pass -----------------------------------------------------------------

class Pass:
    """Walls, CPU, rows and errors of one pass over the workload's steps."""

    def __init__(self, index: int, traced: bool):
        self.index = index
        self.traced = traced
        self.wall = 0.0
        self.cpu = 0.0
        self.step_wall: dict[str, float] = {}
        self.rows: dict[str, list] = {}
        self.columns: dict[str, list[str]] = {}
        self.errors: dict[str, str] = {}
        self.stages: dict[str, dict] = {}
        self.cached_mb = 0.0
        self.jit_ms = 0
        self.gc_ms = 0


def run_pass(spark, steps: list[Step], tracer: Tracer, index: int,
             traced: bool, run_id: str) -> Pass:
    sc = spark.sparkContext
    p = Pass(index, traced)
    tracer.enabled = traced
    pid = os.getpid()
    with (phase_spans(tracer) if traced else contextlib.nullcontext()):
        jit0, gc0 = jvm_busy_ms(spark)
        cpu0 = procstat.tree_cpu_s(pid)
        t0 = time.perf_counter()
        with tracer.span("pass", index=index):
            for step in steps:
                if traced:
                    sc.setJobGroup(f"{run_id}/{index}/{step.name}", step.name)
                ts = time.perf_counter()
                try:
                    with tracer.span(step.name, layer=step.layer):
                        with tracer.span("build"):
                            obj = step.build()
                        with tracer.span("materialize"):
                            rows = step.materialize(obj)
                        with tracer.span("release"):
                            step.release()
                    p.rows[step.name] = rows
                except Exception as ex:  # noqa: BLE001 — counted as a failure
                    p.errors[step.name] = f"{type(ex).__name__}: {ex}"[:500]
                p.step_wall[step.name] = time.perf_counter() - ts
                if index == 0 and step.name in p.rows and hasattr(obj, "columns"):
                    p.columns[step.name] = list(obj.columns)  # the checked pass
        p.wall = time.perf_counter() - t0
        p.cpu = procstat.tree_cpu_s(pid) - cpu0
    jit1, gc1 = jvm_busy_ms(spark)
    p.jit_ms, p.gc_ms = jit1 - jit0, gc1 - gc0
    tracer.enabled = False
    if traced:
        sc.setLocalProperty("spark.jobGroup.id", None)
        # the status store is fed by the asynchronous listener bus: let it
        # apply the last step's stage and job end events before reading it
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        offset = time.time() - time.perf_counter()
        for step in steps:
            p.stages[step.name] = stage_stats(
                spark, f"{run_id}/{index}/{step.name}", offset)
        p.cached_mb = cached_mb(spark)
    return p


# --- per-layer metrics from the traced passes --------------------------------

def _median(values) -> float:
    values = list(values)
    return statistics.median(values) if values else 0.0


def per_layer(steps: list[Step], traced: list[Pass], untraced: list[Pass],
              tracer: Tracer, setup: dict) -> dict[str, float]:
    by_parent: dict[int, list] = {}
    for s in tracer.spans:
        by_parent.setdefault(s.parent, []).append(s)
    self_t = self_times(tracer.spans)
    pass_spans = {s.attrs["index"]: s for s in tracer.spans if s.name == "pass"}
    query_steps = {s.name for s in steps if s.layer.startswith("operators.")}

    def descendants(span):
        todo, out = list(by_parent.get(span.id, [])), []
        while todo:
            s = todo.pop()
            out.append(s)
            todo.extend(by_parent.get(s.id, []))
        return out

    rows: list[dict[str, float]] = []
    for p in traced:
        m: dict[str, float] = {k: 0.0 for k in PER_LAYER}
        ps = pass_spans[p.index]
        for step_span in by_parent.get(ps.id, []):
            st = p.stages.get(step_span.name, {})
            m["spark.jobs"] += st.get("jobs", 0)
            m["spark.stages"] += st.get("stages", 0)
            m["spark.tasks"] += st.get("tasks", 0)
            m["spark.executor_cpu_s"] += st.get("cpu_s", 0.0)
            m["spark.shuffle_read_mb"] += st.get("shuffle_read", 0) / 1e6
            m["spark.shuffle_write_mb"] += st.get("shuffle_write", 0) / 1e6
            m["spark.spill_mb"] += st.get("spill", 0) / 1e6
            m["driver.self_s"] += step_span.duration - union_length(
                st.get("spans", []), step_span.start, step_span.end)
            for child in descendants(step_span):
                if child.name in PHASE_METRICS:
                    m[f"{child.name}_s"] += self_t[child.id]
                else:
                    m["trace.query_self_s"] += self_t[child.id]
                if (step_span.name in query_steps
                        and child.parent == step_span.id):
                    key = f"registry.{child.name}_s"
                    if key in m:
                        m[key] += child.duration
            m["trace.query_self_s"] += self_t[step_span.id]
        m["spark.cached_mb"] = p.cached_mb
        m["trace.pass_s"] = p.wall
        rows.append(m)
    out = {k: _median(r[k] for r in rows) for k in PER_LAYER}
    # wall-clock layer figures come from the untraced passes
    for mod in OPERATOR_MODULES:
        names = [s.name for s in steps if s.layer == f"operators.{mod}"]
        out[f"operators.{mod}.s"] = _median(
            sum(p.step_wall.get(n, 0.0) for n in names) for p in untraced)
    for step_name, key in (("ingest.json_read", "sources.json_read_s"),
                           ("ingest.publish", "sources.publish_s"),
                           ("ingest.readback", "sources.readback_s")):
        out[key] = _median(p.step_wall[step_name] for p in untraced
                           if step_name in p.step_wall)
    out["trace.overhead_s"] = tracing_overhead(traced + untraced)
    out["sources.bytes_written_per_input_byte"] = setup.get("bytes_ratio", 0.0)
    out["sources.table_load_s"] = setup["table_load_s"]
    out["session.start_s"] = setup["session_start_s"]
    return out


def tracing_overhead(passes: list[Pass]) -> float:
    """Median over traced passes of the pass's wall minus the mean wall of
    the untraced passes either side of it."""
    by_index = {p.index: p for p in passes}
    deltas = [p.wall - (by_index[p.index - 1].wall
                        + by_index[p.index + 1].wall) / 2
              for p in passes if p.traced
              and p.index - 1 in by_index and p.index + 1 in by_index]
    return _median(deltas)


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f))
               for r, _, fs in os.walk(path) for f in fs)


# --- process lifetime ----------------------------------------------------------

def stop_spark(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, the JVM and every process the JVM started, and wait
    until each has ended."""
    from pyspark import SparkContext
    pid = os.getpid()
    started = procstat.tree_pids(pid)[1:]
    spark.stop()
    gw = SparkContext._gateway
    if gw is not None:
        gw.shutdown()
        proc = getattr(gw, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=timeout_s)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.monotonic() + timeout_s
    for child in started:
        while procstat.is_running(child):
            if time.monotonic() > deadline:
                os.kill(child, 9)
                deadline = time.monotonic() + 5.0
            time.sleep(0.05)


# --- the run ---------------------------------------------------------------------

def run(wl, args, work: str) -> tuple[dict, dict]:
    run_id = f"{wl.name}-{args.seed}-{os.getpid()}"
    tables_dir = os.path.join(work, "tables")
    table_rows = gen.write_tables(args.seed, tables_dir)
    corpus_dir = os.path.join(work, "rucio")
    corpus = gen.write_rucio_corpus(args.seed, corpus_dir) if wl.ingest else None
    env = pin_environment(work, tables_dir)
    checks = pipeline_checks(tables_dir)
    context: dict = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace,
        "inputs": {"tables": table_rows, "rucio_corpus": corpus,
                   "from": "generated from --seed by perfbench/gen.py"},
        "env": env,
        "nproc": len(os.sched_getaffinity(0)),
        "load1_start": os.getloadavg()[0],
    }
    setup: dict = {}
    tracer = Tracer(run_id)
    pid = os.getpid()

    with procstat.PeakRss(pid) as rss:
        t0 = time.perf_counter()
        from fts_errors_clustering_spark.session import get_spark
        from fts_errors_clustering_spark.sources import readers
        spark = get_spark("perfbench")
        setup["session_start_s"] = time.perf_counter() - t0
        try:
            import pyspark
            context.update(
                pyspark=pyspark.__version__,
                java=spark._jvm.System.getProperty("java.version"),
                shuffle_partitions=spark.conf.get("spark.sql.shuffle.partitions"))
            t = time.perf_counter()
            readers.set_table_cache(bool(wl.cached_tables))
            for name in wl.cached_tables:
                readers.table(spark, tables_dir, name).count()
            setup["table_load_s"] = time.perf_counter() - t

            steps = (ingest_steps(spark, corpus_dir,
                                  os.path.join(work, "published"),
                                  corpus["failed"]) if wl.ingest else [])
            steps += registry_steps(spark, tables_dir, wl.queries, checks)

            warm = [run_pass(spark, steps, tracer, i, False, run_id)
                    for i in range(WARMUP_PASSES)]
            checked = warm[0]
            timed: list[Pass] = []
            min_passes = max(wl.min_timed_passes,
                             MIN_TRACED_RUN_PASSES if args.trace else 1)
            t_window = time.perf_counter()
            setup_s = t_window - t0
            setup_peak = dict(rss.snapshot())
            while (time.perf_counter() - t_window < args.seconds
                   or len(timed) < min_passes):
                i = WARMUP_PASSES + len(timed)
                timed.append(run_pass(spark, steps, tracer, i,
                                      bool(args.trace) and len(timed) % 2 == 1,
                                      run_id))
            if wl.ingest:
                from fts_errors_clustering_spark.sources.sinks import \
                    read_latest_version
                published = os.path.join(work, "published")
                latest = f"v={read_latest_version(published)}"
                setup["bytes_ratio"] = (_dir_bytes(os.path.join(published, latest))
                                        / corpus["gz_bytes"])
        finally:
            t = time.perf_counter()
            stop_spark(spark)
            setup["stop_s"] = time.perf_counter() - t

    # --- output checks, outside every timed region ---
    import duckdb
    duck = duckdb.connect()
    for name in readers.TABLES:
        duck.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet("
                     f"'{os.path.join(tables_dir, name)}.parquet')")
    outcome = check_outputs(steps, checked, warm[1:] + timed, duck)
    duck.close()

    untraced = [p for p in timed if not p.traced]
    traced = [p for p in timed if p.traced]
    context.update(
        load1_end=os.getloadavg()[0],
        checks={k: outcome[k] for k in ("oracle_matched", "invariants_held",
                                        "hashes_matched", "failures")},
        warmup_pass_s=[p.wall for p in warm],
        timed_pass_s=[p.wall for p in timed],
        pass_cpu_s=[p.cpu for p in warm + timed],
        pass_jit_ms=[p.jit_ms for p in warm + timed],
        pass_gc_ms=[p.gc_ms for p in warm + timed],
        pass_s=stats.summary([p.wall for p in untraced]),
        cpu_s=stats.summary([p.cpu for p in untraced]),
        step_median_s={s.name: _median(p.step_wall.get(s.name, 0.0)
                                       for p in untraced) for s in steps},
        setup=setup,
        setup_peak_rss_mb=setup_peak,
        run_peak_rss_mb=rss.peak,
    )
    if args.trace:
        tracer.dump(os.path.join(HERE, "out", f"spans-{run_id}.jsonl"))
        metrics = per_layer(steps, traced, untraced, tracer, setup)
        units = PER_LAYER
    else:
        metrics = {"setup_s": setup_s,
                   "pass_s": _median(p.wall for p in untraced),
                   "cpu_s": _median(p.cpu for p in untraced),
                   "peak_rss_mb": setup_peak["total"]}
        units = END_TO_END
    result = {"correct": outcome["failed"] == 0,
              "attempted": outcome["attempted"], "failed": outcome["failed"],
              "metrics": {k: {"value": metrics[k], "unit": units[k]}
                          for k in units}}
    return context, result


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: no {PACKAGE} package under {ROOT}", file=sys.stderr)
        return 2
    wl = WORKLOADS[args.workload]
    work = os.path.join(HERE, ".work", f"{wl.name}-{args.seed}-{os.getpid()}")
    if args.trace:
        os.makedirs(os.path.join(HERE, "out"), exist_ok=True)
    try:
        context, result = run(wl, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({"context": context}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
