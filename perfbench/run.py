"""gmall-spark benchmark: one command, one workload per run.

    python3 perfbench/run.py --workload wh_backfill --seed 1 --seconds 15 --trace 0

Workloads (closed loop, one client, all from this process; Spark runs
at local[<cores>], the host's core count unless ``--cores`` says
otherwise):

  wh_backfill  one seeded gmall feed (perfbench/feed.py) lands in the
               ODS directories of a fresh ``Warehouse``; one full
               topology pass (every ``run_*`` job) runs, then the
               publisher answers ``gmv`` and ``trademark_top`` for
               each day of the feed.
  registry     the first entries of ``REGISTRY`` (``plans.QUERIES``
               names covering every plans module) over a seeded corpus
               (perfbench/corpus.py), swept twice; a query's wall is
               its time in the second sweep.

Every output is checked outside the timed region: the warehouse
against the feed's expected answers and streaming against batch on
watermark-closed windows, the registry against each query's DuckDB
oracle through tests/parity.py's canonical form. The last line of
stdout is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` -- the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. Spans are written to
``perfbench/.work/trace-<workload>-<seed>.json`` in a traced run.

Run it from the repository root: the Python workers import the
engine from the working directory (see perfbench/README.md).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from contextlib import contextmanager
from datetime import datetime

T0 = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK_ROOT = os.path.join(HERE, ".work")
CACHE = os.path.join(HERE, ".cache")

DRIVER_MEM = "3g"
SETUPS = 5                 # set-ups per run; setup_s is their median
# Work per second of --seconds: the backfill feed's sessions and
# orders, and the registry entries swept. Neither workload is cut
# short: one pass, or REGISTRY_SWEEPS sweeps.
SESSIONS_PER_SECOND = 50
ORDERS_PER_SECOND = 25
QUERIES_PER_SECOND = 0.45

# One full topology pass, in dependency order: (Warehouse method, span).
PASS = (
    ("run_base_db", "dwd.base_db"),
    ("run_base_log", "dwd.base_log"),
    ("run_unique_visitors", "dwm.unique_visit"),
    ("run_user_jumps", "dwm.user_jump"),
    ("run_order_wide", "dwm.order_wide"),
    ("run_payment_wide", "dwm.payment_wide"),
    ("run_visitor_stats", "dws.visitor_stats"),
    ("run_product_stats", "dws.product_stats"),
    ("run_visitor_stats_streaming", "dws.visitor_stats_streaming"),
    ("run_product_stats_streaming", "dws.product_stats_streaming"),
    ("run_keyword_stats_streaming", "dws.keyword_stats_streaming"),
    ("run_province_stats_streaming", "dws.province_stats_streaming"),
)

# The registry workload: a fixed list of registry entries, so every
# run asks the same work. Together they cover every plans module (the
# query family) and the layers the full registry stresses: relational
# joins, an event-time window, LSH dedup, brute-force similarity, the
# slowest text statistic (a pandas UDF), a graph query with eager
# construction, and a multimodal Arrow/pandas UDF query.
REGISTRY = (
    "pricing_summary", "visitor_stats_window", "minhash_band_pairs",
    "knn_bruteforce", "langid_trigram", "trade_pagerank",
    "media_features",
)
# The first sweep warms up (JIT and codegen compile each query's
# plan); a query's wall is its time in the sweep after it. One timed
# sweep, not more, keeps a run near 40 s on a slow host.
REGISTRY_SWEEPS = 2
_PY_NODES = ("ArrowEvalPython", "BatchEvalPython", "MapInPandas",
             "MapInArrow", "FlatMapGroupsInPandas",
             "FlatMapCoGroupsInPandas", "AggregateInPandas",
             "WindowInPandas")

WH_LAYER = [
    "sinks.upsert_dim.s", "sinks.upsert_dim.calls",
    "sinks.upsert_dim.spark_jobs", "dwd.base_log.s", "dwd.base_db.s",
    "dwd.rows_in", "dwd.dirty_rows", "sinks.write.s",
    "streaming.queries_started", "streaming.trigger.s",
    "streaming.add_batch.s", "streaming.overhead.s",
    "dwm.unique_visit.s", "dwm.user_jump.s", "dwm.state_rows",
    "dwm.state_bytes", "dwm.order_wide.s", "dwm.payment_wide.s",
    "dwm.join_state_rows",
] + [f"{span}.s" for _, span in PASS if span.startswith("dws.")] + [
    "publisher.gmv.s", "publisher.trademark_top.s"]
REGISTRY_FAMILIES = ("analytics", "dedup", "events", "quality",
                     "relational", "similarity", "text")
REG_LAYER = ["plans.build_s", "plans.build_jobs", "plans.plan_s"] + [
    f"operators.{f}.exec_s" for f in REGISTRY_FAMILIES] + [
    "exec.python_stage_s", "exec.jvm_stage_s", "exec.shuffle_write_bytes"]
COMMON_LAYER = ["session.start_s", "jvm.heap_peak_mb", "trace.total_s",
                "trace.spans"]
UNITS = {"calls": "count", "spark_jobs": "count", "rows_in": "rows",
         "dirty_rows": "rows", "queries_started": "count",
         "state_rows": "rows", "state_bytes": "bytes",
         "join_state_rows": "rows", "build_jobs": "count",
         "shuffle_write_bytes": "bytes", "spans": "count",
         "heap_peak_mb": "MB"}


def _log(msg: str) -> None:
    """Progress on stderr, stamped with seconds since the run began."""
    print(f"perfbench: +{time.perf_counter() - T0:.1f}s {msg}",
          file=sys.stderr, flush=True)


def _unit(name: str) -> str:
    return UNITS.get(name.rsplit(".", 1)[-1], "s")


def _pct(values: list[float], q: int) -> float:
    """q-th percentile (nearest rank on the sorted values)."""
    vs = sorted(values)
    return vs[min(len(vs) - 1, max(0, -(-q * len(vs) // 100) - 1))]


def _epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


class Tracer:
    """Spans kept in memory: name, start, end, parent and trace id.

    Disabled, ``span`` records nothing. Foreach-batch sinks run on the
    py4j callback thread while the main thread waits in
    ``awaitTermination``, so one shared stack still nests them under
    the job that started the query. Streaming figures come from the
    progress records of the queries the run started."""

    def __init__(self, on: bool):
        self.on = on
        self.spans: list[dict] = []
        self.progress: list[dict] = []
        self.started: list[float] = []
        self.queries: list = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, trace: str | None = None):
        if not self.on:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": len(self.spans), "name": name,
               "parent": parent["id"] if parent else None,
               "trace": trace or (parent["trace"] if parent else None),
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def wrap(self, module, attr: str, name: str) -> None:
        """Put a span around every call of ``module.attr``."""
        fn = getattr(module, attr)

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(module, attr, traced)

    def capture_queries(self) -> None:
        """Keep every streaming query started from now on, to read its
        progress records (``recentProgress``) after the run. A Python
        StreamingQueryListener would be the other source, but its
        callbacks slowed the traced pass by more than half."""
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        start = DataStreamWriter.start
        tracer = self

        def traced_start(writer, *args, **kwargs):
            query = start(writer, *args, **kwargs)
            tracer.queries.append((time.time(), query))
            return query

        DataStreamWriter.start = traced_start

    def read_progress(self) -> None:
        for started, query in self.queries:
            self.started.append(started)
            self.progress.extend(json.loads(p.json)
                                 for p in query.recentProgress)

    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def total(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def innermost(self, t: float) -> dict | None:
        """The deepest span open at epoch time ``t``."""
        best = None
        for s in self.spans:
            if s["start"] <= t < (s["end"] or float("inf")):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def within(self, t: float, names) -> bool:
        """Whether ``t`` falls inside a span named in ``names``."""
        s = self.innermost(t)
        while s is not None:
            if s["name"] in names:
                return True
            s = self.spans[s["parent"]] if s["parent"] is not None else None
        return False


# --------------------------------------------------------------- Spark
def spark_confs(work: str) -> dict[str, str]:
    """Keep every file Spark writes inside the benchmark's work dir."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return {"spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false"}


def stage_records(spark) -> list[dict]:
    """Every stage the live AppStatusStore holds, with the SQL plan of
    the execution it ran for (to tell Python-worker stages apart)."""
    jvm = spark._jvm
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    empty = jvm.java.util.ArrayList()
    stages = store.stageList(empty, False, False,
                             sc._gateway.new_array(jvm.double, 0), empty)
    python_stages: set[int] = set()
    execs = spark._jsparkSession.sharedState().statusStore() \
        .executionsList()
    for i in range(execs.size()):
        e = execs.apply(i)
        plan = e.physicalPlanDescription()
        if any(node in plan for node in _PY_NODES):
            it = e.stages().iterator()
            while it.hasNext():
                python_stages.add(int(it.next()))
    out = []
    for i in range(stages.size()):
        sd = stages.apply(i)
        sub = sd.submissionTime()
        if sub.isEmpty():
            continue
        out.append({"submitted": sub.get().getTime() / 1000,
                    "run_s": sd.executorRunTime() / 1000,
                    "shuffle_write": sd.shuffleWriteBytes(),
                    "python": sd.stageId() in python_stages})
    return out


def job_times(spark) -> list[float]:
    store = spark.sparkContext._jsc.sc().statusStore()
    jobs = store.jobsList(spark._jvm.java.util.ArrayList())
    out = []
    for i in range(jobs.size()):
        sub = jobs.apply(i).submissionTime()
        if not sub.isEmpty():
            out.append(sub.get().getTime() / 1000)
    return out


def peak_rss_mb(spark) -> float:
    """VmHWM of this driver process plus the driver JVM."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    hwm = {}
    for who, pid in (("python", os.getpid()), ("jvm", jvm_pid)):
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    hwm[who] = int(line.split()[1]) / 1024
    _log(f"VmHWM MB: {hwm}")
    return sum(hwm.values())


def heap_peak_mb(spark, reset: bool = False) -> float:
    """Peak JVM heap in use since the last reset, summed over the heap
    pools (MemoryPoolMXBean peak usage); ``reset`` starts a new peak.
    Unlike VmHWM it does not depend on how far G1 grew the heap."""
    beans = spark._jvm.java.lang.management.ManagementFactory \
        .getMemoryPoolMXBeans()
    pools = [beans.get(i) for i in range(beans.size())
             if beans.get(i).getType().name() == "HEAP"]
    peak = sum(p.getPeakUsage().getUsed() for p in pools) / 2 ** 20
    if reset:
        for p in pools:
            p.resetPeakUsage()
    return peak


def start_session(work: str, cores: int, warm_up):
    """Set the Spark session up ``SETUPS`` times (start, warm up) and
    keep the last; the first start also launches the JVM. Stopping the
    previous session is not timed: it is not set-up, and PySpark's stop
    waits up to 0.5 s for its accumulator server's poll loop. Returns
    (spark, median set-up seconds, first start seconds)."""
    from gmall_flink_2021_spark.session import get_spark

    spark, start_s, times = None, 0.0, []
    for i in range(SETUPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{cores}]",
                          extra=spark_confs(work))
        if i == 0:
            spark.sparkContext.setLogLevel("ERROR")
            start_s = time.perf_counter() - t0
        warm_up(spark)
        times.append(time.perf_counter() - t0)
    _log("set-ups: " + " ".join(f"{t:.3f}" for t in times))
    heap_peak_mb(spark, reset=True)
    return spark, statistics.median(times), start_s


def shutdown_spark() -> None:
    """Stop Spark, then the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    if SparkContext._active_spark_context is not None:
        SparkContext._active_spark_context.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.terminate()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


# ----------------------------------------------------------- workloads
def _warm_streaming(work: str):
    """Warm-up for the warehouse: one tiny text stream through a
    foreach-batch parquet write, in a directory of its own."""
    count = [0]

    def warm(spark) -> None:
        count[0] += 1
        base = os.path.join(work, f"warm-{count[0]}")
        os.makedirs(os.path.join(base, "in"))
        with open(os.path.join(base, "in", "a.txt"), "w") as f:
            f.write('{"a": 1}\n{"a": 2}\n')
        from pyspark.sql import functions as F

        stream = spark.readStream.format("text").load(
            os.path.join(base, "in")).select(
            F.get_json_object("value", "$.a").alias("a"))
        q = (stream.writeStream.foreachBatch(
                lambda b, i: b.write.mode("overwrite").parquet(
                    os.path.join(base, "out", str(i))))
             .option("checkpointLocation", os.path.join(base, "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination()

    return warm


def run_backfill(args, work: str, tracer: Tracer) -> dict:
    import feed as feedgen
    from gmall_flink_2021_spark.sources import gmall_fixtures as fx
    from gmall_flink_2021_spark.streaming import sinks
    from gmall_flink_2021_spark.streaming.warehouse import Warehouse

    fd = feedgen.build(args.seed,
                       sessions=SESSIONS_PER_SECOND * args.seconds,
                       orders=ORDERS_PER_SECOND * args.seconds)
    _log(f"feed built: {fd.events} events")
    spark, setup_s, start_s = start_session(work, args.cores,
                                            _warm_streaming(work))
    if tracer.on:
        tracer.wrap(sinks, "upsert_dim", "sinks.upsert_dim")
        tracer.wrap(sinks, "write_idempotent", "sinks.write")
        tracer.wrap(sinks, "write_routed", "sinks.write")
        tracer.capture_queries()
    wdir = os.path.join(work, "wh")
    wh = Warehouse(spark, wdir, fx.table_process_rows())
    with open(os.path.join(wdir, "ods_log", "log-0.txt"), "w") as f:
        f.write("\n".join(fd.log_lines) + "\n")
    with open(os.path.join(wdir, "ods_db", "changelog-0.jsonl"), "w") as f:
        f.writelines(json.dumps(r) + "\n" for r in fd.cdc_rows)

    errors: dict[str, str] = {}
    op_walls: list[float] = []
    answers: dict[str, dict] = {}
    t0 = time.perf_counter()
    with tracer.span("pass", trace=f"backfill-{args.seed}"):
        for method, name in PASS:
            t = time.perf_counter()
            try:
                with tracer.span(name):
                    getattr(wh, method)()
            except Exception:
                errors[name] = traceback.format_exc()
            op_walls.append(time.perf_counter() - t)
            _log(f"{name} {op_walls[-1]:.3f}s")
        for day in fd.expected["gmv"]:
            for name, ask in (("publisher.gmv", wh.gmv),
                              ("publisher.trademark_top", wh.trademark_top)):
                t = time.perf_counter()
                try:
                    with tracer.span(name):
                        answers[f"{name}:{day}"] = ask(day).collect()
                except Exception:
                    errors[f"{name}:{day}"] = traceback.format_exc()
                op_walls.append(time.perf_counter() - t)
    total = time.perf_counter() - t0

    counts = {}
    _log(f"pass done in {total:.3f}s")
    problems = check_backfill(spark, wh, fd.expected, answers, counts)
    _log("checked")
    for name, tb in errors.items():
        problems.setdefault(name, []).append(tb.strip().splitlines()[-1])
        print(f"perfbench: {name} raised:\n{tb}", file=sys.stderr)
    for name, msgs in problems.items():
        for m in msgs:
            print(f"perfbench: check failed in {name}: {m}",
                  file=sys.stderr)
    attempted = len(op_walls)
    failed = len(problems)            # one entry per failed operation
    print(f"perfbench: wh_backfill events={fd.events} pass_s={total:.3f} "
          f"events_per_s={fd.events / total:.1f} ops={attempted}",
          file=sys.stderr)
    result = {"attempted": attempted, "failed": failed,
              "total_s": total, "op_walls": op_walls,
              "setup_s": setup_s, "start_s": start_s,
              "peak_rss_mb": peak_rss_mb(spark),
              "heap_peak_mb": heap_peak_mb(spark)}
    if tracer.on:
        tracer.read_progress()
        result["layers"] = wh_layers(spark, tracer, counts)
    return result


def _rows(spark, *path) -> int:
    return spark.read.parquet(os.path.join(*path)).count()


def check_backfill(spark, wh, exp: dict, answers: dict,
                   counts: dict) -> dict[str, list[str]]:
    """Compare the pass's outputs with the feed's expected answers;
    returns problems keyed by the job whose output is wrong."""
    import datetime as dt

    from pyspark.sql import functions as F

    problems: dict[str, list[str]] = {}

    def expect(job: str, what: str, got, want) -> None:
        if got != want:
            problems.setdefault(job, []).append(
                f"{what}: got {got!r}, want {want!r}")

    def safe(job: str, fn) -> None:
        try:
            fn()
        except Exception as exc:                 # report, keep checking
            problems.setdefault(job, []).append(f"check raised {exc!r}")

    dwd = os.path.join(wh.work, "dwd")

    def log_counts():
        for key, table in (("dirty", "dirty"), ("start", "log_start"),
                           ("page", "log_page"),
                           ("display", "log_display")):
            counts[key] = _rows(spark, dwd, table)
            expect("dwd.base_log", key, counts[key], exp[key])

    def dim_counts():
        for table, n in exp["dims"].items():
            expect("dwd.base_db", f"dim_{table}",
                   wh.dim(f"dim_{table}").count(), n)

    def order_wide():
        ow = spark.read.parquet(os.path.join(dwd, "dwm_order_wide"))
        expect("dwm.order_wide", "rows", ow.count(), exp["order_wide"])
        expect("dwm.order_wide", "rows missing a dim",
               ow.filter(F.col("tm_name").isNull()
                         | F.col("province_name").isNull()
                         | F.col("user_gender").isNull()).count(), 0)

    def publisher():
        for day, want in exp["gmv"].items():
            got = answers.get(f"publisher.gmv:{day}")
            expect(f"publisher.gmv:{day}", "gmv",
                   got and str(got[0].gmv), want)
        for day, want in exp["trademark_top"].items():
            got = answers.get(f"publisher.trademark_top:{day}")
            expect(f"publisher.trademark_top:{day}", "top 5",
                   got and [(r.tm_id, r.tm_name, str(r.order_amount))
                            for r in got], [tuple(w) for w in want])

    def visitor_stream_vs_batch():
        # the streaming job must agree with the batch job on every
        # window the 1 s watermark has closed
        page = spark.read.parquet(os.path.join(dwd, "log_page"))
        max_et = page.agg(F.max(F.timestamp_millis("ts"))).collect()[0][0]
        horizon = max_et - dt.timedelta(seconds=1)
        dws = os.path.join(wh.work, "dws")
        batch = spark.read.parquet(os.path.join(dws, "visitor_stats"))
        stream = spark.read.parquet(
            os.path.join(dws, "visitor_stats_stream")).drop("batch_id")
        want = {tuple(r) for r in
                batch.filter(F.col("edt") <= horizon).collect()}
        got = {tuple(r) for r in
               stream.filter(F.col("edt") <= horizon).collect()}
        expect("dws.visitor_stats_streaming", "closed windows equal batch",
               bool(want) and got == want, True)

    safe("dwd.base_log", log_counts)
    safe("dwd.base_db", dim_counts)
    safe("dwm.unique_visit", lambda: expect(
        "dwm.unique_visit", "rows",
        _rows(spark, dwd, "dwm_unique_visit"), exp["unique_visit"]))
    safe("dwm.order_wide", order_wide)
    safe("dwm.payment_wide", lambda: expect(
        "dwm.payment_wide", "rows",
        _rows(spark, dwd, "dwm_payment_wide"), exp["payment_wide"]))
    safe("publisher.gmv:all", publisher)
    safe("dws.visitor_stats_streaming", visitor_stream_vs_batch)
    return problems


def streaming_layers(tracer: Tracer, names=None) -> dict[str, float]:
    prog = [p for p in tracer.progress
            if names is None or tracer.within(_epoch(p["timestamp"]), names)]
    trigger = sum(p["durationMs"].get("triggerExecution", 0)
                  for p in prog) / 1000
    add = sum(p["durationMs"].get("addBatch", 0) for p in prog) / 1000
    return {"rows_in": sum(p["numInputRows"] for p in prog),
            "trigger": trigger, "add_batch": add,
            "overhead": trigger - add, "progress": prog}


def _state(progress: list[dict], key: str) -> int:
    """State size at the end: the last progress of each query."""
    last = {}
    for p in progress:
        last[p["id"]] = p
    return sum(op.get(key, 0) for p in last.values()
               for op in p.get("stateOperators", []))


def wh_layers(spark, tracer: Tracer, counts: dict) -> dict[str, float]:
    jobs = job_times(spark)
    pass_names = {"pass"}
    eng = streaming_layers(tracer, pass_names)
    dwd = streaming_layers(tracer, {"dwd.base_db", "dwd.base_log"})
    dwm = streaming_layers(tracer, {"dwm.unique_visit", "dwm.user_jump"})
    joins = streaming_layers(tracer, {"dwm.order_wide", "dwm.payment_wide"})
    layers = {
        "sinks.upsert_dim.s": tracer.total("sinks.upsert_dim"),
        "sinks.upsert_dim.calls": len(tracer.named("sinks.upsert_dim")),
        "sinks.upsert_dim.spark_jobs": sum(
            1 for t in jobs if tracer.within(t, {"sinks.upsert_dim"})),
        "dwd.rows_in": dwd["rows_in"],
        "dwd.dirty_rows": counts.get("dirty", 0),
        "sinks.write.s": tracer.total("sinks.write"),
        "streaming.queries_started": sum(
            1 for t in tracer.started if tracer.within(t, pass_names)),
        "streaming.trigger.s": eng["trigger"],
        "streaming.add_batch.s": eng["add_batch"],
        "streaming.overhead.s": eng["overhead"],
        "dwm.state_rows": _state(dwm["progress"], "numRowsTotal"),
        "dwm.state_bytes": _state(dwm["progress"], "memoryUsedBytes"),
        "dwm.join_state_rows": _state(joins["progress"], "numRowsTotal"),
        "trace.total_s": tracer.total("pass"),
    }
    for _, name in PASS:
        layers[f"{name}.s"] = tracer.total(name)
    for name in ("publisher.gmv", "publisher.trademark_top"):
        layers[f"{name}.s"] = tracer.total(name)
    return layers


def _family(fn) -> str:
    """A query's family: the plans module that registers it."""
    return fn.__module__.rsplit(".", 1)[-1]


def _warm_registry(spark) -> None:
    """Warm-up for the registry: one shuffle."""
    from pyspark.sql import functions as F

    spark.range(1000).groupBy((F.col("id") % 10).alias("k")).count() \
        .collect()


def _digest(pdf) -> dict:
    from parity import canon_pandas

    rows = canon_pandas(pdf)
    return {"cols": sorted(pdf.columns), "rows": len(rows),
            "sha": hashlib.sha256(
                json.dumps(rows).encode()).hexdigest()}


def oracle_digests(data: str, names) -> dict[str, dict]:
    """The DuckDB oracle's canonical digest per query, cached on disk
    keyed by the corpus content and the oracle text."""
    from parity import duck_connect

    from gmall_flink_2021_spark.plans import ORACLES

    h = hashlib.sha256()
    for fn in sorted(os.listdir(data)):
        with open(os.path.join(data, fn), "rb") as f:
            h.update(fn.encode() + f.read())
    os.makedirs(CACHE, exist_ok=True)
    path = os.path.join(CACHE, f"oracle-{h.hexdigest()[:24]}.json")
    cached = {}
    if os.path.exists(path):
        with open(path) as f:
            cached = json.load(f)
    out, con = {}, None
    for name in names:
        key = hashlib.sha256(ORACLES[name].encode()).hexdigest()
        hit = cached.get(name)
        if hit and hit.get("oracle") == key:
            out[name] = hit
            continue
        if con is None:
            con = duck_connect(data)
        out[name] = {**_digest(con.execute(ORACLES[name]).df()),
                     "oracle": key}
    if out != cached:
        with open(path + ".tmp", "w") as f:
            json.dump(out, f)
        os.replace(path + ".tmp", path)
    return out


def run_registry(args, work: str, tracer: Tracer) -> dict:
    import math

    import corpus

    from gmall_flink_2021_spark.plans import QUERIES

    names = REGISTRY[:math.ceil(QUERIES_PER_SECOND * args.seconds)]
    data = corpus.write(args.seed, os.path.join(work, "corpus"))
    _log("corpus written")
    spark, setup_s, start_s = start_session(work, args.cores,
                                            _warm_registry)
    walls: dict[str, list[float]] = {name: [] for name in names}
    digests: dict[str, list] = {name: [] for name in names}
    errors: dict[str, str] = {}
    for sweep in range(REGISTRY_SWEEPS):
        for name in names:
            t0 = time.perf_counter()
            try:
                with tracer.span("query", trace=f"{name}-{sweep}"):
                    with tracer.span("plans.build"):
                        df = QUERIES[name](spark, data)
                    with tracer.span("plans.plan"):
                        df._jdf.queryExecution().executedPlan()
                    with tracer.span(f"operators.{_family(QUERIES[name])}"
                                     ".exec"):
                        pdf = df.toPandas()
                digests[name].append(_digest(pdf))
            except Exception:
                digests[name].append(None)
                errors[name] = traceback.format_exc()
            walls[name].append(time.perf_counter() - t0)
            spark.catalog.clearCache()
        _log(f"sweep {sweep} of {len(names)} queries done")

    want = oracle_digests(data, names)
    _log("oracles ready")
    failed = 0
    for name in names:
        exp = {k: want[name][k] for k in ("cols", "rows", "sha")}
        bad = [d for d in digests[name] if d != exp]
        if bad:
            failed += len(bad)
            why = (errors[name].strip().splitlines()[-1] if name in errors
                   else f"result {bad[0]} differs from the oracle's {exp}")
            print(f"perfbench: {name} failed {len(bad)}x: {why}",
                  file=sys.stderr)
    timed = {name: w[1:] for name, w in walls.items()}
    per_query = [statistics.median(w) for w in timed.values()]
    _log("per-query walls: " + ", ".join(
        f"{n} {'/'.join(f'{x:.2f}' for x in w)}" for n, w in walls.items()))
    total = sum(per_query)
    print(f"perfbench: registry queries={len(names)} total_s={total:.3f}",
          file=sys.stderr)
    result = {"attempted": len(names) * REGISTRY_SWEEPS, "failed": failed,
              "total_s": total, "op_walls": per_query,
              "setup_s": setup_s, "start_s": start_s,
              "peak_rss_mb": peak_rss_mb(spark),
              "heap_peak_mb": heap_peak_mb(spark)}
    if tracer.on:
        result["layers"] = registry_layers(spark, tracer)
    return result


def _by_query(tracer: Tracer) -> dict[str, list[float]]:
    walls: dict[str, list[float]] = {}
    for sp in tracer.named("query"):
        name = sp["trace"].rsplit("-", 1)[0]
        walls.setdefault(name, []).append(sp["end"] - sp["start"])
    return walls


def registry_layers(spark, tracer: Tracer) -> dict:
    jobs = job_times(spark)
    exec_names = {f"operators.{f}.exec" for f in REGISTRY_FAMILIES}
    stages = [s for s in stage_records(spark)
              if tracer.within(s["submitted"], exec_names)]
    layers = {
        "plans.build_s": tracer.total("plans.build"),
        "plans.build_jobs": sum(
            1 for t in jobs if tracer.within(t, {"plans.build"})),
        "plans.plan_s": tracer.total("plans.plan"),
        "exec.python_stage_s": sum(s["run_s"] for s in stages
                                   if s["python"]),
        "exec.jvm_stage_s": sum(s["run_s"] for s in stages
                                if not s["python"]),
        "exec.shuffle_write_bytes": sum(s["shuffle_write"]
                                        for s in stages),
        # the traced run's total_s, computed as total_s is
        "trace.total_s": sum(statistics.median(ws[1:])
                             for ws in _by_query(tracer).values()),
    }
    for f in REGISTRY_FAMILIES:
        layers[f"operators.{f}.exec_s"] = tracer.total(
            f"operators.{f}.exec")
    return layers


WORKLOADS = {"wh_backfill": run_backfill, "registry": run_registry}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--cores", type=int,
                    default=len(os.sched_getaffinity(0)),
                    help="Spark local[N] (default: the host's cores)")
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    sys.path.insert(1, os.path.join(ROOT, "tests"))
    os.environ["SPARK_GRAFT_CPUS"] = str(args.cores)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    try:
        import parity  # noqa: F401
        import gmall_flink_2021_spark.session  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine is not importable from {ROOT}: "
              f"{exc}", file=sys.stderr)
        return 2

    work = os.path.join(WORK_ROOT, f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    tracer = Tracer(bool(args.trace))
    try:
        r = WORKLOADS[args.workload](args, work, tracer)
    finally:
        if "pyspark" in sys.modules:
            shutdown_spark()
        shutil.rmtree(work, ignore_errors=True)
    _log("stopped")

    if args.trace:
        metrics = {k: r["layers"].get(k, 0) for k in WH_LAYER + REG_LAYER}
        metrics.update(zip(COMMON_LAYER, (
            r["start_s"], r["heap_peak_mb"], r["layers"]["trace.total_s"],
            len(tracer.spans))))
        with open(os.path.join(
                WORK_ROOT, f"trace-{args.workload}-{args.seed}.json"),
                "w") as f:
            json.dump({"spans": tracer.spans,
                       "progress": tracer.progress}, f)
        metrics = {k: {"value": v, "unit": _unit(k)}
                   for k, v in metrics.items()}
    else:
        metrics = {
            "setup_s": {"value": r["setup_s"], "unit": "s"},
            "total_s": {"value": r["total_s"], "unit": "s"},
            "op_p50_s": {"value": statistics.median(r["op_walls"]),
                         "unit": "s"},
            "op_p90_s": {"value": _pct(r["op_walls"], 90), "unit": "s"},
            "peak_rss_mb": {"value": r["peak_rss_mb"], "unit": "MB"},
        }
    print(json.dumps({"correct": r["failed"] == 0,
                      "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
