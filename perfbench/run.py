"""Benchmark command for the lineage + LLM-data-pipeline engine.

    python3 perfbench/run.py --workload {curate,sql_audit} \
        --seed N --seconds S --trace {0,1} [--sf X]

Run from the repository root. One process, one client thread, closed
loop, ``local[<cores>]``. A run:

1. set-up (timed as ``setup_s``): generate the inputs (from a fixed data
   seed, so every run measures the same data), start the session, warm
   up, materialize the TPC-DS shim tables, register the audit listener
   and build the tracked views of ``examples/llm_curation_pipeline.py``;
2. one untimed verification pass: every op's rows are compared with the
   DuckDB oracle (row count and digest, as ``tools/check_oracle.py``
   computes them), and the catalog-mode lineage edges with
   ``tests/goldens/llm_pipeline_catalog_*.edges``. This pass runs every
   op once, cold, so it is also a warm-up; ``workloads.WARMUP_PASSES``
   adds untimed passes after it;
3. timed passes until ``--seconds`` have elapsed and at least
   ``workloads.MIN_PASSES`` passes have run (one with ``--seconds 0``). The
   ``--seed`` permutes the op order of each pass. A ``count()`` that
   differs from the verified row count, or a lineage graph whose node or
   edge counts differ from the verification pass, counts as a failed op;
4. host anchors (``bench.py``'s md5, shuffle and fsync shapes).

``--trace 0`` reports the end-to-end metrics of ``BENCHMARK.json``;
``--trace 1`` reports its per-layer metrics, from spans recorded in
memory around the benchmark's calls into each module (written to
``perfbench/out/`` at exit), Spark's event log and UDF profiler, and
py4j / Catalyst listeners the benchmark owns. Per-layer values are per
timed pass unless they belong to set-up. The last stdout line is the
JSON result; the lines before it are a readable report with sample
counts.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import re
import shlex
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import datagen  # noqa: E402
import workloads as W  # noqa: E402
from spans import (  # noqa: E402
    CatalystListener,
    NullTracer,
    Py4jCounter,
    Tracer,
    parse_event_log,
    phases_ms,
    udf_profile_s,
)

#: rows of the md5 and shuffle anchors (bench.py uses 20M; a fortieth keeps
#: a run short while staying well above per-job overheads)
ANCHOR_ROWS = 500_000


def _now_ms() -> float:
    return time.time() * 1000.0


class RssSampler(threading.Thread):
    """Peak resident memory of this process and all its descendants."""

    def __init__(self, period: float = 0.1) -> None:
        super().__init__(daemon=True)
        self.period = period
        self.peak = 0
        self._stop_evt = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        children: dict[int, list[int]] = {}
        rss: dict[int, int] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat", "rb") as f:
                    fields = f.read().rsplit(b")", 1)[1].split()
            except OSError:
                continue
            pid = int(d)
            children.setdefault(int(fields[1]), []).append(pid)
            rss[pid] = int(fields[21]) * self._page
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            total += rss.get(pid, 0)
            todo.extend(children.get(pid, []))
        return total

    def run(self) -> None:
        while not self._stop_evt.is_set():
            self.peak = max(self.peak, self._tree_rss())
            self._stop_evt.wait(self.period)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join(timeout=5)
        return self.peak / 2**20


def prepare_env(work: str, trace: bool) -> None:
    """Process environment for Spark; must run before pyspark starts."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    # a heap of fixed size from the start, so that heap growth does not
    # change the GC rhythm part-way through the timed passes
    heap = os.environ["SPARK_DRIVER_MEMORY"]
    args = [
        "--driver-java-options", f"-Djava.io.tmpdir={tmp} -Xms{heap}",
        "--conf", "spark.ui.showConsoleProgress=false",
    ]
    if trace:
        events = os.path.join(work, "events")
        os.makedirs(events, exist_ok=True)
        args += [
            "--conf", "spark.eventLog.enabled=true",
            "--conf", f"spark.eventLog.dir=file://{events}",
            "--conf", "spark.eventLog.compress=false",
            "--conf", "spark.eventLog.rolling.enabled=false",
            "--conf", "spark.sql.pyspark.udf.profiler=perf",
        ]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def host_anchors(spark, work: str) -> dict[str, float]:
    """bench.py's three host anchors: md5 CPU, shuffle, small-file fsync."""
    from pyspark.sql import functions as F

    out = {}
    t0 = time.perf_counter()
    spark.range(0, ANCHOR_ROWS, 1, 32).select(
        F.md5(F.col("id").cast("string")).alias("h")
    ).agg(F.max("h")).collect()
    out["host.md5_s"] = time.perf_counter() - t0
    t0 = time.perf_counter()
    spark.range(0, ANCHOR_ROWS, 1, 32).groupBy(
        (F.col("id") % (ANCHOR_ROWS // 2)).alias("k")
    ).agg(F.sum("id").alias("s")).agg(F.max("s")).collect()
    out["host.shuffle_s"] = time.perf_counter() - t0
    d = os.path.join(work, "fsync")
    os.makedirs(d)
    payload = b"\0" * 4096
    t0 = time.perf_counter()
    for i in range(512):
        with open(os.path.join(d, f"f{i}"), "wb") as f:
            f.write(payload)
            f.flush()
            os.fsync(f.fileno())
    out["host.fsync_s"] = time.perf_counter() - t0
    shutil.rmtree(d, ignore_errors=True)
    return out


def _dot_signature(dot: str) -> tuple[int, int]:
    """(node count, edge count) of a DOT graph from the GraphViz sink."""
    edges = sum(1 for ln in dot.splitlines() if " -> " in ln)
    return dot.count("[label="), edges


class Bench:
    def __init__(self, args) -> None:
        self.args = args
        self.workload = args.workload
        self.audit_mode = self.workload == "sql_audit"
        self.trace = bool(args.trace)
        self.sf = args.sf if args.sf is not None else W.SF[self.workload]
        self.work = os.path.join(HERE, ".work", str(os.getpid()))
        self.sf_dir = os.path.join(self.work, "inputs")
        self.cpus = len(os.sched_getaffinity(0))
        self.tracer = Tracer() if self.trace else NullTracer()
        self.rng = random.Random(args.seed)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.setup_times: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self._layer_lock = threading.Lock()
        self.op_lat: dict[str, list[float]] = {}
        self.pass_s: list[float] = []
        self.expected: dict[str, tuple] = {}
        self.windows: list[dict] = []
        self.lags: list[float] = []
        self.catalyst: dict[int, CatalystListener] = {}
        self.py4j: Py4jCounter | None = None
        #: set while the timed passes run; the listener thread reads it
        self.timing = False

    # -- helpers --------------------------------------------------------------

    def add(self, key: str, value: float) -> None:
        """Accumulate a layer metric (also called from listener threads)."""
        with self._layer_lock:
            self.layer[key] = self.layer.get(key, 0.0) + value

    def fail(self, what: str) -> None:
        self.failed += 1
        print(f"FAIL {what}", flush=True)

    def _watch_session(self, session) -> None:
        """Register the benchmark's Catalyst listener on a frame's session."""
        key = session._jsparkSession.hashCode()
        if key not in self.catalyst:
            from pyspark.java_gateway import ensure_callback_server_started

            ensure_callback_server_started(session.sparkContext._gateway)
            lis = CatalystListener()
            session._jsparkSession.listenerManager().register(lis)
            self.catalyst[key] = lis

    def _catalyst_ms(self) -> float:
        return sum(lis.plan_ms for lis in self.catalyst.values())

    # -- set-up ---------------------------------------------------------------

    def setup(self) -> None:
        """Inputs, session, warm-up, TPC-DS shim ETL, the audit listener and
        the catalog-mode views. Runs once per run: the session start alone
        takes seconds, so repeating set-up would not fit the run budget."""
        from spark_sql_flow_plugin_spark.registry import all_specs
        from spark_sql_flow_plugin_spark.session import get_session

        t = self.setup_times
        t0 = time.perf_counter()
        datagen.generate(self.sf_dir, self.sf, W.DATA_SEED)
        t1 = time.perf_counter()
        t["setup.datagen_s"] = t1 - t0
        self.spark = get_session("perfbench", cpus=self.cpus)
        self.spark.sparkContext.setLogLevel("ERROR")
        self.spark.range(1000).count()
        t2 = time.perf_counter()
        t["session.start_s"] = t2 - t1
        names = W.SQL_AUDIT_OPS if self.audit_mode else W.CURATE_OPS
        specs = {s.name: s for s in all_specs()}
        self.ops = {n: specs[n] for n in names}
        t["tpcds.shim_etl_s"] = t["setup.views_s"] = 0.0
        if self.audit_mode:
            from spark_sql_flow_plugin_spark.operators import tpcds

            s, done = tpcds._shim_session(self.spark, self.sf_dir)
            tpcds._ensure_materialized(s, done, self.sf_dir, list(W.SHIM_TABLES))
            t3 = time.perf_counter()
            t["tpcds.shim_etl_s"] = t3 - t2
            self._register_audit_listener()
            self._build_pipeline_views()
            t["setup.views_s"] = time.perf_counter() - t3
        t["setup_s"] = time.perf_counter() - t0
        print("setup: " + " ".join(f"{k}={v:.3f}" for k, v in t.items()), flush=True)
        if self.trace:
            self.py4j = Py4jCounter(self.spark.sparkContext._gateway._gateway_client)

    def _register_audit_listener(self) -> None:
        """The reference's audit mode: a file-sink lineage listener on the
        session. The traced run times the listener and the sink through
        subclasses; the untraced run uses the package's classes as-is."""
        from spark_sql_flow_plugin_spark.functions import listener
        from spark_sql_flow_plugin_spark.sinks import GraphVizSink

        audit_dir = os.path.join(self.work, "audit")
        if not self.trace:
            self.audit = listener.register(self.spark, GraphVizSink(), audit_dir)
            return
        bench = self

        class TimedSink(GraphVizSink):
            def append(self, nodes, edges, output_dir):
                t0 = time.perf_counter()
                path = super().append(nodes, edges, output_dir)
                if not bench.timing:  # verification pass or host anchors
                    return path
                bench.add("sinks.write_s", time.perf_counter() - t0)
                bench.add("sinks.files", 1)
                bench.add("sinks.bytes", os.path.getsize(path))
                return path

        class TimedListener(listener.SQLFlowListener):
            def __init__(self, *a) -> None:
                super().__init__(*a)
                self.calls = 0
                self.capture_s = 0.0
                self.appends: list[tuple[str, float]] = []

            def onSuccess(self, funcName, qe, durationNs):  # noqa: N802
                t0 = time.perf_counter()
                before = self.captured
                super().onSuccess(funcName, qe, durationNs)
                self.calls += 1
                self.capture_s += time.perf_counter() - t0
                if self.captured > before:
                    self.appends.append((str(funcName), time.time()))

        from pyspark.java_gateway import ensure_callback_server_started

        ensure_callback_server_started(self.spark.sparkContext._gateway)
        self.audit = TimedListener(TimedSink(), audit_dir)
        self.spark._jsparkSession.listenerManager().register(self.audit)

    def _build_pipeline_views(self) -> None:
        """Catalog-mode target: the auto-tracked stage views of the example
        LLM-curation pipeline, on a session of their own so its catalog
        holds only those views (as the golden tests build it)."""
        sys.path.insert(0, os.path.join(ROOT, "examples"))
        from llm_curation_pipeline import build_stages

        self.catalog_session = self.spark.newSession()
        build_stages(self.catalog_session, self.sf_dir)

    def stop_spark(self) -> None:
        """Stop the context and remove this application's shim tables."""
        app = self.spark.sparkContext.applicationId
        self.spark.stop()
        shutil.rmtree(
            os.path.join(ROOT, ".tpcds_shim", f"{app}-{os.getpid()}"), ignore_errors=True
        )

    # -- verification (untimed) -----------------------------------------------

    def verify(self) -> None:
        """Compare every op's rows with the DuckDB oracle; record the row
        count (and, in audit mode, the lineage graph shape) that each
        timed pass must reproduce."""
        import duckdb

        sys.path.insert(0, os.path.join(ROOT, "tools"))
        from check_oracle import digest, norm_rows

        con = duckdb.connect()
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf_dir}/{t}.parquet'")
        if self.audit_mode:
            self._verify_catalog()
        for name in self._permuted(list(self.ops)):
            spec = self.ops[name]
            self.attempted += 1
            try:
                self.spark.catalog.clearCache()
                t0 = time.perf_counter()
                df = spec.builder(self.spark, self.sf_dir)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
                shape = self._audit(df, timed=False) if self.audit_mode else None
                t1 = time.perf_counter()
                rel = con.sql(spec.oracle)
                dcols, drows = rel.columns, rel.fetchall()
                t2 = time.perf_counter()
            except Exception as exc:  # an op that raises is a failed op
                self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
                continue
            if sorted(cols) != sorted(dcols) or len(rows) != len(drows):
                self.fail(f"{name}: shape spark={len(rows)} rows duckdb={len(drows)} rows")
                continue
            s_dig, d_dig = digest(norm_rows(cols, rows)), digest(norm_rows(dcols, drows))
            if s_dig != d_dig:
                self.fail(f"{name}: digest spark={s_dig} duckdb={d_dig}")
                continue
            self.expected[name] = (len(rows), shape)
            print(f"verified {name}: rows={len(rows)} digest={s_dig} lineage={shape} "
                  f"(spark {t1 - t0:.2f} s, oracle {t2 - t1:.2f} s)", flush=True)
        con.close()

    def _verify_catalog(self) -> None:
        """Catalog-mode lineage edges must equal the example pipeline's
        goldens (random id suffixes and the input directory masked, as the
        golden tests compare them)."""
        name = W.CATALOG_OP
        self.attempted += 1
        try:
            shapes = []
            for contracted in (False, True):
                kind = "contracted" if contracted else "expanded"
                dot, shape = self._lineage(self.catalog_session, contracted, "plans.catalog", False)
                got = {
                    re.sub(r"_[0-9a-f]{7}", "_x", ln.strip()).replace(
                        self.sf_dir.rstrip("/"), "SFDIR")
                    for ln in dot.splitlines() if " -> " in ln
                }
                with open(os.path.join(ROOT, "tests", "goldens",
                                       f"llm_pipeline_catalog_{kind}.edges")) as f:
                    golden = {ln.strip() for ln in f if ln.strip()}
                if got != golden:
                    self.fail(f"{name} {kind}: {len(got - golden)} edges not in the golden, "
                              f"{len(golden - got)} golden edges missing")
                    return
                shapes.append(shape)
        except Exception as exc:  # an op that raises is a failed op
            self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return
        self.expected[name] = (None, tuple(shapes))
        print(f"verified {name}: golden edges, lineage={tuple(shapes)}", flush=True)

    # -- timed ops --------------------------------------------------------------

    def run_catalog(self) -> None:
        """Catalog-mode lineage (``api.extract(spark)``) over the pipeline's
        views, expanded and contracted, rendered to DOT."""
        name = W.CATALOG_OP
        self.attempted += 1
        try:
            with self.tracer.span("op", op=name):
                t0 = time.perf_counter()
                shape = tuple(
                    self._lineage(self.catalog_session, c, "plans.catalog", True)[1]
                    for c in (False, True)
                )
                t1 = time.perf_counter()
        except Exception as exc:  # an op that raises is a failed op
            self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return
        self.op_lat.setdefault(name, []).append(t1 - t0)
        if (None, shape) != self.expected[name]:
            self.fail(f"{name}: lineage {shape} != verified {self.expected[name][1]}")

    def _audit(self, df, timed: bool) -> tuple:
        """Audit-mode tail of an op: drain the listener bus so the action's
        lineage reaches the sink, then render the query's expanded and
        contracted lineage to DOT. Returns the graphs' (nodes, edges)."""
        from spark_sql_flow_plugin_spark.functions.listener import wait_for_listener_bus

        with self.tracer.span("listener.bus_drain"):
            t0 = time.perf_counter()
            wait_for_listener_bus(self.spark)
            drain_s = time.perf_counter() - t0
        if timed and self.trace:
            self.add("listener.bus_drain_s", drain_s)
        return tuple(
            self._lineage(df, contracted, "plans.contracted" if contracted else "plans.extract",
                          timed)[1]
            for contracted in (False, True)
        )

    def _lineage(self, target, contracted: bool, layer: str, timed: bool) -> tuple:
        """``api.extract`` + GraphViz rendering (what ``api.to_sql_flow_string``
        does) of a DataFrame or a whole session catalog, each in its own
        span. Returns the DOT text and its (nodes, edges)."""
        from spark_sql_flow_plugin_spark import api
        from spark_sql_flow_plugin_spark.sinks import GraphVizSink

        span = self.tracer.span
        calls0 = self.py4j.calls if self.py4j else 0
        t0 = time.perf_counter()
        with span(layer):
            nodes, edges = api.extract(target, contracted)
        t1 = time.perf_counter()
        with span("sinks.render"):
            dot = GraphVizSink().to_graph_string(nodes, edges)
        t2 = time.perf_counter()
        if timed and self.trace:
            self.add(f"{layer}_s", t1 - t0)
            self.add("sinks.render_s", t2 - t1)
            self.add("sinks.bytes", len(dot))
            self.add("plans.nodes", len(nodes))
            self.add("plans.edges", len(edges))
            self.add("plans.py4j_calls", self.py4j.calls - calls0)
        return dot, _dot_signature(dot)

    def run_op(self, name: str) -> None:
        import spark_sql_flow_plugin_spark.streaming.events as ev

        spec = self.ops[name]
        span = self.tracer.span
        self.attempted += 1
        self.spark.catalog.clearCache()
        ev.LAST_RUN.clear()
        appends0 = len(self.audit.appends) if self.audit_mode and self.trace else 0
        try:
            with span("op", op=name):
                t0 = time.perf_counter()
                b0 = _now_ms()
                with span("operators.build"):
                    df = spec.builder(self.spark, self.sf_dir)
                b1 = _now_ms()
                if self.trace:
                    with span("trace.listen"):
                        self._watch_session(df.sparkSession)
                t1 = time.perf_counter()
                with span("exec.action"):
                    n = df.count()
                t2 = time.perf_counter()
                a1, returned = _now_ms(), time.time()
                shape = self._audit(df, timed=True) if self.audit_mode else None
                t3 = time.perf_counter()
        except Exception as exc:  # an op that raises is a failed op
            self.fail(f"{name}: {type(exc).__name__}: {str(exc)[:200]}")
            return
        self.op_lat.setdefault(name, []).append(t3 - t0)
        if (n, shape) != self.expected[name]:
            self.fail(f"{name}: rows/lineage {(n, shape)} != verified {self.expected[name]}")
        self.add("operators.build_s", t1 - t0)
        self.add("exec.action_s", t2 - t1)
        if not self.trace:
            return
        self.windows.append({"b0": b0, "b1": b1, "a0": b1, "a1": a1})
        if "num_batches" in ev.LAST_RUN:
            self.add("streaming.batches", ev.LAST_RUN["num_batches"])
        if self.audit_mode:
            with span("trace.collect"):
                jqe = df._jdf.queryExecution()
                self.add("catalyst.plan_s", phases_ms(jqe) / 1e3)
                self.add("plans.plan_json_bytes", len(jqe.optimizedPlan().toJSON()))
            for func, t_end in self.audit.appends[appends0:]:
                if func == "count":
                    self.lags.append(max(0.0, t_end - returned))

    # -- passes -----------------------------------------------------------------

    def _permuted(self, names: list[str]) -> list[str]:
        names = list(names)
        self.rng.shuffle(names)
        return names

    def run_pass(self) -> None:
        with self.tracer.span("pass") as sp:
            t0 = time.perf_counter()
            for name in self._permuted(list(self.expected)):
                if name == W.CATALOG_OP:
                    self.run_catalog()
                else:
                    self.run_op(name)
            self.pass_s.append(time.perf_counter() - t0)
        if sp is not None:
            st = self.tracer.self_times(sp["id"])
            self.add("trace.gap_s", st.get("pass", 0.0) + st.get("op", 0.0))

    def measure(self) -> None:
        self.verify()
        for _ in range(W.WARMUP_PASSES):
            self.run_pass()
        for samples in (self.pass_s, self.op_lat, self.layer, self.windows, self.lags):
            samples.clear()
        traced_audit = self.audit_mode and self.trace
        if self.trace:
            self.spark.profile.clear()
        captured0 = self.audit.captured if self.audit_mode else 0
        calls0 = self.audit.calls if traced_audit else 0
        capture0 = self.audit.capture_s if traced_audit else 0.0
        catalyst0 = self._catalyst_ms()
        t_start = time.perf_counter()
        self.timing = True
        while True:
            self.run_pass()
            if time.perf_counter() - t_start >= self.args.seconds and (
                    len(self.pass_s) >= W.MIN_PASSES or not self.args.seconds):
                break
        self.timing = False
        captured = self.audit.captured - captured0 if self.audit_mode else 0
        self.add("listener.captured", captured)
        if not self.trace:
            return
        self.add("catalyst.plan_s", (self._catalyst_ms() - catalyst0) / 1e3)
        self.add("pyworker.udf_s", udf_profile_s(self.spark))
        if traced_audit:
            self.add("listener.capture_s", self.audit.capture_s - capture0)
            self.add("listener.skipped", self.audit.calls - calls0 - captured)
            self._stream_machinery()

    def _stream_machinery(self) -> None:
        """Empty-source twin of each streaming op (bench.py's estimate):
        per-batch machinery x the real query's batch count, once per pass."""
        import spark_sql_flow_plugin_spark.streaming.events as ev
        from pyspark.sql import functions as F
        from spark_sql_flow_plugin_spark.functions.exprs import dsum

        spark, sf_dir = self.spark, self.sf_dir

        def empty_user_totals():
            src = ev._read_events_stream(spark, sf_dir).where("user_id < 0")
            agg = src.groupBy("user_id").agg(
                F.count("*").alias("n_events"), dsum("value", "sum_value")
            )
            return ev._run_to_memory(agg, "update")

        twins = {"stream_user_totals": empty_user_totals}
        total = 0.0
        for name in W.STREAM_OPS:
            ev.LAST_RUN.clear()
            self.ops[name].builder(spark, sf_dir).count()
            real = ev.LAST_RUN.get("num_batches")
            ev.LAST_RUN.clear()
            t0 = time.perf_counter()
            twins[name]().count()
            machinery = time.perf_counter() - t0
            empty = ev.LAST_RUN.get("num_batches")
            if real and empty:
                total += machinery / empty * real
        self.add("streaming.machinery_s", total * len(self.pass_s))

    def collect_event_log(self) -> None:
        """Parse the finished event log (after the context stopped)."""
        events = os.path.join(self.work, "events")
        logs = [
            os.path.join(events, p) for p in os.listdir(events)
            if not p.endswith(".inprogress")
        ]
        if not logs:
            raise RuntimeError("no finished Spark event log to read")
        for k, v in parse_event_log(max(logs, key=os.path.getmtime), self.windows).items():
            self.add(k, v)

    # -- results ----------------------------------------------------------------

    def result(self, rss_mb: float | None, anchors: dict[str, float]) -> dict:
        """The result JSON. Every metric BENCHMARK.json names for this mode
        must have been recorded; the layers the workload leaves idle
        (``workloads.IDLE``) are reported as 0. A metric that was never
        recorded is reported as missing and makes the run incorrect."""
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        n_pass = len(self.pass_s)
        lat = [v for vs in self.op_lat.values() for v in vs]
        for name, vs in sorted(self.op_lat.items(), key=lambda kv: statistics.median(kv[1])):
            print(f"op {name}: median {statistics.median(vs):.3f} s (n={len(vs)})", flush=True)
        if not self.trace:
            wanted = spec["end_to_end"]
            values = {
                "setup_s": (self.setup_times["setup_s"], 1),
                "pass_s": (statistics.median(self.pass_s), n_pass),
                "op_p50_s": (statistics.median(lat), len(lat)),
            }
        else:
            wanted = spec["per_layer"]
            per_pass = {k: v / n_pass for k, v in self.layer.items()}
            if self.audit_mode and per_pass["audit.actions"]:
                per_pass["audit.capture_ratio"] = (
                    per_pass["listener.captured"] / per_pass["audit.actions"]
                )
            if self.lags:
                per_pass["audit.lineage_lag_p50_s"] = statistics.median(self.lags)
            for m in wanted:
                if m["name"].startswith(W.IDLE[self.workload]):
                    per_pass.setdefault(m["name"], 0.0)
            per_pass["ops.error_ratio"] = self.failed / self.attempted
            per_pass["trace.pass_s"] = statistics.median(self.pass_s)
            values = {k: (v, n_pass) for k, v in per_pass.items()}
            once = {**self.setup_times, **anchors, "memory.peak_rss_mb": rss_mb}
            values.update({k: (v, 1) for k, v in once.items()})
        metrics, missing = {}, []
        for m in wanted:
            if m["name"] not in values:
                missing.append(m["name"])
                continue
            value, n = values[m["name"]]
            metrics[m["name"]] = {"value": value, "unit": m["unit"]}
            print(f"metric {m['name']} = {value:.6g} {m['unit']} (n={n})", flush=True)
        for name in missing:
            print(f"MISSING metric {name}: never recorded", flush=True)
        print("passes: " + " ".join(f"{v:.3f}" for v in self.pass_s) + " s", flush=True)
        print(f"failed ops = {self.failed}/{self.attempted}", flush=True)
        for k, v in anchors.items():
            print(f"anchor {k} = {v:.4f} s", flush=True)
        if self.trace:
            for k, v in W.SHOULD_MOVE.items():
                print(f"moves {k}: {v}", flush=True)
        return {
            "correct": self.failed == 0 and not missing,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": metrics,
        }


def _stop_gateway(gateway) -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    proc.stdin.close()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(W.SF))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf", type=float, default=None, help="override the input scale factor")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "spark_sql_flow_plugin_spark")):
        print("perfbench: run from a checkout of the repository", file=sys.stderr)
        return 2
    bench = Bench(args)
    prepare_env(bench.work, bench.trace)
    # the sampler walks /proc every 100 ms, so only the traced run pays it
    rss = RssSampler() if bench.trace else None
    if rss:
        rss.start()
    try:
        print(
            f"workload={args.workload} seed={args.seed} sf={bench.sf} "
            f"cpus={bench.cpus} trace={args.trace}",
            flush=True,
        )
        t0 = time.perf_counter()
        bench.setup()
        t1 = time.perf_counter()
        bench.measure()
        t2 = time.perf_counter()
        anchors = host_anchors(bench.spark, bench.work)
        print(
            f"phases: setup {t1 - t0:.1f} s, verify+timed {t2 - t1:.1f} s "
            f"(timed {sum(bench.pass_s):.1f} s), anchors {time.perf_counter() - t2:.1f} s",
            flush=True,
        )
        gateway = bench.spark.sparkContext._gateway
        bench.stop_spark()
        if bench.trace:
            bench.collect_event_log()
            out = os.path.join(HERE, "out")
            os.makedirs(out, exist_ok=True)
            bench.tracer.dump(
                os.path.join(out, f"trace_{args.workload}_{args.seed}.json"),
                {"workload": args.workload, "seed": args.seed, "sf": bench.sf,
                 "layer_totals": bench.layer, "passes": bench.pass_s},
            )
        result = bench.result(rss.stop() if rss else None, anchors)
        _stop_gateway(gateway)
    finally:
        if rss:
            rss.stop()
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
