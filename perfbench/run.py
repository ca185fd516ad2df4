#!/usr/bin/env python3
"""Closed-loop benchmark of the mapreduce_4sl08_spark engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload warehouse_events --seed 1 --seconds 10 --trace 0

One process, one Spark session on ``local[<usable cores>]``. The run

1. generates its input tables from ``--seed`` (``perfbench/datagen.py``)
   under ``.perfbench_run/`` in the repository root, where every Spark and
   Python temporary file of the run also goes;
2. starts the session and runs a check pass: every batch query of the
   workload is collected and compared with its DuckDB oracle
   (``tests/oracle.compare_frames``), and every streaming twin is drained
   into a memory sink and compared with its batch twin's finalized
   windows. The check pass is the only warm-up: a run starts a fresh JVM,
   and one more pass would not fit the run's time budget. The first timed
   pass is slower than later ones would be, but it is the same pass in
   every run;
3. runs timed passes until ``--seconds`` have elapsed and the workload's
   ``min_passes`` are done. A
   pass clears every ``SessionMemo`` and the cache, runs each batch query
   through the ``noop`` sink and drains each streaming twin (fresh
   checkpoint, ``noop`` sink) to termination, one at a time: a closed loop
   with one client;
4. prints a summary and, as its last line, one JSON object with
   ``correct``, ``attempted``, ``failed`` and ``metrics``.

With ``--trace 0`` the metrics are ``setup_s`` (process start until the
first timed pass can start: tables, session, check pass) and ``suite_s``
(the median timed pass). With ``--trace 1`` the timed passes are traced
(``perfbench/tracer.py``), the metrics are the per-layer medians over
them, and the spans go to ``.perfbench_run/traces/<run id>.json``; the
tracing overhead is ``trace.suite_s`` minus ``suite_s`` of an untraced run
with the same seed. A query that raises or fails its check counts in
``failed`` and is left out of later passes; the others still run.

Exit codes: 0 when a result line was printed, 2 when the engine sources are
missing, 3 when the run overran its time limit.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_run")
#: no pass starts once the run is this old; the watchdog cancels at LIMIT_S
START_LIMIT_S = 120.0
LIMIT_S = 170.0
#: concurrent queries in the (untimed) check pass
CHECK_THREADS = 4
#: the re-anchor baseline of the 20 headline queries at sf0.1 (ROADMAP.md)
BASELINE_SPLIT = {"build": 6.49, "plan": 0.36, "exec": 22.97}


def parse_args(argv=None) -> argparse.Namespace:
    from workloads import WORKLOADS
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def preflight() -> None:
    """Fail fast, without a result, when the engine is not beside us."""
    need = ("mapreduce_4sl08_spark/__init__.py", "tests/oracle.py", "bench.py")
    missing = [n for n in need if not os.path.isfile(os.path.join(ROOT, n))]
    if missing:
        print(f"perfbench: engine sources missing under {ROOT}: {missing}",
              file=sys.stderr)
        sys.exit(2)


def usable_cores() -> int:
    return len(os.sched_getaffinity(0))


def isolate(run_dir: str) -> None:
    """Point every temporary location of Spark, the JVM and Python at the
    run's directory, and let Python workers import the engine."""
    for sub in ("local", "tmp", "warehouse", "ckpt"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "local")
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_GRAFT_CPUS"] = str(usable_cores())
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    os.environ.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    sys.path.insert(0, ROOT)


def session_conf(run_dir: str) -> dict[str, str]:
    return {
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData",
        "spark.ui.enabled": "false",
        # keep every job and stage of the run in the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


class Run:
    """One benchmark run: a session, its tables and the pass loop."""

    def __init__(self, spark, wl, sf_dir: str, stream_dir: str,
                 ckpt_dir: str, events):
        from mapreduce_4sl08_spark.plans import QUERIES, all_session_memos
        from mapreduce_4sl08_spark.streaming import ops
        self.spark = spark
        self.sf_dir, self.stream_dir, self.ckpt_dir = sf_dir, stream_dir, ckpt_dir
        self.events = events
        self.queries, self.memos, self.ops = QUERIES, all_session_memos, ops
        self.batch = list(wl.batch)
        self.twins = list(wl.twins)
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.drains = 0
        self.tracer = None

    # ---------------------------------------------------------- helpers
    @property
    def failed_share(self) -> float:
        """Queries and twins that raised or failed their check, over the
        query executions and drains attempted."""
        return len(self.failures) / max(self.attempted, 1)

    def reset(self) -> None:
        for memo in self.memos().values():
            memo.clear()
        self.spark.catalog.clearCache()

    def fail(self, name: str, err: BaseException) -> None:
        self.failures[name] = f"{type(err).__name__}: {err}".splitlines()[0][:300]
        if name in self.batch:
            self.batch.remove(name)
        self.twins = [t for t in self.twins if t.name != name]

    def start_twin(self, twin, sink: str):
        build = getattr(self.ops, twin.name)
        stream = build(self.ops.events_stream(self.spark, self.stream_dir,
                                              max_files_per_trigger=1))
        self.drains += 1
        writer = (stream.writeStream.outputMode("append")
                  .option("checkpointLocation",
                          os.path.join(self.ckpt_dir, str(self.drains)))
                  .trigger(availableNow=True))
        if sink == "memory":
            writer = writer.format("memory").queryName(f"pb_{twin.name}")
        else:
            writer = writer.format("noop")
        return writer.start()

    # ------------------------------------------------------- check pass
    def check_pass(self, oracle) -> None:
        """Collect every batch query and compare it with its oracle, and
        drain every twin into a memory sink and compare it with its batch
        twin. The check pass is untimed warm-up, so the twins drain and
        the queries run concurrently (CHECK_THREADS at a time), as the
        test suite's thread-pooled sweeps do."""
        self.reset()
        started = {}
        for twin in self.twins:
            self.attempted += 1
            try:
                started[twin.name] = self.start_twin(twin, "memory")
            except Exception as e:  # noqa: BLE001 — isolation is the point
                self.fail(twin.name, e)
        self.attempted += len(self.batch)
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            got = dict(zip(self.batch, pool.map(
                lambda n: self._collect(n, oracle), self.batch)))
        for name, (pdf, err) in got.items():
            if err is not None:
                self.fail(name, err)
        for twin in list(self.twins):
            try:
                started[twin.name].awaitTermination()
                stream_pdf = self.spark.table(f"pb_{twin.name}").toPandas()
                batch_pdf = got[twin.batch][0]
                if batch_pdf is None:
                    raise RuntimeError(f"batch twin {twin.batch} failed")
                check_twin(twin.name, stream_pdf, batch_pdf, self.events)
            except Exception as e:  # noqa: BLE001
                self.fail(twin.name, e)

    def _collect(self, name: str, oracle):
        """(frame, None) or (None, error) for one batch query compared
        with its oracle."""
        from tests.oracle import compare_frames
        try:
            pdf = self.queries[name].fn(self.spark, self.sf_dir).toPandas()
            compare_frames(pdf, oracle(name), name)
            return pdf, None
        except Exception as e:  # noqa: BLE001
            return None, e

    # ------------------------------------------------------ noop passes
    def run_pass(self, traced: bool) -> float:
        self.reset()
        tr = self.tracer if traced else None
        t = time.perf_counter()
        if tr is None:
            for name in list(self.batch):
                self.attempted += 1
                try:
                    (self.queries[name].fn(self.spark, self.sf_dir)
                     .write.mode("overwrite").format("noop").save())
                except Exception as e:  # noqa: BLE001
                    self.fail(name, e)
            for twin in list(self.twins):
                self.attempted += 1
                try:
                    self.start_twin(twin, "noop").awaitTermination()
                except Exception as e:  # noqa: BLE001
                    self.fail(twin.name, e)
            return time.perf_counter() - t
        tr.memo_builds = tr.memo_hits = tr.cached_peak = 0
        with tr.span("pass", "timed") as sp:
            for name in list(self.batch):
                self.attempted += 1
                try:
                    self.traced_query(name)
                except Exception as e:  # noqa: BLE001
                    self.fail(name, e)
            for twin in list(self.twins):
                self.attempted += 1
                try:
                    self.traced_twin(twin)
                except Exception as e:  # noqa: BLE001
                    self.fail(twin.name, e)
            sp["attrs"].update({
                "plans.memo.builds": tr.memo_builds,
                "plans.memo.hits": tr.memo_hits,
                "storage.cached_bytes_peak": tr.cached_peak,
                "storage.cached_bytes_end": tr.sample_storage()})
        return time.perf_counter() - t

    def traced_query(self, name: str) -> None:
        tr = self.tracer
        with tr.span("query", name):
            with tr.span("build", name):
                df = self.queries[name].fn(self.spark, self.sf_dir)
            with tr.span("plan", name):
                df._jdf.queryExecution().executedPlan()
            with tr.span("exec", name):
                df.write.mode("overwrite").format("noop").save()
            tr.sample_storage()

    def traced_twin(self, twin) -> None:
        from tracer import micro_batch_attrs
        tr = self.tracer
        with tr.span("twin", twin.name) as sp:
            q = self.start_twin(twin, "noop")
            q.awaitTermination()
        for p in q.recentProgress:
            start = _epoch(p["timestamp"])
            dur = p.get("durationMs", {}).get("triggerExecution", 0) / 1e3
            tr.add_span("micro_batch", f"{twin.name}#{p['batchId']}", start,
                        dur, sp, **micro_batch_attrs(p))


def _epoch(iso: str) -> float:
    from datetime import datetime, timezone
    return datetime.strptime(iso.rstrip("Z"), "%Y-%m-%dT%H:%M:%S.%f").replace(
        tzinfo=timezone.utc).timestamp()


# -------------------------------------------------------------- checks
def check_twin(name: str, stream_pdf, batch_pdf, events) -> None:
    """A streaming twin against its batch twin, the way
    tests/test_streaming.py compares them: over the windows that were
    final when the stream drained (window end <= the final watermark,
    max(ts) - 2 h, for 1-hour windows)."""
    import pandas as pd
    from tests.oracle import canonicalize

    horizon = pd.Timestamp(events.column("ts").to_pandas().max()) \
        - pd.Timedelta(hours=3)
    got = stream_pdf[stream_pdf["window_start"] <= horizon]
    want = batch_pdf[batch_pdf["window_start"] <= horizon][
        list(stream_pdf.columns)]
    assert len(want) > 0, f"{name}: no finalized windows to compare"
    assert canonicalize(got) == canonicalize(want), (
        f"{name}: {len(got)} finalized streaming rows differ from the "
        f"{len(want)} batch rows")


def oracle_runner(sf_dir: str, tables, names, queries):
    """Start every oracle on a DuckDB thread; return a name -> frame getter."""
    import duckdb
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(sf_dir, t)}.parquet'")
    pool = ThreadPoolExecutor(max_workers=1)
    futures = {n: pool.submit(lambda sql: con.execute(sql).fetchdf(),
                              queries[n].oracle) for n in names}
    pool.shutdown(wait=False)
    return lambda name: futures[name].result()


# ---------------------------------------------------------------- main
def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM it launched has exited."""
    from pyspark import SparkContext
    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=20)
        except Exception:  # noqa: BLE001
            proc.kill()
            proc.wait()


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    args = parse_args(argv)
    preflight()
    from workloads import WORKLOADS
    wl = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}"
    run_dir = os.path.join(WORK, run_id)
    shutil.rmtree(run_dir, ignore_errors=True)
    isolate(run_dir)
    try:
        return bench(args, wl, run_id, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def bench(args, wl, run_id: str, run_dir: str) -> int:
    import datagen
    from workloads import SCALE
    sf_dir = os.path.join(run_dir, "data")
    stream_dir = os.path.join(run_dir, "stream")
    made = datagen.generate(sf_dir, args.seed, SCALE, wl.tables)
    events = made.get("events")
    if wl.twins:
        datagen.write_event_stream(events, stream_dir)

    from mapreduce_4sl08_spark.session import get_session
    t = time.perf_counter()
    spark = get_session(f"perfbench-{args.workload}",
                        extra_conf=session_conf(run_dir))
    session_s = time.perf_counter() - t
    sc = spark.sparkContext
    overran = threading.Event()

    def watchdog():
        overran.set()
        sc.cancelAllJobs()
        for q in spark.streams.active:
            q.stop()

    timer = threading.Timer(LIMIT_S - (time.perf_counter() - T_START), watchdog)
    timer.daemon = True
    timer.start()
    try:
        run = Run(spark, wl, sf_dir, stream_dir,
                  os.path.join(run_dir, "ckpt"), events)
        oracle = oracle_runner(sf_dir, wl.tables, run.batch, run.queries)
        run.check_pass(oracle)
        setup_s = time.perf_counter() - T_START

        if args.trace:
            from tracer import Tracer
            run.tracer = Tracer(spark, run_id)
            run.tracer.install()
        passes: list[float] = []
        t_window = time.perf_counter()
        while True:
            passes.append(run.run_pass(bool(args.trace)))
            now = time.perf_counter()
            if (now - t_window >= args.seconds
                    and len(passes) >= wl.min_passes) \
                    or now - T_START > START_LIMIT_S:
                break
        if overran.is_set():
            raise TimeoutError("run overran its time limit")
        suite_s = statistics.median(passes)
        meta = {
            "workload": args.workload, "seed": args.seed, "scale": SCALE,
            "nproc": usable_cores(), "master": sc.master,
            "spark": spark.version, "session_s": session_s,
            "setup_s": setup_s, "passes_s": passes,
        }
        if args.trace:
            run.tracer.uninstall()
            metrics = layer_metrics(run, suite_s, session_s, meta, run_id)
        else:
            metrics = {"setup_s": {"value": setup_s, "unit": "s"},
                       "suite_s": {"value": suite_s, "unit": "s"}}
    except TimeoutError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 3
    finally:
        timer.cancel()
        stop_spark(spark)

    failed = len(run.failures)
    print(f"workload {args.workload}  seed {args.seed}  scale {SCALE}  "
          f"nproc {meta['nproc']}  master {meta['master']}  "
          f"spark {meta['spark']}")
    print(f"setup_s {setup_s:.3f} s  (session {session_s:.3f} s)")
    print(f"suite_s {suite_s:.3f} s  (passes {[round(p, 3) for p in passes]}"
          f"{', traced' if args.trace else ''})")
    print(f"failed_share {run.failed_share:.4f} share  "
          f"({failed} of {run.attempted} attempted)")
    for name, err in run.failures.items():
        print(f"FAILED {name}: {err}")
    print(json.dumps({"correct": failed == 0, "attempted": run.attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


def layer_metrics(run: Run, suite_s: float, session_s: float, meta: dict,
                  run_id: str) -> dict:
    """Median per-layer metrics over the traced passes; writes the spans
    and prints the headline build / Catalyst / execution split."""
    from tracer import LAYER_METRICS
    tr = run.tracer
    tr.finish()
    cores = usable_cores()
    pass_spans = [s for s in tr.spans if s["kind"] == "pass"]
    per_pass = [tr.pass_metrics(sp, cores) for sp in pass_spans]
    values = {k: statistics.median(m[k] for m in per_pass)
              for k in per_pass[0]}
    values.update({"session.start_s": session_s, "trace.suite_s": suite_s})
    path = os.path.join(WORK, "traces", f"{run_id}.json")
    tr.write(path, {**meta, "layers": values})
    print(f"spans: {os.path.relpath(path, ROOT)} ({len(tr.spans)} spans)")
    print_headline_split(tr, pass_spans[-1])
    return {k: {"value": values[k], "unit": unit}
            for k, unit in LAYER_METRICS.items()}


def print_headline_split(tr, pass_span: dict) -> None:
    from bench import HEADLINE
    split = {"build": 0.0, "plan": 0.0, "exec": 0.0}
    names = set()
    for q in tr.children(pass_span):
        if q["kind"] == "query" and q["name"] in HEADLINE:
            names.add(q["name"])
            for c in tr.children(q):
                split[c["kind"]] += c["dur_s"]
    print(f"headline split over {len(names)} of {len(HEADLINE)} headline "
          f"queries (build incl. load_table / Catalyst / execution): "
          f"{split['build']:.2f} / {split['plan']:.2f} / {split['exec']:.2f} s;"
          f" re-anchor, all 20 at sf0.1: {BASELINE_SPLIT['build']} / "
          f"{BASELINE_SPLIT['plan']} / {BASELINE_SPLIT['exec']} s")


if __name__ == "__main__":
    sys.exit(main())
