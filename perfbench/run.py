"""End-to-end benchmark of the ETL engine: REST extract -> bronze -> silver
-> curated JSONL, and a read-side query mix.

    python3 perfbench/run.py --workload etl_backfill --seed 1 --seconds 10 --trace 0

Workloads (closed loops, one client):

* ``etl_backfill``: ``run_pipeline`` over all projects from an empty data
  directory, against the fake Jira server in ``jira_server.py``.
* ``query_mix``: seven registry queries in a seed-permuted order, each
  timed from the ``fn`` call through a full ``noop`` write.

The engine is driven only through ``streaming.pipeline.run_pipeline``,
``plans.QUERIES[name].fn``, ``seams.release_seams`` and
``session.get_spark``. Every operation's output is checked; a failed
check or a run report with ``success: False`` counts as a failed
operation, never as a fast one.

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (end-to-end metrics with ``--trace 0``;
per-layer metrics from a traced run with ``--trace 1``, which also
writes its spans under ``.bench_build/perfbench/``). See README.md.
"""

from __future__ import annotations

import time

T_PROCESS = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import traceback  # noqa: E402
import urllib.parse  # noqa: E402
import urllib.request  # noqa: E402
from dataclasses import dataclass, field, replace  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

import procstat  # noqa: E402
import querydata  # noqa: E402
import tracing  # noqa: E402
from jira_server import PROJECTS, WARMUP_PROJECT  # noqa: E402

WORKLOADS = ("etl_backfill", "query_mix")
# timed operations a run makes at least, before --seconds ends it
MIN_OPS = {"etl_backfill": 1, "query_mix": 2}
CORPUS_ISSUES = 3000
RATE_LIMIT_SLEEP_S = 0.2
CLEAN_TEXT_SAMPLE = 4  # issues per project whose text is re-cleaned in Python
QUERIES = ("q1_pricing_summary", "q5_local_supplier_volume", "events_session_30m",
           "dedup_minhash_lsh", "text_winnow_fingerprints", "mm_jpeg_pixel_stats",
           "curate_fineweb_keep")
SOURCE_COUNTERS = ("requests", "probe_requests", "pages_ok", "http_429", "http_5xx",
                   "truncated", "bytes_served")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run prints, with its unit."""
    names = [("session.start_s", "s"), ("session.warmup_s", "s"), ("jvm.peak_rss_mb", "MB")]
    names += [(f"source.{k}", "bytes" if k == "bytes_served" else "count")
              for k in SOURCE_COUNTERS]
    names += [("source.useful_ratio", "ratio"), ("source.max_inflight", "count"),
              ("source.server_busy_s", "s"), ("source.server_cpu_s", "s"),
              ("source.scan_tasks", "count"),
              ("pipeline.extract_s", "s"), ("pipeline.transform_s", "s"),
              ("transform.rows", "count"), ("transform.plan_evaluations", "count"),
              ("transform.executor_cpu_s", "s"),
              ("sink.bytes_written", "bytes"), ("sink.files_written", "count"),
              ("sink.output_rows", "count"), ("offsets.saves", "count")]
    for q in QUERIES:
        names += [(f"plans.{q}.build_s", "s"), (f"plans.{q}.action_s", "s"),
                  (f"plans.{q}.catalyst_s", "s")]
    names.append(("seams.released", "count"))
    names += [(f"spark.{k}", "s" if k.endswith("_s") else
               "bytes" if k.endswith("_bytes") else "count")
              for k in tracing.SPARK_METRICS]
    names += [("trace.op_s", "s"), ("trace.untraced_op_s", "s"),
              ("trace.overhead_s", "s"), ("trace.spans", "count")]
    return names


# ---------------------------------------------------------------------------
# Fake Jira server process
# ---------------------------------------------------------------------------

class FakeJira:
    """The seeded server in its own process, reached over localhost."""

    def __init__(self, seed: int, issues: int, log_path: str):
        self._log = open(log_path, "w")
        self.proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "jira_server.py"),
             "--seed", str(seed), "--issues", str(issues)],
            stdout=subprocess.PIPE, stderr=self._log, text=True)
        self.url = ""

    def wait_ready(self) -> None:
        line = self.proc.stdout.readline()
        if not line.startswith("PORT "):
            raise RuntimeError(f"fake Jira server did not start (got {line!r}); "
                               f"see {self._log.name}")
        self.url = f"http://127.0.0.1:{int(line.split()[1])}"

    def call(self, cmd: str, **params) -> dict:
        q = urllib.parse.urlencode(params)
        with urllib.request.urlopen(f"{self.url}/_bench/{cmd}?{q}", timeout=60) as r:
            return json.load(r)

    def keys(self, project: str) -> list[str]:
        return self.call("keys", project=project)["keys"]

    def close(self) -> None:
        if self.proc.poll() is None:
            self.proc.terminate()
            try:
                self.proc.wait(timeout=10)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self.proc.stdout.close()
        self._log.close()


# ---------------------------------------------------------------------------
# Output checks
# ---------------------------------------------------------------------------

def _part_files(path: str, suffix: str = "") -> list[str]:
    return sorted(p for p in glob.glob(os.path.join(path, "**", "part-*"), recursive=True)
                  if p.endswith(suffix) and not p.endswith(".crc"))


def read_jsonl(path: str) -> list[dict]:
    rows = []
    for part in _part_files(path, ".json"):
        with open(part) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def silver_ids(path: str) -> list[str]:
    import pyarrow.parquet as pq
    return [r for part in _part_files(path, ".parquet")
            for r in pq.read_table(part, columns=["id"]).column("id").to_pylist()]


def check_report(report: dict) -> list[str]:
    errors = [f"{p}: {k}: {v}" for p, d in report["projects"].items()
              for k, v in d.items() if k.endswith("_error")]
    if "transform_skipped" in report:
        errors.append(f"transform skipped: {report['transform_skipped']}")
    if not report.get("success"):
        errors.append("run report success is False")
    return errors


def check_etl(cfg, report: dict, expected: dict[str, list[str]], server: FakeJira,
              rng: random.Random) -> tuple[list[str], int]:
    """Curated JSONL keys == the server's keys per project; JSONL rows ==
    silver rows; a seeded sample's title and description ==
    ``clean_text_py`` of the raw text served. Returns (errors, JSONL
    rows)."""
    from jira_scraper_etl_spark.functions.text_pandas import clean_text_py

    errors = check_report(report)
    n_rows = 0
    for p, keys in expected.items():
        rows = read_jsonl(cfg.dir("processed", f"{p}_issues.jsonl"))
        n_rows += len(rows)
        got = [r["id"] for r in rows]
        if len(got) != len(set(got)) or set(got) != set(keys):
            errors.append(f"{p}: JSONL keys differ from the server's: {len(got)} rows, "
                          f"{len(set(got) ^ set(keys))} keys in only one side")
        if sorted(silver_ids(cfg.dir("silver", f"project={p}"))) != sorted(got):
            errors.append(f"{p}: silver rows differ from JSONL rows")
        if report["projects"][p].get("transformed") != len(rows):
            errors.append(f"{p}: report says {report['projects'][p].get('transformed')} "
                          f"transformed, JSONL has {len(rows)}")
        by_id = {r["id"]: r for r in rows}
        sample = [k for k in rng.sample(keys, min(CLEAN_TEXT_SAMPLE, len(keys))) if k in by_id]
        if not sample:
            continue
        raw = server.call("raw", keys=",".join(sample))
        for k in sample:
            for col, src in (("title", "summary"), ("description", "description")):
                if by_id[k].get(col) != clean_text_py(raw[k][src]):
                    errors.append(f"{k}: {col} != clean_text_py(raw {src})")
    return errors, n_rows


def digest(df) -> str:
    """Order-insensitive digest: row count and the exact sum of a 64-bit
    hash of each row's JSON (columns by name, doubles rounded to 6 places)."""
    from pyspark.sql import functions as F, types as T
    cols = []
    for f in sorted(df.schema.fields, key=lambda f: f.name):
        c = F.col(f"`{f.name}`")
        if isinstance(f.dataType, (T.DoubleType, T.FloatType)):
            c = F.round(c, 6)
        cols.append(c.alias(f.name))
    h = F.xxhash64(F.to_json(F.struct(*cols))).cast("decimal(38,0)")
    row = df.select(h.alias("h")).agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).first()
    return f"{row['n']}:{row['s']}"


# ---------------------------------------------------------------------------
# Operations
# ---------------------------------------------------------------------------

@dataclass
class OpResult:
    seconds: float
    items: int
    cpu_s: float
    errors: list[str]
    layers: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return not self.errors


class Bench:
    def __init__(self, args, run_dir: str):
        self.args = args
        self.run_dir = run_dir
        self.server: FakeJira | None = None
        self.spark = None
        self.tracer: tracing.Tracer | None = None
        self.offset_saves = 0

    def cpu(self) -> float:
        exclude = {self.server.proc.pid} if self.server else set()
        return procstat.cpu_seconds(os.getpid(), exclude)

    def timed(self, fn) -> tuple[object, float, float]:
        c0, t0 = self.cpu(), time.perf_counter()
        out = fn()
        return out, time.perf_counter() - t0, self.cpu() - c0

    # -- ETL ----------------------------------------------------------------

    def etl_config(self):
        from jira_scraper_etl_spark.streaming.pipeline import PipelineConfig
        return PipelineConfig(projects=list(PROJECTS), data_dir=os.path.join(self.run_dir, "etl"),
                              base_url=self.server.url, max_results=50,
                              rate_limit_sleep_seconds=RATE_LIMIT_SLEEP_S, verify_ssl=False)

    def etl_op(self, cfg, expected: dict[str, list[str]], label: str) -> OpResult:
        from jira_scraper_etl_spark.streaming import pipeline
        self.server.call("begin")
        saves0 = self.offset_saves
        with self.tracer.span("op", label=label):
            try:
                report, secs, cpu = self.timed(lambda: pipeline.run_pipeline(self.spark, cfg))
            except Exception as exc:  # the run itself must not end the benchmark
                traceback.print_exc()
                return OpResult(0.0, 0, 0.0, [f"run_pipeline raised {exc!r}"])
        rng = random.Random(f"{self.args.seed}:{label}")
        errors, rows = check_etl(cfg, report, expected, self.server, rng)
        files = [p for d in ("bronze", "silver", "processed") for p in _part_files(cfg.dir(d))]
        layers = {"pipeline.extract_s": report.get("extract_seconds") or 0.0,
                  "pipeline.transform_s": report.get("transform_seconds") or 0.0,
                  "transform.rows": sum(d.get("transformed", 0) for d in report["projects"].values()),
                  "sink.bytes_written": sum(os.path.getsize(p) for p in files),
                  "sink.files_written": len(files), "sink.output_rows": rows,
                  "offsets.saves": self.offset_saves - saves0}
        return OpResult(secs, rows, cpu, errors, layers)

    def backfill(self, cfg, label: str) -> OpResult:
        shutil.rmtree(cfg.data_dir, ignore_errors=True)
        expected = {p: self.server.keys(p) for p in cfg.projects}
        return self.etl_op(cfg, expected, label)

    # -- query mix ----------------------------------------------------------

    def query_pass(self, data_dir: str, order: list[str], label: str,
                   digests: dict | None = None) -> OpResult:
        """One pass over ``order``. With ``digests`` (set-up), each result
        is consumed by the digest check instead of a noop write."""
        from jira_scraper_etl_spark import plans
        from jira_scraper_etl_spark.seams import release_seams
        layers: dict = {"seams.released": 0}
        errors: list[str] = []
        c0, t0 = self.cpu(), time.perf_counter()
        with self.tracer.span("op", label=label):
            for q in order:
                try:
                    t = time.perf_counter()
                    with self.tracer.span(f"plans.{q}.build"):
                        df = plans.QUERIES[q].fn(self.spark, data_dir)
                    layers[f"plans.{q}.build_s"] = time.perf_counter() - t
                    if self.tracer.enabled:
                        with self.tracer.span(f"plans.{q}.catalyst"):
                            layers[f"plans.{q}.catalyst_s"] = catalyst_seconds(df)
                    t = time.perf_counter()
                    with self.tracer.span(f"plans.{q}.action"):
                        if digests is None:
                            df.write.format("noop").mode("overwrite").save()
                        else:
                            got = digest(df)
                            if got != digests.get(q):
                                errors.append(f"{q}: digest {got} != recorded {digests.get(q)}")
                    layers[f"plans.{q}.action_s"] = time.perf_counter() - t
                except Exception as exc:  # one failing query must not end the pass
                    traceback.print_exc()
                    errors.append(f"{q} raised {exc!r}")
                finally:
                    with self.tracer.span("seams.release"):
                        layers["seams.released"] += release_seams()
        secs, cpu = time.perf_counter() - t0, self.cpu() - c0
        return OpResult(secs, len(order), cpu, errors, layers)


def catalyst_seconds(df) -> float:
    """Analysis + optimisation + planning time of ``df``'s query execution
    (``QueryPlanningTracker``); forces planning, so traced runs only."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return sum(phases.apply(k).durationMs() for k in ("analysis", "optimization", "planning")
               if phases.contains(k)) / 1e3


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------

def prepare_env(run_dir: str) -> None:
    """Keep every file the engine writes inside the checkout, and give
    the executors' Python workers the package's import path (without it
    they fail to unpickle and the pipeline reports per-project errors)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["TMPDIR"] = tmp
    # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    sys.path.insert(0, ROOT)


def start_session(trace: bool, run_dir: str):
    from jira_scraper_etl_spark.session import get_spark
    conf = {"spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse")}
    if trace:
        conf.update(tracing.event_log_conf(os.path.join(run_dir, "eventlog")))
    spark = get_spark(app_name="perfbench", cpus=len(os.sched_getaffinity(0)), extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def run(args) -> dict:
    run_dir = os.path.join(BUILD, "runs", f"{args.workload}-seed{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    prepare_env(run_dir)
    bench = Bench(args, run_dir)
    etl = args.workload.startswith("etl_")
    if etl:
        bench.server = FakeJira(args.seed, CORPUS_ISSUES, os.path.join(run_dir, "server.log"))
    try:
        return _run(bench, etl)
    finally:
        if bench.server is not None:
            bench.server.close()
        stop_engine(bench.spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def stop_engine(spark) -> None:
    """Stop the session, then the driver JVM, and wait until the JVM and
    the Python workers it forked have exited (workers outlive the JVM by
    a moment and are then no longer our descendants, so their pids are
    taken first)."""
    from pyspark import SparkContext
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    engine = set(procstat.tree(os.getpid())) - {os.getpid()}
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    proc.terminate()
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while engine and time.monotonic() < deadline:
        engine = {p for p in engine if os.path.exists(f"/proc/{p}")}
        time.sleep(0.05)
    for pid in engine:
        with contextlib.suppress(ProcessLookupError):
            os.kill(pid, signal.SIGKILL)


def _run(bench: Bench, etl: bool) -> dict:
    args = bench.args
    from jira_scraper_etl_spark.sources import offsets
    from jira_scraper_etl_spark.streaming import pipeline
    from pyspark import SparkContext

    t0 = time.perf_counter()
    bench.spark = start_session(args.trace, bench.run_dir)
    session_start_s = time.perf_counter() - t0
    bench.tracer = tracing.Tracer(bench.spark.sparkContext, args.trace)
    if args.trace:
        # spans around the pipeline's module-level layer calls; the
        # program's own code is unchanged
        pipeline.extract_project = bench.tracer.wrap(
            pipeline.extract_project, "pipeline.extract_project", key=lambda s, c, p: p)
        pipeline.transform_project = bench.tracer.wrap(
            pipeline.transform_project, "pipeline.transform_project", key=lambda s, c, p: p)
    save = offsets.save

    def counted_save(*a, **kw):
        bench.offset_saves += 1
        return save(*a, **kw)
    offsets.save = counted_save

    t0 = time.perf_counter()
    warmup: list[OpResult] = []
    if etl:
        bench.server.wait_ready()
        cfg = bench.etl_config()
        # the smallest project, which holds one fault of each kind, runs
        # every code path of a backfill cold
        warmup.append(bench.backfill(replace(cfg, projects=[WARMUP_PROJECT]), "warmup"))
        op = lambda i: bench.backfill(cfg, f"op{i}")  # noqa: E731
    else:
        data_dir = querydata.write_tables(bench.run_dir)
        with open(os.path.join(HERE, "digests.json")) as f:
            digests = json.load(f)
        warmup.append(bench.query_pass(data_dir, list(QUERIES), "warmup", digests))
        order = list(QUERIES)
        random.Random(args.seed).shuffle(order)

        def op(i):
            # odd passes run the seed's order reversed, so a run's median
            # sees each query early and late in a pass
            return bench.query_pass(data_dir, order[::-1] if i % 2 else order, f"op{i}")
    warmup_s = time.perf_counter() - t0
    setup_s = time.perf_counter() - T_PROCESS

    stats0 = bench.server.call("stats") if bench.server else None
    results: list[OpResult] = []
    t_end = time.perf_counter() + args.seconds
    while len(results) < MIN_OPS[args.workload] or time.perf_counter() < t_end:
        steal0 = procstat.steal_seconds()
        results.append(op(len(results)))
        r = results[-1]
        steal = (procstat.steal_seconds() - steal0) / max(r.seconds, 1e-9)
        detail = " ".join(f"{k.split('.')[1][:12]}={v:.2f}" for k, v in r.layers.items()
                          if k.endswith(("build_s", "action_s")))
        print(f"op{len(results) - 1}: {r.seconds:.3f} s, cpu {r.cpu_s:.2f} s, "
              f"steal {steal:.2f} CPUs, {'ok' if r.ok else 'FAILED'} {detail}", file=sys.stderr)
    stats1 = bench.server.call("stats") if bench.server else None

    errors = [e for r in warmup + results for e in r.errors]
    for e in errors:
        print(f"check failed: {e}", file=sys.stderr)
    good = [r for r in results if r.ok] or results
    peak_rss_mb = procstat.peak_rss_mb(SparkContext._gateway.proc.pid)  # spark-submit execs the JVM
    op_s = statistics.median(r.seconds for r in good)
    metrics = {
        "op_s": (op_s, "s"),
        "items_per_s": (sum(r.items for r in good) / max(sum(r.seconds for r in good), 1e-9), "1/s"),
        "setup_s": (setup_s, "s"),
        "cpu_s_per_op": (statistics.median(r.cpu_s for r in good), "s"),
    }
    print(f"engine: peak_rss_mb={peak_rss_mb:.0f}", file=sys.stderr)
    if stats1:
        print(f"generator (timed ops): cpu_s={stats1['cpu_s'] - stats0['cpu_s']:.2f} "
              f"requests={stats1['requests'] - stats0['requests']} "
              f"max_inflight={stats1['max_inflight']}", file=sys.stderr)
    record = os.path.join(BUILD, f"untraced-{args.workload}-seed{args.seed}.json")
    if args.trace:
        layers = traced_layers(bench, results, stats0, stats1,
                               session_start_s, warmup_s, op_s, record)
        layers["jvm.peak_rss_mb"] = peak_rss_mb
        metrics = {k: (layers.get(k, 0), unit) for k, unit in per_layer_names()}
    else:
        with open(record, "w") as f:
            json.dump({"op_s": op_s, "source": source_digest(), "written": time.time()}, f)
    failed = sum(not r.ok for r in results)
    return {"correct": not errors, "attempted": len(results), "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def traced_layers(bench: Bench, results: list[OpResult], stats0, stats1,
                  session_start_s: float, warmup_s: float, op_s: float, record: str) -> dict:
    """Per-layer metrics of the timed operations, per operation."""
    n = len(results)
    out: dict = {"session.start_s": session_start_s, "session.warmup_s": warmup_s}
    for key in sorted({k for r in results for k in r.layers}):
        out[key] = statistics.median(r.layers.get(key, 0) for r in results)
    if stats0 and stats1:
        for k in SOURCE_COUNTERS:
            out[f"source.{k}"] = (stats1[k] - stats0[k]) / n
        out["source.useful_ratio"] = out["source.pages_ok"] / max(out["source.requests"], 1)
        out["source.max_inflight"] = stats1["max_inflight"]
        out["source.server_busy_s"] = (stats1["busy_s"] - stats0["busy_s"]) / n
        out["source.server_cpu_s"] = (stats1["cpu_s"] - stats0["cpu_s"]) / n
    bench.spark.stop()
    bench.spark = None
    groups = tracing.metrics_by_group(tracing.find_event_log(os.path.join(bench.run_dir, "eventlog")))
    spans = bench.tracer.finish(groups)
    timed = [s for s in spans if s["name"] == "op" and s["attrs"]["label"].startswith("op")]
    total = tracing.empty_metrics()
    plan_evals = 0
    transform_cpu = 0.0
    for root in timed:
        for s in bench.tracer.subtree(root["id"]):
            total = tracing.add_metrics(total, s["spark"])
            if s["name"].startswith("pipeline.transform_project"):
                plan_evals += s["spark"]["file_scan_jobs"]
                transform_cpu += s["spark"]["executor_cpu_s"]
    for k in tracing.SPARK_METRICS:
        out[f"spark.{k}"] = total[k] / n
    out["source.scan_tasks"] = total["source_scan_tasks"] / n
    out["transform.plan_evaluations"] = plan_evals / n
    out["transform.executor_cpu_s"] = transform_cpu / n
    out["trace.op_s"] = op_s
    out["trace.spans"] = len(spans)
    untraced = None
    if os.path.exists(record):
        with open(record) as f:
            untraced = json.load(f)
    if untraced and untraced.get("source") == source_digest():
        out["trace.untraced_op_s"] = untraced["op_s"]
        out["trace.overhead_s"] = op_s - untraced["op_s"]
        print(f"trace overhead: {out['trace.overhead_s']:+.3f} s against the untraced run "
              f"of this seed and source {untraced['source'][:12]}, made "
              f"{time.time() - untraced['written']:.0f} s before this one", file=sys.stderr)
    else:
        print("trace overhead: no untraced run of this seed and source to compare "
              "with; run --trace 0 with the same seed right before --trace 1", file=sys.stderr)
    path = os.path.join(BUILD, "traces", f"{bench.args.workload}-seed{bench.args.seed}.jsonl")
    tracing.write_spans(path, spans)
    print(f"spans: {path}", file=sys.stderr)
    return out


def source_digest() -> str:
    """sha256 over the engine's and the benchmark's Python sources, so a
    traced run is compared only with an untraced run of the same code."""
    h = hashlib.sha256()
    for pattern in ("jira_scraper_etl_spark/**/*.py", "perfbench/*.py"):
        for path in sorted(glob.glob(os.path.join(ROOT, pattern), recursive=True)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def record_digests() -> None:
    """Re-record ``digests.json`` from the current engine (run by hand, only
    when the query data or a query's intended result changes):
    ``python3 -c 'import sys; sys.path.insert(0, "perfbench"); import run; run.record_digests()'``"""
    from jira_scraper_etl_spark import plans
    from jira_scraper_etl_spark.seams import release_seams
    run_dir = os.path.join(BUILD, "runs", f"digests-{os.getpid()}")
    prepare_env(run_dir)
    spark = start_session(False, run_dir)
    try:
        data_dir = querydata.write_tables(run_dir)
        out = {}
        for q in QUERIES:
            out[q] = digest(plans.QUERIES[q].fn(spark, data_dir))
            release_seams()
    finally:
        stop_engine(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    with open(os.path.join(HERE, "digests.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="ETL engine benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    os.makedirs(BUILD, exist_ok=True)
    steal0, t0 = procstat.steal_seconds(), time.perf_counter()
    result = run(args)
    # runs of the same code are slow when other guests take the host's CPUs
    steal = (procstat.steal_seconds() - steal0) / (time.perf_counter() - t0)
    print(f"machine: CPU steal {steal:.2f} CPUs on average during the run", file=sys.stderr)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
