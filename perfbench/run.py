#!/usr/bin/env python3
"""The repository's benchmark: one command, one workload per invocation.

    python3 perfbench/run.py --workload chain_follow --seed 7 --seconds 8 \
        --trace 0

Workloads (see perfbench/README.md for why each exists):

- ``chain_follow``: ``examples/logs_ingest`` catches up on the backlog of a
  seeded synthetic chain in batches; the traced run then follows, open
  loop, a head that advances at a fixed block rate.
- ``query_suite``: closed loop, one client. A fixed mix of ``queries()``
  entries over seeded tables, in a seed-permuted order.

Run from the repository root. Every file the run writes stays under
``.perfbench/``. With ``--trace 0`` the last line of standard output is a
JSON object holding every end-to-end metric named in BENCHMARK.json; with
``--trace 1`` it holds every per-layer metric instead, and the spans are
written to ``.perfbench/traces/``. Outputs are checked after the timed
region; a failed check makes ``correct`` false and the exit code 1.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")
CORES = len(os.sched_getaffinity(0))

CHAIN_HISTORY = 100          # backlog blocks per timed catch-up
# blocks per batch: a catch-up is 5 batches, more than the 4 stage-0
# workers, so stage-0 batches run concurrently, finish out of order and
# queue at the sequencer for the one-worker sink stage
CHAIN_BATCH = 20
# an untimed one-batch catch-up first, so that the timed ones run on loaded
# classes and JIT-compiled code
WARM_BLOCKS = CHAIN_BATCH
# head-advance rate of chain_follow's live phase: about half the catch-up
# throughput at CHAIN_BATCH (7-9 blocks/s measured on a 4-core x86 host);
# fixed so that a faster engine shows as lower lag rather than as more
# offered load
CHAIN_RATE = 4.0
# timed repetitions per run are fixed by --seconds, not by elapsed time, so
# that every run of a workload does the same work: about this many seconds
# per repetition on a 4-core x86 host
CATCHUP_S = 13.0
PASS_S = 8.0
QUERY_MIX = ("q1_pricing_summary", "q5_supplier_volume", "enrich_join_chain",
             "evm_kernel_roundtrip", "sessionization", "emb_ivf_topk",
             "text_stats_facets")


def _prepare_env() -> None:
    """Point Spark, its Python workers and every temp file at the checkout;
    must run before pyspark is imported."""
    for d in ("tmp", "spark-local", "warehouse", "traces"):
        os.makedirs(os.path.join(OUT, d), exist_ok=True)
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["AGN_RPC_MOCK"] = "perfbench.chain:transport"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(OUT, "spark-local")
    os.environ["TMPDIR"] = os.path.join(OUT, "tmp")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    sys.path.insert(0, ROOT)


def spark_conf(extra: dict | None = None) -> dict:
    return {"spark.driver.memory": "2g",
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(OUT, "warehouse"),
            # -XX:-UsePerfData: no hsperfdata file in the system temp dir
            "spark.driver.extraJavaOptions": "-XX:-UsePerfData "
                "-Djava.io.tmpdir=" + os.path.join(OUT, "tmp"),
            **(extra or {})}


def quantile(values, q: float) -> float:
    """Inclusive linear-interpolation quantile, ``q`` in [0, 1]."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


class Run:
    """One invocation's shared state: the Spark session, the optional
    tracer, the per-layer counters and the failure accounting."""

    def __init__(self, workload: str, seed: int, seconds: int, tracer,
                 run_dir: str):
        self.workload, self.seed, self.seconds = workload, seed, seconds
        self.tracer = tracer
        self.run_dir = run_dir
        self.spark = None
        self.attempted = self.failed = 0
        self.checks: list[tuple[str, bool]] = []
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.groups: set[str] = set()
        self.job_stats: dict[str, float] = {}
        self.stage_files: list[tuple[list[str], int]] = []
        self.pipeline_runs = 0
        self.commits: list[tuple] = []      # every pipeline run's commits
        self.pipeline_wall = 0.0
        self.trace_prefix = ""
        self.rss = None             # the RssSampler around the workload
        self.peak: dict | None = None

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok)))
        if not ok:
            print(f"CHECK FAILED {name}: {detail}", file=sys.stderr)

    def end_to_end_taken(self) -> None:
        """Freeze the memory peaks reported for the run once the timed work
        is done: the correctness checks after it are not the engine's work,
        and what a traced run does after it (the live follow, the local[1]
        baseline) has no untraced counterpart to compare with."""
        if self.rss is not None:
            self.rss.sample()
            self.peak = dict(self.rss.peak)

    def span(self, name: str, t0: float, t1: float, trace: str, **attrs):
        if self.tracer is not None:
            self.tracer.record(name, t0, t1, trace, None, **attrs)

    # -- session ---------------------------------------------------------

    def setup(self, master: str, conf: dict, record: bool = True) -> None:
        """Start the session, stopping any earlier one: ``get_session``
        (session start and UDF registration) plus a warm-up job that starts
        a Python worker on every core. ``record`` keeps the times as this
        run's ``setup_s``."""
        from agnostic_blockchain_etl_spark.session import get_session
        cores = int(master[master.index("[") + 1:-1])
        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_session(master, conf)
        t1 = time.perf_counter()
        self.spark.sql(
            "SELECT sum(evm_hex_decode_int(evm_hex_encode_int(id), "
            f"'UInt64')) FROM range(0, {4000 * cores}, 1, {cores})"
        ).collect()
        t2 = time.perf_counter()
        self.span("session.get_session", t0, t1, "setup")
        self.span("session.warmup", t1, t2, "setup")
        if record:
            self.e2e["setup_s"] = t2 - t0
            self.layer["session.get_session_s"] = t1 - t0
            self.layer["session.warmup_s"] = t2 - t1

    # -- pipelines -------------------------------------------------------

    def pipeline(self, example: str, vars: dict, edit, on_commit):
        """Run ``examples/<example>`` through ``run_pipeline`` with the
        CLI's scheduler hook; in a traced run wrap the executor and the
        templates. Returns ``(wall_s, error)``."""
        from agnostic_blockchain_etl_spark.plans.config import PipelineConfig
        from agnostic_blockchain_etl_spark.plans.executor import SparkExecutor
        from agnostic_blockchain_etl_spark.plans.pipeline import run_pipeline
        from agnostic_blockchain_etl_spark.plans.templates import TemplateSet
        d = os.path.join(ROOT, "examples", example)
        conf = PipelineConfig.from_yaml(os.path.join(d, "pipeline.yaml"),
                                        env={})
        edit(conf)
        templates = TemplateSet.load(d)
        executor = SparkExecutor(self.spark)
        sc = self.spark.sparkContext
        if self.tracer is not None:
            from perfbench.tracing import TracingExecutor, TracingTemplates
            current = threading.local()
            # batch numbers restart with every pipeline run
            self.trace_prefix = f"p{self.pipeline_runs}/"
            self.pipeline_runs += 1
            templates = TracingTemplates(templates, self.tracer, current,
                                         self.trace_prefix)
            executor = TracingExecutor(executor, self.tracer, current)

        def scheduler_hook(pool: str) -> None:
            sc.setLocalProperty("spark.scheduler.pool", pool)

        self.stage_files = [(s.Stage.Files, s.Workers) for s in conf.Steps
                            if s.Stage is not None]
        t0 = time.perf_counter()
        err = None
        try:
            run_pipeline(executor, templates, conf, vars,
                         on_commit=on_commit, scheduler_hook=scheduler_hook)
        except _LastCommit:
            pass
        except Exception as e:          # a failed batch ends the pipeline
            traceback.print_exc()
            err = e
        wall = time.perf_counter() - t0
        self.pipeline_wall += wall
        if self.tracer is not None:
            self.groups |= executor.groups
        return wall, err

    def pipeline_layers(self) -> None:
        """Per-layer pipeline metrics from the commit log and the spans of
        every pipeline run of this invocation."""
        commits, wall = self.commits, self.pipeline_wall
        c = self.tracer.counts
        for i, (files, workers) in enumerate(self.stage_files):
            busy = sum(c.get("executor.busy_s." + f.removesuffix(".sql"), 0.0)
                       for f in files)
            self.layer[f"pipeline.stage_busy_share.{i}"] = (
                busy / (wall * workers))
        self.layer["pipeline.tip_polls"] = sum(
            1 for s in self.tracer.spans
            if s[0] == "templates.render" and s[5].get("file") == "tip.sql")
        self.layer["pipeline.tip_poll_s"] = c.get("executor.busy_s.tip", 0.0)
        self.layer["pipeline.batches"] = len(commits)
        self.layer["pipeline.items_per_batch"] = statistics.mean(
            e - s + 1 for _, s, e, _ in commits)
        times = [t for *_, t in commits]
        gaps = [b - a for a, b in zip(times, times[1:])]
        self.layer["pipeline.commit_interval_p50_s"] = (
            statistics.median(gaps) if gaps else 0.0)
        # gap between a batch's stage-0 end and what follows the sequencer
        first = set(self.stage_files[0][0])
        rest = {f for files, _ in self.stage_files[1:] for f in files}
        end0, start1 = {}, {}
        for name, s, e, _, trace, attrs in self.tracer.spans:
            f = attrs.get("file")
            if name.startswith("executor.") and f in first:
                end0[trace] = max(end0.get(trace, 0.0), e)
            elif name == "templates.render" and f in rest:
                start1[trace] = min(start1.get(trace, float("inf")), s)
            elif name == "pipeline.batch":
                start1.setdefault(trace, e)
        waits = [start1[t] - end0[t] for t in end0 if t in start1]
        self.layer["pipeline.reorder_wait_s"] = (
            statistics.median(waits) if waits else 0.0)

    def commit_hook(self, commits: list, last: int):
        """``on_commit``: log ``(number, start, end, time)``; raise
        ``_LastCommit`` once block/day ``last`` is committed."""
        def on_commit(batch):
            now = time.perf_counter()
            commits.append((batch.number, batch.start, batch.end, now))
            self.commits.append(commits[-1])
            if self.tracer is not None:
                trace = f"{self.trace_prefix}batch-{batch.number}"
                first = self.tracer.first_start.get(trace, now)
                self.tracer.record("pipeline.batch", first, now, trace, None,
                                   blocks=[batch.start, batch.end])
            if batch.end >= last:
                raise _LastCommit()
        return on_commit

    def sink_layers(self, path: str, rows: int) -> None:
        files = size = 0
        for d, _, names in os.walk(path):
            for n in names:
                if not n.startswith((".", "_")):
                    files += 1
                    size += os.path.getsize(os.path.join(d, n))
        self.layer["sink.files"] = files
        self.layer["sink.bytes"] = size
        self.layer["sink.bytes_per_row"] = size / rows if rows else 0.0


class _LastCommit(Exception):
    """Raised from ``on_commit`` to end a pipeline at its last block."""


# ---------------------------------------------------------------------------
# chain_follow
# ---------------------------------------------------------------------------

def make_chain(run: Run, n: int):
    """Generate and write the run's seeded chain of ``n`` blocks, then load
    it into every Python worker before any clock starts. Returns ``(chain,
    path, stats_dir)``; ``stats_dir`` is empty unless the run is traced."""
    from perfbench import chain as fixture
    chain = fixture.generate(run.seed, n)
    path = os.path.join(run.run_dir, "chain.json")
    fixture.write(chain, path)
    stats = ""
    if run.tracer is not None:
        stats = os.path.join(run.run_dir, "rpc-stats")
        os.makedirs(stats)
    warm = fixture.Clock(path, 0.0, 0.0, n, n - 1, "")
    run.spark.sql(
        f"SELECT count(ethereum_rpc('eth_getBlockByNumber', array('0x0', "
        f"'false'), '{warm.url()}')) FROM range(0, {4 * CORES}, 1, {CORES})"
    ).collect()
    return chain, path, stats


def ingest(run: Run, clock, sink: str, workers: int):
    """Run ``examples/logs_ingest`` against the chain ``clock`` serves,
    resuming after what ``sink`` holds, until block ``clock.last``
    commits. Returns ``(commits, wall_s, error)``."""
    commits: list = []

    def edit(conf):
        conf.TipTracker.StopAfter = None
        conf.Batcher.MaxBatchSize = CHAIN_BATCH
        conf.Steps[0].Workers = min(conf.Steps[0].Workers, workers)

    table = "bench_logs_" + os.path.basename(sink).replace("-", "_")
    wall, err = run.pipeline(
        "logs_ingest",
        {"RPC_ENDPOINT": clock.url(), "TARGET_PATH": sink,
         "SINK_TABLE": table},
        edit, run.commit_hook(commits, last=clock.last))
    return commits, wall, err


def chain_follow(run: Run) -> None:
    """Catch up on a backlog of ``CHAIN_HISTORY`` blocks, each time into a
    fresh sink: once untimed on ``WARM_BLOCKS`` blocks, then ``--seconds /
    CATCHUP_S`` times (at least 2) timed; ``ops_per_s`` is the median timed
    catch-up throughput. A traced run then follows a head that advances at
    ``CHAIN_RATE`` for ``--seconds``, and runs the single-threaded
    baseline; both come after the end-to-end metrics are taken."""
    from perfbench import chain as fixture
    run.setup(f"local[{CORES}]", spark_conf(
        {"spark.sql.shuffle.partitions": "8"}))   # examples/logs_ingest
    # the live blocks exist in every run, so that the untraced and the
    # traced run load the same fixture
    live = round(CHAIN_RATE * run.seconds)
    chain, path, stats = make_chain(run, CHAIN_HISTORY + live)
    sinks = []                  # (path, last block)
    commits: list = []          # the last sink's

    def catch_up(clock) -> float:
        if clock.rate <= 0:
            sinks.append((os.path.join(run.run_dir, f"sink-{len(sinks)}"),
                          clock.last))
            commits.clear()
        c, wall, err = ingest(run, clock, sinks[-1][0], CORES)
        commits.extend(c)
        run.attempted += len(c) + (err is not None)
        run.failed += err is not None
        return wall

    def backlog(blocks: int):
        return fixture.Clock(path, 0.0, 0.0, blocks, blocks - 1, stats)

    warm = catch_up(backlog(WARM_BLOCKS))
    walls = [catch_up(backlog(CHAIN_HISTORY))
             for _ in range(max(2, round(run.seconds / CATCHUP_S)))]
    run.e2e["ops_per_s"] = CHAIN_HISTORY / statistics.median(walls)
    run.end_to_end_taken()
    run.layer["pipeline.cold_catchup_s"] = warm
    run.layer["pipeline.catchups"] = len(walls)
    print(f"chain_follow: untimed catch-up of {WARM_BLOCKS} blocks "
          f"{warm:.2f} s; timed catch-ups of {CHAIN_HISTORY} blocks "
          + " ".join(f"{w:.2f}" for w in walls) + " s")

    if run.tracer is not None:
        # follow the live head, resuming on the last catch-up's sink
        clock = fixture.Clock(path, time.monotonic(), CHAIN_RATE,
                              CHAIN_HISTORY, CHAIN_HISTORY + live - 1, stats)
        catch_up(clock)
        sinks[-1] = (sinks[-1][0], clock.last)
        to_mono = time.monotonic() - time.perf_counter()
        done_at = {b: t + to_mono for _, s, e, t in commits
                   for b in range(s, e + 1) if b >= CHAIN_HISTORY}
        lags = [done_at[b] - clock.appears_at(b)
                for b in range(CHAIN_HISTORY, clock.last + 1) if b in done_at]
        if lags:
            run.layer["pipeline.head_lag_p50_s"] = quantile(lags, 0.5)
            run.layer["pipeline.head_lag_p90_s"] = quantile(lags, 0.9)

    # correctness, outside the timed region: every sink holds the logs of
    # the blocks it was fed; the last one is compared row by row
    from agnostic_blockchain_etl_spark.sources.replacing import read_replacing
    logs = fixture.expected_logs(chain)
    for sink, last in sinks[:-1]:
        n = run.spark.read.parquet(sink).count()
        want = sum(1 for e in logs if e[0] <= last)
        run.check("chain_follow.backlog_rows", n == want,
                  f"{sink}: {n} rows, expected {want}")
    sink, last = sinks[-1]
    expected = [e for e in logs if e[0] <= last]
    t0 = time.perf_counter()
    df = run.spark.read.parquet(sink)
    got = read_replacing(df, ["block_number", "log_index"]).selectExpr(
        "block_number", "log_index", "lower(hex(address)) AS address",
        "lower(hex(data)) AS data", "lower(hex(topics[0])) AS topic0"
    ).collect()
    t1 = time.perf_counter()
    raw = df.count()
    run.span("sources.read_replacing", t0, t1, "verify")
    run.check("chain_follow.rows", raw == len(got) == len(expected),
              f"raw={raw} distinct={len(got)} expected={len(expected)}")
    run.check("chain_follow.logs", sorted(tuple(r) for r in got)
              == sorted(expected), "sink rows differ from the chain's logs")
    blocks = sorted(b for _, s, e, _ in commits for b in range(s, e + 1))
    run.check("chain_follow.blocks", blocks == list(range(last + 1)),
              "committed blocks are not 0..last, each once")
    run.layer["sources.read_replacing_s"] = t1 - t0
    run.layer["sources.dup_ratio"] = 1 - len(got) / raw if raw else 0.0
    run.sink_layers(sink, raw)

    if run.tracer is not None:
        run.pipeline_layers()
        st = fixture.read_stats(stats)
        for m in ("eth_getBlockByNumber", "eth_getBlockReceipts", "tip"):
            run.layer[f"rpc.calls.{m}"] = st["calls"].get(m, 0)
        ingested = sum(last + 1 for _, last in sinks)
        run.layer["rpc.calls_per_block"] = (
            (st["calls"].get("eth_getBlockByNumber", 0)
             + st["calls"].get("eth_getBlockReceipts", 0)) / ingested)
        run.layer["rpc.errors"] = st["errors"]
        run.layer["rpc.serve_s"] = st["serve_s"]
        run.job_stats = _job_stats(run, len(run.commits))
        # single-threaded baseline: the same warm-up and catch-up on
        # local[1], 1 worker
        run.setup("local[1]", spark_conf(
            {"spark.sql.shuffle.partitions": "8"}), record=False)
        run.tracer, tracer = None, run.tracer

        def baseline(blocks: int) -> float:
            clock = fixture.Clock(path, 0.0, 0.0, blocks, blocks - 1, "")
            c, wall, err = ingest(run, clock, os.path.join(
                run.run_dir, f"sink-baseline-{blocks}"), 1)
            run.attempted += len(c) + (err is not None)
            run.failed += err is not None
            return wall

        baseline(WARM_BLOCKS)
        run.layer["baseline.local1_catchup_blocks_per_s"] = (
            CHAIN_HISTORY / baseline(CHAIN_HISTORY))
        run.tracer = tracer


# ---------------------------------------------------------------------------
# query_suite
# ---------------------------------------------------------------------------

def query_suite(run: Run) -> None:
    from perfbench import tables
    from __spark_entry__ import oracle_sql, queries
    from tests.oracle_harness import duckdb_run, rows_signature
    data = os.path.join(run.run_dir, "data")
    tables.generate(run.seed, data)
    run.setup(f"local[{CORES}]", spark_conf())
    qs = queries()
    order = list(QUERY_MIX)
    random.Random(run.seed).shuffle(order)
    results: dict[str, list] = {n: [] for n in order}
    per_query: dict[str, list] = {n: [] for n in order}
    passes = []
    sc = run.spark.sparkContext
    # an untimed first pass: per-query planning and code generation
    for i in range(1 + max(1, round(run.seconds / PASS_S))):
        t_pass = time.perf_counter()
        for name in order:
            if run.tracer is not None:
                sc.setJobGroup("bench:" + name, name)
                run.groups.add("bench:" + name)
            run.attempted += 1
            t0 = time.perf_counter()
            try:
                df = qs[name](run.spark, data)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception:
                traceback.print_exc()
                run.failed += 1
                continue
            t1 = time.perf_counter()
            if i:
                per_query[name].append(t1 - t0)
            results[name].append((cols, rows))
            run.span("operators.query", t0, t1,
                     f"pass{len(passes)}/query-{name}", query=name)
        passes.append(time.perf_counter() - t_pass)
    # a typical warm pass: each query at its median over the warm passes
    suite_s = sum(statistics.median(per_query[n]) for n in order
                  if per_query[n])
    if suite_s:
        run.e2e["ops_per_s"] = len(order) / suite_s
    run.end_to_end_taken()
    print(f"query_suite: {len(order)} queries, passes: "
          + " ".join(f"{p:.2f}" for p in passes)
          + f" s, suite_s {suite_s:.2f}")

    oracles = oracle_sql()
    for name in order:
        want = rows_signature(*duckdb_run(oracles[name], data))
        for cols, rows in results[name]:
            ok = rows_signature(cols, rows) == want
            run.check(f"query_suite.{name}", ok, "differs from DuckDB oracle")
            run.failed += not ok
    for name in QUERY_MIX:
        run.layer[f"query.{name}_s"] = (statistics.median(per_query[name])
                                        if per_query[name] else 0.0)
    if run.tracer is not None:
        run.job_stats = _job_stats(run, run.attempted)


def _job_stats(run: Run, ops: int) -> dict:
    from perfbench.tracing import spark_job_stats
    st = spark_job_stats(run.spark, run.groups)
    return {"spark.jobs": st["jobs"] / max(ops, 1),
            "spark.tasks": st["tasks"] / max(ops, 1),
            "spark.failed_tasks": st["failed_tasks"]}


WORKLOADS = {"chain_follow": chain_follow, "query_suite": query_suite}


# ---------------------------------------------------------------------------
# entry point
# ---------------------------------------------------------------------------

def stop_spark(spark) -> None:
    """Stop the session, then the JVM (it exits when its stdin closes), and
    wait until it and the Python workers it forked have ended."""
    from pyspark import SparkContext

    from perfbench.tracing import descendants
    if spark is not None:
        spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=60)
    deadline = time.monotonic() + 30
    while descendants(os.getpid()) and time.monotonic() < deadline:
        time.sleep(0.1)


def _history_path() -> str:
    return os.path.join(OUT, "history.jsonl")


def code_id() -> str:
    """Hash of the engine, the examples, the query entry point and the
    benchmark, so that the untraced history compares runs of the same
    code even when several versions run in one checkout."""
    h = hashlib.sha256()
    paths = ["__spark_entry__.py", "BENCHMARK.json"]
    for top in ("agnostic_blockchain_etl_spark", "examples", "perfbench"):
        for d, dirs, files in os.walk(os.path.join(ROOT, top)):
            dirs[:] = sorted(x for x in dirs if x != "__pycache__")
            paths += sorted(os.path.relpath(os.path.join(d, n), ROOT)
                            for n in files if not n.endswith(".pyc"))
    for rel in paths:
        h.update(rel.encode() + b"\0")
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def untraced_reference(workload: str, code: str) -> tuple[dict, int]:
    """Median end-to-end metrics of the last 10 untraced runs of
    ``workload`` on this code recorded in this checkout, and how many there
    were."""
    if not os.path.exists(_history_path()):
        return {}, 0
    with open(_history_path()) as f:
        rows = [json.loads(x) for x in f if x.strip()]
    rows = [r["metrics"] for r in rows
            if r["workload"] == workload and r.get("code") == code][-10:]
    if not rows:
        return {}, 0
    median = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
    return median, len(rows)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    _prepare_env()
    import agnostic_blockchain_etl_spark as pkg
    if not os.path.abspath(pkg.__file__).startswith(ROOT + os.sep):
        raise SystemExit(f"engine imported from {pkg.__file__}, not {ROOT}")
    from perfbench.tracing import RssSampler, Tracer

    tracer = Tracer() if args.trace else None
    run_dir = os.path.join(
        OUT, f"run-{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(run_dir)
    run = Run(args.workload, args.seed, args.seconds, tracer, run_dir)
    code = code_id()
    try:
        with RssSampler() as rss:
            run.rss = rss
            try:
                WORKLOADS[args.workload](run)
            except Exception:
                traceback.print_exc()
                run.attempted += 1
                run.failed += 1
                run.check("run", False, "workload raised")
            finally:
                stop_spark(run.spark)
        mb = 1024 * 1024
        peak = run.peak or rss.peak
        run.e2e["peak_rss_mb"] = peak["total"] / mb
        run.layer["proc.driver_rss_mb"] = peak["driver"] / mb
        run.layer["proc.jvm_rss_mb"] = peak["jvm"] / mb
        run.layer["proc.pyworker_rss_mb"] = peak["pyworker"] / mb
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    attempted = max(run.attempted, 1)
    correct = all(ok for _, ok in run.checks) and run.failed == 0
    for m in spec["end_to_end"]:
        print(f"{args.workload} {m['name']} = "
              f"{run.e2e.get(m['name'], float('nan')):.6g} {m['unit']}")
    print(f"{args.workload} failed_ratio = {run.failed / attempted:.6g} "
          f"({run.failed} of {attempted} operations)")
    if args.trace:
        layer = dict(run.layer)
        layer.update(run.job_stats)
        layer["ops.failed_ratio"] = run.failed / attempted
        c = tracer.counts
        for k in ("templates.render_calls", "templates.render_s",
                  "executor.exec_calls", "executor.select_calls"):
            layer[k] = c.get(k, 0.0)
        for f in ("create_buffer", "write_to_sink", "delete_buffer", "tip",
                  "start"):
            layer[f"executor.busy_s.{f}"] = c.get(f"executor.busy_s.{f}", 0.0)
        for layer_name, s in tracer.self_times().items():
            layer[f"self_s.{layer_name}"] = s
        layer["trace.spans"] = len(tracer.spans)
        layer["trace.own_s"] = tracer.own_s
        # tracing overhead: the relative cost against the untraced runs,
        # positive when the traced run reads worse
        reference, layer["trace.untraced_runs"] = untraced_reference(
            args.workload, code)
        for m in spec["end_to_end"]:
            k, ref = m["name"], reference.get(m["name"])
            sign = 1 if m["better"] == "lower" else -1
            layer[f"trace.overhead.{k}"] = (
                sign * (run.e2e[k] - ref) / ref
                if ref and k in run.e2e else 0.0)
        names = [(m["name"], m["unit"]) for m in spec["per_layer"]]
        metrics = {n: layer.get(n, 0.0) for n, _ in names}
        tracer.dump(os.path.join(
            OUT, "traces", f"{args.workload}-{args.seed}-{os.getpid()}.json"))
        units = dict(names)
        for n in sorted(metrics):
            print(f"  {n} = {metrics[n]:.6g} {units[n]}")
    else:
        names = [(m["name"], m["unit"]) for m in spec["end_to_end"]]
        missing = [n for n, _ in names if n not in run.e2e]
        if missing:
            run.check("metrics", False, f"not measured: {missing}")
            correct = False
        metrics = {n: run.e2e.get(n, 0.0) for n, _ in names}
        if correct:
            with open(_history_path(), "a") as f:
                f.write(json.dumps({"workload": args.workload,
                                    "seed": args.seed, "code": code,
                                    "metrics": metrics}) + "\n")
    units = dict(names)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": run.failed,
                      "metrics": {n: {"value": v, "unit": units[n]}
                                  for n, v in metrics.items()}}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
