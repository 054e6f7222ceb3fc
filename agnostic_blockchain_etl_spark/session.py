"""SparkSession factory — the engine analog of Local/RemoteEngine.

Reference: internal/engine/impl/local/local_engine.go boots an embedded
server with tuned settings + UDF bundles; remote_engine.go:10-44 points at
an existing server. Here both collapse to SparkSession.builder with a conf
dict, and "installing the UDF bundle" is ``register_all``.

Scale defaults (100 TB design point, tested on local[32]):
- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  replaces the reference's hand-tuned batch sizes for intra-query skew.
- shuffle.partitions default tracks core count locally; on a real cluster
  AQE coalesces from a deliberately high initial number.
- parquet zstd to match the reference's CODEC(ZSTD) columns
  (examples/ethereum_blocks/create_table.sql:2-24).
- Arrow enabled for every Python boundary crossing.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from .functions.registry import register_all

DEFAULT_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.parquet.filterPushdown": "true",
    "spark.sql.parquet.aggregatePushdown": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # Prefer shuffled-hash over sort-merge when the planner's OWN size
    # gates hold (build side estimated < threshold × shuffle partitions
    # AND ≥3× smaller than the probe side — Spark only swaps the
    # strategy inside those bounds, and falls back to SMJ otherwise):
    # skips the per-partition sort entirely. Interleaved A/B over the
    # 11 SMJ-carrying headline queries at sf0.1 read 22.4 s → 16.9 s
    # (r11); at cluster scale the same size gates apply per partition —
    # override via get_session(conf=...) for memory-tight executors.
    "spark.sql.join.preferSortMergeJoin": "false",
    # static conf; default 100 entries evicts mid-workload when a session
    # runs the whole queries() inventory (measured: a big shingle plan pays
    # ~4 s of Janino recompilation on every run once its entries fall out)
    "spark.sql.codegen.cache.maxEntries": "10000",
    # ContextCleaner only releases dead shuffle files / broadcasts /
    # checkpoint blocks when a DRIVER GC processes their weak refs; the
    # stock 30min periodic GC lets a busy long-lived session accumulate
    # dead state that crowds live queries out of memory (r12: mid-
    # session heavy rows read up to 5× their isolated wall on local[32]
    # at the 10× corpus — tasks blocked in execution-memory acquisition
    # behind dead blocks in the protected storage fraction, zero spill,
    # executorRunTime ≈ 2.6× executorCpuTime). 2min bounds the backlog
    # at ~one minor-GC's cost per interval; override for short-lived
    # jobs where the default is irrelevant anyway.
    "spark.cleaner.periodicGC.interval": "2min",
    # InferFiltersFromGenerate adds `size(x) > 0` under `explode(x)`, and
    # filter pushdown then copies x's defining expression below its
    # Project — when x is an ethereum_rpc(...) result, every block is
    # fetched twice (logs/traces ingest buffers). The inferred filter
    # changes no result (explode emits nothing for an empty or NULL
    # array); marking the RPC UDFs nondeterministic instead would forbid
    # them inside aggregates (`count(ethereum_rpc(...))`).
    "spark.sql.optimizer.excludedRules":
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate",
    "spark.sql.session.timeZone": "UTC",
    # testdata events.parquet carries TIMESTAMP(NANOS); Spark reads it as a
    # nanosecond long with this flag (convert with timestamp_micros(ts/1000))
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # replayed day/month partitions replace only themselves (idempotent
    # range-keyed writes, SURVEY.md §7.2)
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.scheduler.mode": "FAIR",  # concurrent batch stages share fairly
}


def connect_conf(conf: dict | None = None) -> dict:
    """The conf dict a Spark Connect session gets: the engine's
    runtime-SQL defaults apply to Connect sessions too — dropping them
    would silently change semantics (UTC session tz, nanosAsLong parquet
    reads, DYNAMIC partition overwrite: without that last one a
    daily-export replay truncates every partition of the sink).
    Static/driver-side confs (scheduler.mode, driver memory, UI) are the
    server's business and are skipped; caller confs override."""
    merged = {k: v for k, v in DEFAULT_CONF.items()
              if k.startswith("spark.sql.")}
    merged.update(conf or {})
    return merged


def get_session(master: str | None = None, conf: dict | None = None,
                app_name: str = "agnostic-blockchain-etl-spark") -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults + kernel UDFs.

    ``master`` accepts an ``sc://host:port`` Spark Connect URL as well —
    the RemoteEngine analog proper (remote_engine.go:10-44 points at an
    existing server; Connect is Spark's point-at-an-existing-server mode,
    so a pipeline.yaml ``Engine.master: sc://...`` runs the whole engine
    against a remote cluster). Requires the Connect client deps
    (grpcio et al.), which this container does not ship — the path is
    import-gated with an actionable error and its live test skips when
    the client is absent (see tests/test_connect.py, COVERAGE.md)."""
    if master is not None and master.startswith("sc://"):
        try:
            import grpc  # noqa: F401
        except ImportError as ex:
            raise RuntimeError(
                "Spark Connect ('sc://') sessions need the client packages "
                "(grpcio, grpcio-status, googleapis-common-protos) which "
                "are not installed in this environment; install them or "
                "use a local[...]/cluster master URL") from ex
        builder = SparkSession.builder.appName(app_name).remote(master)
        for k, v in connect_conf(conf).items():
            builder = builder.config(k, v)
        spark = builder.getOrCreate()
        register_all(spark)
        return spark
    builder = SparkSession.builder.appName(app_name)
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = f"local[{cpus}]"
    builder = builder.master(master)
    merged = dict(DEFAULT_CONF)
    if master.startswith("local"):
        n = os.cpu_count() or 8
        merged.setdefault("spark.sql.shuffle.partitions", str(n))
        merged.setdefault("spark.driver.memory", "8g")
    merged.update(conf or {})
    for k, v in merged.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    register_all(spark)
    return spark
