"""The agn_cursor streaming source: tip-bounded batches, exactly-once
across restarts — the TipTracker/Batcher contract as a Spark source."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from agnostic_blockchain_etl_spark.streaming.cursor_datasource import (  # noqa: E402
    CursorDataSource)


@pytest.fixture(scope="module")
def spark():
    from agnostic_blockchain_etl_spark.session import get_session
    s = get_session(master="local[8]",
                    conf={"spark.sql.shuffle.partitions": "8"})
    s.dataSource.register(CursorDataSource)
    yield s


def _drain(spark, tip_path, sink, ckpt, max_batch=10, start=0):
    stream = (spark.readStream.format("agn_cursor")
              .option("start", start).option("max_batch_size", max_batch)
              .option("tip_path", tip_path).load())
    q = (stream.writeStream.outputMode("append").format("parquet")
         .option("path", sink).option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()


@pytest.mark.heavy
def test_tip_bound_and_batch_cap(spark, tmp_path):
    tip = str(tmp_path / "tip")
    sink, ckpt = str(tmp_path / "sink"), str(tmp_path / "ckpt")
    (tmp_path / "tip").write_text("24")

    _drain(spark, tip, sink, ckpt, max_batch=10)
    got = spark.read.parquet(sink)
    # drains the whole backlog 0..tip inclusive, nothing past the tip
    assert got.count() == 25
    assert got.agg(F.min("n"), F.max("n")).first() == (0, 24)
    # no duplicates: the 10-row batch cap sliced the backlog cleanly
    assert got.select("n").distinct().count() == 25


def test_restart_resumes_from_committed_cursor(spark, tmp_path):
    tip = str(tmp_path / "tip2")
    sink, ckpt = str(tmp_path / "sink2"), str(tmp_path / "ckpt2")
    (tmp_path / "tip2").write_text("9")

    _drain(spark, tip, sink, ckpt)
    assert spark.read.parquet(sink).count() == 10

    # tip advances while the query is down; restart on the same checkpoint
    (tmp_path / "tip2").write_text("14")
    _drain(spark, tip, sink, ckpt)
    got = sorted(r["n"] for r in spark.read.parquet(sink).collect())
    assert got == list(range(15))          # exactly once, no gaps

    # idle restart adds nothing
    _drain(spark, tip, sink, ckpt)
    assert spark.read.parquet(sink).count() == 15


def test_stale_tip_emits_nothing(spark, tmp_path):
    tip = str(tmp_path / "tip3")
    sink, ckpt = str(tmp_path / "sink3"), str(tmp_path / "ckpt3")
    (tmp_path / "tip3").write_text("4")
    _drain(spark, tip, sink, ckpt, start=5)     # cursor already past tip
    read = spark.read
    try:
        n = read.parquet(sink).count()
    except Exception:
        n = 0                                    # no files written at all
    assert n == 0


def test_streaming_block_ingest_with_rpc(spark, tmp_path):
    """Full streaming ingest: agn_cursor emits block numbers up to the
    tip, the ``ethereum_rpc`` SQL function enriches them against the
    mock chain, and the parsed results land in parquet — the reference's
    blocks pipeline as ONE readStream."""
    from tests import mock_chain as mc

    tip = str(tmp_path / "tip_rpc")
    sink, ckpt = str(tmp_path / "sink_rpc"), str(tmp_path / "ckpt_rpc")
    (tmp_path / "tip_rpc").write_text("11")

    stream = (spark.readStream.format("agn_cursor")
              .option("start", 0).option("max_batch_size", 5)
              .option("tip_path", tip).load())
    enriched = stream.select("n", F.expr(
        "ethereum_rpc('eth_getBlockByNumber', "
        "array(evm_hex_encode_int(n), 'false'), 'mock://chain')"
    ).alias("response"))
    parsed = enriched.select(
        "n",
        F.get_json_object("response", "$.value.hash").alias("block_hash"),
        F.get_json_object("response", "$.error").alias("err"))
    q = (parsed.writeStream.outputMode("append").format("parquet")
         .option("path", sink).option("checkpointLocation", ckpt).start())
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    rows = {r["n"]: r for r in spark.read.parquet(sink).collect()}
    assert sorted(rows) == list(range(12))       # tip-bounded, no gaps
    for n in (0, 7, 11):
        assert rows[n]["err"] is None
        assert rows[n]["block_hash"] == "0x" + mc.block_hash(n).hex()
