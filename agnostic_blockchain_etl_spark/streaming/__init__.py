"""Streaming layer: the reference's 'streaming' is cursor-driven
micro-batching over an unbounded integer domain (SURVEY.md §2.8) — no
event-time windows, watermarks, or late data anywhere in its workload.

The pipeline runner in ``plans/pipeline.py`` IS that streaming model
(tip-poll → bounded ranges → ordered commit); its ``run_batcher`` is the
one driver-side tip→range loop. This package is the
Structured-Streaming-facing surface on top of it:

- ``cursor_datasource.CursorDataSource`` — the cursor/tip model as a
  REAL ``readStream`` source (Spark 4 Python Data Source API):
  ``format("agn_cursor")`` emits tip-bounded ranges with Spark's
  checkpoint as the cursor store. Rows are enriched per block with the
  ``ethereum_rpc`` SQL function, the same as in the batch pipelines.
- ``windows.py`` — watermarked event-time windows + native
  ``session_window`` sessionization (stream-equals-batch verified).
- ``stateful.py`` — custom stateful operators via
  ``applyInPandasWithState``.
- ``dedup.py`` — first-seen streaming exact dedup (checkpointed state,
  watermark-bounded variant), plus foreachBatch incremental NEAR-dup
  against the signature store (per-batch-directory writes with a
  batch_id snapshot rule → exactly-once under replay).
"""

from .cursor_datasource import CursorDataSource
from .dedup import (bloom_dedup_stream, bm25_stats_stream, dedup_stream,
                    dedup_stream_bounded,
                    incremental_neardup_stream, last_committed_batch,
                    paragraph_dedup_stream, prune_store_deltas,
                    semantic_dedup_stream, source_cap_stream)

__all__ = ["CursorDataSource",
           "bloom_dedup_stream", "bm25_stats_stream", "dedup_stream",
           "dedup_stream_bounded", "incremental_neardup_stream",
           "last_committed_batch", "paragraph_dedup_stream",
           "prune_store_deltas", "semantic_dedup_stream",
           "source_cap_stream"]
