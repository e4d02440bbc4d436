"""Streaming composition (completeness note + foreachBatch bridge).

The reference is batch-only — SURVEY.md §2.11: no watermarks, event-time
windows, or stateful operators exist anywhere in the snapshot; its only
"windows" are the text sliding windows of §2.3, and resumability is
checkpoint/snapshot-based. The north rule therefore requires no Structured
Streaming.

For pipelines that *arrive* as streams (e.g. a commit firehose feeding the
corpus table), the batch extraction stages compose unchanged under
foreachBatch: `streaming.ingest.attach_stream_incremental` scores each
micro-batch's new/changed docs only and writes mentions, triples and the
scored-docs registry as idempotent `epoch=<id>` directories (no stage
manifests); `streaming.ingest.finalize_graph` commits the graph layer from
the resolved epochs through the batch pipeline's commit path.

Native streaming operators (watermarked windowed aggregation and
applyInPandasWithState sessionization) live in `streaming.stateful`.
"""

from __future__ import annotations

from theta_spark.streaming.stateful import (  # noqa: F401 - re-export
    sessionize_stream,
    windowed_event_counts,
)
