"""Streaming progress heartbeat (reference T4, drain-level half).

The reference bumps ``job_processed_rows`` every 10 rows inside its row
loop (src/processor.py:179,216-233).  The engine's set-based flows
publish per-stage counts instead (control/processor.py), which covers
progress *within* a job; this listener covers progress *across* a long
drain: every completed microbatch upserts its input-row count into the
``stream_progress`` control table while the query is still running, so
an operator polling the store sees movement batch by batch instead of
silence until termination.

Spark-first shape: ``StreamingQueryListener`` is the engine's sanctioned
observability hook — no extra actions on the data plane, no foreachBatch
coupling; the listener thread writes one tiny row per microbatch.
"""

from __future__ import annotations

from datetime import datetime, timezone

from pyspark.sql import SparkSession
from pyspark.sql.streaming.listener import StreamingQueryListener

from ..control.store import SCHEMAS, literal_frame


class StreamProgressListener(StreamingQueryListener):
    """Writes one stream_progress row per completed microbatch.

    ``watch(query)`` scopes the listener to specific query ids (a shared
    SparkSession fires events for every streaming query on it); with no
    watched ids it records all queries.
    """

    def __init__(self, spark: SparkSession, store) -> None:
        self.spark = spark
        self.store = store
        self.query_ids: set[str] = set()

    def watch(self, query) -> None:
        self.query_ids.add(str(query.id))

    # -- StreamingQueryListener hooks ---------------------------------------

    def onQueryStarted(self, event) -> None:  # noqa: N802 (Spark API)
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        if self.query_ids and str(p.id) not in self.query_ids:
            return
        row = (
            str(p.id),
            int(p.batchId),
            int(p.numInputRows),
            datetime.now(timezone.utc),
        )
        self.store.upsert(
            "stream_progress",
            literal_frame(self.spark, [row], SCHEMAS["stream_progress"]),
        )

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass
