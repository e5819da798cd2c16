"""Progress / lag observability (W6) and graceful shutdown (W7).

The reference polls query.lastProgress every 30 s and hand-parses
Kafka offset JSON to compute per-partition lag
(consumer/consumer.py:185-286).  We use the structured APIs instead:
a StreamingQueryListener receiving typed progress events, with lag
read from each source's own progress metrics — no offset parsing, no
per-batch dedup bookkeeping (the listener fires once per batch by
construction).
"""

from __future__ import annotations

import logging
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql.streaming import StreamingQueryListener

log = logging.getLogger(__name__)


@dataclass
class BatchProgress:
    query_name: str
    batch_id: int
    num_input_rows: int
    input_rows_per_second: float
    process_rows_per_second: float
    # offsets the source is behind its latest offset, as the source
    # reports it: Kafka's maxOffsetsBehindLatest (its worst partition),
    # summed over sources; 0 for a source that reports none (files)
    lag: int
    # input rows the stateful operators dropped as later than the
    # watermark, summed over operators
    dropped_by_watermark: int


@dataclass
class ProgressMonitor(StreamingQueryListener):
    """W6: collects per-batch throughput, source lag and late drops;
    a batch that dropped rows as late logs a warning."""

    history: list[BatchProgress] = field(default_factory=list)

    def onQueryStarted(self, event):
        log.info("query started: %s", event.name)

    def onQueryProgress(self, event):
        p = event.progress
        b = BatchProgress(
            query_name=p.name or str(p.id),
            batch_id=p.batchId,
            num_input_rows=p.numInputRows,
            input_rows_per_second=p.inputRowsPerSecond or 0.0,
            process_rows_per_second=p.processedRowsPerSecond or 0.0,
            lag=sum(
                int(src.metrics.get("maxOffsetsBehindLatest", 0))
                for src in p.sources
            ),
            dropped_by_watermark=sum(
                op.numRowsDroppedByWatermark for op in p.stateOperators
            ),
        )
        if b.dropped_by_watermark:
            log.warning(
                "query %s batch %d dropped %d rows later than the watermark",
                b.query_name,
                b.batch_id,
                b.dropped_by_watermark,
            )
        self.history.append(b)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        log.info("query terminated: %s", event.id)

    @property
    def total_rows(self) -> int:
        return sum(b.num_input_rows for b in self.history)


def attach_monitor(spark: SparkSession) -> ProgressMonitor:
    mon = ProgressMonitor()
    spark.streams.addListener(mon)
    return mon


def stop_all_streams(spark: SparkSession) -> None:
    """W7: graceful shutdown — stop every active query
    (consumer/consumer.py:288-293)."""
    for q in spark.streams.active:
        q.stop()
