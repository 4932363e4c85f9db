"""Streaming ingest: the reference's daemon loop as Structured Streaming.

Reference shape (SURVEY.md §3.4): RabbitMQ consumer batches ``commitfreq``
messages per transaction, parser transforms them, streams are
created-or-found, facts inserted, caches promoted post-commit
(libnntsc/parsers/amp.py:181-273).

Spark-first: ``readStream`` (file/kafka source) -> ``foreachBatch`` running
the SAME batch parser transforms as batch ingest (batch/streaming parity by
construction — one code path), with per-batch:

1. parser transform (vectorized, JVM-side),
2. stream-dimension MERGE (insert-or-find, single-writer: foreachBatch runs
   serially per micro-batch, which is exactly the catalog-writer model from
   SURVEY.md §7.3 Hard #2),
3. seam dedup on (stream_id, timestamp) against the batch itself
   (T5: the reference logs-and-drops duplicate key inserts),
4. date-partitioned append to the fact table,
5. stream-stats incremental update (T8).

foreachBatch + deterministic transforms give the reference's batch-commit
atomicity (T4): a failed batch is retried whole, and the fact write is a
dynamic overwrite of the batch's own (date, ingest_batch) partitions, so a
retry rewrites the same directories with the same deterministic rows —
never a second append (see storage.write_fact).
"""

from __future__ import annotations

import logging
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..ingest.streams import attach_stream_ids, upsert_streams
from ..storage import read_dimension, read_fact, write_dimension, write_fact

log = logging.getLogger(__name__)

#: default driver-side cap on live-export fan-out rows per micro-batch —
#: far above commitfreq-scale batches (the reference commits every 50
#: messages, conf/nntsc.conf:61), far below anything that would funnel a
#: backfill-sized batch through the driver
LIVE_EXPORT_MAX_ROWS = 100_000


class CollectionIngestor:
    """Per-collection ingest state: paths + unique columns + parser."""

    def __init__(
        self,
        spark: SparkSession,
        parser: Callable[[DataFrame], DataFrame],
        unique_cols: list[str],
        fact_path: str,
        streams_path: str,
        stats_path: str | None = None,
        collection: str | None = None,
        exporter=None,
        live_export_max_rows: int = LIVE_EXPORT_MAX_ROWS,
    ) -> None:
        self.spark = spark
        self.parser = parser
        self.unique_cols = list(unique_cols)
        self.fact_path = fact_path
        self.streams_path = streams_path
        self.stats_path = stats_path
        #: optional live-export hook: an ExportServer (or anything with
        #: publish_live/push_marker) fed each batch's rows (S9/T3 — the
        #: reference's parser->exporter publishLiveData path,
        #: libnntsc/parsers/common.py:246-249)
        self.collection = collection
        self.exporter = exporter
        self.live_export_max_rows = live_export_max_rows

    def _load_streams(self) -> DataFrame | None:
        return read_dimension(self.spark, self.streams_path)

    def process_batch(self, raw: DataFrame, batch_id: int | None = None) -> DataFrame:
        """The foreachBatch body; also the batch-ingest entry point.

        Streaming (``batch_id`` set, passed through by start_stream) makes
        the fact write a dynamic overwrite of this batch's own
        (date, ingest_batch) partitions — a foreachBatch RETRY after a
        crash between the fact append and the checkpoint commit rewrites
        the same directories instead of double-appending the batch (T4/T5;
        r5 review finding).  Without a batch id (ad-hoc batch ingest) the
        write is a plain append.
        """
        data = self.parser(raw)
        existing = self._load_streams()
        # live new-stream announcements need the pre-upsert id horizon:
        # upsert ids are assigned as max_existing + rank, so everything
        # above prev_max is this batch's creations.  The extra agg only
        # runs when an exporter is wired, and only over the (tiny,
        # broadcast-sized) dimension table.
        announce = (
            self.exporter is not None
            and self.collection
            and hasattr(self.exporter, "announce_streams")
        )
        prev_max = 0
        if announce and existing is not None:
            prev_max = (
                existing.agg(F.max("stream_id")).collect()[0][0] or 0
            )
        streams = upsert_streams(
            existing, data.select(*self.unique_cols), self.unique_cols
        )
        # cache the (tiny) dimension for its uses below; it is released after
        # the last one, since a stream never ends and an epoch's cache that
        # outlives the epoch is a leak
        streams = streams.cache()
        # materialize ONCE: fact feeds the write, the stats merge, and the
        # live export — uncached, each action would recompute the
        # parser+join+dropDuplicates lineage, and dropDuplicates'
        # nondeterministic survivor choice could make live/stats rows
        # disagree with the stored facts (r5 review finding)
        fact = (
            attach_stream_ids(data, streams, self.unique_cols)
            .dropDuplicates(["stream_id", "timestamp"])
            .localCheckpoint()
        )
        write_fact(
            fact.drop(*self.unique_cols), self.fact_path, batch_id=batch_id
        )
        write_dimension(streams, self.streams_path)
        if announce:
            # push this batch's created streams to collection-interested
            # clients (reference parsers/common.py:203-215 publishStream ->
            # exporter export_new_stream, exporter.py:1351-1406) — BEFORE
            # the live rows, so a client never sees data for a stream it
            # was not told about.  New streams are dimension-sized by the
            # upsert guard, so iterating them driver-side is bounded.
            new_rows = [
                r.asDict()
                for r in streams.where(
                    F.col("stream_id") > prev_max
                ).toLocalIterator()
            ]
            self.exporter.announce_streams(self.collection, new_rows)
        streams.unpersist()
        if self.stats_path:
            self._update_stats(fact)
        if self.exporter is not None and self.collection:
            self._export_live(fact)
        return fact

    def _export_live(self, fact: DataFrame) -> None:
        """Fan the batch out to live subscribers + emit the PUSH watermark.

        Micro-batches are small (commitfreq-scale), so iterating them
        driver-side matches the reference's per-row live path; the batch
        boundary marker is the max timestamp (T3 semantics: 'all data up to
        ts delivered', exporter.py:1304-1349).

        The "micro-batches are small" assumption is ENFORCED, not hoped:
        a batch over ``live_export_max_rows`` (a stream-source replay, a
        backfill pointed at the live path) skips live fan-out with a loud
        warning instead of funnelling the whole batch through the driver.
        Subscribers recover the skipped range from history on their next
        query — and no PUSH marker is emitted, so nothing falsely claims
        'all data up to ts delivered'.  ``fact`` is localCheckpoint-ed by
        process_batch, so the guard count reads stored blocks, not
        lineage."""
        n = fact.count()
        if n > self.live_export_max_rows:
            log.warning(
                "skipping live export for collection %s: batch of %d rows "
                "exceeds live_export_max_rows=%d (subscribers must replay "
                "this range from history)",
                self.collection, n, self.live_export_max_rows,
            )
            return
        by_stream: dict[int, list[dict]] = {}
        max_ts = 0
        for row in fact.drop(*self.unique_cols).toLocalIterator():
            d = row.asDict()
            by_stream.setdefault(d["stream_id"], []).append(d)
            max_ts = max(max_ts, d["timestamp"] or 0)
        for sid, rows in by_stream.items():
            self.exporter.publish_live(self.collection, sid, rows)
        if by_stream:
            self.exporter.push_marker(self.collection, max_ts)

    def _update_stats(self, fact: DataFrame) -> None:
        """Incremental stream-stats merge (T8) — algebraic, so the update is
        a groupBy over (old stats ∪ batch mins/maxes), never a fact rescan."""
        batch_stats = fact.groupBy("stream_id").agg(
            F.min("timestamp").alias("first_ts"),
            F.max("timestamp").alias("last_ts"),
            F.count(F.lit(1)).alias("rows"),
        )
        old = read_dimension(self.spark, self.stats_path)
        if old is not None:
            merged = (
                old.unionByName(batch_stats)
                .groupBy("stream_id")
                .agg(
                    F.min("first_ts").alias("first_ts"),
                    F.max("last_ts").alias("last_ts"),
                    F.sum("rows").alias("rows"),
                )
            )
        else:
            merged = batch_stats
        # materialize before overwriting the path being read
        merged = merged.cache()
        merged.count()
        write_dimension(merged, self.stats_path)
        merged.unpersist()

    def read_fact(self) -> DataFrame:
        return read_fact(self.spark, self.fact_path)

    def start_stream(
        self,
        raw_stream: DataFrame,
        checkpoint: str,
        trigger_available_now: bool = True,
    ):
        """Wire a streaming source into foreachBatch ingest."""
        writer = (
            raw_stream.writeStream.outputMode("append")
            .option("checkpointLocation", checkpoint)
            .foreachBatch(lambda df, bid: self.process_batch(df, bid) and None)
        )
        if trigger_available_now:
            writer = writer.trigger(availableNow=True)
        return writer.start()
