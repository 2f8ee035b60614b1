"""Continuous cache maintenance from Structured Streaming.

The batch cache's refresh step — "fold rows in ``[watermark, now)`` into the
stored partial state, advance the watermark" — is exactly what a streaming
micro-batch delivers. This module runs that step inside ``foreachBatch``:
a standing stream keeps the SAME durable cache entries fresh that
interactive :class:`..session.CachedSparkSession` readers consume, so every
dashboard read between micro-batches is a hot read (state only — and with
``result_memo``, zero Spark work).

Reference framing: the reference refreshes its cache lazily inside each
query (``src/aggregate.rs:399`` wraps every cached plan in the update exec).
With a maintainer the refresh cost moves off the query path entirely — the
reader never scans the source. SURVEY §7.6 maps the equivalences
(state store ≙ cached partials, offset frontier ≙ watermark).

Scale notes:
* Each micro-batch triggers ONE warm-refresh job over just that batch's
  rows (the batch is registered as the query's source view, so the
  ``[wm, now)`` bound selects exactly the new rows; rows at or before the
  watermark — late data — are dropped, the same append-only contract the
  batch cache and ``withWatermark`` document).
* State size is one row per group — the maintainer's driver collect obeys
  the cache backend's row cap and falls back to distributed writes past it.
* ``Trigger.AvailableNow`` turns the maintainer into an incremental batch
  job with checkpointed exactly-once file tracking: re-running it processes
  only files that arrived since the last run — the cron-shaped deployment.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import QueryCacheConfig
from ..session import CachedSparkSession


class CacheMaintainer:
    """Folds each micro-batch of ``stream`` into the cache entries of one or
    more cached aggregate queries over ``table_name``.

    The maintainer owns a :class:`CachedSparkSession` bound to ``config``;
    per batch it registers the batch DataFrame as ``table_name``, pins
    ``now`` to just past the batch's max event time, and runs each query —
    the engine's own warm path does the fold + watermark advance (first
    batch is the populating miss). Readers share the cache via its backend
    (e.g. a :class:`..cache.ParquetQueryCache` directory).
    """

    def __init__(
        self,
        spark: SparkSession,
        config: QueryCacheConfig,
        queries: Sequence[str],
        table_name: str,
        ts_col: Optional[str] = None,
        compact_at: Optional[int] = None,
    ) -> None:
        self.config = config
        self.queries = list(queries)
        self.table_name = table_name
        self.ts_col = ts_col or config.default_temporal_column
        #: fold a maintained entry's layered big state back into one dir
        #: whenever its layer count reaches this — full compaction runs
        #: HERE, off every reader's query path (the inline warm path only
        #: ever pair-merges; see _ParquetEntry._merge_layer_pair)
        self.compact_at = compact_at
        self._qc: Optional[CachedSparkSession] = None

    def _session_for(self, batch_df: DataFrame) -> CachedSparkSession:
        # foreachBatch hands each batch to a CLONED SparkSession; the temp
        # view must be resolved THERE. The clone is stable across batches
        # of one run, so the engine (and its plan/tier-program memos) is kept
        # per batch-session.
        sess = batch_df.sparkSession
        if self._qc is None or self._qc.spark is not sess:
            self._qc = CachedSparkSession(sess, self.config)
        return self._qc

    def process_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        qc = self._session_for(batch_df)
        cfg = self.config
        shadow = f"{self.ts_col}_ns"
        if shadow in batch_df.columns:
            hi = batch_df.agg(F.max(shadow)).collect()[0][0]
            hi_ns = None if hi is None else int(hi) + 1
        else:
            hi = batch_df.agg(
                F.max(F.unix_micros(F.col(self.ts_col).cast("timestamp")))
            ).collect()[0][0]
            hi_ns = None if hi is None else (int(hi) + 1) * 1000
        if hi_ns is None:
            return  # empty batch: nothing to fold, watermark unchanged
        batch_df.createOrReplaceTempView(self.table_name)
        prev_now = cfg.override_now_ns
        try:
            cfg.override_now_ns = hi_ns
            for sql in self.queries:
                # the warm path folds batch rows in [wm, hi_ns) and advances
                # the watermark; run 1 is the populating miss. collect()
                # materializes the (tiny, driver-local) finalize so the
                # store-back is durable before the batch commits.
                qc.sql(sql).collect()
                if self.compact_at:
                    self._maybe_compact(qc, batch_df.sparkSession)
        finally:
            cfg.override_now_ns = prev_now

    def _maybe_compact(self, qc: CachedSparkSession, sess: SparkSession) -> None:
        """Full-compact the entry the query just refreshed once its layered
        state reaches ``compact_at`` layers — the O(full state) rewrite runs
        in this maintainer batch, never inline in a reader's query."""
        try:
            fp = qc.last_decision.fingerprint
            if not fp:
                return
            ent = self.config.cache.entry(fp)
            if (
                getattr(ent, "layer_count", None)
                and ent.layer_count() >= self.compact_at
            ):
                ent.compact(sess)
                self.config.log.info(fp, "maintainer: compacted layered state")
        except Exception as e:  # advisory: never fail the batch over upkeep
            self.config.log.warn("maintainer", f"compaction skipped ({e})")


def maintain_aggregate_cache(
    stream: DataFrame,
    spark: SparkSession,
    config: QueryCacheConfig,
    queries: Sequence[str],
    table_name: str,
    checkpoint_dir: str,
    available_now: bool = True,
    processing_time: Optional[str] = None,
    ts_col: Optional[str] = None,
    compact_at: Optional[int] = None,
):
    """Start the maintainer stream; returns the ``StreamingQuery``.

    ``available_now=True`` (default) processes everything new and stops —
    the incremental-batch deployment; pass ``processing_time`` (e.g.
    ``"30 seconds"``) for a standing maintainer instead.
    """
    m = CacheMaintainer(spark, config, queries, table_name, ts_col, compact_at)
    writer = (
        stream.writeStream.foreachBatch(m.process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    elif processing_time:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()
