"""Structured Streaming ingest: continuous warehouse maintenance.

The reference is strictly batch (SURVEY §2.9 — one process, one scan,
exit; main.go:105-145); its *incremental* semantics (`up` hashes only new
files, dupe.go:941-966) map naturally onto a streaming source feeding the
pipeline's one append path through foreachBatch:

  readStream (new image files/partitions)
    → foreachBatch: first batch on an empty warehouse → DedupPipeline.run
    → later batches: left-anti vs the signatures stage (skip known ids)
      → DedupPipeline.run_incremental on what is left

A stateful first-seen exact dedup (digest map in the state store) and
event-stream analytics (windowed counts with watermark, for the `events`
table family — the streaming surface a training-data pipeline needs for
ingest monitoring) are included as well.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming import StreamingQuery

from dupers_spark.operators import exact
from dupers_spark.sources.datagen import IMAGES_SCHEMA


def _maintain_contained(spark: SparkSession, cfg) -> None:
    """Run maintain_warehouse but CONTAIN any exception — the hook fires
    inside foreachBatch AFTER the batch's append has committed, so a
    maintenance failure must not fail the streaming query (the append
    needs no retry, and a stopped stream ingests nothing). Compaction is
    best-effort and crash-healable (rename-aside swap + heal), so a failed
    attempt costs nothing and simply retries at the next Nth batch; the
    failure is logged loudly, never raised."""
    import logging

    from dupers_spark.plans.pipeline import maintain_warehouse

    try:
        maintain_warehouse(spark, cfg)
    except Exception:
        logging.getLogger(__name__).exception(
            "maintain_warehouse failed (contained: the append already "
            "committed); will retry at the next maintenance batch")


def stream_pipeline_appends(
    spark: SparkSession,
    input_dir: str,
    cfg,
    checkpoint_dir: str,
    trigger_once: bool = True,
    max_files_per_trigger: int = 4,
    maintain_every: int | None = None,
) -> StreamingQuery:
    """Continuous FULL-pipeline maintenance — the one streaming append
    path, the streaming twin of `dupers up` for the entire engine. Each
    non-empty micro-batch of new images:

      * on a warehouse with no ``components`` stage yet, bootstraps it
        with ``DedupPipeline.run(batch)`` (the first batch builds every
        index);
      * otherwise drops ids the ``signatures`` stage already holds
        (:func:`exact.incremental_new` — walkCompare's ErrPathExist skip)
        and runs ``DedupPipeline.run_incremental`` on the rest: exact
        digests, caption LSH and phash engines probe their persisted index
        stages, append, and recluster, with the pipeline's whole hardening
        intact (``_INC_PENDING`` exclusivity, append lineage rows, markers
        refreshed last).

    cfg: the PipelineConfig of the warehouse; its engine flags pick what
    the stream maintains (``use_phash=False`` — captions + exact;
    ``use_captions=False, use_phash=False`` — exact only).

    Retry semantics: foreachBatch is at-least-once. A replay of a batch
    whose append committed finds every id already indexed and is a no-op.
    A crash MID-append leaves the sentinel, so the retry refuses loudly
    (the streaming query fails) instead of appending onto a half-applied
    batch; recover with a full ``run()`` over the union, which clears the
    sentinel.

    maintain_every: run ``maintain_warehouse`` after every Nth batch — the
    automated compaction hook that keeps a long-horizon stream's file and
    shard counts bounded (each append adds ≈1 file per touched kb
    partition; nothing else ever merges them). It runs AFTER the append
    releases its sentinel, inside the same single-threaded foreachBatch,
    so it can never interleave with an append on this stream — and its
    failures are CONTAINED (:func:`_maintain_contained`).
    """
    from dupers_spark.plans.pipeline import DedupPipeline

    stream = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )

    def process(batch: DataFrame, batch_id: int) -> None:
        if not batch.take(1):  # empty trigger — nothing to append
            return
        pipe = DedupPipeline(batch.sparkSession, cfg)
        if not pipe.store.exists("components"):
            pipe.run(batch)
        else:
            fresh = exact.incremental_new(batch, pipe.store.read("signatures"))
            # nothing fresh = a committed replay, skipped — unless a crashed
            # append left its sentinel, which run_incremental refuses loudly
            if fresh.take(1) or os.path.exists(pipe._pending()):
                pipe.run_incremental(fresh)
        if maintain_every and (batch_id + 1) % maintain_every == 0:
            _maintain_contained(batch.sparkSession, cfg)

    writer = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
    )
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def windowed_event_counts(
    events: DataFrame,
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Watermarked tumbling-window counts per event_type — works on a
    streaming OR batch events DataFrame (same expression either way)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("cnt"), F.sum("value").alias("sum_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "cnt", "sum_value",
        )
    )


def stream_event_counts(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    schema: str = "event_id long, ts timestamp, user_id long, "
                  "event_type string, value double, props string",
) -> StreamingQuery:
    """File-source events stream → windowed counts, append mode."""
    stream = spark.readStream.schema(schema).parquet(input_dir)
    agg = windowed_event_counts(stream)
    return (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def stream_first_seen(
    sigs: DataFrame,
    id_col: str = "image_id",
    digest_col: str = "sha256",
) -> DataFrame:
    """Stateful streaming exact-dedup via ``applyInPandasWithState``: the
    per-digest keyed state IS dupers' Compare map (checksum → exemplar,
    dupe.go:941-966), held in Spark's state store instead of being
    re-read from an index table every micro-batch (which is what
    stream_pipeline_appends does). Every input row is emitted
    annotated: a digest's first-ever occurrence carries is_first=true and
    becomes the state's exemplar; each later row points at that exemplar
    (``dup_of``) with its running duplicate ordinal.

    Scale shape: state is keyed by digest and sharded across executors by
    the state store (RocksDB provider on a real cluster), checkpointed
    with the query — state size is the distinct-digest count, the same
    cardinality dupers keeps in one process heap, but partitioned and
    crash-recoverable. No timeout: a digest's exemplar must outlive any
    idle gap, exactly like the on-disk bucket.

    Determinism under replay: within a micro-batch arrival order is
    nondeterministic, so a digest first seen in that batch takes the MIN
    id as exemplar — an at-least-once batch replay re-derives the
    identical exemplar (ordinals of replayed rows shift, the exemplar
    never does; exactly-once delivery needs a transactional sink, as with
    any streaming append).
    """
    from pyspark.sql.streaming.state import GroupStateTimeout

    def dedup(key, pdfs, state):
        import pandas as pd

        ids: list = []
        for pdf in pdfs:
            ids.extend(pdf[id_col].tolist())
        if not ids:
            return
        ids.sort()
        if state.exists:
            exemplar, n_seen = state.get
        else:
            exemplar, n_seen = ids[0], 0
        state.update((exemplar, n_seen + len(ids)))
        # exactly ONE is_first row per digest ever: the sorted batch's
        # first element, and only in the batch that creates the state —
        # a duplicate (digest, id) delivery in that same batch must NOT
        # yield a second exemplar row
        firsts = [False] * len(ids)
        if n_seen == 0:
            firsts[0] = True
        yield pd.DataFrame({
            digest_col: [key[0]] * len(ids),
            id_col: ids,
            "is_first": firsts,
            "dup_of": [exemplar] * len(ids),
            "seen_ordinal": list(range(n_seen, n_seen + len(ids))),
        })

    return sigs.groupBy(digest_col).applyInPandasWithState(
        dedup,
        outputStructType=(
            f"{digest_col} string, {id_col} string, is_first boolean, "
            "dup_of string, seen_ordinal long"),
        stateStructType="exemplar string, n_seen long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_exact_dedup(
    spark: SparkSession,
    input_dir: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: int = 1,
) -> StreamingQuery:
    """File-source image stream → sha256 → stateful first-seen dedup →
    parquet append. The stateful counterpart of stream_pipeline_appends'
    skip-known probe, for the exact engine alone: it costs zero index reads
    per batch because the digest map lives in the (checkpointed) state
    store."""
    stream = (
        spark.readStream.schema(IMAGES_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(input_dir)
    )
    sigs = stream.select(
        "image_id", F.sha2(F.col("bytes"), 256).alias("sha256"))
    out = stream_first_seen(sigs)
    return (
        out.writeStream.outputMode("append")
        .format("parquet")
        .option("path", output_dir)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
