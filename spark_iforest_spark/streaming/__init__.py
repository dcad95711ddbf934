"""Structured-Streaming twins of the batch operators.

The reference is batch-only (SURVEY.md §2.5: no watermarks/event-time/state),
so everything here is north-star extension surface:

* ``score_stream`` — the fitted IForestModel applied to a stream. The batch
  scorer already is a stateless pandas_udf + Catalyst ``when``, so the same
  plan runs under ``readStream``; the two eager actions of the reference's
  transform (count + approxQuantile) are the only blockers, hence the
  preconditions (absolute maxSamples, explicit threshold).
* ``windowed_agg_stream`` — tumbling event-time window + watermark.
* ``sessionize_stream`` — gap-session assembly with
  ``applyInPandasWithState`` (custom stateful operator, near-ordered input).
* ``sessionize_stream_merging`` — built-in ``session_window`` twin that
  stays correct under cross-micro-batch late/out-of-order arrival.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    LongType,
    StructField,
    StructType,
    TimestampType,
)


def score_stream(model, stream: DataFrame) -> DataFrame:
    """Score a streaming DataFrame with a fitted IForestModel.

    Requires ``maxSamples > 1`` (the fractional setting needs a count of the
    scored dataset — impossible on a stream; reference IForest.scala:87-89)
    and an explicit ``setThreshold`` (the contamination quantile needs a
    batch pass; reference IForest.scala:101-105).
    """
    if not stream.isStreaming:
        raise ValueError("score_stream expects a streaming DataFrame")
    if model.getMaxSamples() <= 1.0:
        raise ValueError("score_stream requires an absolute maxSamples (> 1)")
    if model.getThreshold() < 0:
        raise ValueError("score_stream requires setThreshold(...) first")
    return model.transform(stream)


def score_stream_segmented(model, stream: DataFrame, id_col: str | None = None) -> DataFrame:
    """Score a stream against a fitted :class:`SegmentedIForestModel`
    (round 7): per-event "is this anomalous FOR THIS tenant/segment"
    with the segment forests shipped to the workers — the cogroup batch
    path can't run under the micro-batch planner, so this rides
    ``transform_broadcast``'s stateless Arrow map (zero shuffle, same
    scores bit-exactly; unknown segments yield NULL)."""
    if not stream.isStreaming:
        raise ValueError("score_stream_segmented expects a streaming DataFrame")
    return model.transform_broadcast(stream, id_col=id_col)


def windowed_agg_stream(
    events: DataFrame,
    ts_col: str = "ts",
    window: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event-time tumbling aggregation with late-data watermark.

    The output schema and the ``value`` fixed-point units are identical to
    the batch twin (operators.relational.windowed_event_agg) so replaying a
    bounded stream produces bit-identical results to the batch plan — which
    is what the ``streaming_windowed_agg`` driver gate checks against the
    same DuckDB oracle as the batch gate."""
    from spark_iforest_spark.functions import money_units, units_to_double

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy(F.window(ts_col, window).alias("w"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            units_to_double(F.sum(money_units("value", 6)), 6).alias("sum_value"),
        )
        .select(
            F.col("w.start").cast("long").alias("window_start"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def read_stream_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """``readStream`` over one synthetic parquet table (streams need an
    explicit schema — taken from a batch footer read). The driver tables
    store TIMESTAMP(NANOS); ``ts``/``o_orderdate`` surface per the same
    legacy-flag rules as the batch reader.

    NOTE: this sets ``spark.sql.legacy.parquet.nanosAsLong`` session-wide
    and leaves it set — the flag must still be true when the stream's
    micro-batches actually READ the nanos files, so it cannot be scoped to
    the schema probe. It is the same flag sources.read_table sets for every
    batch read of these tables, so batch/stream semantics stay consistent
    within a session."""
    from spark_iforest_spark import fs as hfs

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    path = f"{sf_dir}/{name}.parquet"
    schema = spark.read.parquet(path).schema
    # Hadoop-FS file check (round 6): works for remote URIs too, where a
    # driver-local os.path.isfile would always be False
    if hfs.is_file(spark, path):
        # the streaming file source only accepts directories; a single-file
        # table streams via its parent dir + a glob pinned to that file
        return (
            spark.readStream.schema(schema)
            .option("pathGlobFilter", f"{name}.parquet")
            .parquet(sf_dir)
        )
    return spark.readStream.schema(schema).parquet(path)


_RATE_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


def rate_events_stream(
    spark: SparkSession,
    rows_per_second: int = 500,
    num_partitions: int = 4,
) -> DataFrame:
    """Synthetic UNBOUNDED event stream from Spark's built-in ``rate``
    source, shaped like the events table (event_id, ts, user_id,
    event_type, value).

    The file source replays a fixed directory and finishes — it can never
    exercise live trigger semantics (micro-batch cadence, backpressure,
    a query that must be stopped rather than awaited). The rate source is
    the standard generator for exactly that: deterministic monotonically
    increasing ``value`` longs at a controlled rate, event-time = wall
    clock, no external dependencies. Columns derive arithmetically from
    ``value`` so any downstream invariant (type distribution, user
    cardinality) is checkable without coordinating with the generator.
    """
    rate = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", rows_per_second)
        .option("numPartitions", num_partitions)
        .load()
    )
    types = F.array(*[F.lit(t) for t in _RATE_EVENT_TYPES])
    return rate.select(
        F.col("value").alias("event_id"),
        F.col("timestamp").alias("ts"),
        (F.col("value") % 97).alias("user_id"),
        F.element_at(types, (F.col("value") % 5 + 1).cast("int")).alias("event_type"),
        (F.col("value") % 1000 / F.lit(10.0)).alias("value"),
    )


def nanos_to_ts(df: DataFrame, ts_col: str = "ts") -> DataFrame:
    """Normalize an event-time column to TIMESTAMP (LTZ) for watermarks.

    * bigint nanos (legacy nanos read) → truncate to micros.
    * TIMESTAMP_NTZ (the testdata's timestamp[us] parquet) → reinterpret
      the naive value as UTC epoch micros via wall-clock timestampdiff —
      watermarks reject NTZ event time, and a plain NTZ→LTZ cast would
      shift by the session timezone; this conversion is timezone-proof and
      matches the batch operators' _epoch_ns NTZ branch exactly.
    * already TIMESTAMP → no-op.
    """
    dtype = dict(df.dtypes).get(ts_col)
    if dtype == "bigint":
        return df.withColumn(ts_col, F.timestamp_micros(F.expr(f"{ts_col} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(
            ts_col,
            F.timestamp_micros(
                F.expr(
                    f"timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', {ts_col})"
                )
            ),
        )
    return df


def run_to_batch(stream_df: DataFrame, name: str, output_mode: str = "append") -> DataFrame:
    """Replay a bounded stream to completion and return the materialized
    result (memory sink + availableNow trigger).

    This is the batch-equivalence harness: for deterministic pipelines
    (stateless projections in append mode; aggregations in complete mode,
    where the watermark never drops state) the returned frame must equal
    the batch plan on the same input — the driver gates assert exactly
    that against the batch DuckDB oracles. Bounded-replay only; a real
    deployment uses a durable sink + checkpointLocation instead.
    """
    spark = stream_df.sparkSession
    spark.catalog.dropTempView(name)
    q = (
        stream_df.writeStream.format("memory")
        .queryName(name)
        .outputMode(output_mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def enrich_stream(
    stream: DataFrame,
    dim: DataFrame,
    on_left: str,
    on_right: str,
    how: str = "inner",
) -> DataFrame:
    """Stream-static enrichment join: every micro-batch joins the current
    snapshot of a static/batch dimension table.

    The dim side is explicitly ``broadcast`` — the canonical shape: the
    stream side then never shuffles for the join (stateless per-batch
    BroadcastHashJoin), so throughput is scan-bound and there is no
    streaming join state at all (unlike stream-stream joins). At 100 TB/day
    stream volumes the dim broadcast re-resolves per micro-batch, which is
    also what picks up slowly-changing dim updates between batches; a dim
    too large to broadcast belongs in a stream-stream join with watermarks
    instead."""
    if not stream.isStreaming:
        raise ValueError("enrich_stream expects a streaming DataFrame")
    return stream.join(
        F.broadcast(dim), stream[on_left] == dim[on_right], how
    )


def dedup_stream(
    docs: DataFrame,
    text_col: str = "text",
    within_watermark: tuple[str, str] | None = None,
) -> DataFrame:
    """Streaming exact dedup: emit each distinct content digest once.

    ``dropDuplicates`` on the md5 digest — state is one 16-byte key per
    DISTINCT content ever seen, which grows unboundedly on an infinite
    stream. Pass ``within_watermark=(ts_col, delay)`` to switch to
    ``dropDuplicatesWithinWatermark``: duplicates are then only suppressed
    inside the watermark horizon and state is GC'd past it — the bounded
    production configuration (dedup across horizons belongs to the batch
    compaction pass, operators.dedup.exact_dedup).

    Output is the digest set (not a winner row): which PHYSICAL row
    survives a streaming dropDuplicates depends on micro-batch arrival
    order, but the digest SET is deterministic — equal to the batch
    ``SELECT DISTINCT md5(text)`` relation, which is what the driver gate
    replays and checks.
    """
    if within_watermark is not None:
        ts_col, delay = within_watermark
        # the event-time column must survive projection up to the dedup
        # node or the watermark is lost; it drops only afterwards
        return (
            docs.withWatermark(ts_col, delay)
            .select(
                F.col(ts_col),
                F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias(
                    "content_md5"
                ),
            )
            .dropDuplicatesWithinWatermark(["content_md5"])
            .select("content_md5")
        )
    # same total-digest convention as exact_dedup (NULL text -> '')
    return docs.select(
        F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias("content_md5")
    ).dropDuplicates(["content_md5"])



def _start_foreach(stream_df: DataFrame, step, checkpoint_dir: str | None):
    """Shared foreachBatch starter for the ingest sinks: availableNow
    trigger, optional checkpointLocation — WITH a checkpoint, a restarted
    stream resumes from the committed offset and its batch ids CONTINUE
    (the property the b{N} parts idempotence leans on across restarts);
    without one, a re-run reprocesses the whole source from batch 0 —
    fine for bounded replays, wrong for resumable production ingest."""
    w = stream_df.writeStream.foreachBatch(step).trigger(availableNow=True)
    if checkpoint_dir is not None:
        w = w.option("checkpointLocation", checkpoint_dir)
    return w.start()


def incremental_dedup_ingest(
    stream_docs: DataFrame,
    index_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    layout: str = "versions",
    compact_every: int | None = None,
    checkpoint_dir: str | None = None,
    keep_versions: int | None = None,
):
    """Continuous-ingestion exact dedup: every micro-batch dedups against
    the persisted digest index (``operators.dedup.exact_dedup`` relation)
    and writes the merged index as a new version — the streaming driver of
    the incremental batch operator, closing the loop ``dedup_stream``
    leaves open (its watermarked state forgets digests past the horizon;
    the index remembers every digest ever ingested, with bounded stream
    state of zero).

    Versioned parquet (``index_dir/v{batch_id}``) stands in for a
    transactional table: each batch reads the latest version STRICTLY
    OLDER than its own batch id and writes ``v{batch_id}`` — so a batch
    retried after a mid-write crash re-reads the same parent version and
    regenerates identical output (idempotent under foreachBatch's
    at-least-once contract; pytest-pinned). At 100 TB the full-index
    rewrite per batch was the round-10 demo simplification;
    ``layout="delta"`` (round 11) removes it: each batch writes ONLY the
    row-level upsert ``exact_dedup_incremental`` already emits — the
    batch-touched digest rows — to ``index_dir/b{batch_id}``, and the
    logical index is the last-writer-wins fold of the parts (newest part
    wins per digest), exactly the MERGE INTO a Delta/Iceberg table would
    perform, expressed in plain parquet. Per-batch write volume is then
    proportional to the BATCH, not the corpus; compact with
    :func:`compact_dedup_index` on whatever cadence bounds the part
    chain. Retries stay idempotent by the same strict-parent argument
    (a batch folds only parts strictly older than its id and overwrites
    its own part).

    ``compact_every=K`` (delta layout only, round 12) runs
    :func:`compact_dedup_index` inside the step after every K committed
    batches — the in-stream cadence that keeps the live part chain (and
    with it the per-batch fold/probe cost, which the soak showed creeping
    with part count) bounded without an external compactor. Safe inside
    foreachBatch: steps are serial so no concurrent reader sees the
    staged-rename swap, and a stale retry of an already-compacted batch
    id rewrites a directory the read rule ignores (same argument as
    ``curate_stream(compact_every=...)``).

    ``keep_versions`` (versions layout only, round 13 — the in-stream
    retention the delta layout gets from its compaction GC): prune the
    directory to the newest N versions after each committed batch
    (:func:`prune_versions`); >= 2 so the at-least-once retry window's
    parent stays readable, same rule as ``curate_stream``.

    Returns the started StreamingQuery (availableNow-triggered streams
    terminate when the backlog drains; ``awaitTermination`` to block).
    """
    if layout not in ("versions", "delta"):
        raise ValueError(f"incremental_dedup_ingest: unknown layout {layout!r}")
    if compact_every is not None and layout != "delta":
        raise ValueError(
            "incremental_dedup_ingest: compact_every only applies to "
            "layout='delta' — versioned sinks are already full rewrites."
        )
    if compact_every is not None and compact_every < 1:
        raise ValueError("incremental_dedup_ingest: compact_every must be >= 1")
    _check_keep_versions(keep_versions, layout, "incremental_dedup_ingest")
    spark = stream_docs.sparkSession

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        if layout == "delta":
            merge_index_delta(
                spark, index_dir, batch_df, batch_id, id_col, text_col
            )
            if compact_every is not None and (batch_id + 1) % compact_every == 0:
                compact_dedup_index(spark, index_dir)
        else:
            merge_index_version(
                spark, index_dir, batch_df, batch_id, id_col, text_col
            )
            if keep_versions is not None:
                prune_versions(spark, index_dir, keep=keep_versions)

    return _start_foreach(stream_docs, upsert, checkpoint_dir)


def _check_keep_versions(
    keep_versions: int | None, layout: str, who: str
) -> None:
    """Shared guard for the versioned sinks' in-stream retention knob
    (round 13): >= 2 keeps the at-least-once retry window's parent
    version alive (``prune_versions``' contract), and delta layouts
    reject it — their versions reference parents, and the compaction GC
    is their retention."""
    if keep_versions is None:
        return
    if layout != "versions":
        raise ValueError(
            f"{who}: keep_versions is a versions-layout retention knob — "
            "delta parts are retained/GC'd by their compaction cadence "
            "(compact_every)."
        )
    if keep_versions < 2:
        raise ValueError(
            f"{who}: keep_versions must be >= 2 (or None) — a foreachBatch "
            "retry reads the previous version, and pruning it would fail "
            "the stream unrecoverably on restart."
        )


def _index_versions(spark: SparkSession, index_dir: str) -> list[int]:
    """Version ids under ``index_dir`` — listed through the Hadoop
    FileSystem API (spark_iforest_spark.fs) so the versioned-directory
    sinks work on hdfs://s3a:// URIs, not just the driver's local disk
    (round-6 fix; was os.listdir). Raises when the directory also holds
    b/c parts (round-12 advice fix): a versioned writer folding against
    only the v versions would silently ignore the parts-layout state —
    same mix guard as ``parts_store.live_parts``, from the other side."""
    from spark_iforest_spark import parts_store

    if parts_store.part_ids(spark, index_dir, "b") or parts_store.part_ids(
        spark, index_dir, "c"
    ):
        raise parts_store._mix_error(index_dir)
    return parts_store.part_ids(spark, index_dir, "v")


def _latest_parent(
    spark: SparkSession, versioned_dir: str, batch_id: int
) -> str | None:
    """The strict-parent resolve shared by every versioned FOLD sink
    (digest index, ndv/profile monitor states): the newest version
    directory STRICTLY older than ``batch_id``, or None when the batch
    is the first. Strictly-older is the idempotence rule — a retried
    batch can never read its own partial output. (The curation state's
    ``curate_batch_version`` intentionally uses ``<=`` instead and is
    NOT a caller: its state versions are v{batch+1}, so its retry reads
    the same parent via a different inequality.)"""
    parents = [v for v in _index_versions(spark, versioned_dir) if v < batch_id]
    return f"{versioned_dir}/v{parents[-1]}" if parents else None


def merge_index_version(
    spark: SparkSession,
    index_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One ``incremental_dedup_ingest`` merge step: read the latest index
    version STRICTLY older than ``batch_id``, upsert the batch's digest
    delta, write ``v{batch_id}``. The strict-parent rule is what makes a
    retried batch idempotent: it can never merge against its own partial
    output."""
    from spark_iforest_spark.operators import dedup

    parent = _latest_parent(spark, index_dir, batch_id)
    if parent is not None:
        index = spark.read.parquet(parent)
        delta = dedup.exact_dedup_incremental(batch_df, index, id_col, text_col)
        # plain equality is exact: exact_dedup's digest is total (NULL
        # text digests as '' — no NULL join keys exist by construction)
        merged = index.join(
            delta.select("content_hash"), "content_hash", "left_anti"
        ).unionByName(delta)
    else:
        merged = dedup.exact_dedup(batch_df, id_col, text_col)
    merged.write.mode("overwrite").parquet(f"{index_dir}/v{batch_id}")


def latest_dedup_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current digest index written by ``incremental_dedup_ingest`` —
    either layout. ``v{N}`` versions read verbatim (the newest IS the
    index); ``b{N}``/``c{M}`` delta parts fold on read with last-writer-
    wins per digest (one window shuffle over base+deltas — the terminal-
    read/compaction cost, never paid on the per-batch ingest path, which
    probes the parts batch-keyed instead)."""
    live = _live_parts(spark, index_dir)
    if live is not None:
        return _lww_digest_fold(
            [spark.read.parquet(p) for p in live]
        )
    versions = _index_versions(spark, index_dir)
    return spark.read.parquet(f"{index_dir}/v{versions[-1]}")


def _lww_digest_fold(parts: list[DataFrame]) -> DataFrame:
    """Last-writer-wins fold of digest-index parts (oldest → newest
    order): per ``content_hash`` the row from the newest part containing
    it — every delta row is the post-merge CURRENT row for its digest
    (``exact_dedup_incremental``'s contract), so newest-wins reconstructs
    the full-rewrite relation exactly."""
    from functools import reduce

    from pyspark.sql import Window

    tagged = [p.withColumn("_v", F.lit(i)) for i, p in enumerate(parts)]
    u = reduce(DataFrame.unionByName, tagged)
    w = Window.partitionBy("content_hash").orderBy(F.col("_v").desc())
    return (
        u.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .drop("_v", "_rn")
    )


def merge_index_delta(
    spark: SparkSession,
    index_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> None:
    """One delta-layout ``incremental_dedup_ingest`` step: write ONLY the
    batch's digest upserts to ``index_dir/b{batch_id}``.

    Scale shape — the whole point of the layout: the corpus-sized parts
    are each SEMI-JOINED down to the batch's digest set (broadcast)
    before the last-writer-wins fold, so the per-batch job reads the
    parts through a digest filter and shuffles only batch-proportional
    rows; nothing corpus-sized moves, and the write is the batch's
    touched-digest rows. Strict-parent idempotence: the fold sees parts
    STRICTLY older than ``batch_id`` only, and a retry overwrites its
    own part with bit-identical rows."""
    from spark_iforest_spark import parts_store
    from spark_iforest_spark.checkpoint import snapshot
    from spark_iforest_spark.operators import dedup

    parts_store.check_parts_writable(spark, index_dir)
    live = _live_parts(spark, index_dir, before=batch_id)
    if live is None:
        delta = dedup.exact_dedup(batch_df, id_col, text_col)
    else:
        # same total-digest expression as exact_dedup (NULL text -> ''),
        # so the equality semi-join probes every group the delta touches
        bkeys = snapshot(
            batch_df.select(
                F.md5(F.coalesce(F.col(text_col), F.lit(""))).alias(
                    "content_hash"
                )
            ).distinct()
        )
        current = _lww_digest_fold(
            [
                spark.read.parquet(p).join(
                    F.broadcast(bkeys), "content_hash", "left_semi"
                )
                for p in live
            ]
        )
        delta = dedup.exact_dedup_incremental(batch_df, current, id_col, text_col)
    delta.write.mode("overwrite").parquet(f"{index_dir}/b{batch_id}")


def compact_dedup_index(spark: SparkSession, index_dir: str) -> int:
    """Fold the live delta parts into a compacted base ``c{M}`` and
    garbage-collect the folded parts — one full last-writer-wins pass,
    the amortized cost the per-batch path no longer pays. Commit and
    crash-safety are ``parts_store.compact``'s staged rename + read rule
    (round-12 fix: the base used to be written in place, so a mid-write
    crash left a torn ``c{M}`` that shadowed every part at or below its
    id). Safe to run INSIDE the stream's own foreachBatch cadence
    (``incremental_dedup_ingest(compact_every=K)``) — steps are serial,
    so no concurrent reader sees the swap; an EXTERNAL call still wants
    the stream stopped or past the retry window, same caveat as
    :func:`prune_versions`. Returns the new base id."""
    from spark_iforest_spark import parts_store

    def fold(live: list[str], staging: str) -> None:
        _lww_digest_fold([spark.read.parquet(p) for p in live]).write.mode(
            "overwrite"
        ).parquet(staging)

    return parts_store.compact(spark, index_dir, fold)


def migrate_null_digest_index(spark: SparkSession, index_dir: str) -> None:
    """One-off in-place migration of a persisted digest index written
    BEFORE the total-digest change (round 11): rewrite its NULL
    ``content_hash`` row to ``md5('')``, merging copies
    (``dedup.migrate_null_digest_rows`` — see its docstring for why the
    stale NULL row is otherwise permanent). Parts layouts are compacted
    first so the rewrite targets one base; either layout's newest
    version/base is then swapped via the staged-rename commit. Run with
    the stream stopped — this is a migration, not a concurrent-safe
    step."""
    from spark_iforest_spark import fs as hfs
    from spark_iforest_spark.operators import dedup

    live = _live_parts(spark, index_dir)
    if live is not None:
        target = f"{index_dir}/c{compact_dedup_index(spark, index_dir)}"
    else:
        versions = _index_versions(spark, index_dir)
        if not versions:
            raise ValueError(
                f"migrate_null_digest_index: no index under {index_dir}"
            )
        target = f"{index_dir}/v{versions[-1]}"
    # the rewrite plan reads ``target`` and writes the staging sibling —
    # the source stays intact until the staged copy is fully committed
    fixed = dedup.migrate_null_digest_rows(spark.read.parquet(target))
    staging = f"{index_dir}/_staging_migrate"
    hfs.delete(spark, staging, recursive=True)
    fixed.write.mode("overwrite").parquet(staging)
    if not hfs.delete(spark, target, recursive=True) and hfs.exists(
        spark, target
    ):
        raise IOError(
            f"migrate_null_digest_index: could not delete {target}; the "
            f"migrated index is staged at {staging}"
        )
    if not hfs.rename(spark, staging, target):
        raise IOError(
            f"migrate_null_digest_index: rename {staging} -> {target} "
            f"failed; the migrated index is staged at {staging}"
        )


def ndv_monitor_ingest(
    stream_df: DataFrame,
    state_dir: str,
    columns: list[str],
    lg_k: int = 12,
    series_dir: str | None = None,
    layout: str = "versions",
    compact_every: int | None = None,
    checkpoint_dir: str | None = None,
    keep_versions: int | None = None,
):
    """Continuous distinct-count monitoring: every micro-batch folds its
    HLL sketches (``relational.ndv_sketch_partial``) into the persisted
    (column, sketch) state and writes it as a new version — running NDV
    over everything ever ingested, with zero stream-store state and no
    rescans of old data (the sketch register state is the foldable
    sufficient statistic; the state is ~4 KB per column at lg_k=12
    regardless of corpus size).

    Same strict-parent versioning as ``incremental_dedup_ingest`` (a retry
    reads only versions strictly older than its batch id), but NDV has a
    safety margin the digest/count sinks lack: sketch insertion is
    idempotent (registers are a max over per-item hashes, i.e. SET
    semantics), so even a double-fold of the same batch cannot inflate the
    estimate — at-least-once delivery is harmless by construction, not
    just by the version dance.

    With ``series_dir`` each batch also writes its post-fold estimates as
    ``series_dir/b{batch_id}`` rows (batch_version, column, ndv) — the
    running-NDV time series a drift monitor plots (a sudden NDV plateau on
    an id column is a duplicate-ingestion smell; a jump on a categorical
    column is a schema/vocabulary drift smell).

    ``layout="parts"`` (round 11) writes each batch's OWN sketch partial
    to ``state_dir/b{batch_id}`` instead of re-folding and re-persisting
    the running state per version — readers fold on read; compact with
    :func:`compact_ndv_parts`, or pass ``compact_every=K`` (round 12)
    for the in-stream cadence (serial steps + staged-rename commit make
    in-step compaction safe — same argument as
    ``incremental_dedup_ingest``). Same estimates, file-per-batch
    instead of state-per-batch (parts_store module docstring).

    Returns the started StreamingQuery (availableNow-triggered streams
    terminate when the backlog drains)."""
    if layout not in ("versions", "parts"):
        raise ValueError(f"ndv_monitor_ingest: unknown layout {layout!r}")
    if compact_every is not None and layout != "parts":
        raise ValueError(
            "ndv_monitor_ingest: compact_every only applies to "
            "layout='parts' — versioned sinks are already full rewrites."
        )
    if compact_every is not None and compact_every < 1:
        raise ValueError("ndv_monitor_ingest: compact_every must be >= 1")
    _check_keep_versions(keep_versions, layout, "ndv_monitor_ingest")
    spark = stream_df.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if layout == "parts":
            merge_ndv_part(
                spark, state_dir, batch_df, batch_id, columns, lg_k, series_dir
            )
            if compact_every is not None and (batch_id + 1) % compact_every == 0:
                compact_ndv_parts(spark, state_dir)
        else:
            merge_ndv_version(
                spark, state_dir, batch_df, batch_id, columns, lg_k, series_dir
            )
            if keep_versions is not None:
                prune_versions(spark, state_dir, keep=keep_versions)

    return _start_foreach(stream_df, fold, checkpoint_dir)


def merge_ndv_version(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    columns: list[str],
    lg_k: int = 12,
    series_dir: str | None = None,
) -> None:
    """One ``ndv_monitor_ingest`` fold step: sketch the batch, union with
    the latest state version STRICTLY older than ``batch_id``, fold with
    ``merge_ndv_sketches``, write ``v{batch_id}`` (and the estimate series
    row when ``series_dir`` is set)."""
    from spark_iforest_spark.operators import relational

    batch_sk = relational.ndv_sketch_partial(batch_df, columns, lg_k)
    parent = _latest_parent(spark, state_dir, batch_id)
    if parent is not None:
        merged = relational.merge_ndv_sketches(
            spark.read.parquet(parent).unionByName(batch_sk)
        )
    else:
        merged = batch_sk
    merged.write.mode("overwrite").parquet(f"{state_dir}/v{batch_id}")
    if series_dir is not None:
        relational.ndv_estimates(
            spark.read.parquet(f"{state_dir}/v{batch_id}")
        ).select(
            F.lit(batch_id).alias("batch_version"), "column", "ndv"
        ).write.mode("overwrite").parquet(f"{series_dir}/b{batch_id}")


def latest_ndv_sketches(spark: SparkSession, state_dir: str) -> DataFrame:
    """The current (column, sketch) state written by ``ndv_monitor_ingest``
    — feed to ``relational.ndv_estimates`` for the current running NDV, or
    union with other tables' states and re-fold. Reads both layouts: the
    ``v{N}`` versions verbatim, the ``b{N}``/``c{M}`` parts folded on
    read (sketch union is the fold — registers max under
    ``merge_ndv_sketches``)."""
    from functools import reduce

    from spark_iforest_spark.operators import relational

    live = _live_parts(spark, state_dir)
    if live is not None:
        return relational.merge_ndv_sketches(
            reduce(
                DataFrame.unionByName, [spark.read.parquet(p) for p in live]
            )
        )
    versions = _index_versions(spark, state_dir)
    return spark.read.parquet(f"{state_dir}/v{versions[-1]}")


def merge_ndv_part(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    columns: list[str],
    lg_k: int = 12,
    series_dir: str | None = None,
) -> None:
    """One parts-layout NDV fold step: write THIS batch's sketch partial
    to ``state_dir/b{batch_id}`` (~4 KB/column, independent of both the
    corpus and the batch count). The running state is the on-read fold of
    the live parts; the optional estimate-series row is computed from the
    fold over parts up to and including this batch — the same monotone
    time series the versioned writer records."""
    from spark_iforest_spark import parts_store
    from spark_iforest_spark.operators import relational

    parts_store.check_parts_writable(spark, state_dir)
    relational.ndv_sketch_partial(batch_df, columns, lg_k).write.mode(
        "overwrite"
    ).parquet(f"{state_dir}/b{batch_id}")
    if series_dir is not None:
        from functools import reduce

        live = _live_parts(spark, state_dir, before=batch_id + 1)
        folded = relational.merge_ndv_sketches(
            reduce(
                DataFrame.unionByName, [spark.read.parquet(p) for p in live]
            )
        )
        relational.ndv_estimates(folded).select(
            F.lit(batch_id).alias("batch_version"), "column", "ndv"
        ).write.mode("overwrite").parquet(f"{series_dir}/b{batch_id}")


def compact_ndv_parts(spark: SparkSession, state_dir: str) -> int:
    """Fold the live NDV sketch parts into ``c{M}`` and garbage-collect
    the folded parts — staged-rename commit + parts read rule
    (``parts_store.compact``), so it is also safe inside the stream's
    own cadence (``ndv_monitor_ingest(compact_every=K)``). Returns the
    new base id."""
    from functools import reduce

    from spark_iforest_spark import parts_store
    from spark_iforest_spark.operators import relational

    def fold(live: list[str], staging: str) -> None:
        relational.merge_ndv_sketches(
            reduce(
                DataFrame.unionByName, [spark.read.parquet(p) for p in live]
            )
        ).write.mode("overwrite").parquet(staging)

    return parts_store.compact(spark, state_dir, fold)


def ndv_series(spark: SparkSession, series_dir: str) -> DataFrame:
    """The running-NDV time series: union of every per-batch estimate part
    under ``series_dir`` (batch_version, column, ndv) — monotone
    non-decreasing per column by sketch-set semantics."""
    return spark.read.parquet(f"{series_dir}/b*")


def profile_monitor_ingest(
    stream_df: DataFrame,
    state_dir: str,
    columns: list[str],
    ndv_columns: list[str] | None = None,
    lg_k: int = 12,
    layout: str = "versions",
    compact_every: int | None = None,
    checkpoint_dir: str | None = None,
    keep_versions: int | None = None,
):
    """Continuously-maintained table profile: every micro-batch folds its
    ``relational.profile_partial`` rows (count / nulls / min / max /
    exact fixed-point sum) — and, for ``ndv_columns``, its HLL sketches —
    into a strict-parent versioned state. The running profile over
    everything ever ingested costs one single-scan aggregate per batch
    plus a constant-size state read/write: the profile state is one row
    per column, the sketch state ~4 KB per column, both independent of
    corpus size. ``latest_profile`` reads it back in
    ``table_profile``'s schema (plus an ``ndv`` column when sketched).

    The profile fold is EXACT (integer sums, monotone-rounded min/max —
    finalizes bit-equal to profiling the concatenated batches); the NDV
    fold carries the sketch family's bounded-error contract. Retries are
    idempotent by the strict-parent rule; NOTE the asymmetry under
    genuine row re-delivery across different batch ids: the sketch side
    is immune (set semantics) but the profile side double-counts like
    any additive aggregate — exactly-once row delivery (the file source,
    a transactional sink) is the profile fold's contract.

    ``layout="parts"`` (round 11) removes that asymmetry for the
    committed-batch case: each batch writes ONLY its own partial to
    ``state_dir/b{batch_id}`` and the running profile is the on-read
    fold of the parts — a re-executed batch id overwrites its own part
    (last-writer-wins), so even the ADDITIVE sums fold exactly once
    under foreachBatch's at-least-once re-delivery, the property the
    version dance could not give the additive side. Compact with
    :func:`compact_profile_parts`, or pass ``compact_every=K`` (round
    12) for the in-stream cadence (serial steps + staged-rename commit
    make in-step compaction safe).

    Returns the started StreamingQuery (availableNow-triggered streams
    terminate when the backlog drains)."""
    if layout not in ("versions", "parts"):
        raise ValueError(f"profile_monitor_ingest: unknown layout {layout!r}")
    if compact_every is not None and layout != "parts":
        raise ValueError(
            "profile_monitor_ingest: compact_every only applies to "
            "layout='parts' — versioned sinks are already full rewrites."
        )
    if compact_every is not None and compact_every < 1:
        raise ValueError("profile_monitor_ingest: compact_every must be >= 1")
    _check_keep_versions(keep_versions, layout, "profile_monitor_ingest")
    spark = stream_df.sparkSession

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        if layout == "parts":
            merge_profile_part(
                spark, state_dir, batch_df, batch_id, columns, ndv_columns, lg_k
            )
            if compact_every is not None and (batch_id + 1) % compact_every == 0:
                compact_profile_parts(spark, state_dir)
        else:
            merge_profile_version(
                spark, state_dir, batch_df, batch_id, columns, ndv_columns, lg_k
            )
            if keep_versions is not None:
                prune_versions(spark, state_dir, keep=keep_versions)

    return _start_foreach(stream_df, fold, checkpoint_dir)


def merge_profile_version(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    columns: list[str],
    ndv_columns: list[str] | None = None,
    lg_k: int = 12,
) -> None:
    """One ``profile_monitor_ingest`` fold step: profile (and sketch) the
    batch, fold with the latest state version STRICTLY older than
    ``batch_id``, write ``v{batch_id}/profile`` (+ ``/ndv``).

    The parent's ``ndv`` child is PROBED, not assumed (round-10 advice
    fix): a stream reconfigured to add ``ndv_columns`` mid-run folds
    against a parent without sketches by starting the sketch state fresh
    from this batch, and a stream that DROPS ``ndv_columns`` carries the
    parent's accumulated sketch state forward verbatim instead of
    silently losing it from the new version."""
    from spark_iforest_spark import fs as hfs
    from spark_iforest_spark.operators import relational

    prof = relational.profile_partial(batch_df, columns)
    sk = (
        relational.ndv_sketch_partial(batch_df, ndv_columns, lg_k)
        if ndv_columns
        else None
    )
    pdir = _latest_parent(spark, state_dir, batch_id)
    if pdir is not None:
        prof = relational.merge_profile_partials(
            spark.read.parquet(f"{pdir}/profile").unionByName(prof)
        )
        parent_has_ndv = any(
            c["name"] == "ndv" for c in hfs.list_children(spark, pdir)
        )
        if sk is not None and parent_has_ndv:
            sk = relational.merge_ndv_sketches(
                spark.read.parquet(f"{pdir}/ndv").unionByName(sk)
            )
        elif sk is None and parent_has_ndv:
            sk = spark.read.parquet(f"{pdir}/ndv")
    vdir = f"{state_dir}/v{batch_id}"
    prof.write.mode("overwrite").parquet(f"{vdir}/profile")
    if sk is not None:
        sk.write.mode("overwrite").parquet(f"{vdir}/ndv")


def latest_profile(
    spark: SparkSession, state_dir: str, scale: int = 4
) -> DataFrame:
    """The current running profile in ``table_profile``'s schema; when the
    state carries NDV sketches, their estimates join on as an ``ndv``
    column (full outer on column name: unsketched columns carry NULL ndv,
    sketch-only columns carry NULL profile stats).

    Reads BOTH monitor layouts: the strict-parent ``v{N}`` full-rewrite
    versions and the round-11 per-batch ``b{N}`` parts (+ ``c{M}``
    compacted base) written by ``layout="parts"`` — parts are folded on
    read with the same merge operators the version writer used, so the
    two layouts are observationally identical."""
    from spark_iforest_spark import fs as hfs
    from spark_iforest_spark.operators import relational

    live = _live_parts(spark, state_dir)
    if live is not None:
        prof_parts = [
            spark.read.parquet(f"{p}/profile")
            for p in live
            if hfs.exists(spark, f"{p}/profile")
        ]
        from functools import reduce

        prof = relational.finalize_profile(
            relational.merge_profile_partials(
                reduce(DataFrame.unionByName, prof_parts)
            ),
            scale,
        )
        sk_parts = [
            spark.read.parquet(f"{p}/ndv")
            for p in live
            if hfs.exists(spark, f"{p}/ndv")
        ]
        if not sk_parts:
            return prof
        est = relational.ndv_estimates(
            relational.merge_ndv_sketches(
                reduce(DataFrame.unionByName, sk_parts)
            )
        )
        return prof.join(est, "column", "full")
    vdir = f"{state_dir}/v{_index_versions(spark, state_dir)[-1]}"
    prof = relational.finalize_profile(
        spark.read.parquet(f"{vdir}/profile"), scale
    )
    names = {c["name"] for c in hfs.list_children(spark, vdir)}
    if "ndv" not in names:
        return prof
    est = relational.ndv_estimates(spark.read.parquet(f"{vdir}/ndv"))
    return prof.join(est, "column", "full")


# ---------------------------------------------------------------------------
# Round-11 delta layout: per-batch parts + compacted base. The layout
# contract, read rule, idempotence argument, and staged-rename compaction
# commit live in ONE place — spark_iforest_spark.parts_store (round-12
# consolidation: four sinks each carried a copy of this machinery). The
# sinks below parameterize it with their fold: digest rows last-writer-
# wins, NDV registers max, profile partials sum, ANN cell rows union.
# ---------------------------------------------------------------------------


def _part_ids(spark: SparkSession, d: str, prefix: str) -> list[int]:
    from spark_iforest_spark import parts_store

    return parts_store.part_ids(spark, d, prefix)


def _live_parts(
    spark: SparkSession, d: str, before: int | None = None
) -> list[str] | None:
    """``parts_store.live_parts`` — kept as the module-local name the
    sinks and their tests bound before the consolidation."""
    from spark_iforest_spark import parts_store

    return parts_store.live_parts(spark, d, before)


def merge_profile_part(
    spark: SparkSession,
    state_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    columns: list[str],
    ndv_columns: list[str] | None = None,
    lg_k: int = 12,
) -> None:
    """One parts-layout profile fold step: write THIS batch's partial
    profile rows (and NDV sketches) to ``state_dir/b{batch_id}`` —
    nothing else is read or rewritten, so the per-batch write volume is
    O(#columns) regardless of how many batches precede it, and a
    re-executed batch id lands on its own directory (idempotent for the
    additive sums, not just the set-semantic sketches)."""
    from spark_iforest_spark import parts_store
    from spark_iforest_spark.operators import relational

    parts_store.check_parts_writable(spark, state_dir)
    bdir = f"{state_dir}/b{batch_id}"
    relational.profile_partial(batch_df, columns).write.mode(
        "overwrite"
    ).parquet(f"{bdir}/profile")
    if ndv_columns:
        relational.ndv_sketch_partial(batch_df, ndv_columns, lg_k).write.mode(
            "overwrite"
        ).parquet(f"{bdir}/ndv")


def compact_profile_parts(spark: SparkSession, state_dir: str) -> int:
    """Fold every live part into a compacted base ``c{M}`` (M = newest
    part id) and garbage-collect the folded parts — staged-rename commit
    + parts read rule (``parts_store.compact``; the nested profile/ndv
    children are written under the staging dir and swap in as one
    rename, where the old in-place write exposed a base with only one
    child mid-commit). Safe inside the stream's own cadence
    (``profile_monitor_ingest(compact_every=K)``). Run on whatever
    cadence bounds the read-side fold chain (the state is O(#columns)
    per part, so even hundreds of parts fold in one small aggregate —
    compaction here is about file-listing hygiene, not data volume).
    Returns the new base id."""
    from functools import reduce

    from spark_iforest_spark import fs as hfs, parts_store
    from spark_iforest_spark.operators import relational

    def fold(live: list[str], staging: str) -> None:
        prof_parts = [
            spark.read.parquet(f"{p}/profile")
            for p in live
            if hfs.exists(spark, f"{p}/profile")
        ]
        sk_parts = [
            spark.read.parquet(f"{p}/ndv")
            for p in live
            if hfs.exists(spark, f"{p}/ndv")
        ]
        if prof_parts:
            relational.merge_profile_partials(
                reduce(DataFrame.unionByName, prof_parts)
            ).write.mode("overwrite").parquet(f"{staging}/profile")
        if sk_parts:
            relational.merge_ndv_sketches(
                reduce(DataFrame.unionByName, sk_parts)
            ).write.mode("overwrite").parquet(f"{staging}/ndv")

    return parts_store.compact(spark, state_dir, fold)


def incremental_neardup_ingest(
    stream_docs: DataFrame,
    index_dir: str,
    pairs_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    checkpoint_dir: str | None = None,
):
    """Continuous NEAR-dup ingestion: every micro-batch minhash-dedups
    against the accumulated signature index and appends its pairs.

    Unlike the digest merge (``incremental_dedup_ingest``), the minhash
    index is APPEND-ONLY — a batch contributes its ``minhash_index`` rows
    and never rewrites old ones — so both the index and the pair log are
    per-batch subdirectories keyed by batch id: a retried batch OVERWRITES
    its own ``b{batch_id}`` dirs and reads only strictly-older index
    parts, which makes the whole pipeline idempotent under foreachBatch's
    at-least-once contract (same strict-parent argument as the digest
    sink, pytest-pinned). After the backlog drains, the union of pair
    parts equals the one-shot ``minhash_lsh_pairs`` relation over
    everything ingested, minus old-old pairs from before the stream
    started (each pair is emitted by the first batch that completes it).

    Stream state: zero. At scale the per-batch parts feed
    ``layout.compact_files`` on whatever cadence the file count demands.
    """
    from spark_iforest_spark.operators import dedup

    spark = stream_docs.sparkSession

    def step(batch_df: DataFrame, batch_id: int) -> None:
        from spark_iforest_spark import fs as hfs

        parts = [
            c["path"]
            for c in hfs.list_children(spark, index_dir)
            if c["name"].startswith("b")
            and c["name"][1:].isdigit()
            and int(c["name"][1:]) < batch_id
        ]
        batch_idx = dedup.minhash_index(batch_df, id_col, text_col)
        if parts:
            index = spark.read.parquet(*parts)
            pairs = dedup.minhash_lsh_pairs_incremental(
                batch_df, index, id_col, text_col, threshold=threshold
            )
        else:
            pairs = dedup.minhash_lsh_pairs(
                batch_df, id_col, text_col, threshold=threshold
            )
        pairs.write.mode("overwrite").parquet(f"{pairs_dir}/b{batch_id}")
        batch_idx.write.mode("overwrite").parquet(f"{index_dir}/b{batch_id}")

    return _start_foreach(stream_docs, step, checkpoint_dir)


def ann_ingest(
    stream_emb: DataFrame,
    index_dir: str,
    centers,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
    stats_dir: str | None = None,
    checkpoint_dir: str | None = None,
):
    """Continuous vector ingestion into a persisted IVF ANN index: every
    micro-batch assigns against the FROZEN coarse quantizer
    (``similarity.ivf_assign`` — one distance matmul per Arrow batch) and
    appends its cell relation as a per-batch part, written PARTITIONED BY
    cell so later probes keep their scan pruning. Completes the streaming
    family: dedup, near-dup, profile/NDV, curation, and now similarity
    all ingest continuously against frozen artifacts.

    Same parts idempotence as the other b{N} sinks: a retried batch id
    overwrites its own part; parts are append-only live data (vector ids
    are the stream's, never rewritten), so the logical index is the union
    of live parts and a stale retry of an already-compacted batch id is
    ignored by the read rule. Zero stream-store state; ``centers`` is the
    write-once artifact (``fs.save_numpy`` / ``load_numpy``).

    Query with ``similarity.ivf_topk(..., centers=centers,
    assigned=latest_ann_index(spark, index_dir))`` — the persisted-index
    mode skips both the fit and the corpus assignment pass.

    ``compact_every=K`` (round 12) folds the parts into one
    cell-partitioned base every K committed batches inside the step
    (:func:`compact_ann_index`) — bounding per-cell file counts without
    an external compactor; safe by the same serial-steps +
    staged-rename argument as the other sinks.

    ``stats_dir`` (round 12 — the freshness contract the frozen
    quantizer needs): each batch also writes its per-cell assignment
    stats — (batch_version, cell, n, sum_d2) — to
    ``stats_dir/b{batch_id}``. The assignment matmul already computes
    every distance, so the stats are free at ingest; they feed
    :func:`ann_drift_report`, which alarms when the embedding
    distribution has drifted away from the quantizer's training sample
    (cells unbalance and probe recall silently degrades otherwise).
    Recover with :func:`requantize_ann_index`. A retried batch id
    overwrites its own stats part (same idempotence as the index part).

    Returns the started StreamingQuery (availableNow-triggered streams
    terminate when the backlog drains)."""
    from spark_iforest_spark.operators import similarity

    if compact_every is not None and compact_every < 1:
        raise ValueError("ann_ingest: compact_every must be >= 1")
    spark = stream_emb.sparkSession

    def step(batch_df: DataFrame, batch_id: int) -> None:
        from spark_iforest_spark import parts_store

        parts_store.check_parts_writable(spark, index_dir)
        if stats_dir is None:
            similarity.ivf_assign(
                batch_df, centers, id_col=id_col, vec_col=vec_col
            ).write.partitionBy("cell").mode("overwrite").parquet(
                f"{index_dir}/b{batch_id}"
            )
        else:
            from spark_iforest_spark.checkpoint import snapshot

            assigned = snapshot(
                similarity.ivf_assign(
                    batch_df, centers, id_col=id_col, vec_col=vec_col,
                    with_distance=True,
                )
            )
            assigned.drop("d2").write.partitionBy("cell").mode(
                "overwrite"
            ).parquet(f"{index_dir}/b{batch_id}")
            assigned.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("d2").alias("sum_d2"),
            ).select(
                F.lit(batch_id).alias("batch_version"), "cell", "n", "sum_d2"
            ).write.mode("overwrite").parquet(f"{stats_dir}/b{batch_id}")
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            compact_ann_index(spark, index_dir)

    return _start_foreach(stream_emb, step, checkpoint_dir)


def latest_ann_index(spark: SparkSession, index_dir: str) -> DataFrame:
    """The current assigned-cell relation written by :func:`ann_ingest`:
    the union of live parts (newest compacted base + later batch parts).
    Feed to ``similarity.ivf_topk(assigned=...)``. Cell-partition pruning
    survives the union — each part is read with its own base path (cell
    partition column intact) and a probe's cell predicate pushes through
    the Union into every part's scan."""
    from functools import reduce

    live = _live_parts(spark, index_dir)
    if live is None:
        raise ValueError(f"latest_ann_index: no parts under {index_dir}")
    return reduce(
        DataFrame.unionByName, [spark.read.parquet(p) for p in live]
    )


def compact_ann_index(spark: SparkSession, index_dir: str) -> int:
    """Fold the live ANN parts into one cell-partitioned base ``c{M}``
    and garbage-collect the folded parts (plain union — vector ids are
    append-only) — bounds file counts per cell. Staged-rename commit +
    parts read rule (``parts_store.compact``), so it is also safe inside
    the stream's own cadence (``ann_ingest(compact_every=K)``). Returns
    the new base id."""
    from functools import reduce

    from spark_iforest_spark import parts_store

    def fold(live: list[str], staging: str) -> None:
        reduce(
            DataFrame.unionByName, [spark.read.parquet(p) for p in live]
        ).write.partitionBy("cell").mode("overwrite").parquet(staging)

    return parts_store.compact(spark, index_dir, fold)


def ann_baseline_stats(
    emb: DataFrame,
    centers,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-cell assignment stats — (cell, n, sum_d2) — of the quantizer's
    TRAINING sample: the freshness baseline :func:`ann_drift_report`
    compares ingested batches against. Persist it once next to the
    centers artifact (parquet), same write-once lifecycle."""
    from spark_iforest_spark.operators import similarity

    return (
        similarity.ivf_assign(
            emb, centers, id_col=id_col, vec_col=vec_col, with_distance=True
        )
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("d2").alias("sum_d2"))
    )


def ann_drift_report(
    spark: SparkSession,
    stats_dir: str,
    baseline: DataFrame,
    last_batches: int | None = None,
    psi_alarm: float = 0.25,
    d2_ratio_alarm: float = 2.0,
) -> dict:
    """Freshness verdict for a streaming ANN index built against a FROZEN
    quantizer: compares the ingested batches' per-cell assignment stats
    (``ann_ingest(stats_dir=...)``) against the quantizer's training
    baseline (:func:`ann_baseline_stats`).

    Two complementary signals, both from stats already on disk — no
    vector is re-read:

    * ``cell_psi`` — categorical PSI between the baseline's and the
      ingested batches' cell-assignment SHARES (the standard population-
      stability form, ε-smoothed so empty cells stay finite). Cells
      filling in different proportions than at fit time is exactly the
      unbalancing that erodes probe recall.
    * ``mean_d2_ratio`` — ingested mean squared distance-to-center over
      the baseline's. Drift ORTHOGONAL to the cell structure (vectors
      still landing in the same cells, but further from every center)
      moves this even when shares stay flat.

    ``last_batches`` restricts to the newest N stats parts (a sliding
    drift window); default folds everything since fit. Returns a dict:
    ``{"cell_psi", "mean_d2_ratio", "n_vectors", "alarm"}`` — ``alarm``
    is True when either signal crosses its threshold; the documented
    recovery is :func:`requantize_ann_index` with freshly fit centers.
    One tiny aggregate job over O(#cells × #batches) rows."""
    psi, ratio, n_cur = _fold_drift_stats(
        spark, stats_dir, baseline, "cell", "sum_d2", last_batches,
        "ann_drift_report",
    )
    return {
        "cell_psi": round(psi, 6),
        "mean_d2_ratio": round(ratio, 6),
        "n_vectors": int(n_cur),
        "alarm": bool(psi >= psi_alarm or ratio >= d2_ratio_alarm),
    }


def _fold_drift_stats(
    spark: SparkSession,
    stats_dir: str,
    baseline: DataFrame,
    key_col: str,
    sum_col: str,
    last_batches: int | None,
    who: str,
) -> tuple:
    """Shared (PSI, mean-ratio, n) fold behind the freshness reports —
    per-key assignment-share population stability + ingested-vs-baseline
    per-unit mean of ``sum_col`` — over a parts directory of
    (batch_version, key, n, sum) aggregates (ann_drift_report's cells,
    ccnet_drift_report's bands). Driver-side math over O(#keys) rows."""
    import math

    from spark_iforest_spark import parts_store

    ids = parts_store.part_ids(spark, stats_dir, "b")
    if not ids:
        raise ValueError(f"{who}: no stats parts under {stats_dir}")
    if last_batches is not None:
        ids = ids[-int(last_batches):]
    cur = (
        spark.read.parquet(*[f"{stats_dir}/b{i}" for i in ids])
        .groupBy(key_col)
        .agg(F.sum("n").alias("n"), F.sum(sum_col).alias(sum_col))
    )
    base_rows = {r[key_col]: r for r in baseline.collect()}
    cur_rows = {r[key_col]: r for r in cur.collect()}
    n_base = sum(r["n"] for r in base_rows.values())
    n_cur = sum(r["n"] for r in cur_rows.values())
    if n_base == 0 or n_cur == 0:
        raise ValueError(f"{who}: empty baseline or ingested stats")
    eps = 1e-6
    psi = 0.0
    for k in set(base_rows) | set(cur_rows):
        p = (base_rows[k]["n"] / n_base) if k in base_rows else 0.0
        q = (cur_rows[k]["n"] / n_cur) if k in cur_rows else 0.0
        p, q = max(p, eps), max(q, eps)
        psi += (q - p) * math.log(q / p)
    base_mean = sum(r[sum_col] for r in base_rows.values()) / n_base
    cur_mean = sum(r[sum_col] for r in cur_rows.values()) / n_cur
    ratio = cur_mean / max(base_mean, 1e-12)
    return psi, ratio, n_cur


def ccnet_drift_report(
    spark: SparkSession,
    stats_dir: str,
    baseline: DataFrame,
    last_batches: int | None = None,
    psi_alarm: float = 0.25,
    nll_ratio_alarm: float = 1.2,
) -> dict:
    """Freshness verdict for a FROZEN ccnet calibration — the
    drift-cutpoint contract's monitor (round 13), the exact twin of
    :func:`ann_drift_report` over band stats instead of cell stats:
    folds the ingested batches' (band, n, sum_nll_micros) parts
    (``curate_stream(ccnet_stats_dir=...)`` /
    ``corpus.ccnet_stage_stats``) against the calibration-time baseline
    (``text.ccnet_band_stats`` over the calibration corpus).

    Two complementary signals, both from stats already on disk:

    * ``band_psi`` — population stability of the head/middle/tail band
      SHARES. The cutpoints were corpus-fraction terciles; ingested
      batches banding in different proportions is exactly the keep-rate
      migration a frozen calibration suffers under corpus drift.
    * ``mean_nll_ratio`` — ingested mean per-doc avg-NLL over the
      baseline's. Catches drift ORTHOGONAL to banding (scores rising
      uniformly move the mean before the shares).

    ``alarm`` → recalibrate with :func:`~spark_iforest_spark.operators.
    recurate.recalibrate_ccnet` and record a fresh baseline (stats
    written before a recalibration score in the OLD band space — fence
    or archive them, same caveat as requantize_ann_index's stats)."""
    psi, ratio, n_cur = _fold_drift_stats(
        spark, stats_dir, baseline, "band", "sum_nll_micros", last_batches,
        "ccnet_drift_report",
    )
    return {
        "band_psi": round(psi, 6),
        "mean_nll_ratio": round(ratio, 6),
        "n_docs": int(n_cur),
        "alarm": bool(psi >= psi_alarm or ratio >= nll_ratio_alarm),
    }


def requantize_ann_index(
    spark: SparkSession,
    index_dir: str,
    n_centroids: int = 16,
    stats_dir: str | None = None,
):
    """The drift-recovery compaction: refit the coarse quantizer on the
    vectors the index CURRENTLY holds (the stored ``nv`` column — no
    external corpus re-read), re-assign every vector against the new
    centers, and commit the result as the compacted base ``c{M}`` via
    the shared staged-rename path (old parts GC'd, read rule unchanged).
    Returns ``(new_centers, new_base_id)`` — persist the centers
    (``fs.save_numpy``) and resume ``ann_ingest`` / probe ``ivf_topk``
    against them; record a fresh :func:`ann_baseline_stats` so the drift
    monitor's baseline matches the new quantizer. Run with the stream
    stopped (this REPLACES the quantizer — concurrent ingest against the
    old centers would mix assignment spaces).

    Pass the ingest's ``stats_dir`` to FENCE the drift monitor (round-12
    advice fix): the pre-requantize ``b{N}`` stats parts were computed in
    the OLD assignment space, so a later ``ann_drift_report`` with the
    default ``last_batches=None`` would fold them against the NEW
    baseline and raise spurious PSI/d2 alarms. With ``stats_dir`` set,
    those parts are archived in place (renamed to
    ``_pre_c{new_base}_b{N}`` siblings — invisible to the part listing,
    still auditable) after the index commit, so the monitor's default
    window starts empty at the new quantizer epoch.

    Cost shape: one KMeans fit + one assignment pass + one
    cell-partitioned rewrite of the index — the same order as the
    initial build, paid only when :func:`ann_drift_report` alarms."""
    from spark_iforest_spark import parts_store
    from spark_iforest_spark.operators import similarity

    emb = latest_ann_index(spark, index_dir).select(
        F.col("neighbor_id").alias("vec_id"), F.col("nv").alias("embedding")
    )
    centers = similarity.ivf_centers(emb, n_centroids=n_centroids)

    def fold(live: list[str], staging: str) -> None:
        from functools import reduce

        cur = reduce(
            DataFrame.unionByName, [spark.read.parquet(p) for p in live]
        ).select(
            F.col("neighbor_id").alias("vec_id"), F.col("nv").alias("embedding")
        )
        similarity.ivf_assign(cur, centers).write.partitionBy("cell").mode(
            "overwrite"
        ).parquet(staging)

    # force=True: this fold REWRITES content, so it must run even when
    # the dir is already one compacted base
    new_base = parts_store.compact(spark, index_dir, fold, force=True)
    if stats_dir is not None:
        from spark_iforest_spark import fs as hfs

        for i in parts_store.part_ids(spark, stats_dir, "b"):
            hfs.rename(
                spark,
                f"{stats_dir}/b{i}",
                f"{stats_dir}/_pre_c{new_base}_b{i}",
            )
    return centers, new_base


# ---------------------------------------------------------------------------
# LIVE re-quantization (round 14 — closes the round-12/13 carried weak #2:
# requantize_ann_index is the ONE operation that required the ingest stream
# stopped, because replacing the quantizer under a running stream would mix
# assignment spaces inside one flat parts directory).
#
# The live layout scopes everything by QUANTIZER EPOCH:
#
# * centers live in a versioned store ``{centers_dir}/v{E}.npy``; the
#   CURRENT epoch is the max E (publish is a single small-file write).
# * index parts live under ``{index_dir}/e{E}/`` — each epoch dir is its
#   own b{N}/c{M} parts store (same read rule, same staged-rename
#   compaction), holding only vectors ASSIGNED under centers v{E}.
# * each ``ann_ingest_live`` micro-batch re-reads the current epoch
#   (one metadata read per batch) and writes its part into that epoch's
#   dir, so a published re-quantization is picked up by the NEXT batch
#   with no stream restart; per-epoch ``stats_dir/e{E}`` scoping also
#   fences the drift monitor for free (pre-requantize stats simply
#   belong to the old epoch).
# * probes fold PER EPOCH: each epoch's parts are probed with the
#   quantizer that assigned them (similarity.ivf_topk_grouped), then one
#   exact-cosine rank merges the candidates. Cells are only a pruning
#   device, so results stay exact regardless of how many epochs are live.
#
# ``requantize_ann_index_live`` then never needs the world stopped: it
# snapshots the live parts, refits, PUBLISHES the new epoch (from here on
# new batches write new-space parts), migrates the snapshot into the new
# epoch's base, and tombstones what it folded in the old epochs with an
# empty base at the max folded batch id — an old-space part that lands
# AFTER the snapshot (an in-flight batch, or a late retry) is above that
# base id, stays live in its old epoch, and keeps being probed under the
# old centers until the next requantize/migration folds it. The at-least-
# once idempotence story is unchanged: a retried batch id at or below a
# base id (in either epoch) is ignored by the read rule.
# ---------------------------------------------------------------------------


def publish_ann_centers(spark: SparkSession, centers_dir: str, centers) -> int:
    """Publish a quantizer as the next epoch under ``centers_dir``
    (``v{E}.npy`` via fs.save_numpy); returns E. Epoch 0 is the initial
    publish an ``ann_ingest_live`` deployment makes before starting."""
    from spark_iforest_spark import fs as hfs

    epoch = (max(_center_epochs(spark, centers_dir), default=-1)) + 1
    hfs.save_numpy(spark, f"{centers_dir}/v{epoch}.npy", centers)
    return epoch


def current_ann_centers(spark: SparkSession, centers_dir: str):
    """(epoch, centers) of the newest published quantizer."""
    from spark_iforest_spark import fs as hfs

    epochs = _center_epochs(spark, centers_dir)
    if not epochs:
        raise ValueError(
            f"current_ann_centers: no centers published under {centers_dir} "
            "(publish_ann_centers first)"
        )
    e = max(epochs)
    return e, hfs.load_numpy(spark, f"{centers_dir}/v{e}.npy")


def _center_epochs(spark: SparkSession, centers_dir: str) -> list[int]:
    from spark_iforest_spark import fs as hfs

    kids = hfs.list_children(spark, centers_dir)
    return sorted(
        int(c["name"][1:-4])
        for c in kids
        if c["name"].startswith("v")
        and c["name"].endswith(".npy")
        and c["name"][1:-4].isdigit()
    )


def ann_ingest_live(
    stream_emb: DataFrame,
    index_dir: str,
    centers_dir: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    compact_every: int | None = None,
    stats_dir: str | None = None,
    checkpoint_dir: str | None = None,
):
    """:func:`ann_ingest` with a RELOADABLE quantizer: each micro-batch
    reads the current (epoch, centers) from ``centers_dir`` and writes
    its part under ``{index_dir}/e{epoch}`` (stats under
    ``{stats_dir}/e{epoch}``), so :func:`requantize_ann_index_live` can
    swap the quantizer while this stream runs. ``compact_every`` folds
    WITHIN the current epoch's dir. Query with
    ``similarity.ivf_topk_grouped(queries, latest_ann_index_live(...))``.

    ``compact_every`` is unsupported while a live requantize runs. The
    requantize publishes the new centers before it commits the new
    epoch's base ``c{M}``; a compaction of the new epoch's dir in that
    window commits a base ``c{B}`` with B > M, which shadows ``c{M}``
    (the newest base wins) and garbage-collects its staging dir, so
    probes silently lose every pre-requantize vector."""
    from spark_iforest_spark.operators import similarity

    if compact_every is not None and compact_every < 1:
        raise ValueError("ann_ingest_live: compact_every must be >= 1")
    spark = stream_emb.sparkSession

    def step(batch_df: DataFrame, batch_id: int) -> None:
        from spark_iforest_spark import parts_store

        epoch, centers = current_ann_centers(spark, centers_dir)
        edir = f"{index_dir}/e{epoch}"
        parts_store.check_parts_writable(spark, edir)
        if stats_dir is None:
            similarity.ivf_assign(
                batch_df, centers, id_col=id_col, vec_col=vec_col
            ).write.partitionBy("cell").mode("overwrite").parquet(
                f"{edir}/b{batch_id}"
            )
        else:
            from spark_iforest_spark.checkpoint import snapshot

            assigned = snapshot(
                similarity.ivf_assign(
                    batch_df, centers, id_col=id_col, vec_col=vec_col,
                    with_distance=True,
                )
            )
            assigned.drop("d2").write.partitionBy("cell").mode(
                "overwrite"
            ).parquet(f"{edir}/b{batch_id}")
            assigned.groupBy("cell").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("d2").alias("sum_d2"),
            ).select(
                F.lit(batch_id).alias("batch_version"), "cell", "n", "sum_d2"
            ).write.mode("overwrite").parquet(
                f"{stats_dir}/e{epoch}/b{batch_id}"
            )
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            from spark_iforest_spark import parts_store as ps

            if ps.live_parts(spark, edir) is not None:
                compact_ann_index(spark, edir)

    return _start_foreach(stream_emb, step, checkpoint_dir)


def _index_epochs(spark: SparkSession, index_dir: str) -> list[int]:
    from spark_iforest_spark import fs as hfs

    kids = hfs.list_children(spark, index_dir)
    return sorted(
        int(c["name"][1:])
        for c in kids
        if c["name"].startswith("e") and c["name"][1:].isdigit()
    )


def latest_ann_index_live(spark: SparkSession, index_dir: str, centers_dir: str):
    """Epoch groups of the live index: ``[(centers_E, assigned_E), ...]``
    for every epoch dir with live parts — feed straight to
    ``similarity.ivf_topk_grouped``. Epochs whose live set folds to zero
    rows (requantize tombstones) still appear as empty relations; they
    prune to nothing at probe time."""
    from functools import reduce

    from spark_iforest_spark import fs as hfs

    groups = []
    for e in _index_epochs(spark, index_dir):
        live = _live_parts(spark, f"{index_dir}/e{e}")
        if live is None:
            continue
        df = reduce(
            DataFrame.unionByName, [spark.read.parquet(p) for p in live]
        )
        centers = hfs.load_numpy(spark, f"{centers_dir}/v{e}.npy")
        groups.append((centers, df))
    if not groups:
        raise ValueError(f"latest_ann_index_live: no parts under {index_dir}")
    return groups


def requantize_ann_index_live(
    spark: SparkSession,
    index_dir: str,
    centers_dir: str,
    n_centroids: int = 16,
):
    """Drift-recovery re-quantization WITHOUT stopping the ingest stream
    (round 14; the stop-the-world variant is :func:`requantize_ann_index`).

    Sequence: (1) snapshot the live part lists of every epoch and refit
    the coarse quantizer on the vectors they hold; (2) PUBLISH the new
    centers — every subsequent ``ann_ingest_live`` batch assigns against
    them into the new epoch's dir; (3) reassign the snapshotted vectors
    and commit them as the new epoch's base ``c{M}`` (M = the max batch
    id folded, staged rename); (4) tombstone each old epoch with an EMPTY
    base at its own max folded id and GC the folded parts. An old-space
    part written concurrently (an in-flight batch, a late retry above the
    tombstone) stays live in its epoch and keeps being probed under the
    old centers — exact-cosine ranking makes the mixed-epoch probe
    correct, and the next requantize folds the stragglers. Returns
    ``(new_centers, new_epoch)``.

    Same object-store caveat as the parts compactions: the staged-rename
    commit assumes atomic directory rename (HDFS/local); on rename-
    emulating object stores run requantizes with the stream stopped.

    Unsupported while ``ann_ingest_live`` runs with ``compact_every``:
    new-epoch batches arrive between step (2) and step (3), and a
    within-epoch compaction they trigger commits a base ``c{B}`` with
    B > M that shadows ``c{M}`` and garbage-collects its staging dir, so
    probes silently lose every migrated vector."""
    from functools import reduce

    from spark_iforest_spark import fs as hfs, parts_store
    from spark_iforest_spark.operators import similarity

    # (1) snapshot: per-epoch live part PATHS (not a lazy listing — parts
    # that land after this point are deliberately not folded)
    folded: list[tuple[int, list[str], int]] = []  # (epoch, paths, max_id)
    for e in _index_epochs(spark, index_dir):
        edir = f"{index_dir}/e{e}"
        live = _live_parts(spark, edir)
        if live is None:
            continue
        ids = [
            int(p.rsplit("/", 1)[1][1:])
            for p in live
        ]
        folded.append((e, live, max(ids)))
    if not folded:
        raise ValueError(f"requantize_ann_index_live: no parts under {index_dir}")
    cur = (
        reduce(
            DataFrame.unionByName,
            [spark.read.parquet(p) for _, live, _ in folded for p in live],
        )
        .select(
            F.col("neighbor_id").alias("vec_id"), F.col("nv").alias("embedding")
        )
        # idempotent re-run guard: a crash between the new-epoch base
        # commit and an old epoch's tombstone leaves a vector live in
        # BOTH epochs until the requantize is retried — the retry's
        # refold must not double-count it (ids are unique in normal
        # operation, so this is a no-op there)
        .dropDuplicates(["vec_id"])
    )
    new_centers = similarity.ivf_centers(cur, n_centroids=n_centroids)

    # (2) publish — the very next ingest batch writes new-space parts
    new_epoch = publish_ann_centers(spark, centers_dir, new_centers)

    # (3) migrate the snapshot into the new epoch's base (staged rename;
    # its id is the max folded batch id, so concurrently-arriving new-
    # epoch batches — whose ids are strictly larger — stay live)
    base_id = max(mx for _, _, mx in folded)
    new_edir = f"{index_dir}/e{new_epoch}"
    staging = f"{new_edir}/_staging_c{base_id}"
    similarity.ivf_assign(cur, new_centers).write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(staging)
    # the epoch dir is freshly numbered, so the target cannot pre-exist;
    # still verify the commit rename (fs.rename's documented contract)
    if not hfs.rename(spark, staging, f"{new_edir}/c{base_id}"):
        raise IOError(
            f"requantize_ann_index_live: commit rename {staging} -> "
            f"{new_edir}/c{base_id} failed; the intact migration is staged"
        )

    # (4) tombstone + GC each old epoch: an empty base at ITS max folded
    # id makes the read rule ignore the folded parts (and any late retry
    # of a folded batch id), while parts above it — in-flight old-space
    # writes — stay live and probeable under the old centers. The target
    # may pre-exist (a REAL within-epoch compacted base whose rows were
    # just migrated, or a previous requantize's tombstone): delete-then-
    # rename, verifying each step (the parts_store.compact discipline).
    # Crash windows are safe in both directions: before the delete the
    # old base double-counts with the already-committed new base until a
    # RETRIED requantize refolds (dedup guard above); between delete and
    # rename the folded rows are already live in the new epoch's base.
    empty = spark.createDataFrame([], "neighbor_id long, nv array<double>, cell int")
    for e, live, mx in folded:
        edir = f"{index_dir}/e{e}"
        stag = f"{edir}/_staging_c{mx}"
        hfs.delete(spark, stag, recursive=True)
        empty.write.mode("overwrite").parquet(stag)
        target = f"{edir}/c{mx}"
        if hfs.exists(spark, target) and not hfs.delete(
            spark, target, recursive=True
        ):
            raise IOError(
                f"requantize_ann_index_live: could not delete folded base "
                f"{target}; its rows are already committed in the new "
                f"epoch's base — retry the requantize"
            )
        if not hfs.rename(spark, stag, target):
            raise IOError(
                f"requantize_ann_index_live: tombstone rename {stag} -> "
                f"{target} failed — retry the requantize"
            )
        parts_store._gc_stale(spark, edir, mx)
    return new_centers, new_epoch


def follow_pairs_stream(
    events: DataFrame,
    ts_col: str = "ts",
    gap_seconds: int = 300,
    watermark: str = "1 hour",
) -> DataFrame:
    """Watermarked stream-stream SELF-JOIN: (lead, follow) event pairs from
    the same user with 0 < follow.ts − lead.ts <= gap — the streaming twin
    of operators.relational.event_follow_counts' pair relation.

    Both sides carry a watermark and the join condition time-bounds each
    side against the other, so Spark derives a state-eviction horizon: a
    buffered lead can be dropped once the follow-side watermark passes
    lead.ts + gap (state is O(events within watermark+gap), not O(stream)).
    This is the canonical bounded-state stream-stream join shape; without
    the time bound the state grows forever and the plan is rejected for
    append mode. Emits the pair rows (append-deterministic set); the
    follow-counts aggregate is a batch groupBy over the replayed result —
    chaining the aggregation INSIDE the stream would need a windowed key to
    ever emit in append mode, which event_follow_counts' (type, type) key
    is not.

    Pairs at identical timestamps are excluded (strict >), matching the
    batch twin, so the pair set never depends on tie order.

    Precision contract: comparisons happen on the TIMESTAMP event-time
    column, i.e. at MICROsecond precision (``nanos_to_ts`` truncates
    legacy bigint-nanos input). The batch twin compares full nanosecond
    epochs, so on nanos input a gap or tie that straddles a sub-microsecond
    boundary can differ between the two variants; on timestamp[us] input
    (the current testdata) the two are identical. Streaming event time is
    inherently timestamp-typed — nanos callers who need exact parity should
    pre-truncate the batch side to micros.
    """
    if not events.isStreaming:
        raise ValueError("follow_pairs_stream expects a streaming DataFrame")
    lead = events.select(
        F.col("user_id"),
        F.col(ts_col).alias("lead_ts"),
        F.col("event_id").alias("lead_id"),
        F.col("event_type").alias("lead_type"),
    ).withWatermark("lead_ts", watermark)
    follow = events.select(
        F.col("user_id").alias("_follow_user"),
        F.col(ts_col).alias("follow_ts"),
        F.col("event_id").alias("follow_id"),
        F.col("event_type").alias("follow_type"),
    ).withWatermark("follow_ts", watermark)
    cond = (
        (F.col("user_id") == F.col("_follow_user"))
        & (F.col("follow_ts") > F.col("lead_ts"))
        & (
            F.col("follow_ts")
            <= F.col("lead_ts") + F.expr(f"INTERVAL {int(gap_seconds)} SECONDS")
        )
    )
    return lead.join(follow, cond).select(
        "user_id", "lead_id", "follow_id", "lead_type", "follow_type"
    )


_SESSION_SCHEMA = StructType(
    [
        StructField("user_id", LongType()),
        StructField("session_start", TimestampType()),
        StructField("session_end", TimestampType()),
        StructField("n_events", LongType()),
    ]
)
_STATE_SCHEMA = StructType(
    [
        StructField("start_us", LongType()),
        StructField("last_us", LongType()),
        StructField("n_events", LongType()),
    ]
)


def sessionize_stream(
    events: DataFrame,
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
) -> DataFrame:
    """Custom stateful gap-sessionization via applyInPandasWithState.

    Emits a session row when a user is idle past the gap (state timeout) —
    the streaming twin of operators.relational.sessionize. State per key is
    three longs; timeouts are event-time based off the watermark.

    Arrival-order contract: events are sorted WITHIN each micro-batch, but
    per-user state keeps only (start, last, n) — an event older than an
    already-processed event of the same user arriving in a LATER micro-batch
    cannot re-split or back-extend the session. For input that can be
    late/out-of-order across batches use ``sessionize_stream_merging``
    (built-in session_window, merge-correct within the watermark); this
    variant is the custom-stateful-operator demonstration for near-ordered
    input.
    """
    gap_us = gap_seconds * 1_000_000

    def assemble(key, pdfs, state: GroupState):
        (user_id,) = key
        if state.hasTimedOut:
            start_us, last_us, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start_us, unit="us")],
                    "session_end": [pd.Timestamp(last_us, unit="us")],
                    "n_events": [n],
                }
            )
            return
        ts_us = pd.concat([pdf[ts_col] for pdf in pdfs]).astype("int64") // 1000
        ts_us = ts_us.sort_values()
        out = []
        if state.exists:
            start_us, last_us, n = state.get
        else:
            start_us = last_us = int(ts_us.iloc[0])
            n = 0
        for t in ts_us:
            t = int(t)
            if t - last_us > gap_us:
                out.append((user_id, start_us, last_us, n))
                start_us, n = t, 0
            last_us = max(last_us, t)
            n += 1
        state.update((start_us, last_us, n))
        state.setTimeoutTimestamp(last_us // 1000 + gap_seconds * 1000)
        if out:
            yield pd.DataFrame(
                {
                    "user_id": [r[0] for r in out],
                    "session_start": [pd.Timestamp(r[1], unit="us") for r in out],
                    "session_end": [pd.Timestamp(r[2], unit="us") for r in out],
                    "n_events": [r[3] for r in out],
                }
            )

    return (
        events.withWatermark(ts_col, watermark)
        .groupBy("user_id")
        .applyInPandasWithState(
            assemble,
            outputStructType=_SESSION_SCHEMA,
            stateStructType=_STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


def sessionize_stream_merging(
    events: DataFrame,
    ts_col: str = "ts",
    gap_seconds: int = 1800,
    watermark: str = "1 hour",
    value_col: str = "value",
) -> DataFrame:
    """Late-data-correct streaming sessionization via the built-in
    ``session_window``: Spark's state store merges/extends session windows
    as late events arrive (within the watermark), so the final relation is
    invariant to cross-micro-batch arrival order — the property the custom
    applyInPandasWithState variant cannot provide (its per-user state keeps
    only (start, last, n) and cannot re-split on a late older event).

    Output matches operators.relational.sessionize: (user_id,
    session_start, session_end, n_events, sum_value) with epoch-second
    start/end — the built-in window end is last_event + gap, so the gap is
    subtracted back out to recover last-event time. Same microsecond
    precision contract as follow_pairs_stream (the batch twin's gap test is
    nanosecond-exact on legacy bigint-nanos input).

    In complete output mode the replayed relation equals the batch twin
    exactly (the watermark never drops emitted output); in append mode a
    session emits once the watermark passes its window end.
    """
    if not events.isStreaming:
        raise ValueError("sessionize_stream_merging expects a streaming DataFrame")
    from spark_iforest_spark.functions import money_units, units_to_double

    gap = f"{gap_seconds} seconds"
    return (
        events.withWatermark(ts_col, watermark)
        .groupBy("user_id", F.session_window(F.col(ts_col), gap))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            units_to_double(F.sum(money_units(value_col, 6)), 6).alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("session_window.start").cast("long").alias("session_start"),
            (F.col("session_window.end") - F.expr(f"INTERVAL {gap_seconds} SECONDS"))
            .cast("long")
            .alias("session_end"),
            "n_events",
            "sum_value",
        )
    )


def curate_batch_version(
    spark: SparkSession,
    state_dir: str,
    output_dir: str,
    batch_df: DataFrame,
    batch_id: int,
    benchmark: DataFrame | None = None,
    assume_disjoint_ids: bool = False,
    funnel_dir: str | None = None,
    state_layout: str = "full",
    ccnet_stats_dir: str | None = None,
) -> None:
    """One ``curate_stream`` step: read the latest persisted CurationState
    version AT OR BELOW ``batch_id``, run the frozen-calibration 6-stage
    incremental chain (``corpus.curate_and_update_state``) on the batch,
    write the curated batch under ``output_dir/b{batch_id}`` and the
    rolled-forward state under ``state_dir/v{batch_id + 1}``. With
    ``funnel_dir`` set, also write the batch's stage-survival report
    (``pretrain_funnel_incremental`` shape, from the SAME chain run) under
    ``funnel_dir/b{batch_id}`` — the per-crawl observability a monitored
    ingest loop tails.

    The parent rule makes a retried batch idempotent under foreachBatch's
    at-least-once contract: batch ``b`` writes ``v{b+1}`` and reads the
    newest version ``<= b``, so it can never read its own (possibly
    partial) output — a retry re-reads the same parent and regenerates
    bit-identical curated rows and state (pytest-pinned, same argument as
    ``merge_index_version``). The initial state — built once from the
    immutable corpus with ``corpus.curation_state`` — must be saved at
    ``state_dir/v0`` before the stream starts.

    The default-on disjointness guard runs per batch against the PARENT
    state's id relation, so a crawl that re-delivers an already-ingested
    document in a LATER batch fails loudly instead of double-counting
    (a same-batch retry passes: its parent predates its own ingest).

    ``state_layout="delta"`` (round 11) writes ``v{batch_id + 1}`` as a
    DELTA version — only the batch's own state contributions
    (``corpus.save_curation_delta``), a batch-proportional write instead
    of a corpus-proportional rewrite — with a parent pointer to the
    version the batch read; ``load_curation_state`` folds chains on
    read, and ``corpus.compact_curation_state`` bounds them. The retry
    argument is unchanged: a retried batch resolves the same parent
    chain and overwrites its own delta bit-identically.
    """
    from spark_iforest_spark.operators import corpus

    if state_layout not in ("full", "delta"):
        raise ValueError(f"curate_batch_version: unknown state_layout {state_layout!r}")
    parents = [v for v in _index_versions(spark, state_dir) if v <= batch_id]
    if not parents:
        raise ValueError(
            f"curate_stream: no CurationState version <= {batch_id} under "
            f"{state_dir} — save the corpus state at {state_dir}/v0 "
            "(corpus.curation_state -> corpus.save_curation_state) before "
            "starting the stream"
        )
    state = corpus.load_curation_state(spark, f"{state_dir}/v{parents[-1]}")
    if ccnet_stats_dir is not None:
        # drift-cutpoint monitoring (round 13): the batch's band stats
        # under the frozen calibration — one batch-proportional scoring
        # pass, O(#bands) rows; a retried batch id overwrites its own
        # part (same idempotence as the ann stats sink)
        corpus.ccnet_stage_stats(batch_df, state).select(
            F.lit(batch_id).alias("batch_version"), "band", "n",
            "sum_nll_micros",
        ).write.mode("overwrite").parquet(f"{ccnet_stats_dir}/b{batch_id}")
    if state_layout == "delta":
        curated, funnel, delta = corpus.curate_and_state_delta(
            batch_df,
            state,
            benchmark=benchmark,
            assume_disjoint_ids=assume_disjoint_ids,
            with_funnel=funnel_dir is not None,
        )
        if funnel_dir is not None:
            funnel.write.mode("overwrite").parquet(f"{funnel_dir}/b{batch_id}")
        curated.write.mode("overwrite").parquet(f"{output_dir}/b{batch_id}")
        corpus.save_curation_delta(
            delta, state, f"{state_dir}/v{batch_id + 1}", parent=parents[-1]
        )
        return
    if funnel_dir is None:
        curated, new_state = corpus.curate_and_update_state(
            batch_df,
            state,
            benchmark=benchmark,
            assume_disjoint_ids=assume_disjoint_ids,
        )
    else:
        curated, funnel, new_state = corpus.curate_report_and_update_state(
            batch_df,
            state,
            benchmark=benchmark,
            assume_disjoint_ids=assume_disjoint_ids,
        )
        funnel.write.mode("overwrite").parquet(f"{funnel_dir}/b{batch_id}")
    curated.write.mode("overwrite").parquet(f"{output_dir}/b{batch_id}")
    corpus.save_curation_state(new_state, f"{state_dir}/v{batch_id + 1}")


def curate_stream(
    stream_docs: DataFrame,
    state_dir: str,
    output_dir: str,
    benchmark: DataFrame | None = None,
    assume_disjoint_ids: bool = False,
    funnel_dir: str | None = None,
    keep_versions: int | None = None,
    state_layout: str = "full",
    compact_every: int | None = None,
    checkpoint_dir: str | None = None,
    ccnet_stats_dir: str | None = None,
    prune_history: bool = False,
):
    """Continuous crawl curation — the streaming driver of the one-call
    incremental-curation capstone: every micro-batch runs
    ``pretrain_curate_incremental`` against the latest persisted
    :class:`~spark_iforest_spark.operators.corpus.CurationState` and rolls
    the state forward, so batch N+1 dedups against (corpus ∪ batches
    1..N) with zero Structured-Streaming state (the durable state lives
    in the versioned parquet artifacts, not the state store — restarts
    and retries resume from the newest committed version).

    Per-batch cost is the incremental chain's: the batch's own stage work
    plus bounded index probes (batch-keyed semi-joins). With the default
    ``state_layout="full"`` the state write re-persists each artifact
    relation per version — corpus-proportional, the round-10 demo
    simplification. ``state_layout="delta"`` (round 11) removes it:
    each version holds only the batch's own contributions (new ids,
    count partials, shingle rows, touched-cluster relabels — the
    row-level upserts the merge folds emit), the logical state is the
    on-read fold of the parent chain, and
    ``corpus.compact_curation_state`` periodically collapses the chain
    back to a full save. Steady-state write volume is then flat in the
    batch size while the corpus grows (SCALE.md soak).

    Returns the started StreamingQuery (availableNow-triggered: it
    terminates when the backlog drains; ``awaitTermination`` to block).
    Read the final state back with :func:`latest_curation_state` and the
    curated corpus delta with ``spark.read.parquet(f"{output_dir}/b*")``.

    ``keep_versions`` (opt-in) prunes the state dir to the newest N
    versions after each committed batch — the self-contained retention a
    long-running loop wants. ``keep_versions=1`` is rejected (review
    fix): retries are always possible while a foreachBatch stream runs,
    and a retried batch whose parent was just pruned has NO version <=
    its batch id — the stream would fail unrecoverably on every restart.
    2 is the minimum that keeps the retry window's parent alive.

    ``compact_every`` (delta layout only) runs
    ``corpus.compact_curation_state`` inside the step after every K
    committed batches, bounding the read-side chain (the soak's
    per-batch wall creeps with chain length without it). Compacting
    INSIDE the foreachBatch step is safe where an external compactor
    needs the stream stopped: steps are serial, so there is no
    concurrent reader during the swap, and a retried batch that lands
    after its successor version was compacted reads the same logical
    parent (the compacted version is content-identical) and overwrites
    its own version as usual.

    ``ccnet_stats_dir`` (round 13 — the drift-cutpoint contract): for
    states with a ccnet stage, each batch also writes its per-band
    calibration stats — (batch_version, band, n, sum_nll_micros), the
    batch's ccnet-stage input scored against the FROZEN (lm, cutpoints)
    — to ``ccnet_stats_dir/b{batch_id}``. Feed
    :func:`ccnet_drift_report` with a calibration-time baseline
    (``text.ccnet_band_stats``); the alarm's recovery is
    ``operators.recurate.recalibrate_ccnet``.

    ``prune_history=True`` (round 13 — the retention twin of
    ``compact_every``; delta layout + cadence only) runs
    ``corpus.prune_curation_history`` after each in-stream compaction:
    chain versions older than the second-newest FULL save are history no
    retry can read, and without pruning they are the state dir's
    unbounded-growth term (the combined soak's 23.4 vs 6.1 MB). Bounded
    on-disk state becomes ~2 full saves + ~2K deltas.
    """
    if keep_versions is not None and keep_versions < 2:
        raise ValueError(
            "curate_stream: keep_versions must be >= 2 (or None) — a "
            "foreachBatch retry reads the previous version, and pruning it "
            "would fail the stream unrecoverably on restart."
        )
    if keep_versions is not None and state_layout == "delta":
        raise ValueError(
            "curate_stream: keep_versions is a full-layout retention knob — "
            "delta versions REFERENCE their parents, so pruning mid-chain "
            "would corrupt the state fold. Run corpus.compact_curation_state "
            "(then prune_versions, stream stopped) instead, or pass "
            "compact_every=K for in-stream cadence."
        )
    if compact_every is not None and state_layout != "delta":
        raise ValueError(
            "curate_stream: compact_every only applies to state_layout="
            "'delta' — full-layout versions are already full saves."
        )
    if compact_every is not None and compact_every < 1:
        raise ValueError("curate_stream: compact_every must be >= 1")
    if prune_history and (state_layout != "delta" or compact_every is None):
        raise ValueError(
            "curate_stream: prune_history requires state_layout='delta' "
            "with compact_every set — it prunes below the compaction "
            "cadence's full saves (full layout: use keep_versions)."
        )
    spark = stream_docs.sparkSession

    def step(batch_df: DataFrame, batch_id: int) -> None:
        curate_batch_version(
            spark,
            state_dir,
            output_dir,
            batch_df,
            batch_id,
            benchmark=benchmark,
            assume_disjoint_ids=assume_disjoint_ids,
            funnel_dir=funnel_dir,
            state_layout=state_layout,
            ccnet_stats_dir=ccnet_stats_dir,
        )
        if keep_versions is not None:
            prune_versions(spark, state_dir, keep=keep_versions)
        if compact_every is not None and (batch_id + 1) % compact_every == 0:
            from spark_iforest_spark.operators import corpus

            corpus.compact_curation_state(spark, state_dir)
            if prune_history:
                corpus.prune_curation_history(spark, state_dir)

    return _start_foreach(stream_docs, step, checkpoint_dir)


def latest_curation_state(spark: SparkSession, state_dir: str):
    """Load the newest CurationState version written by
    :func:`curate_stream` (Hadoop-FS listing — any filesystem URI)."""
    from spark_iforest_spark.operators import corpus

    versions = _index_versions(spark, state_dir)
    return corpus.load_curation_state(spark, f"{state_dir}/v{versions[-1]}")


def prune_versions(
    spark: SparkSession, versioned_dir: str, keep: int = 2
) -> list[int]:
    """Retention for the FULL-REWRITE versioned sinks — the digest index
    (``incremental_dedup_ingest``'s ``v{N}``), the curation state
    (``curate_stream``'s ``v{N}``), and the monitor states
    (``ndv_monitor_ingest`` / ``profile_monitor_ingest``): delete all but
    the newest ``keep`` versions and return the pruned version ids.

    Only the newest version is ever read forward (``latest_dedup_index`` /
    ``latest_curation_state``); older versions exist solely as parents for
    the at-least-once retry window, so ``keep=2`` (default) covers a retry
    of the last committed batch. Pruning can never make a stale retry
    silently wrong: a retried batch whose parent was pruned finds NO
    version ``<= batch_id`` and raises (``curate_batch_version``) or
    rebuilds from scratch only when the index dir is genuinely empty
    (``merge_index_version`` with no parents treats the batch as first) —
    so prune only after the stream's checkpoint has committed past the
    batches that would read the pruned parents, and keep ``keep >= 2``
    unless the stream is stopped.

    NOT for the append-only sinks (``incremental_neardup_ingest``'s
    ``b{N}`` parts): there every part IS live data — the union of parts is
    the relation; compact those with ``layout.compact_files`` instead.
    NOT for DELTA-layout state dirs either (``curate_stream``'s
    ``state_layout="delta"`` chains, the ``b{N}``/``c{M}`` parts of the
    delta digest index and parts monitors): delta versions REFERENCE
    older versions — compact first (``corpus.compact_curation_state`` /
    the ``compact_*`` functions here), after which the superseded
    versions/parts are history and those compactors GC them themselves.

    ``keep < 1`` raises (the newest version is the live state).
    """
    from spark_iforest_spark import fs as hfs

    if keep < 1:
        raise ValueError(f"prune_versions: keep must be >= 1, got {keep}")
    versions = _index_versions(spark, versioned_dir)
    pruned = versions[:-keep] if len(versions) > keep else []
    for v in pruned:
        hfs.delete(spark, f"{versioned_dir}/v{v}", recursive=True)
    return pruned
