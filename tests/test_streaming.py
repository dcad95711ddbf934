"""Structured Streaming twins: scorer on a stream, windowed agg, stateful
sessionization via applyInPandasWithState."""

import datetime
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from spark_iforest_spark import IForest
from spark_iforest_spark import streaming as S


@pytest.fixture
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream-src-")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _drain(q):
    q.processAllAvailable()
    q.stop()
    q.awaitTermination(10)


def test_score_stream(spark, tmpdir):
    batch = spark.createDataFrame(
        [([float(i), float(i)],) for i in range(64)], "features array<double>"
    )
    batch.write.parquet(tmpdir + "/in")
    model = IForest(numTrees=10, maxSamples=32.0, maxDepth=6, seed=4).fit(batch)
    model.transform(batch).collect()  # fixes the threshold (batch pass)
    assert model.getThreshold() > 0

    stream = spark.readStream.schema("features array<double>").parquet(tmpdir + "/in")
    scored = S.score_stream(model, stream)
    q = (
        scored.writeStream.format("memory")
        .queryName("scored_stream")
        .outputMode("append")
        .start()
    )
    _drain(q)
    rows = spark.sql("select * from scored_stream").collect()
    assert len(rows) == 64
    assert all(0 < r["anomalyScore"] < 1 for r in rows)
    # stream scores == batch scores for identical rows
    batch_scores = {
        tuple(r["features"]): r["anomalyScore"] for r in model.transform(batch).collect()
    }
    for r in rows:
        assert r["anomalyScore"] == pytest.approx(batch_scores[tuple(r["features"])])


def test_score_stream_preconditions(spark, tmpdir):
    batch = spark.createDataFrame(
        [([float(i)],) for i in range(32)], "features array<double>"
    )
    batch.write.parquet(tmpdir + "/in2")
    stream = spark.readStream.schema("features array<double>").parquet(tmpdir + "/in2")
    model = IForest(numTrees=5, maxSamples=16.0, maxDepth=4, seed=1).fit(batch)
    model.setThreshold(-1.0)
    with pytest.raises(ValueError, match="setThreshold"):
        S.score_stream(model, stream)
    frac = IForest(numTrees=5, maxSamples=1.0, maxDepth=4, seed=1).fit(batch)
    frac.setThreshold(0.5)
    with pytest.raises(ValueError, match="absolute maxSamples"):
        S.score_stream(frac, stream)


def ts(s):
    return datetime.datetime.fromisoformat(s)


def test_windowed_agg_stream_equals_batch(spark, tmpdir):
    from spark_iforest_spark.operators import relational

    rows = [
        (ts("2024-01-01 10:05:00"), "click", 1.0),
        (ts("2024-01-01 10:15:00"), "click", 2.0),
        (ts("2024-01-01 11:05:00"), "view", 3.0),
    ]
    df = spark.createDataFrame(rows, "ts timestamp, event_type string, value double")
    df.write.parquet(tmpdir + "/ev")
    stream = spark.readStream.schema(
        "ts timestamp, event_type string, value double"
    ).parquet(tmpdir + "/ev")
    got = S.run_to_batch(S.windowed_agg_stream(stream), "win_stream", "complete")
    # the bounded replay must be bit-identical to the batch twin
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, relational.windowed_event_agg(df).collect())
    )
    counts = {(r["window_start"], r["event_type"]): r["n_events"] for r in got.collect()}
    assert sorted(counts.values()) == [1, 2]


def test_stream_replay_matches_batch_on_testdata(spark, sf_dir):
    """read_stream_table + nanos_to_ts + run_to_batch on the real synthetic
    events table (TIMESTAMP(NANOS) parquet): replay == batch plan."""
    from spark_iforest_spark.operators import relational
    from spark_iforest_spark.sources import read_table

    ev = S.nanos_to_ts(S.read_stream_table(spark, sf_dir, "events"), "ts")
    got = sorted(
        map(tuple, S.run_to_batch(S.windowed_agg_stream(ev), "win_replay", "complete").collect())
    )
    expected = sorted(
        map(tuple, relational.windowed_event_agg(read_table(spark, sf_dir, "events")).collect())
    )
    assert got == expected and len(got) > 0


def test_enrich_stream_replay_matches_batch_join(spark, sf_dir):
    """Stream-static broadcast join: replayed enrichment aggregate equals
    the batch join relation on the same tables."""
    from spark_iforest_spark.sources import read_table

    ev = S.read_stream_table(spark, sf_dir, "events")
    dim = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderpriority", "o_orderkey"
    )
    agg = (
        S.enrich_stream(ev, dim, "user_id", "o_custkey")
        .groupBy("event_type", "o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("ck"))
    )
    got = sorted(
        map(tuple, S.run_to_batch(agg, "enrich_replay", "complete").collect())
    )
    bev = read_table(spark, sf_dir, "events")
    expected = sorted(
        map(
            tuple,
            bev.join(dim, bev.user_id == dim.o_custkey)
            .groupBy("event_type", "o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("o_orderkey").alias("ck"))
            .collect(),
        )
    )
    assert got == expected and len(got) > 0


def test_follow_pairs_stream_replay_matches_batch(spark, sf_dir):
    """Watermarked stream-stream self-join: the replayed pair set,
    aggregated to follow-counts, must equal the batch
    event_follow_counts relation on the same events table."""
    from spark_iforest_spark.operators import relational
    from spark_iforest_spark.sources import read_table

    ev = S.nanos_to_ts(S.read_stream_table(spark, sf_dir, "events"), "ts")
    pairs = S.run_to_batch(
        S.follow_pairs_stream(ev, gap_seconds=300), "follow_replay", "append"
    )
    got = sorted(
        map(
            tuple,
            pairs.groupBy("lead_type", "follow_type")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .collect(),
        )
    )
    expected = sorted(
        map(
            tuple,
            relational.event_follow_counts(
                read_table(spark, sf_dir, "events"), gap_seconds=300
            ).collect(),
        )
    )
    assert got == expected and len(got) > 0


def test_rate_source_windowed_agg_live_trigger(spark):
    """Non-file streaming source: the windowed agg runs over the built-in
    rate source with a live micro-batch trigger, is stopped (not awaited),
    and must have produced schema-correct aggregates whose event types come
    from the arithmetic mapping."""
    import time as _time

    ev = S.rate_events_stream(spark, rows_per_second=200, num_partitions=2)
    agg = S.windowed_agg_stream(ev, window="1 second", watermark="2 seconds")
    q = (
        agg.writeStream.format("memory")
        .queryName("rate_agg")
        .outputMode("complete")
        .trigger(processingTime="250 milliseconds")
        .start()
    )
    try:
        deadline = _time.time() + 20
        rows = []
        while _time.time() < deadline:
            _time.sleep(0.5)
            rows = spark.table("rate_agg").collect()
            if len(rows) >= 2 and sum(r["n_events"] for r in rows) >= 100:
                break
    finally:
        q.stop()
    assert sum(r["n_events"] for r in rows) >= 100
    assert {r["event_type"] for r in rows} <= set(S._RATE_EVENT_TYPES)
    assert all(r["window_start"] % 1 == 0 and r["sum_value"] >= 0 for r in rows)


def test_follow_pairs_stream_rejects_batch_input(spark):
    df = spark.createDataFrame([(1,)], "user_id long")
    with pytest.raises(ValueError):
        S.follow_pairs_stream(df)


def test_enrich_stream_rejects_batch_input(spark):
    df = spark.createDataFrame([(1,)], "k long")
    with pytest.raises(ValueError):
        S.enrich_stream(df, df, "k", "k")


def test_nanos_to_ts(spark):
    epoch_ns = 1704103200 * 10**9 + 123_000  # nanos, micro-aligned
    df = spark.createDataFrame([(epoch_ns,)], "ts long")
    out = S.nanos_to_ts(df)
    assert dict(out.dtypes)["ts"] == "timestamp"
    got = out.collect()[0].ts
    assert got.microsecond == 123
    # already-timestamp input is returned untouched
    tdf = spark.createDataFrame([(ts("2024-01-01 10:00:00"),)], "ts timestamp")
    assert S.nanos_to_ts(tdf) is tdf


def test_sessionize_stream(spark, tmpdir):
    rows = [
        (0, ts("2024-01-01 10:00:00"), 1),
        (1, ts("2024-01-01 10:10:00"), 1),
        (2, ts("2024-01-01 12:30:00"), 1),  # new session (gap > 30min)
        (3, ts("2024-01-01 09:00:00"), 2),
        # a late high-watermark event so earlier sessions time out
        (4, ts("2024-01-02 00:00:00"), 99),
    ]
    spark.createDataFrame(rows, "event_id long, ts timestamp, user_id long").write.parquet(
        tmpdir + "/sess"
    )
    stream = spark.readStream.schema("event_id long, ts timestamp, user_id long").parquet(
        tmpdir + "/sess"
    )
    q = (
        S.sessionize_stream(stream, gap_seconds=1800)
        .writeStream.format("memory")
        .queryName("sess_stream")
        .outputMode("append")
        .start()
    )
    _drain(q)
    out = spark.sql("select * from sess_stream").collect()
    sessions = {(r["user_id"], r["session_start"].isoformat()): r["n_events"] for r in out}
    # user 1's first session (2 events) closed by the gap within the batch;
    # emitted either on gap-split or timeout
    assert sessions.get((1, "2024-01-01T10:00:00")) == 2


def test_dedup_stream_digest_set(spark, tmpdir):
    rows = [(1, "same text"), (2, "same text"), (3, "other")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    df.write.parquet(tmpdir + "/docs")
    stream = spark.readStream.schema("doc_id long, text string").parquet(tmpdir + "/docs")
    got = sorted(r["content_md5"] for r in S.run_to_batch(S.dedup_stream(stream), "dd_stream").collect())
    want = sorted(r[0] for r in df.select(F.md5("text")).distinct().collect())
    assert got == want


def test_dedup_stream_within_watermark(spark, tmpdir):
    import datetime

    t0 = datetime.datetime(2024, 1, 1, 10, 0, 0)
    rows = [(t0, "a"), (t0 + datetime.timedelta(minutes=1), "a"), (t0, "b")]
    df = spark.createDataFrame(rows, "ts timestamp, text string")
    df.write.parquet(tmpdir + "/docs2")
    stream = spark.readStream.schema("ts timestamp, text string").parquet(tmpdir + "/docs2")
    out = S.run_to_batch(
        S.dedup_stream(stream, within_watermark=("ts", "1 hour")), "dd_stream_wm"
    )
    # within one watermark horizon the duplicate 'a' collapses
    assert sorted(r["content_md5"] for r in out.collect()) == sorted(
        r[0] for r in df.select(F.md5("text")).distinct().collect()
    )


def _shuffled_event_files(spark, sf_dir, tmpdir, n_files=4, seed=7):
    """Copy the events table into n_files parquet dirs with rows shuffled
    across files: with maxFilesPerTrigger=1 each file is one micro-batch,
    so event time arrives genuinely out of order ACROSS batches (late rows
    inside the watermark) — the regime the near-ordered single-file replay
    gates never exercise."""
    import random

    from spark_iforest_spark.sources import read_table

    ev = read_table(spark, sf_dir, "events")
    rows = ev.collect()
    random.Random(seed).shuffle(rows)
    n = len(rows)
    root = tmpdir + "/shuffled_events"
    for i in range(n_files):
        chunk = rows[i * n // n_files : (i + 1) * n // n_files]
        spark.createDataFrame(chunk, ev.schema).coalesce(1).write.parquet(
            f"{root}/f{i}", mode="overwrite"
        )
    stream = (
        spark.readStream.schema(ev.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(root + "/f*")
    )
    return S.nanos_to_ts(stream, "ts"), ev


def test_sessionize_merging_out_of_order_replay(spark, sf_dir, tmpdir):
    """session_window sessionization must be invariant to cross-batch
    arrival order: a shuffled-file replay (complete mode, watermark wider
    than the span so late rows stay inside it) equals the batch relation."""
    from spark_iforest_spark.operators import relational

    st, ev_batch = _shuffled_event_files(spark, sf_dir, tmpdir)
    got = sorted(
        map(
            tuple,
            S.run_to_batch(
                S.sessionize_stream_merging(st, watermark="31 days"),
                "sess_merge_ooo",
                "complete",
            ).collect(),
        )
    )
    expected = sorted(
        map(
            tuple,
            relational.sessionize(ev_batch)
            .select("user_id", "session_start", "session_end", "n_events", "sum_value")
            .collect(),
        )
    )
    assert len(got) > 10
    assert got == expected


def test_follow_pairs_out_of_order_replay(spark, sf_dir, tmpdir):
    """The watermarked stream-stream self-join buffers both sides in state,
    so the pair set must also be arrival-order invariant (within the
    watermark): shuffled-file replay == batch event_follow_counts."""
    from spark_iforest_spark.operators import relational

    st, ev_batch = _shuffled_event_files(spark, sf_dir, tmpdir, seed=13)
    pairs = S.run_to_batch(
        S.follow_pairs_stream(st, gap_seconds=300, watermark="31 days"),
        "follow_ooo",
        "append",
    )
    got = sorted(
        map(
            tuple,
            pairs.groupBy("lead_type", "follow_type")
            .agg(F.count(F.lit(1)).alias("n_pairs"))
            .collect(),
        )
    )
    expected = sorted(
        map(
            tuple,
            relational.event_follow_counts(ev_batch, gap_seconds=300).collect(),
        )
    )
    assert len(got) > 0
    assert got == expected


def test_incremental_dedup_ingest_matches_batch(spark, sf_dir, tmpdir):
    """Multi-micro-batch ingestion against the versioned digest index must
    converge to EXACTLY the batch exact_dedup relation over everything
    ingested — cross-batch digest merges (same text arriving in different
    micro-batches) included."""
    from spark_iforest_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    src = tmpdir + "/src"
    # 4 files => maxFilesPerTrigger=1 forces 4 micro-batches; duplicates in
    # the corpus land in different batches
    docs.repartition(4).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = S.incremental_dedup_ingest(stream, tmpdir + "/idx")
    q.awaitTermination()
    got = sorted(map(tuple, S.latest_dedup_index(spark, tmpdir + "/idx").collect()))
    want = sorted(map(tuple, dedup.exact_dedup(docs).collect()))
    assert got == want and len(got) > 0


def test_merge_index_version_retry_idempotent(spark, tmpdir):
    """foreachBatch is at-least-once: re-running a batch id after a crash
    must regenerate the identical version (strict-parent rule — a retry
    never merges against its own output)."""
    idx = tmpdir + "/idx"
    b0 = spark.createDataFrame([(1, "aaa"), (2, "bbb")], "doc_id long, text string")
    b1 = spark.createDataFrame([(3, "aaa"), (4, "ccc")], "doc_id long, text string")
    S.merge_index_version(spark, idx, b0, 0)
    S.merge_index_version(spark, idx, b1, 1)
    first = sorted(map(tuple, spark.read.parquet(idx + "/v1").collect()))
    S.merge_index_version(spark, idx, b1, 1)  # simulated retry of batch 1
    second = sorted(map(tuple, spark.read.parquet(idx + "/v1").collect()))
    assert first == second
    # and the merge itself is right: 'aaa' seen twice across batches
    by_hash = {r[0]: (r[1], r[2]) for r in second}
    import hashlib

    assert by_hash[hashlib.md5(b"aaa").hexdigest()] == (1, 2)


def test_incremental_neardup_ingest_matches_batch(spark, sf_dir, tmpdir):
    """Streaming minhash ingestion: after the backlog drains, the union of
    per-batch pair parts must equal the one-shot minhash_lsh_pairs
    relation over everything ingested — each unordered pair is emitted by
    exactly the first batch that completes it (batch-internal pairs
    included), so the parts PARTITION the full relation."""
    from spark_iforest_spark.operators import dedup

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select("doc_id", "text")
    src = str(tmpdir) + "/src"
    docs.repartition(3).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = S.incremental_neardup_ingest(
        stream, str(tmpdir) + "/idx", str(tmpdir) + "/pairs"
    )
    q.awaitTermination()
    got = sorted(
        map(tuple, spark.read.parquet(str(tmpdir) + "/pairs/b*").collect())
    )
    want = sorted(map(tuple, dedup.minhash_lsh_pairs(docs).collect()))
    assert got == want and len(got) > 0


# ---------------------------------------------------------------------------
# curate_stream: streaming driver of the incremental-curation capstone
# ---------------------------------------------------------------------------


def _curation_micro_corpus(spark):
    boiler = "ad footer banner here"
    corp = spark.createDataFrame(
        [
            (1, f"{boiler}\nsolo alpha beta gamma"),
            (2, f"{boiler}\nwx xy yz zq corpus tail words"),
            (3, "totally original content lives right here today"),
        ],
        "doc_id long, text string",
    )
    batches = [
        spark.createDataFrame(rows, "doc_id long, text string")
        for rows in (
            # boiler line crosses min_docs=3 only WITH the corpus counts;
            # doc 11's window run is an ExactSubstr cut vs the index
            [
                (10, f"{boiler}\nsolo alpha beta"),
                (11, f"{boiler} wx xy yz zq corpus tail words ad footer banner"),
            ],
            # near-dup of corpus doc 3 (loses to the shipped copy) plus a
            # fresh doc whose boiler copy is now count>=3 via batch 1's ingest
            [
                (20, "totally original content lives right here today"),
                (21, f"{boiler}\nbrand new one of a kind"),
            ],
            [(30, "closing unrelated plain words batch")],
        )
    ]
    return corp, batches


def test_curate_batch_version_retry_idempotent(spark, tmpdir):
    """foreachBatch is at-least-once: re-running a batch id must regenerate
    the identical curated part AND the identical state version (the parent
    rule reads only versions <= batch_id, never the batch's own output)."""
    from spark_iforest_spark.operators import corpus

    corp, batches = _curation_micro_corpus(spark)
    state_dir, out_dir = str(tmpdir) + "/state", str(tmpdir) + "/out"
    # no ccnet here (reference=None): batch 1's novel texts would band out
    # under the tiny frozen LM and leave nothing to compare the retry on
    st = corpus.curation_state(
        corp, reference=None, gopher=False, line_min_docs=3, substr_window=4,
        neardup=True,
    )
    corpus.save_curation_state(st, state_dir + "/v0")
    S.curate_batch_version(spark, state_dir, out_dir, batches[0], 0)
    S.curate_batch_version(spark, state_dir, out_dir, batches[1], 1)
    first_out = sorted(map(tuple, spark.read.parquet(out_dir + "/b1").collect()))
    first_line = sorted(
        map(tuple, spark.read.parquet(state_dir + "/v2/line_index").collect())
    )
    first_ids = sorted(
        r[0] for r in spark.read.parquet(state_dir + "/v2/ids").collect()
    )
    S.curate_batch_version(spark, state_dir, out_dir, batches[1], 1)  # retry
    assert first_out == sorted(
        map(tuple, spark.read.parquet(out_dir + "/b1").collect())
    )
    assert first_line == sorted(
        map(tuple, spark.read.parquet(state_dir + "/v2/line_index").collect())
    )
    assert first_ids == sorted(
        r[0] for r in spark.read.parquet(state_dir + "/v2/ids").collect()
    )
    assert len(first_out) > 0


def test_curate_stream_matches_sequential_replay(spark, tmpdir):
    """Multi-micro-batch streaming curation == running the batch-mode
    incremental chain sequentially over the SAME batches: per-part curated
    rows bit-equal, final state artifacts set-equal. Batch composition is
    recovered from the versioned states' id deltas (ids(v{b+1}) −
    ids(v{b})), so the assertion is order-faithful no matter which file
    each micro-batch picked up."""
    from spark_iforest_spark.operators import corpus

    corp, batches = _curation_micro_corpus(spark)
    state_dir, out_dir = str(tmpdir) + "/state", str(tmpdir) + "/out"
    src = str(tmpdir) + "/src"
    st = corpus.curation_state(
        corp, reference=corp, gopher=False, line_min_docs=3, substr_window=4,
        neardup=True,
    )
    corpus.save_curation_state(st, state_dir + "/v0")
    all_docs = batches[0]
    for b in batches[1:]:
        all_docs = all_docs.unionByName(b)
    for b in batches:  # one part file per batch => 3 micro-batches
        b.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = S.curate_stream(stream, state_dir, out_dir)
    q.awaitTermination()

    from spark_iforest_spark import fs as hfs

    versions = sorted(
        int(c["name"][1:])
        for c in hfs.list_children(spark, state_dir)
        if c["name"].startswith("v")
    )
    assert versions == [0, 1, 2, 3]

    # replay in batch mode over the actual micro-batch composition
    ids_of = {
        v: {r[0] for r in spark.read.parquet(f"{state_dir}/v{v}/ids").collect()}
        for v in versions
    }
    replay = corpus.load_curation_state(spark, state_dir + "/v0")
    for b in range(3):
        batch_ids = ids_of[b + 1] - ids_of[b]
        assert batch_ids  # every micro-batch ingested something
        batch_df = all_docs.where(F.col("doc_id").isin(*batch_ids))
        out, replay = corpus.curate_and_update_state(batch_df, replay)
        got = sorted(map(tuple, spark.read.parquet(f"{out_dir}/b{b}").collect()))
        want = sorted(map(tuple, out.collect()))
        assert got == want, f"batch {b}: {got} != {want}"

    final = S.latest_curation_state(spark, state_dir)
    for rel in ("ids", "line_index", "substr_index", "shingle_index",
                "labels", "quality"):
        got = sorted(map(tuple, getattr(final, rel).collect()))
        want = sorted(map(tuple, getattr(replay, rel).collect()))
        assert got == want, f"state relation {rel} diverged"

    # the stream did real cross-boundary work: doc 20 (near-dup of corpus
    # doc 3) was dropped, doc 10's boiler line was rebuilt out
    curated = {
        r.doc_id: r.text for r in spark.read.parquet(out_dir + "/b*").collect()
    }
    assert 20 not in curated
    assert curated[10] == "solo alpha beta"


def test_curate_stream_requires_initial_state(spark, tmpdir):
    b = spark.createDataFrame([(1, "plain words")], "doc_id long, text string")
    with pytest.raises(ValueError, match="v0"):
        S.curate_batch_version(
            spark, str(tmpdir) + "/nostate", str(tmpdir) + "/out", b, 0
        )


def test_prune_versions_keeps_newest_and_sinks_still_read(spark, tmpdir):
    """Retention on the full-rewrite versioned sinks: only the newest
    ``keep`` versions survive, the forward readers still resolve, a
    stale curation retry whose parent was pruned raises loudly, and a
    re-run of the same prune is a no-op."""
    from spark_iforest_spark import fs as hfs
    from spark_iforest_spark.operators import corpus, dedup

    # digest-index sink: 4 versions
    idx = str(tmpdir) + "/idx"
    for b in range(4):
        df = spark.createDataFrame(
            [(b * 10, f"text number {b}")], "doc_id long, text string"
        )
        S.merge_index_version(spark, idx, df, b)
    assert S.prune_versions(spark, idx, keep=2) == [0, 1]
    assert [c["name"] for c in sorted(
        hfs.list_children(spark, idx), key=lambda c: c["name"]
    )] == ["v2", "v3"]
    assert S.latest_dedup_index(spark, idx).count() == 4
    assert S.prune_versions(spark, idx, keep=2) == []  # idempotent no-op

    # curation-state sink: stale retry against a pruned parent raises
    state_dir, out_dir = str(tmpdir) + "/state", str(tmpdir) + "/out"
    corp = spark.createDataFrame(
        [(1, "plain corpus words right here")], "doc_id long, text string"
    )
    st = corpus.curation_state(
        corp, reference=None, gopher=False, line_min_docs=None,
        substr_window=None, neardup=True,
    )
    corpus.save_curation_state(st, state_dir + "/v0")
    for b in range(2):
        batch = spark.createDataFrame(
            [(100 + b, f"fresh batch words number {b}")],
            "doc_id long, text string",
        )
        S.curate_batch_version(spark, state_dir, out_dir, batch, b)
    assert S.prune_versions(spark, state_dir, keep=1) == [0, 1]
    assert S.latest_curation_state(spark, state_dir).ids.count() == 3
    stale = spark.createDataFrame(
        [(999, "stale retry words")], "doc_id long, text string"
    )
    with pytest.raises(ValueError, match="no CurationState version"):
        S.curate_batch_version(spark, state_dir, out_dir, stale, 0)

    with pytest.raises(ValueError, match="keep"):
        S.prune_versions(spark, idx, keep=0)


def test_curate_batch_version_funnel_dir(spark, tmpdir):
    """With funnel_dir set, each batch also persists its stage-survival
    report — identical to pretrain_funnel_incremental over the same
    (batch, parent state), from the same single chain run."""
    from spark_iforest_spark.operators import corpus

    corp, batches = _curation_micro_corpus(spark)
    state_dir = str(tmpdir) + "/state"
    st = corpus.curation_state(
        corp, reference=None, gopher=False, line_min_docs=3, substr_window=4,
        neardup=True,
    )
    corpus.save_curation_state(st, state_dir + "/v0")
    S.curate_batch_version(
        spark, state_dir, str(tmpdir) + "/out", batches[0], 0,
        funnel_dir=str(tmpdir) + "/funnel",
    )
    got = sorted(map(tuple, spark.read.parquet(
        str(tmpdir) + "/funnel/b0").collect()))
    want = sorted(map(tuple, corpus.pretrain_funnel_incremental(
        batches[0], corpus.load_curation_state(spark, state_dir + "/v0"),
        assume_disjoint_ids=True,
    ).collect()))
    assert got == want and len(got) == 4  # input/line_dedup/substr/neardup
    # curated output written from the same run
    assert spark.read.parquet(str(tmpdir) + "/out/b0").count() > 0


def test_curate_stream_keep_versions_autoprune(spark, tmpdir):
    """Opt-in retention inside the stream: after the backlog drains only
    the newest N state versions remain, and the forward reader still
    resolves the final rolled state."""
    from spark_iforest_spark import fs as hfs
    from spark_iforest_spark.operators import corpus

    corp, batches = _curation_micro_corpus(spark)
    state_dir, out_dir = str(tmpdir) + "/state", str(tmpdir) + "/out"
    src = str(tmpdir) + "/src"
    st = corpus.curation_state(
        corp, reference=None, gopher=False, line_min_docs=3, substr_window=4,
        neardup=True,
    )
    corpus.save_curation_state(st, state_dir + "/v0")
    for b in batches:
        b.coalesce(1).write.mode("append").parquet(src)
    stream = spark.readStream.schema("doc_id long, text string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    q = S.curate_stream(stream, state_dir, out_dir, keep_versions=2)
    q.awaitTermination()
    names = sorted(
        c["name"] for c in hfs.list_children(spark, state_dir)
        if c["name"].startswith("v")
    )
    assert names == ["v2", "v3"]
    final = S.latest_curation_state(spark, state_dir)
    assert final.ids.count() == 3 + sum(b.count() for b in batches)


def test_ndv_monitor_ingest_matches_exact(spark, sf_dir, tmpdir):
    """Multi-micro-batch NDV monitoring: after the backlog drains, the
    folded sketch state's estimates must equal the exact distinct counts
    for small-cardinality columns (sketch still in its exact coupon
    regime) and stay within the gate's 8% bound for the id column."""
    from spark_iforest_spark.operators import relational

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").select(
        "doc_id", "lang", "source"
    )
    src = tmpdir + "/src"
    docs.repartition(4).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, lang string, source string").option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    cols = ["doc_id", "lang", "source"]
    q = S.ndv_monitor_ingest(
        stream, tmpdir + "/state", cols, series_dir=tmpdir + "/series"
    )
    q.awaitTermination()
    got = {
        r["column"]: r["ndv"]
        for r in relational.ndv_estimates(
            S.latest_ndv_sketches(spark, tmpdir + "/state")
        ).collect()
    }
    exact = {r["column"]: r["ndv"] for r in relational.exact_ndv(docs, cols).collect()}
    assert got["lang"] == exact["lang"] and got["source"] == exact["source"]
    assert abs(got["doc_id"] / exact["doc_id"] - 1.0) <= 0.08

    # the running series is monotone non-decreasing per column (sketch-set
    # semantics: folding new rows can only grow the distinct set)
    series = S.ndv_series(spark, tmpdir + "/series").collect()
    by_col = {}
    for r in sorted(series, key=lambda r: (r["column"], r["batch_version"])):
        assert by_col.get(r["column"], 0) <= r["ndv"]
        by_col[r["column"]] = r["ndv"]
    assert len({r["batch_version"] for r in series}) == 4


def test_merge_ndv_version_retry_and_double_fold(spark, tmpdir):
    """Retry idempotence (strict-parent rule) AND the stronger property the
    digest/count sinks lack: sketch insertion has set semantics, so
    folding the SAME rows again as a later batch leaves every estimate
    unchanged — at-least-once re-delivery cannot inflate NDV."""
    from spark_iforest_spark.operators import relational

    state = tmpdir + "/state"
    b0 = spark.createDataFrame([(i, f"k{i % 7}") for i in range(50)], "id long, s string")
    b1 = spark.createDataFrame(
        [(i, f"k{i % 11}") for i in range(40, 90)], "id long, s string"
    )
    cols = ["id", "s"]

    def est(version):
        return {
            r["column"]: r["ndv"]
            for r in relational.ndv_estimates(
                spark.read.parquet(f"{state}/v{version}")
            ).collect()
        }

    S.merge_ndv_version(spark, state, b0, 0, cols)
    S.merge_ndv_version(spark, state, b1, 1, cols)
    first = est(1)
    assert first == {"id": 90, "s": 11}
    S.merge_ndv_version(spark, state, b1, 1, cols)  # simulated retry
    assert est(1) == first
    S.merge_ndv_version(spark, state, b1, 2, cols)  # full re-delivery later
    assert est(2) == first


def test_profile_monitor_ingest_matches_oneshot(spark, sf_dir, tmpdir):
    """Multi-micro-batch profile maintenance: after the backlog drains the
    folded state must finalize BIT-EQUAL to the one-shot table_profile of
    everything ingested (exact additive fold), with the sketched columns'
    ndv joined on (bounded-error) and unsketched ones NULL."""
    from spark_iforest_spark.operators import relational

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").select(
        "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
    )
    src = tmpdir + "/src"
    li.repartition(4).write.parquet(src)
    stream = spark.readStream.schema(
        "l_orderkey long, l_returnflag string, l_quantity double, l_extendedprice double"
    ).option("maxFilesPerTrigger", 1).parquet(src)
    q = S.profile_monitor_ingest(
        stream,
        tmpdir + "/state",
        ["l_quantity", "l_extendedprice"],
        ndv_columns=["l_orderkey", "l_returnflag"],
    )
    q.awaitTermination()
    got = S.latest_profile(spark, tmpdir + "/state").collect()
    by_col = {r["column"]: r for r in got}
    want = {
        r["column"]: r
        for r in relational.table_profile(
            li, ["l_quantity", "l_extendedprice"]
        ).collect()
    }
    for c, w in want.items():
        g = by_col[c]
        assert (g["n_rows"], g["n_nulls"], g["min_value"], g["max_value"],
                g["mean_value"]) == (w["n_rows"], w["n_nulls"], w["min_value"],
                                     w["max_value"], w["mean_value"])
        assert g["ndv"] is None  # profiled but not sketched
    exact = {
        r["column"]: r["ndv"]
        for r in relational.exact_ndv(li, ["l_orderkey", "l_returnflag"]).collect()
    }
    assert by_col["l_returnflag"]["ndv"] == exact["l_returnflag"]
    assert abs(by_col["l_orderkey"]["ndv"] / exact["l_orderkey"] - 1.0) <= 0.08
    assert by_col["l_orderkey"]["n_rows"] is None  # sketched but not profiled


def test_merge_profile_partials_any_fold_shape(spark):
    """The partial→partial fold is associative and lossless: left-nested,
    right-nested, and flat folds of three shards all finalize bit-equal
    to the one-shot table_profile."""
    from spark_iforest_spark.operators import relational

    df = spark.createDataFrame(
        [(i, float(i % 17) / 3.0, None if i % 5 == 0 else float(i)) for i in range(300)],
        "id long, a double, b double",
    )
    shards = [
        relational.profile_partial(df.where(F.col("id") % 3 == k), ["a", "b"])
        for k in range(3)
    ]
    m = relational.merge_profile_partials
    left = m(m(shards[0].unionByName(shards[1])).unionByName(shards[2]))
    right = m(shards[0].unionByName(m(shards[1].unionByName(shards[2]))))
    flat = m(shards[0].unionByName(shards[1]).unionByName(shards[2]))
    want = sorted(map(tuple, relational.table_profile(df, ["a", "b"]).collect()))
    for fold in (left, right, flat):
        got = sorted(map(tuple, relational.finalize_profile(fold).collect()))
        assert got == want


def test_merge_profile_version_retry_idempotent(spark, tmpdir):
    """Strict-parent retry: re-running a batch id regenerates the identical
    profile version (bit-exact — the additive state is deterministic)."""
    state = tmpdir + "/state"
    b0 = spark.createDataFrame([(1, 2.0), (2, 4.0)], "id long, x double")
    b1 = spark.createDataFrame([(3, 6.0), (4, None)], "id long, x double")
    S.merge_profile_version(spark, state, b0, 0, ["x"], ndv_columns=["id"])
    S.merge_profile_version(spark, state, b1, 1, ["x"], ndv_columns=["id"])
    first = sorted(map(tuple, spark.read.parquet(state + "/v1/profile").collect()))
    ndv_first = sorted(
        map(tuple, S.latest_profile(spark, state).select("column", "ndv").collect())
    )
    S.merge_profile_version(spark, state, b1, 1, ["x"], ndv_columns=["id"])
    assert sorted(map(tuple, spark.read.parquet(state + "/v1/profile").collect())) == first
    assert sorted(
        map(tuple, S.latest_profile(spark, state).select("column", "ndv").collect())
    ) == ndv_first


def test_prune_versions_composes_with_monitor_states(spark, tmpdir):
    """The monitor states follow the same v{N} full-rewrite convention as
    the digest index, so prune_versions applies: keep-newest-2, latest
    still resolves, and a later batch folds against the newest survivor."""
    state = tmpdir + "/state"
    cols = ["id"]
    for b in range(4):
        S.merge_ndv_version(
            spark,
            state,
            spark.createDataFrame([(b * 10 + i,) for i in range(10)], "id long"),
            b,
            cols,
        )
    pruned = S.prune_versions(spark, state, keep=2)
    assert pruned == [0, 1]
    from spark_iforest_spark.operators import relational

    est = {
        r["column"]: r["ndv"]
        for r in relational.ndv_estimates(
            S.latest_ndv_sketches(spark, state)
        ).collect()
    }
    assert est == {"id": 40}
    b4 = spark.createDataFrame([(100 + i,) for i in range(5)], "id long")
    S.merge_ndv_version(spark, state, b4, 4, cols)
    est = {
        r["column"]: r["ndv"]
        for r in relational.ndv_estimates(
            S.latest_ndv_sketches(spark, state)
        ).collect()
    }
    assert est == {"id": 45}


def test_publish_ann_centers_propagates_listing_errors(spark, tmpdir, monkeypatch):
    # a missing dir lists as []; any other listing failure must surface
    # instead of restarting the epoch numbering at v0
    import numpy as np

    from spark_iforest_spark import fs as hfs

    def failing_listing(spark, path):
        raise OSError(f"cannot list {path}")

    monkeypatch.setattr(hfs, "list_children", failing_listing)
    with pytest.raises(OSError, match="cannot list"):
        S.publish_ann_centers(spark, f"{tmpdir}/centers", np.zeros((2, 3)))
