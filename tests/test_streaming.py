"""Structured Streaming operators: batch/stream parity on events."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from data_pengadaan_agent_spark.streaming import windows as SW
from tests.conftest import SF_DIR


@pytest.fixture(scope="module")
def events_dir(tables, tmp_path_factory):
    """File streaming sources need a directory; also normalizes the
    fixture's nanos timestamps through a parquet round-trip."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    tables["events"].write.mode("overwrite").parquet(path)
    return path


@pytest.fixture()
def events_stream(spark, tables, events_dir):
    schema = tables["events"].schema
    return spark.readStream.schema(schema).format("parquet").load(events_dir)


def test_tumbling_batch_stream_parity(spark, tables, events_stream):
    batch = SW.tumbling_counts(tables["events"], "1 hour")
    stream = SW.tumbling_counts(events_stream, "1 hour")
    got = SW.run_stream_to_memory(spark, stream, "tumbling_out", output_mode="append")
    b = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"]) for r in batch.collect()}
    s = {(r["window_start"], r["event_type"]): (r["n"], r["total_value"]) for r in got.collect()}
    # append mode: every emitted window matches batch exactly; only the
    # final (never-closed-by-watermark) window may be withheld.
    assert set(s.items()) <= set(b.items())
    max_window = max(k[0] for k in b)
    assert all(k[0] == max_window for k in b.keys() - s.keys())


def test_streaming_dedup(spark, tables, events_stream):
    dup_batch = tables["events"].union(tables["events"])
    assert SW.streaming_dedup(dup_batch).count() == tables["events"].count()
    out = SW.run_stream_to_memory(
        spark, SW.streaming_dedup(events_stream), "dedup_out", output_mode="append"
    )
    assert out.count() == tables["events"].count()


def test_session_windows_stream(spark, events_stream):
    out = SW.run_stream_to_memory(
        spark, SW.session_windows_stream(events_stream, gap="30 minutes"), "sess_out"
    )
    assert out.count() > 0
    assert set(out.columns) == {"session_start", "session_end", "user_id", "n_events"}


def test_sessionize_batch_gap_property(spark, tables):
    """No two consecutive events inside one session may be > gap apart,
    and session count matches the native session_window count."""
    sessions = SW.sessionize_batch(tables["events"], gap_minutes=30)
    native = (
        tables["events"]
        .groupBy(F.session_window("ts", "30 minutes"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
    )
    assert sessions.count() == native.count()
    assert (
        sessions.agg(F.sum("n_events")).first()[0] == tables["events"].count()
    )


def test_sliding_counts(tables):
    out = SW.sliding_counts(tables["events"], "1 hour", "30 minutes")
    # every event lands in exactly 2 sliding windows
    assert out.agg(F.sum("n")).first()[0] == 2 * tables["events"].count()


def test_user_running_totals_stateful(spark, tables, events_stream):
    """applyInPandasWithState parity: final per-user state equals the
    batch groupBy aggregate (update mode, last emission per user)."""
    out = SW.run_stream_to_memory(
        spark,
        SW.user_running_totals_stream(events_stream),
        "running_totals_out",
        output_mode="update",
    )
    # update mode may emit a row per micro-batch per user; the final
    # (max n_events) row per user is the converged state.
    final = (
        out.groupBy("user_id")
        .agg(F.max(F.struct("n_events", "total_value")).alias("s"))
        .select("user_id", F.col("s.n_events").alias("n_events"), F.col("s.total_value").alias("total_value"))
    )
    batch = (
        tables["events"]
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.coalesce("value", F.lit(0.0))).alias("total_value"),
        )
    )
    got = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in final.collect()}
    want = {r["user_id"]: (r["n_events"], round(r["total_value"], 6)) for r in batch.collect()}
    assert got == want


def test_stream_stream_interval_join_parity(spark, tables, events_dir):
    """Stream-stream interval join == batch range join on the same
    events (watermarked state-bounded join, SURVEY.md §7 phase 5)."""
    schema = tables["events"].schema
    def split(src):
        purchases = src.filter(F.col("event_type") == "purchase").select(
            F.col("event_id").alias("p_id"), "user_id", F.col("ts").alias("p_ts")
        )
        clicks = src.filter(F.col("event_type") == "click").select(
            F.col("event_id").alias("c_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("c_ts"),
        )
        return purchases, clicks

    sp, sc = split(spark.readStream.schema(schema).format("parquet").load(events_dir))
    stream_out = SW.run_stream_to_memory(
        spark, SW.purchase_click_join_stream(sp, sc, gap_seconds=600), "ssj_out"
    )
    got = {(r["p_id"], r["c_id"]) for r in stream_out.collect()}

    from data_pengadaan_agent_spark.operators.asof import range_join_bucketed

    bp, bc = split(tables["events"])
    batch = range_join_bucketed(
        bp, bc.withColumnRenamed("c_user_id", "user_id"),
        left_ts="p_ts", right_ts="c_ts", by="user_id", max_gap_seconds=600,
    )
    want = {(r["p_id"], r["c_id"]) for r in batch.collect()}
    assert got == want and len(want) > 0


def test_stream_static_enrich_parity(spark, tables, events_stream):
    """Stream-static join must equal the batch join on a finite source."""
    from data_pengadaan_agent_spark.streaming.windows import (
        enrich_events_stream,
        run_stream_to_memory,
    )

    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.1), ("purchase", 10.0), ("signup", 5.0), ("refund", -8.0)],
        "event_type string, weight double",
    )
    out = run_stream_to_memory(
        spark,
        enrich_events_stream(events_stream, dim).select("event_id", "weight"),
        "enriched_stream",
    )
    batch = tables["events"].join(dim, "event_type").select("event_id", "weight")
    assert sorted(map(tuple, out.collect())) == sorted(map(tuple, batch.collect()))


def test_watermark_drops_late_rows_multibatch(spark, tmp_path):
    """Multi-trigger watermark semantics (VERDICT r3 ask #6): a second
    micro-batch delivering a row BEHIND the watermark must drop it —
    the state-eviction behavior watermarks exist for, which
    single-batch parity tests never exercise. Files are written to the
    source directory BETWEEN processAllAvailable() calls, so trigger
    boundaries are deterministic (no maxFilesPerTrigger ordering
    games), and the foreachBatch parquet sink records one _epoch per
    trigger so the drop is observable per-batch."""
    import datetime as dt

    from data_pengadaan_agent_spark.streaming.windows import (
        foreach_batch_parquet_sink,
    )

    schema = "event_id long, event_type string, user_id long, ts timestamp, value double"
    src = str(tmp_path / "src")
    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")

    def write_batch(rows):
        spark.createDataFrame(
            [(i, "click", 7, dt.datetime(2024, 1, 1, h, m), 1.0) for i, h, m in rows],
            schema,
        ).coalesce(1).write.mode("append").parquet(src)

    # trigger 1: two rows in the 01:00 window; a 10:00 row pushes the
    # watermark to 09:50 (10-minute delay), closing every earlier window
    write_batch([(1, 1, 0), (2, 1, 10), (3, 10, 0)])
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    agg = SW.tumbling_counts(stream, "1 hour", watermark="10 minutes")
    q = foreach_batch_parquet_sink(agg, out_dir, ckpt)
    q.processAllAvailable()
    # trigger 2: event 4 is LATE (01:05 << watermark 09:50) and must be
    # dropped; event 5 (11:00) is fresh and keeps the stream moving
    write_batch([(4, 1, 5), (5, 11, 0)])
    q.processAllAvailable()
    n_data_batches = sum(
        1
        for p in q.recentProgress
        if (p["numInputRows"] if isinstance(p, dict) else p.numInputRows) > 0
    )
    q.stop()
    assert n_data_batches >= 2, "late row never arrived in its own trigger"

    got = spark.read.parquet(out_dir)
    w1 = dt.datetime(2024, 1, 1, 1, 0)
    w1_rows = [
        (r["_epoch"], r["n"]) for r in got.filter(F.col("window_start") == w1).collect()
    ]
    # the 01:00 window was emitted in the first trigger with both its
    # on-time rows, and NEVER re-emitted: the late row was dropped, not
    # aggregated (n=3 or a second epoch for w1 would mean it leaked in)
    assert [n for _, n in w1_rows] == [2], w1_rows
    late_epochs = {e for e, _ in w1_rows}
    w11_epochs = {
        r["_epoch"]
        for r in got.filter(
            F.col("window_start") == dt.datetime(2024, 1, 1, 11, 0)
        ).collect()
    }
    # trigger 2's fresh row landed in a LATER epoch than every w1 row
    assert w11_epochs and min(w11_epochs) > max(late_epochs)


def test_foreach_batch_sink_effectively_once(spark, tables, events_stream, tmp_path):
    """foreachBatch parquet sink: all rows land exactly once across
    micro-batches, stamped with their epoch."""
    from data_pengadaan_agent_spark.streaming.windows import foreach_batch_parquet_sink

    out_dir = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    agg = events_stream.groupBy("event_type").count()
    q = foreach_batch_parquet_sink(agg, out_dir, ckpt)
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out_dir)
    assert "_epoch" in got.columns
    # final counts per event_type (last epoch wins in update mode)
    from pyspark.sql import functions as F

    last = got.withColumn(
        "rk",
        F.row_number().over(
            __import__("pyspark.sql.window", fromlist=["Window"]).Window.partitionBy(
                "event_type"
            ).orderBy(F.desc("_epoch"))
        ),
    ).filter("rk = 1")
    expect = {r["event_type"]: r["count"] for r in tables["events"].groupBy("event_type").count().collect()}
    assert {r["event_type"]: r["count"] for r in last.collect()} == expect


def test_quality_gate_stream_matches_batch_classifier(spark, tmp_path):
    """Supervised streaming ingest gate: readStream.text → stateless
    per-row quality_classifier twin (no state, append mode) must emit
    exactly the batch operator's verdicts — the weight table is the
    model, so a doc's score is identical whether it arrives in a
    micro-batch or a batch scan."""
    from data_pengadaan_agent_spark.operators.textan import (
        quality_classifier,
        quality_classifier_stateless,
        train_quality_weights,
    )
    from data_pengadaan_agent_spark.sources.readers import (
        read_text_corpus,
        read_text_corpus_stream,
    )

    (tmp_path / "a.txt").write_text(
        "the theory of relativity explains gravity and light\n"
        "buy cheap pills online click here win big money now\n"
    )
    (tmp_path / "b.txt").write_text(
        "the physics of motion explains force and energy today\n"
        "limited offer click now free prize claim today friend\n"
    )
    corpus = read_text_corpus(spark, str(tmp_path))
    pos = corpus.filter(F.col("text").contains("theory") | F.col("text").contains("physics"))
    neg = corpus.filter(F.col("text").contains("click"))
    w = train_quality_weights(pos, neg, n=2, n_buckets=256, arith_hash=True)

    gated = quality_classifier_stateless(
        read_text_corpus_stream(spark, str(tmp_path)),
        w,
        n=2,
        n_buckets=256,
        threshold=0.0,
        carry=("text",),
    ).filter(F.col("keep"))
    got = SW.run_stream_to_memory(spark, gated, "quality_gate_out")
    assert got.isStreaming is False

    batch = quality_classifier(
        corpus, w, n=2, n_buckets=256, threshold=0.0, arith_hash=True
    ).filter(F.col("keep"))
    stream_rows = sorted(
        (r["doc_id"], r["n_feats"], r["logit"]) for r in got.collect()
    )
    batch_rows = sorted(
        (r["doc_id"], r["n_feats"], r["logit"]) for r in batch.collect()
    )
    assert stream_rows == batch_rows and len(stream_rows) == 2
    # the kept rows are the quality docs, and text carried through
    assert all("explains" in r["text"] for r in got.collect())


def test_foreach_batch_classify_sink_matches_batch(spark, tmp_path):
    """The xxhash64 streaming-gate path: foreachBatch scores each
    micro-batch with the BATCH classifier (JVM hashing) and writes
    kept rows to the epoch-stamped sink — the sink contents must be
    exactly the batch operator's kept set."""
    from data_pengadaan_agent_spark.operators.textan import (
        quality_classifier,
        train_quality_weights,
    )
    from data_pengadaan_agent_spark.sources.readers import (
        read_text_corpus,
        read_text_corpus_stream,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.txt").write_text(
        "the theory of relativity explains gravity and light\n"
        "buy cheap pills online click here win big money now\n"
        "the physics of motion explains force and energy today\n"
        "limited offer click now free prize claim today friend\n"
    )
    corpus = read_text_corpus(spark, str(src))
    pos = corpus.filter(F.col("text").contains("explains"))
    neg = corpus.filter(F.col("text").contains("click"))
    w = train_quality_weights(pos, neg, n=2, n_buckets=256)

    sink = str(tmp_path / "sink")
    q = SW.foreach_batch_classify_sink(
        read_text_corpus_stream(spark, str(src)),
        w,
        sink,
        str(tmp_path / "ckpt"),
        n=2,
        n_buckets=256,
        threshold=0.0,
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        (r["doc_id"], r["n_feats"], r["logit"])
        for r in spark.read.parquet(sink).collect()
    )
    want = sorted(
        (r["doc_id"], r["n_feats"], r["logit"])
        for r in quality_classifier(
            corpus, w, n=2, n_buckets=256, threshold=0.0
        ).filter(F.col("keep")).collect()
    )
    assert got == want and len(got) == 2


def test_corpus_ingest_stream_matches_batch(spark, tmp_path):
    """Streaming text ingestion (readStream.text → content dedup →
    quality gate) must produce exactly the batch front-end's rows on a
    finite shard directory — including collapsing a duplicate that
    spans two shards."""
    from data_pengadaan_agent_spark.operators.dedup import dedup_exact_content
    from data_pengadaan_agent_spark.operators.textan import quality_score
    from data_pengadaan_agent_spark.sources.readers import (
        read_text_corpus,
        read_text_corpus_stream,
    )

    shard_a = "the quick brown fox jumps over the lazy dog and it is fine\n" * 2
    shard_b = (
        "the quick brown fox jumps over the lazy dog and it is fine\n"
        "a completely different document about streams and tables in the engine\n"
        "\n"
    )
    (tmp_path / "a.txt").write_text(shard_a)
    (tmp_path / "b.txt").write_text(shard_b)

    gated = (
        quality_score(
            read_text_corpus_stream(spark, str(tmp_path)).dropDuplicates(["doc_id"]),
            carry=("text",),
        )
        .filter(F.col("quality_score") >= 0.0)
        .select("text", "n_chars", "quality_score")
    )
    got = SW.run_stream_to_memory(spark, gated, "ingest_parity_out")

    batch = (
        quality_score(
            dedup_exact_content(read_text_corpus(spark, str(tmp_path))),
            carry=("text",),
        )
        .filter(F.col("quality_score") >= 0.0)
        .select("text", "n_chars", "quality_score")
    )
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, batch.collect()))
    assert got.count() == 2  # 4 non-empty lines, 2 distinct documents


def test_dedup_within_watermark_evicts_state(spark, tmp_path):
    """State-bounded dedup (VERDICT r4 #3): dropDuplicatesWithinWatermark
    must (a) suppress a duplicate arriving while its key's state is
    live, and (b) EVICT the state once the watermark passes event time
    + delay — proven by the same key being re-emitted in a later
    trigger. Files land between processAllAvailable() calls so trigger
    boundaries are deterministic."""
    import datetime as dt

    schema = "doc_id long, ts timestamp"
    src = str(tmp_path / "src")

    def write_batch(rows):
        spark.createDataFrame(
            [(i, dt.datetime(2024, 1, 1, h, m)) for i, h, m in rows], schema
        ).coalesce(1).write.mode("append").parquet(src)

    # trigger 1: first sighting of doc 1 (and 2); watermark → 09:50
    write_batch([(1, 10, 0), (2, 10, 0)])
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    deduped = SW.streaming_dedup_within_watermark(
        stream, ["doc_id"], "ts", delay="10 minutes"
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("ttl_dedup_out")
        .start()
    )
    q.processAllAvailable()
    # trigger 2: doc 1 again at 10:05 — state live (expires 10:10 >
    # watermark 09:50) → suppressed; doc 3 at 11:00 pushes the
    # watermark to 10:50, past doc 1's expiry → state evicted
    write_batch([(1, 10, 5), (3, 11, 0)])
    q.processAllAvailable()
    # trigger 3: doc 1 a third time — state is GONE, so it re-emits;
    # this re-emission IS the proof of bounded state
    write_batch([(1, 11, 5)])
    q.processAllAvailable()
    q.stop()

    rows = spark.sql("SELECT * FROM ttl_dedup_out").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["doc_id"], []).append(r["ts"])
    assert sorted(by_id) == [1, 2, 3]
    assert len(by_id[2]) == 1 and len(by_id[3]) == 1
    assert sorted(by_id[1]) == [
        dt.datetime(2024, 1, 1, 10, 0),  # first sighting emitted
        dt.datetime(2024, 1, 1, 11, 5),  # re-emitted AFTER eviction
    ], by_id[1]  # 10:05 duplicate correctly suppressed

    # batch fallback keeps the parity rule: same callable on a static
    # frame is a plain dropDuplicates
    batch = spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10, 0)), (1, dt.datetime(2024, 1, 1, 10, 5))],
        schema,
    )
    assert SW.streaming_dedup_within_watermark(batch, ["doc_id"], "ts").count() == 1


def test_trending_terms_stream_parity(spark, tmp_path):
    """Complete-mode streaming windowed term counts must equal the
    batch aggregation of the same frame (finite source)."""
    (tmp_path / "a.txt").write_text(
        "alpha beta alpha\n" * 4 + "gamma delta\n" * 3 + "\n"
    )
    from data_pengadaan_agent_spark.sources.readers import (
        read_text_corpus,
        read_text_corpus_stream,
    )

    ts = F.timestamp_seconds(
        F.lit(1704067200) + F.pmod(F.col("n_chars") * F.lit(2654435761), F.lit(3600))
    )
    stream = read_text_corpus_stream(spark, str(tmp_path)).withColumn("ingest_ts", ts)
    got = SW.run_stream_to_memory(
        spark,
        SW.trending_terms_stream(stream, min_count=2),
        "trend_parity_out",
        output_mode="complete",
    )
    batch = read_text_corpus(spark, str(tmp_path)).withColumn("ingest_ts", ts)
    want = SW.trending_terms_stream(batch, min_count=2)
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    # duplicate lines are NOT deduped here (this monitor sits before
    # the dedup gate): 'alpha' counts 8 across its window
    assert {(r["term"], r["n"]) for r in got.collect()} >= {("alpha", 8), ("beta", 4), ("gamma", 3), ("delta", 3)}


def test_trending_terms_stream_append_mode(spark, tmp_path):
    """The production (infinite-stream) form: append mode + watermark.
    Every window the watermark closed is emitted exactly as batch
    computes it; only the final never-closed window may be withheld."""
    # two bursts 40 minutes apart -> two distinct 10-minute windows
    (tmp_path / "a.txt").write_text("aaa bbb aaa\n" * 3)          # len 12
    (tmp_path / "b.txt").write_text("cc ddd cc ee ff gg hhhh i\n" * 3)  # len 26
    from data_pengadaan_agent_spark.sources.readers import (
        read_text_corpus,
        read_text_corpus_stream,
    )

    ts = F.timestamp_seconds(
        F.lit(1704067200) + F.pmod(F.col("n_chars") * F.lit(2654435761), F.lit(3600))
    )
    stream = read_text_corpus_stream(spark, str(tmp_path)).withColumn("ingest_ts", ts)
    got = SW.run_stream_to_memory(
        spark,
        SW.trending_terms_stream(stream, min_count=2, watermark="5 minutes"),
        "trend_append_out",
        output_mode="append",
    )
    batch = read_text_corpus(spark, str(tmp_path)).withColumn("ingest_ts", ts)
    want = SW.trending_terms_stream(batch, min_count=2, watermark="5 minutes")
    got_rows = set(map(tuple, got.collect()))
    want_rows = set(map(tuple, want.collect()))
    assert got_rows <= want_rows
    withheld_windows = {w for w, _, _ in want_rows - got_rows}
    assert len(withheld_windows) <= 1  # only the final open window


def test_streaming_dedup_near_minhash(spark, tmp_path):
    """Streaming NEAR-dup dedup (round 6): a document arriving within
    the watermark horizon of a near-duplicate (any MinHash band key
    already claimed) is flagged is_original=false; unrelated docs
    keep all their bands. Two chained stateful operators
    (dropDuplicatesWithinWatermark -> windowed agg) in append mode;
    only watermark-closed windows emit."""
    import datetime as dt

    base = (
        "the quick brown fox jumps over the lazy dog near the river bank "
        "at dawn while the tall grey heron watches silently from the reeds "
        "and the cold wind moves slowly across the open water toward the "
        "distant hills every single day"
    )
    near = base.replace("heron", "crane")
    far = (
        "completely different content about databases and distributed "
        "query execution engines at scale"
    )
    schema = "doc_id long, text string, ingest_ts timestamp"
    src = str(tmp_path / "neardup_src")

    def write_batch(rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "append"
        ).parquet(src)

    # trigger 1: the original
    write_batch([(1, base, dt.datetime(2024, 1, 1, 10, 0))])
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    out = SW.streaming_dedup_near(stream, n_hashes=16, bands=8)
    q = (
        out.writeStream.outputMode("append")
        .format("memory")
        .queryName("neardup_out")
        .start()
    )
    q.processAllAvailable()
    # trigger 2: the near-dup (one word changed) + an unrelated doc
    write_batch(
        [
            (2, near, dt.datetime(2024, 1, 1, 10, 5)),
            (3, far, dt.datetime(2024, 1, 1, 10, 7)),
        ]
    )
    q.processAllAvailable()
    # trigger 3: far-future row pushes the watermark past the 10:00
    # window so the windowed verdicts emit
    write_batch([(4, "late horizon push row", dt.datetime(2024, 1, 1, 12, 0))])
    q.processAllAvailable()
    # With TWO chained stateful operators the closed-window emission
    # can land in a no-data batch that processAllAvailable does not
    # await under load; a fourth data trigger deterministically flushes
    # it, plus a short bounded wait for the memory sink commit.
    import time

    write_batch([(5, "flush row", dt.datetime(2024, 1, 1, 12, 30))])
    q.processAllAvailable()
    for _ in range(40):
        if spark.sql(
            "SELECT count(DISTINCT doc_id) c FROM neardup_out"
        ).first()["c"] >= 3:
            break
        time.sleep(0.25)
        q.processAllAvailable()
    q.stop()

    rows = {
        r["doc_id"]: r
        for r in spark.sql("SELECT * FROM neardup_out").collect()
    }
    # docs 4/5's windows never closed
    assert set(rows) == {1, 2, 3}
    assert rows[1]["is_original"] and rows[1]["n_first_bands"] == 8
    assert not rows[2]["is_original"] and rows[2]["n_first_bands"] < 8
    assert rows[3]["is_original"] and rows[3]["n_first_bands"] == 8

    # batch twin (rank-1 per bucket by event time): same verdicts
    batch = spark.createDataFrame(
        [
            (1, base, dt.datetime(2024, 1, 1, 10, 0)),
            (2, near, dt.datetime(2024, 1, 1, 10, 5)),
            (3, far, dt.datetime(2024, 1, 1, 10, 7)),
        ],
        schema,
    )
    want = {
        r["doc_id"]: (r["n_first_bands"], r["is_original"])
        for r in SW.streaming_dedup_near(batch, n_hashes=16, bands=8).collect()
    }
    got = {
        k: (r["n_first_bands"], r["is_original"]) for k, r in rows.items()
    }
    assert got == want


def test_dedup_near_kernel_parity_edges(spark):
    """Review-fix pins: (a) NULL-text docs vanish (SQL-twin parity)
    instead of shingling the literal 'none'; (b) tab/newline padding
    is NOT stripped (F.trim strips spaces only), so such text keeps
    its leading empty token exactly like the oracle's tokenizer; (c)
    the chunked-modulo poly hash equals the sequential fold even for
    a shingle long enough to overflow a naive int64 row sum."""
    import datetime as dt

    from data_pengadaan_agent_spark.operators.dedup import P31, poly_hash_col

    ts = dt.datetime(2024, 1, 1, 10, 0)
    # (a) two NULL-text docs: no output rows at all for them
    rows = [
        (1, "alpha beta gamma delta epsilon zeta", ts),
        (2, None, ts),
        (3, None, ts),
    ]
    out = SW.streaming_dedup_near(
        spark.createDataFrame(rows, "doc_id long, text string, ingest_ts timestamp"),
        n_hashes=16,
        bands=8,
    ).collect()
    assert {r["doc_id"] for r in out} == {1}

    # (b) '\n'-prefixed text differs from the space-prefixed one: the
    # newline survives trim and shifts tokenization
    r2 = SW.streaming_dedup_near(
        spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta", ts),
                (2, "\nalpha beta gamma delta epsilon zeta", ts),
                (3, " alpha beta gamma delta epsilon zeta", ts),
            ],
            "doc_id long, text string, ingest_ts timestamp",
        ),
        n_hashes=16,
        bands=8,
    ).collect()
    flags = {r["doc_id"]: r["is_original"] for r in r2}
    # space-padded doc 3 = exact dup of doc 1 -> every band claimed
    # by 1 -> fully suppressed (absent), the documented outcome
    assert 3 not in flags and flags[1]
    # newline survives trim (parity with F.trim/SQL): doc 2 keeps a
    # leading empty token, so it is a NEAR-dup (one novel shingle ->
    # present but flagged) — had the kernel stripped the newline it
    # would be an exact dup and absent like doc 3
    assert 2 in flags and not flags[2]

    # (c) chunked-modulo hash == the engine's sequential poly fold on
    # a 5000-char astral-plane token (naive row sum would wrap int64)
    big = "\U0010fffd" * 5000
    want = (
        spark.createDataFrame([(big,)], "s string")
        .select(poly_hash_col(F.col("s")).alias("h"))
        .first()["h"]
    )
    import numpy as np

    cp = np.frombuffer(big.encode("utf-32-le"), dtype=np.uint32).astype(np.int64)
    maxlen = cp.size
    pows = np.empty(maxlen, dtype=np.int64)
    acc = 1
    for c in range(maxlen - 1, -1, -1):
        pows[c] = acc
        acc = (acc * 131) % P31
    buf = cp[None, :]
    got = np.zeros(1, dtype=np.int64)
    for c0 in range(0, maxlen, 2048):
        got = (got + (buf[:, c0:c0 + 2048] * pows[None, c0:c0 + 2048]).sum(axis=1)) % P31
    assert int(got[0]) == want


def test_streaming_dedup_near_rejects_bad_band_params(spark):
    """ADVICE r6: a non-divisible (n_hashes, bands) pair silently
    dropped the remainder hashes, and bands > n_hashes made every
    band bucket fold to the same value (all docs collide). Both must
    fail loudly at entry."""
    import datetime

    import pytest

    from data_pengadaan_agent_spark.streaming import windows as SW

    ts = datetime.datetime(2024, 1, 1)
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta", ts)],
        "doc_id long, text string, ingest_ts timestamp",
    )
    with pytest.raises(ValueError, match="multiple"):
        SW.streaming_dedup_near(df, n_hashes=16, bands=5)
    with pytest.raises(ValueError, match="multiple"):
        SW.streaming_dedup_near(df, n_hashes=4, bands=8)


def test_dup_span_sink_first_wins_across_batches(spark, tmp_path):
    """Cross-batch semantics of the streaming dup-span gate: a doc
    that arrives BEFORE its duplicate passes (dup_ppm 0); the later
    copy is flagged against the maintained index. Files are written
    between processAllAvailable() calls so trigger boundaries are
    deterministic, and within-batch repeats count immediately."""
    from data_pengadaan_agent_spark.operators import dupindex as DI
    from data_pengadaan_agent_spark.streaming.windows import (
        foreach_batch_dup_span_sink,
    )

    run = "q1 q2 q3 q4 q5 q6 q7 q8"
    src = str(tmp_path / "src")
    idx = str(tmp_path / "gidx")
    out = str(tmp_path / "sink")
    ckpt = str(tmp_path / "ckpt")
    DI.build_gram_counts(
        spark.createDataFrame([], "doc_id long, text string"),
        idx, length=8, n_buckets=8, arith_hash=False,
    )

    def write_file(name, rows):
        import os

        os.makedirs(src, exist_ok=True)
        with open(f"{src}/{name}", "w") as f:
            f.write("\n".join(rows) + "\n")

    # trigger 1: the run's first appearance + an unrelated doc
    write_file("b1.txt", [run + " unique tail alpha", "totally fresh other text"])
    stream = spark.readStream.text(src).select(
        F.xxhash64("value").alias("doc_id"), F.col("value").alias("text")
    )
    q = foreach_batch_dup_span_sink(stream, idx, out, ckpt, max_ppm=100_000)
    q.processAllAvailable()
    # trigger 2: a LATER doc carrying the same run -> flagged
    write_file("b2.txt", ["prefix words " + run])
    q.processAllAvailable()
    q.stop()
    got = {
        r["text"]: (r["dup_ppm"], r["keep"], r["_epoch"])
        for r in spark.read.parquet(out).collect()
    }
    first = got[run + " unique tail alpha"]
    later = got["prefix words " + run]
    assert first[0] == 0 and first[1] is True          # arrived first: clean
    assert later[0] == (1_000_000 * 8) // 10 and later[1] is False
    assert first[2] < later[2]                          # separate epochs


def test_dedup_eviction_single_start_max_files_per_trigger(spark, tmp_path):
    """r8 ask #7 (the long-standing backlog item): the SAME watermark
    eviction sequence as test_dedup_within_watermark_evicts_state, but
    through ONE readStream start() consuming pre-existing files with
    maxFilesPerTrigger=1 — the production catch-up shape, where trigger
    boundaries come from the file source's own batching instead of
    files landing between processAllAvailable() calls. Determinism:
    each trigger's file is a SINGLE pyarrow-written parquet whose
    mtime is forced 100 s apart (FileStreamSource orders its listing
    by modification time), so the files become ordered triggers.

    MEASURED semantics this test pins (the reason the ask sat in the
    backlog): state CLEANUP runs at end-of-batch with that batch's
    watermark, so in a continuous catch-up — where no empty
    maintenance batch runs between data triggers — a key whose expiry
    the watermark just passed still suppresses duplicates for ONE
    more trigger (f3 below), and only re-emits after a subsequent
    data batch has run the cleanup (f4). The between-
    processAllAvailable() form above hides this lag because idle
    no-data batches run the cleanup; a production catch-up gets the
    lagged behavior, which is why it needed its own pin."""
    import datetime as dt
    import os

    import pyarrow as pa
    import pyarrow.parquet as pq

    src = str(tmp_path / "src")
    os.makedirs(src)

    def write_file(name, rows, mtime):
        tbl = pa.table(
            {
                "doc_id": pa.array([i for i, _, _ in rows], pa.int64()),
                "ts": pa.array(
                    [dt.datetime(2024, 1, 1, h, m) for _, h, m in rows],
                    pa.timestamp("us"),
                ),
            }
        )
        p = os.path.join(src, name)
        pq.write_table(tbl, p)
        os.utime(p, (mtime, mtime))

    t0 = 1_700_000_000
    # trigger 1: first sighting of docs 1 and 2; watermark -> 09:50
    write_file("f1.parquet", [(1, 10, 0), (2, 10, 0)], t0)
    # trigger 2: doc 1 again at 10:05 — state live -> suppressed;
    # doc 3 at 11:00 pushes the watermark to 10:50, past doc 1's expiry
    write_file("f2.parquet", [(1, 10, 5), (3, 11, 0)], t0 + 100)
    # trigger 3: the CLEANUP-LAG probe — doc 1 at 11:02 is still
    # suppressed (cleanup with wm 10:50 runs at this batch's END);
    # doc 4 keeps the stream moving
    write_file("f3.parquet", [(1, 11, 2), (4, 11, 3)], t0 + 200)
    # trigger 4: doc 1 again — state evicted by f3's cleanup, re-emits
    write_file("f4.parquet", [(1, 11, 5)], t0 + 300)

    stream = (
        spark.readStream.schema("doc_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .format("parquet")
        .load(src)
    )
    deduped = SW.streaming_dedup_within_watermark(
        stream, ["doc_id"], "ts", delay="10 minutes"
    )
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName("ttl_dedup_catchup")
        .start()
    )
    q.processAllAvailable()
    n_data_batches = sum(
        1
        for p in q.recentProgress
        if (p["numInputRows"] if isinstance(p, dict) else p.numInputRows) > 0
    )
    q.stop()
    # maxFilesPerTrigger really split the catch-up into one trigger
    # per file — without that the eviction sequence is untestable
    assert n_data_batches == 4, n_data_batches

    rows = spark.sql("SELECT * FROM ttl_dedup_catchup").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["doc_id"], []).append(r["ts"])
    assert sorted(by_id) == [1, 2, 3, 4]
    assert all(len(by_id[k]) == 1 for k in (2, 3, 4))
    assert sorted(by_id[1]) == [
        dt.datetime(2024, 1, 1, 10, 0),  # first sighting emitted
        dt.datetime(2024, 1, 1, 11, 5),  # re-emitted AFTER eviction
    ], by_id[1]  # 10:05 suppressed by live state; 11:02 by cleanup lag


def test_sessionize_batch_boundary_matches_native(spark):
    """Self-review r12 (candidate finding REFUTED by measurement): an
    event at EXACTLY prev + gap. The reviewer hypothesized Spark's
    native session_window splits there (half-open windows); measured,
    Spark MERGES touching windows — one session [10:00, 11:00) — so
    the batch form's inclusive boundary (ts > prev + gap starts a new
    session) agrees with the native operator exactly. Pinned from
    both sides, one event just inside the boundary and one on it."""
    import datetime as dt

    from data_pengadaan_agent_spark.streaming import windows as SW

    ev = spark.createDataFrame(
        [(1, 100, dt.datetime(2024, 3, 1, 10, 0), 1.0),
         (2, 100, dt.datetime(2024, 3, 1, 10, 30), 1.0)],
        "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE",
    )
    batch = SW.sessionize_batch(ev, gap_minutes=30).collect()
    assert len(batch) == 1 and batch[0].n_events == 2  # inclusive: one session
    native = (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .count()
        .collect()
    )
    assert len(native) == 1 and native[0]["count"] == 2  # native merges too
    # one microsecond PAST the boundary: both split
    ev2 = spark.createDataFrame(
        [(1, 100, dt.datetime(2024, 3, 1, 10, 0), 1.0),
         (2, 100, dt.datetime(2024, 3, 1, 10, 30, 0, 1), 1.0)],
        "event_id LONG, user_id LONG, ts TIMESTAMP, value DOUBLE",
    )
    assert SW.sessionize_batch(ev2, gap_minutes=30).count() == 2
    assert (
        ev2.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .count()
        .count()
        == 2
    )


def test_parquet_sink_fresh_checkpoint_over_live_root_refuses(spark, tmp_path):
    """The ADVICE-r13 dq-gate guard, generalized (r14) to every
    epoch-overwrite sink: a fresh checkpoint over a root that already
    holds _epoch partitions refuses at start instead of silently
    overwriting the previous run's epoch-0 partition."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq
    import pytest

    from data_pengadaan_agent_spark.streaming import windows as SW

    src = str(tmp_path / "src")
    os.makedirs(src)
    papq.write_table(pa.table({"v": pa.array([1], pa.int64())}),
                     os.path.join(src, "f.parquet"))
    sink = str(tmp_path / "sink")
    spark.range(1).selectExpr("id AS v", "CAST(0 AS LONG) AS _epoch").write \
        .partitionBy("_epoch").parquet(sink)

    stream = spark.readStream.schema("v long").format("parquet").load(src)
    with pytest.raises(ValueError, match="fresh"):
        SW.foreach_batch_parquet_sink(stream, sink, str(tmp_path / "ck_new"))
    # deliberate re-adoption still works
    q = SW.foreach_batch_parquet_sink(
        stream, sink, str(tmp_path / "ck_new"), fresh_checkpoint_ok=True
    )
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(sink).count() >= 1


@pytest.mark.parametrize("family", ["trgm", "ivfpq"])
def test_index_sink_fresh_checkpoint_over_live_ack_root_refuses(spark, tmp_path, family):
    """The trgm and IVF-PQ sinks write _epoch-partitioned ack logs like
    the parquet sink: a second run with a fresh checkpoint over the
    first run's ack root refuses at start instead of overwriting its
    _epoch=0.. acks; a restart on the original checkpoint proceeds."""
    import os

    import pyarrow as pa
    import pyarrow.parquet as papq

    from data_pengadaan_agent_spark.operators import pq as PQ
    from data_pengadaan_agent_spark.operators import trgm as TG

    idx, ack, src = (str(tmp_path / d) for d in ("idx", "ack", "src"))
    os.makedirs(src)
    if family == "trgm":
        schema, sink = "doc_id long, text string", SW.foreach_batch_trgm_sink
        docs = [(1, "quick brown fox"), (2, "lazy dog sleeps")]
        TG.build_trgm_index(spark.createDataFrame(docs, schema), idx, n_buckets=4)
        arrival = {"doc_id": pa.array([3], pa.int64()), "text": ["new doc arrives"]}
    else:
        schema, sink = "vec_id long, embedding array<double>", SW.foreach_batch_ivfpq_sink
        vecs = [(i, [float(i), 0.0, 10.0 - i, 1.0]) for i in range(6)]
        PQ.build_ivfpq_table(spark.createDataFrame(vecs, schema), idx, dim=4, kc=2, m=2, ksub=2)
        arrival = {
            "vec_id": pa.array([9], pa.int64()),
            "embedding": pa.array([[0.5, 0.5, 9.0, 1.0]], pa.list_(pa.float64())),
        }
    papq.write_table(pa.table(arrival), os.path.join(src, "f.parquet"))
    stream = spark.readStream.schema(schema).format("parquet").load(src)
    ck1, ck2 = str(tmp_path / "ck1"), str(tmp_path / "ck2")

    q = sink(stream, idx, ack, ck1)
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(ack).count() == 1
    with pytest.raises(ValueError, match="fresh"):
        sink(stream, idx, ack, ck2).stop()  # reached only if the sink does not refuse
    q = sink(stream, idx, ack, ck1)
    q.processAllAvailable()
    q.stop()
    assert spark.read.parquet(ack).count() == 1


def test_ann_ingest_stream_codes_leaves_no_temp_dirs(spark):
    """The streaming IVF-PQ ingest entry stages its source slice and
    its checkpoint in temp directories; both are removed once the
    stream stops, and the returned frame (read from the warehouse
    index alone) still collects afterwards."""
    import os
    import tempfile

    import __spark_entry__ as E

    def leftovers():
        return {
            d for d in os.listdir(tempfile.gettempdir())
            if d.startswith("ann_ingest_")
        }

    before = leftovers()
    rows = E.queries()["ann_ingest_stream_codes"](spark, SF_DIR).collect()
    assert rows
    assert leftovers() - before == set()
