"""Structured Streaming parity tests (SURVEY §2.9, streaming/ingest.py).

Drives both streaming surfaces to completion on local dirs:
page-file registry ingest through foreachBatch (incremental merge,
first-wins dedup) and the watermarked events rollup (memory sink).
"""

from __future__ import annotations

import pytest

PAGE1 = """\
### PAGE 1 ####
EudraCT Number: 2004-000001-11
Trial Status: Ongoing
A.3 Full title of the trial: First Trial
National Competent Authority: Austria - competent authority
"""

PAGE2 = """\
### PAGE 2 ####
EudraCT Number: 2004-000002-22
Trial Status: Completed
A.3 Full title of the trial: Second Trial
National Competent Authority: Belgium - competent authority
"""


def test_stream_registry_ingest(spark, tmp_path):
    from eurovision_spark.streaming.ingest import (
        flush_registry_tail,
        stream_registry_ingest,
    )

    landing = tmp_path / "landing"
    landing.mkdir()
    out = tmp_path / "out"
    (landing / "page1.txt").write_text(PAGE1)

    q = stream_registry_ingest(spark, str(landing), str(out))
    q.awaitTermination(120)
    flush_registry_tail(spark, str(out))  # finalize the buffered record

    trial = spark.read.parquet(str(out / "trial"))
    assert {r.eudract_id for r in trial.collect()} == {"2004-000001-11"}

    # second page arrives -> incremental merge keeps both trials
    (landing / "page2.txt").write_text(PAGE2)
    q2 = stream_registry_ingest(spark, str(landing), str(out))
    q2.awaitTermination(120)
    flush_registry_tail(spark, str(out))

    trial = spark.read.parquet(str(out / "trial"))
    got = {r.eudract_id: r.official_title for r in trial.collect()}
    assert got == {"2004-000001-11": "First Trial", "2004-000002-22": "Second Trial"}
    locs = {(r.eudract_id, r.location) for r in spark.read.parquet(str(out / "location")).collect()}
    assert locs == {("2004-000001-11", "Austria"), ("2004-000002-22", "Belgium")}


def test_stream_registry_record_spanning_batches(spark, tmp_path):
    """A record whose lines SPAN two micro-batches must not be parsed
    from half its lines: the first batch buffers the incomplete tail,
    the second prepends it, and the merged trial row carries fields
    from BOTH pages. (Before the tail carry, the continuation lines
    fell to trial_id NULL and were silently dropped.)"""
    from eurovision_spark.streaming.ingest import (
        flush_registry_tail,
        stream_registry_ingest,
    )

    head, tail = PAGE1.split("A.3 Full title", 1)
    landing = tmp_path / "landing_span"
    landing.mkdir()
    out = tmp_path / "out_span"
    (landing / "page1.txt").write_text(head)

    q = stream_registry_ingest(spark, str(landing), str(out))
    q.awaitTermination(120)
    # nothing finalized yet: the only record is still incomplete
    import os

    assert not os.path.exists(str(out / "trial"))

    (landing / "page2.txt").write_text("A.3 Full title" + tail)
    q2 = stream_registry_ingest(spark, str(landing), str(out))
    q2.awaitTermination(120)
    flush_registry_tail(spark, str(out))

    [t] = spark.read.parquet(str(out / "trial")).collect()
    assert t.eudract_id == "2004-000001-11"
    assert t.official_title == "First Trial"  # field from the SECOND page


def test_stream_events_rollup(spark, sf_dir, tmp_path):
    from eurovision_spark.streaming.ingest import stream_events_rollup

    # streaming file sources need a directory; stage the single-file table
    import shutil

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "part-0.parquet")
    q = stream_events_rollup(spark, str(events_dir), query_name="t_rollup")
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM t_rollup").collect()
    finally:
        q.stop()
    assert rows
    # cross-check one bucket against a batch aggregation
    from pyspark.sql import functions as F

    from eurovision_spark.timeaxis import event_ts_col, load_events_dir

    ev = load_events_dir(spark, str(events_dir))
    batch = (
        ev.withColumn("event_ts", event_ts_col(ev.schema["ts"].dataType))
        .groupBy(F.window("event_ts", "1 hour"), "event_type")
        .agg(F.count("*").alias("n"))
        .count()
    )
    assert len(rows) == batch


def test_stream_sessionize_state_carries_across_batches(spark, sf_dir, tmp_path):
    """applyInPandasWithState sessionizer: state survives micro-batch
    boundaries and the final counts equal the batch window twin."""
    import shutil

    from pyspark.sql import functions as F

    from eurovision_spark.streaming.ingest import stream_sessionize
    from eurovision_spark.timeaxis import load_events_dir, with_ts_us

    # split on the canonical µs axis (raw ts may be bigint ns or
    # timestamp; approxQuantile needs a numeric column either way)
    ev = with_ts_us(load_events_dir(spark, f"{sf_dir}/events.parquet"))
    median_ts = ev.approxQuantile("ts_us", [0.5], 0.01)[0]
    first_half = ev.filter(F.col("ts_us") <= median_ts).drop("ts_us")
    second_half = ev.filter(F.col("ts_us") > median_ts).drop("ts_us")

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    first_half.coalesce(1).write.parquet(str(tmp_path / "b1"))
    for f in (tmp_path / "b1").glob("*.parquet"):
        shutil.copy(f, events_dir / "batch1.parquet")

    q = stream_sessionize(spark, str(events_dir), str(ckpt), query_name="t_sess")
    try:
        q.processAllAvailable()
        mid = {
            r.user_id: r.n_sessions
            for r in spark.sql("SELECT * FROM t_sess").collect()
        }
        # second micro-batch arrives: state must continue, not restart
        second_half.coalesce(1).write.parquet(str(tmp_path / "b2"))
        for f in (tmp_path / "b2").glob("*.parquet"):
            shutil.copy(f, events_dir / "batch2.parquet")
        q.processAllAvailable()
        final = {
            r.user_id: r.n_sessions
            for r in spark.sql(
                "SELECT user_id, max(n_sessions) AS n_sessions FROM t_sess GROUP BY user_id"
            ).collect()
        }
    finally:
        q.stop()

    # batch twin on the full table: max session_id == total sessions
    from eurovision_spark.catalog import registry

    full = tmp_path / "full"
    full.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", full / "events.parquet")
    batch = {
        r.user_id: r.n_sessions
        for r in registry()["sessionize"]
        .fn(spark, str(full))
        .groupBy("user_id")
        .agg(F.max("session_id").alias("n_sessions"))
        .collect()
    }
    assert final == batch
    # and the stream made progress in batch 1 already (state continuity
    # means final counts are >= the mid-point counts, never a reset)
    assert all(final[u] >= mid.get(u, 0) for u in final)


def test_stream_dedup_events_drops_replayed_batch(spark, sf_dir, tmp_path):
    """The same page/file replayed (the reference's 'database wraps'
    case) must not produce duplicate rows downstream."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_dedup_events

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "b1.parquet")

    q = stream_dedup_events(spark, str(events_dir), str(tmp_path / "ckpt"), "t_dedup")
    try:
        q.processAllAvailable()
        n1 = spark.sql("SELECT count(*) FROM t_dedup").first()[0]
        # replay: identical file arrives again as a new micro-batch
        shutil.copy(f"{sf_dir}/events.parquet", events_dir / "b2.parquet")
        q.processAllAvailable()
        n2 = spark.sql("SELECT count(DISTINCT event_id) FROM t_dedup").first()[0]
        total = spark.sql("SELECT count(*) FROM t_dedup").first()[0]
    finally:
        q.stop()
    from eurovision_spark.timeaxis import load_events_dir

    src = load_events_dir(spark, f"{sf_dir}/events.parquet").count()
    assert n1 == src
    assert n2 == src
    assert total == src  # replayed rows were all dropped


def test_stream_stream_join_equals_batch(spark, sf_dir, tmp_path):
    """Watermarked stream-stream interval join returns exactly the
    batch join's (click, error) pairs on the same data."""
    import shutil

    from pyspark.sql import functions as F

    from eurovision_spark.streaming.ingest import stream_click_error_join

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "b1.parquet")
    q = stream_click_error_join(spark, str(events_dir), str(tmp_path / "ckpt"), "t_ss_join")
    try:
        q.processAllAvailable()
        got = {
            (r.click_id, r.err_id)
            for r in spark.sql("SELECT * FROM t_ss_join").collect()
        }
    finally:
        q.stop()

    from eurovision_spark.timeaxis import load_events_dir, with_ts_us

    ev = with_ts_us(load_events_dir(spark, str(events_dir)))
    clicks = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts_us").alias("click_ts")
    )
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"), F.col("user_id").alias("err_user"),
        F.col("ts_us").alias("err_ts"),
    )
    win_us = 30 * 60 * 1_000_000
    expect = {
        (r.click_id, r.err_id)
        for r in clicks.join(
            errors,
            (F.col("user_id") == F.col("err_user"))
            & (F.col("err_ts") <= F.col("click_ts"))
            & (F.col("err_ts") >= F.col("click_ts") - win_us),
        ).collect()
    }
    assert got == expect
    assert got  # non-vacuous: the window does produce matches


def test_stream_session_rollup_native_window(spark, sf_dir, tmp_path):
    """Native session_window streaming agg: session count per user must
    equal the batch gap-sessionizer's (same 60-min gap semantics)."""
    import shutil

    from pyspark.sql import functions as F

    from eurovision_spark.streaming.ingest import stream_session_rollup

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", events_dir / "b1.parquet")
    q = stream_session_rollup(spark, str(events_dir), query_name="t_native_sess")
    try:
        q.processAllAvailable()
        # append mode emits a session only once the WATERMARK passes its
        # end: push the watermark with far-future sentinel-user events.
        # Two advancer batches because the watermark a batch USES comes
        # from the PREVIOUS batch's max event time; written as plain
        # parquet FILES (a directory-write is not picked up as a new
        # file by the running stream's listing).
        import datetime
        import glob as _glob
        import shutil as _shutil

        ev = spark.read.parquet(f"{sf_dir}/events.parquet")
        far = ev.agg(F.max("ts")).first()[0]
        for i, name in enumerate(("b2", "b3")):
            adv = spark.createDataFrame(
                [(10**9 + i, far + datetime.timedelta(days=10 + i), -1, "view", 0.0, "{}")],
                ev.schema,
            )
            staged = str(tmp_path / f"{name}_stage")
            adv.coalesce(1).write.parquet(staged)
            part = _glob.glob(staged + "/part-*.parquet")[0]
            _shutil.move(part, str(events_dir / f"{name}.parquet"))
            q.processAllAvailable()
        stream_counts = {
            r.user_id: r.n
            for r in spark.sql(
                "SELECT user_id, count(*) AS n FROM t_native_sess"
                " WHERE user_id >= 0 GROUP BY user_id"
            ).collect()
        }
    finally:
        q.stop()

    from eurovision_spark.catalog import registry

    batch_counts = {
        r.user_id: r.n
        for r in registry()["sessionize"]
        .fn(spark, sf_dir)  # same events table the stream consumed
        .groupBy("user_id")
        .agg(F.max("session_id").alias("n"))
        .collect()
    }
    assert stream_counts == batch_counts


def test_stream_chunking_equals_batch(spark, sf_dir, tmp_path):
    """The stateless sample-production chunker runs UNCHANGED under
    Structured Streaming: same expressions, same output as batch over
    the same documents — the payoff of keeping the op a pure per-row
    map (operators/pipeline.chunk_documents)."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_chunk_documents

    docs_dir = str(tmp_path / "docs_stream")
    (tmp_path / "docs_stream").mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", docs_dir)

    q = (
        stream_chunk_documents(spark, docs_dir)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("chunk_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"])
            for r in spark.sql("SELECT * FROM chunk_stream").collect()
        }
    finally:
        q.stop()

    from eurovision_spark.catalog import registry

    batch = {
        (r["doc_id"], r["chunk_idx"]): (r["chunk_text"], r["n_chunk_tokens"])
        for r in registry()["doc_chunk"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_funnel_equals_batch_across_batches(spark, sf_dir, tmp_path):
    """Stateful streaming funnel: stage state survives micro-batch
    boundaries, depths are monotone across batches, and the final
    per-user stage timestamps equal the batch twin
    (operators/analytics.funnel_steps) under in-order arrival."""
    import shutil

    from pyspark.sql import functions as F

    from eurovision_spark.streaming.ingest import stream_funnel
    from eurovision_spark.timeaxis import load_events_dir, with_ts_us

    ev = with_ts_us(load_events_dir(spark, f"{sf_dir}/events.parquet"))
    median_ts = ev.approxQuantile("ts_us", [0.5], 0.01)[0]
    first_half = ev.filter(F.col("ts_us") <= median_ts).drop("ts_us")
    second_half = ev.filter(F.col("ts_us") > median_ts).drop("ts_us")

    events_dir = tmp_path / "events"
    events_dir.mkdir()
    ckpt = tmp_path / "ckpt"
    first_half.coalesce(1).write.parquet(str(tmp_path / "b1"))
    for f in (tmp_path / "b1").glob("*.parquet"):
        shutil.copy(f, events_dir / "batch1.parquet")

    q = stream_funnel(spark, str(events_dir), str(ckpt), query_name="t_funnel")
    try:
        q.processAllAvailable()
        mid = {
            r.user_id: r.funnel_depth
            for r in spark.sql(
                "SELECT user_id, max(funnel_depth) AS funnel_depth"
                " FROM t_funnel GROUP BY user_id"
            ).collect()
        }
        second_half.coalesce(1).write.parquet(str(tmp_path / "b2"))
        for f in (tmp_path / "b2").glob("*.parquet"):
            shutil.copy(f, events_dir / "batch2.parquet")
        q.processAllAvailable()
        # update-mode memory sink appends every emitted row; the latest
        # state per user is the max-depth row (stages only ever fill in)
        final = {
            r.user_id: (r.t_view_us, r.t_click_us, r.t_purchase_us, r.funnel_depth)
            for r in spark.sql(
                """
                SELECT user_id, t_view_us, t_click_us, t_purchase_us, funnel_depth
                FROM (SELECT *, row_number() OVER (
                          PARTITION BY user_id ORDER BY funnel_depth DESC,
                          t_purchase_us DESC NULLS LAST, t_click_us DESC NULLS LAST,
                          t_view_us DESC NULLS LAST) AS rn
                      FROM t_funnel) WHERE rn = 1
                """
            ).collect()
        }
    finally:
        q.stop()

    from eurovision_spark.catalog import registry

    full = tmp_path / "full"
    full.mkdir()
    shutil.copy(f"{sf_dir}/events.parquet", full / "events.parquet")
    batch = {
        r.user_id: (r.t_view_us, r.t_click_us, r.t_purchase_us, r.funnel_depth)
        for r in registry()["funnel_steps"].fn(spark, str(full)).collect()
    }
    # users with zero funnel-type events never enter the filtered
    # stream; the batch twin reports them at depth 0
    for uid, row in batch.items():
        if uid in final:
            assert final[uid] == row
        else:
            assert row[3] == 0
    assert set(final) <= set(batch)
    # depth is monotone: no user's mid-stream depth exceeds their final
    assert all(mid[u] <= final[u][3] for u in mid)
    assert any(v[3] == 3 for v in final.values())  # someone converts


def test_stream_redaction_equals_batch(spark, sf_dir, tmp_path):
    """The stateless PII scrub runs UNCHANGED under Structured
    Streaming: same plant+redact expressions, same output as batch
    over the same documents."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_redact_documents

    docs_dir = str(tmp_path / "docs_pii_stream")
    (tmp_path / "docs_pii_stream").mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", docs_dir)

    q = (
        stream_redact_documents(spark, docs_dir)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("pii_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            r["doc_id"]: (r["n_emails"], r["n_phones"], r["n_ips"], r["redacted"])
            for r in spark.sql("SELECT * FROM pii_stream").collect()
        }
    finally:
        q.stop()

    from eurovision_spark.catalog import registry

    batch = {
        r["doc_id"]: (r["n_emails"], r["n_phones"], r["n_ips"], r["redacted"])
        for r in registry()["pii_redact"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_prep_pipeline_equals_batch(spark, sf_dir, tmp_path):
    """The composed prep pass (scrub -> chunk -> split -> digest) runs
    UNCHANGED under Structured Streaming — documents become
    split-labeled training chunks within the arriving micro-batch."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_prep_pipeline

    docs_dir = str(tmp_path / "docs_prep_stream")
    (tmp_path / "docs_prep_stream").mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", docs_dir)

    q = (
        stream_prep_pipeline(spark, docs_dir)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("prep_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            (r["doc_id"], r["chunk_idx"]): (r["split"], r["n_chunk_tokens"], r["chunk_md5"])
            for r in spark.sql("SELECT * FROM prep_stream").collect()
        }
    finally:
        q.stop()

    from eurovision_spark.catalog import registry

    batch = {
        (r["doc_id"], r["chunk_idx"]): (r["split"], r["n_chunk_tokens"], r["chunk_md5"])
        for r in registry()["prep_pipeline"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_restart_from_checkpoint_is_exactly_once(spark, sf_dir, tmp_path):
    """Kill-and-restart recovery: a file-source -> parquet-sink stream
    stopped after batch 1 and RESTARTED from the same checkpoint must
    pick up only the files that arrived while it was down — nothing
    reprocessed, nothing lost. This is the property that makes a
    100 TB ingest resumable after an executor/driver loss instead of a
    re-run-from-zero."""
    from eurovision_spark.streaming.ingest import stream_redact_documents

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter("n_chars > 0")
    half_a = docs.filter("doc_id % 2 = 0")
    half_b = docs.filter("doc_id % 2 = 1")
    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    half_a.coalesce(1).write.parquet(src)

    def run_once():
        q = (
            stream_redact_documents(spark, src)
            .writeStream.outputMode("append")
            .format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )
        try:
            q.processAllAvailable()
        finally:
            q.stop()

    run_once()
    n_after_a = spark.read.parquet(out).count()
    assert n_after_a == half_a.count()

    # the stream is DOWN; new data lands
    half_b.coalesce(1).write.mode("append").parquet(src)
    run_once()  # restart from the same checkpoint

    got = spark.read.parquet(out)
    assert got.count() == docs.count()  # B ingested, A not re-emitted
    assert got.select("doc_id").distinct().count() == docs.count()


def test_stream_sessionize_correct_across_pandas_chunks(spark, tmp_path):
    """applyInPandasWithState hands a group's rows over as MULTIPLE
    pandas chunks (boundary = arrow.maxRecordsPerBatch) in arbitrary
    order; the fold must sort across ALL chunks, not per chunk. One
    user with file-order [0h, 2h, 1h] at batch size 2 chunks as
    [[0h, 2h], [1h]]: a per-chunk sort counts 2 sessions, the correct
    global sort counts 1 (all gaps exactly 1h, never > the 1h gap)."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eurovision_spark.streaming.ingest import stream_sessionize

    base = datetime.datetime(2024, 1, 1)
    hours = [0, 2, 1]
    tbl = pa.table(
        {
            "ts": pa.array(
                [base + datetime.timedelta(hours=h) for h in hours],
                type=pa.timestamp("us"),
            ),
            "user_id": pa.array([7, 7, 7], type=pa.int64()),
        }
    )
    events_dir = tmp_path / "chunk_events"
    events_dir.mkdir()
    pq.write_table(tbl, str(events_dir / "events.parquet"))

    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "2")
    try:
        q = stream_sessionize(
            spark,
            str(events_dir),
            str(tmp_path / "ckpt_chunks"),
            query_name="chunk_sessions",
        )
        try:
            q.processAllAvailable()
            [r] = spark.sql("SELECT * FROM chunk_sessions").collect()
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    assert r.n_events == 3
    assert r.n_sessions == 1, f"per-chunk fold over-counted: {r.n_sessions}"


def test_stream_incremental_dedup_probes_growing_store(spark, tmp_path):
    """Cross-batch incremental dedup: wave 2's near-copy and exact copy
    of wave-1 docs must be REJECTED against the landed store, the
    genuinely new doc must land, and replaying wave 2 (at-least-once
    delivery) must change nothing — decisions and the landed set are
    replay-stable through the first-wins upsert."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_incremental_dedup

    docs_dir = tmp_path / "docs_in"
    docs_dir.mkdir()
    store = tmp_path / "store"

    base_a = "the quick brown fox jumps over the lazy dog today"
    base_b = "pack my box with five dozen liquor jugs right now"
    fresh = "sphinx of black quartz judge my vow swiftly and well"

    def write_wave(name, rows):
        spark.createDataFrame(
            [(i, t, len(t)) for i, t in rows], "doc_id bigint, text string, n_chars int"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    write_wave("wave1", [(1, base_a), (2, base_b)])
    q = stream_incremental_dedup(
        spark, str(docs_dir), str(store), str(tmp_path / "ckpt")
    )
    try:
        q.processAllAvailable()
        write_wave("wave2", [(100, base_a + " perturbed"), (101, base_b), (102, fresh)])
        q.processAllAvailable()
        # replay wave 2 under a new file name (same rows re-delivered)
        write_wave("wave2_replay", [(100, base_a + " perturbed"), (101, base_b), (102, fresh)])
        q.processAllAvailable()
    finally:
        q.stop()

    landed = {
        r.doc_id: r.text
        for r in spark.read.parquet(str(store / "landed")).collect()
    }
    assert set(landed) == {1, 2, 102}, landed
    decisions = {
        r.doc_id: (r.decision, r.matched_id)
        for r in spark.read.parquet(str(store / "decisions")).collect()
    }
    assert decisions[100] == ("near_dup", 1)
    assert decisions[101] == ("exact_dup", 2)
    assert decisions[102] == ("new", None)
    assert decisions[1] == ("new", None) and decisions[2] == ("new", None)
    # replay added no duplicate rows anywhere
    assert spark.read.parquet(str(store / "landed")).count() == 3
    assert spark.read.parquet(str(store / "decisions")).count() == 5


def test_stream_vector_dedup_probes_growing_store(spark, tmp_path):
    """Vector-modality intake dedup: a later wave's rescaled copy of a
    landed vector must be rejected (sign buckets are scale-invariant,
    cosine = 1), a genuinely new vector must land, and replay changes
    nothing."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_vector_dedup

    vecs_dir = tmp_path / "vecs_in"
    vecs_dir.mkdir()
    store = tmp_path / "store"

    va = [float(i % 7 - 3) + 0.25 for i in range(64)]
    vb = [float((i * 3) % 11 - 5) - 0.5 for i in range(64)]
    vc = [x * 2.0 for x in va]  # rescaled copy of va -> cosine 1.0
    vd = [float((i * 5) % 13 - 6) + 0.125 for i in range(64)]

    def write_wave(name, rows):
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, vecs_dir / f"{name}.parquet")

    write_wave("w1", [(1, va), (2, vb)])
    q = stream_vector_dedup(spark, str(vecs_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        write_wave("w2", [(100, vc), (101, vd)])
        q.processAllAvailable()
        write_wave("w2_replay", [(100, vc), (101, vd)])
        q.processAllAvailable()
    finally:
        q.stop()

    decisions = {
        r.vec_id: (r.decision, r.matched_id)
        for r in spark.read.parquet(str(store / "decisions")).collect()
    }
    assert decisions[100] == ("near_dup", 1)
    assert decisions[101][0] == "new"
    assert decisions[1] == ("new", None) and decisions[2] == ("new", None)
    landed = {r.vec_id for r in spark.read.parquet(str(store / "landed")).collect()}
    assert landed == {1, 2, 101}
    assert spark.read.parquet(str(store / "decisions")).count() == 4


def test_stream_cluster_store_matches_batch_minhash_cluster(spark, tmp_path):
    """The clusters/ store is the streaming twin of minhash_cluster's
    output: three micro-batches build one transitive duplicate cluster
    (near-dups, exact dups, an in-batch exact collapse, and a LATER-
    arriving smaller id that must relabel every already-stored member),
    and the final labels must equal the batch machinery
    (verified_near_edges + cc_edge_list) run on the union of all
    arrived docs. Also pins the r04 advice item: in-batch collapsed
    members get their own ('exact_dup', in-batch survivor) ledger row,
    so the decisions store accounts for every arriving doc."""
    import shutil

    from pyspark.sql import functions as F

    from eurovision_spark.operators.dedup import verified_near_edges
    from eurovision_spark.operators.imp_dedup import cc_edge_list
    from eurovision_spark.streaming.ingest import stream_incremental_dedup

    docs_dir = tmp_path / "docs_in"
    docs_dir.mkdir()
    store = tmp_path / "store"

    x = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu nu xi"
    unrelated = "one two three four five six seven eight nine ten eleven twelve"
    waves = {
        "w1": [(5, x), (9, unrelated)],
        "w2": [(3, x), (7, x + " perturbed")],
        "w3": [(0, x), (8, x + " perturbed"), (80, x + " perturbed")],
    }

    def write_wave(name):
        spark.createDataFrame(
            [(i, t, len(t)) for i, t in waves[name]],
            "doc_id bigint, text string, n_chars int",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    write_wave("w1")
    q = stream_incremental_dedup(spark, str(docs_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        write_wave("w2")
        q.processAllAvailable()
        write_wave("w3")
        q.processAllAvailable()
    finally:
        q.stop()

    got = {
        r.doc_id: r.cluster_id
        for r in spark.read.parquet(str(store / "clusters")).collect()
    }
    # batch ground truth: the minhash_cluster machinery on the union
    union = spark.createDataFrame(
        [(i, t) for rows in waves.values() for i, t in rows],
        "doc_id bigint, text string",
    )
    want = {
        r.node: r.comp
        for r in cc_edge_list(
            verified_near_edges(union)[0], "doc_id_1", "doc_id_2"
        ).collect()
    }
    assert got == want, (got, want)
    assert set(got) == {0, 3, 5, 7, 8, 80} and set(got.values()) == {0}
    assert 9 not in got  # singletons get no cluster row, as in the batch op

    # every arriving doc has a ledger row; the in-batch collapsed member
    # points at its in-batch survivor
    decisions = {
        r.doc_id: (r.decision, r.matched_id)
        for r in spark.read.parquet(str(store / "decisions")).collect()
    }
    assert decisions[80] == ("exact_dup", 8)
    assert decisions[0] == ("exact_dup", 5)
    assert decisions[8] == ("near_dup", 5)
    assert decisions[3] == ("exact_dup", 5)
    assert decisions[7] == ("near_dup", 5)
    assert decisions[5] == ("new", None) and decisions[9] == ("new", None)
    # the persisted probe indexes hold exactly the landed survivors
    assert {
        r.doc_id for r in spark.read.parquet(str(store / "index")).collect()
    } == {5, 9}
    assert {
        r.doc_id for r in spark.read.parquet(str(store / "sigindex")).collect()
    } == {5, 9}


def test_stream_cluster_store_replay_stable(spark, tmp_path):
    """Replaying a micro-batch (at-least-once delivery) must leave the
    cluster store byte-identical: the batch's own docs are already in
    the landed index on replay, and the self-match guard keeps the
    re-derived pairs from fabricating self-cluster rows."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_incremental_dedup

    docs_dir = tmp_path / "docs_in"
    docs_dir.mkdir()
    store = tmp_path / "store"
    x = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"

    def write_wave(name, rows):
        spark.createDataFrame(
            [(i, t, len(t)) for i, t in rows],
            "doc_id bigint, text string, n_chars int",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    write_wave("w1", [(1, x)])
    q = stream_incremental_dedup(spark, str(docs_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        write_wave("w2", [(100, x + " perturbed")])
        q.processAllAvailable()
        write_wave("w2_replay", [(100, x + " perturbed")])
        q.processAllAvailable()
        assert _query_jobs(spark, q) <= 101  # job budget: 2 waves + a replay
    finally:
        q.stop()

    clusters = {
        (r.doc_id, r.cluster_id)
        for r in spark.read.parquet(str(store / "clusters")).collect()
    }
    assert clusters == {(1, 1), (100, 1)}
    assert spark.read.parquet(str(store / "clusters")).count() == 2


def test_intake_replay_of_batch_with_in_batch_near_pair_changes_no_store(
    spark, tmp_path
):
    """A batch holding a near-dup pair of its own lands both docs: the
    in-batch near pass is elided by design, so the first run derives no
    edge. Replaying it finds both docs already landed; those matches
    against the batch's own ids must be dropped like self-pairs, or the
    replay fabricates the edge and cluster rows the first run never
    wrote. Every store's row count must be unchanged by the replay."""
    import os

    from eurovision_spark.streaming.ingest import intake_batch

    store = str(tmp_path / "store")
    x = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    far = "one two three four five six seven eight nine ten eleven twelve"
    batch = spark.createDataFrame(
        [(1, x), (2, x + " perturbed"), (3, far)], "doc_id bigint, text string"
    )
    stores = ("landed", "index", "sigindex", "decisions", "clusters", "edges")

    def counts() -> dict[str, int]:
        return {
            name: spark.read.parquet(os.path.join(store, name)).count()
            if os.path.isdir(os.path.join(store, name))
            else 0
            for name in stores
        }

    intake_batch(spark, store, batch)
    first = counts()
    assert first["landed"] == 3 and first["edges"] == 0, first
    intake_batch(spark, store, batch)
    assert counts() == first


def test_intake_wave_resending_a_landed_doc_keeps_a_fresh_near_copys_match(
    spark, tmp_path
):
    """Document twin of the vector mixed-wave test: a wave that re-sends
    landed doc 1 together with a fresh near copy 2 of it. Only the
    re-sent doc's matches are dropped (it was decided earlier), so 2 is
    decided near_dup of 1, and the edge and the shared cluster are
    written, as if 1 had not been re-sent."""
    import os

    from eurovision_spark.streaming.ingest import intake_batch

    store = str(tmp_path / "store")
    x = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    far = "one two three four five six seven eight nine ten eleven twelve"
    ddl = "doc_id bigint, text string"
    intake_batch(spark, store, spark.createDataFrame([(1, x), (3, far)], ddl))
    intake_batch(
        spark, store, spark.createDataFrame([(1, x), (2, x + " perturbed")], ddl)
    )

    def rows(name):
        return sorted(
            tuple(r) for r in spark.read.parquet(os.path.join(store, name)).collect()
        )

    assert rows("decisions") == [(1, "new", None), (2, "near_dup", 1), (3, "new", None)]
    assert [r[0] for r in rows("landed")] == [1, 3]
    assert rows("edges") == [(1, 2)]
    assert rows("clusters") == [(1, 1), (2, 1)]


def _cut_once_at(monkeypatch, *store_names: str) -> None:
    """Make the next ``sinks.upsert_parquet`` commit into each store named
    in ``store_names`` raise before it writes anything (a run cut between
    store commits); once each has been cut, calls run normally."""
    import os

    from eurovision_spark import sinks

    real = sinks.upsert_parquet
    pending = set(store_names)

    def cut(df, path, *args, **kwargs):
        name = os.path.basename(path)
        if name in pending:
            pending.discard(name)
            if not pending:
                monkeypatch.setattr(sinks, "upsert_parquet", real)
            raise RuntimeError(f"cut before the {name} commit")
        return real(df, path, *args, **kwargs)

    monkeypatch.setattr(sinks, "upsert_parquet", cut)


_INTAKE_X = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
_INTAKE_FAR = "one two three four five six seven eight nine ten eleven twelve"
_INTAKE_WAVES = [
    [(1, _INTAKE_X), (3, _INTAKE_FAR)],
    # near copies of both landed docs, one of them sent twice
    [
        (2, _INTAKE_X + " perturbed"),
        (4, _INTAKE_FAR + " perturbed"),
        (5, _INTAKE_X + " perturbed"),
    ],
]
_INTAKE_STORES = ("landed", "index", "sigindex", "decisions", "clusters", "edges")


def _intake_run(spark, store: str, monkeypatch=None, cut_at=None) -> dict[str, list]:
    """Two intake waves into ``store``; with ``cut_at`` (store names), the
    second wave's first run is cut before its commits into those stores
    and the wave is re-run whole (at-least-once recovery). Returns every
    store's rows."""
    import os

    from eurovision_spark.streaming.ingest import intake_batch

    for i, wave in enumerate(_INTAKE_WAVES):
        batch = spark.createDataFrame(wave, "doc_id bigint, text string")
        if cut_at and i == 1:
            _cut_once_at(monkeypatch, *cut_at)
            with pytest.raises(RuntimeError, match="cut before"):
                intake_batch(spark, store, batch)
        intake_batch(spark, store, batch)
    return {
        name: sorted(
            tuple(r) for r in spark.read.parquet(os.path.join(store, name)).collect()
        )
        for name in _INTAKE_STORES
    }


@pytest.fixture(scope="module")
def intake_clean(spark, tmp_path_factory):
    """The uncut two-wave intake, run once for every cut test, under a
    job group: (stores, the jobs that ran in no job group meanwhile)."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    sc.setJobGroup("intake-clean", "intake-clean")
    try:
        stores = _intake_run(spark, str(tmp_path_factory.mktemp("intake") / "clean"))
    finally:
        for prop in ("jobGroup.id", "job.description", "job.interruptOnCancel"):
            sc.setLocalProperty(f"spark.{prop}", None)
    assert tracker.getJobIdsForGroup("intake-clean")
    return stores, set(tracker.getJobIdsForGroup(None)) - before


def test_intake_batch_under_a_job_group_runs_no_job_outside_it(intake_clean):
    """The overlapped store commits run on worker threads; each must
    inherit the caller's job group (streaming counts a query's jobs by
    its runId group), so no job of the run lands in no group."""
    _, escaped = intake_clean
    assert escaped == set()


@pytest.mark.parametrize(
    "cut_at",
    [pytest.param((name,), id=name) for name in _INTAKE_STORES]
    + [
        pytest.param(
            tuple(n for n in _INTAKE_STORES if n != "decisions"), id="decisions_only"
        )
    ],
)
def test_intake_batch_cut_after_its_decisions_commit_then_replayed_equals_clean_run(
    spark, tmp_path, monkeypatch, cut_at, intake_clean
):
    """At-least-once recovery: a batch whose run dies after its decisions
    commit is re-run whole. Every doc of it then has a decision, but its
    matches to docs landed by the earlier batch must still be written:
    all six stores must equal those of a run that was never cut. The
    edges and clusters commits overlap the decisions commit, so a run
    cut AT decisions leaves them landed with no decision and no survivor
    written, and a run whose every other commit fails leaves decisions
    alone committed; their replays must equal a clean run too."""
    clean = intake_clean[0]
    assert clean["edges"] == [(1, 2), (2, 5), (3, 4)]
    assert clean["clusters"] == [(1, 1), (2, 1), (3, 3), (4, 3), (5, 1)]
    assert _intake_run(spark, str(tmp_path / "cut"), monkeypatch, cut_at) == clean


def test_intake_with_spark_round_cc_equals_driver_cc_and_sets_no_conf_mid_commit(
    spark, tmp_path, monkeypatch, intake_clean
):
    """With the driver labeling switched off, the cluster labels come from
    cc_edge_list's Spark rounds, which change session confs: the stores
    must equal the default run's, and no conf change may be held while
    a batch's overlapped commits are open."""
    from contextlib import contextmanager

    from eurovision_spark import sinks
    from eurovision_spark.operators import imp_dedup

    real_conf, real_pool = imp_dedup.scoped_conf, sinks._ConcurrentUpserts
    events: list[str] = []

    @contextmanager
    def conf(spark, confs):
        events.append("conf")
        with real_conf(spark, confs) as prev:
            yield prev

    @contextmanager
    def pool():
        events.append("open")
        with real_pool() as ups:
            yield ups
        events.append("close")

    monkeypatch.setattr(imp_dedup, "LOCAL_CC_EDGES", -1)
    monkeypatch.setattr(imp_dedup, "scoped_conf", conf)
    monkeypatch.setattr(sinks, "_ConcurrentUpserts", pool)
    assert _intake_run(spark, str(tmp_path / "rounds")) == intake_clean[0]
    assert "conf" in events, events
    depth = 0
    for e in events:
        depth += {"open": 1, "close": -1}.get(e, 0)
        assert not (e == "conf" and depth), events


def test_stream_vector_cluster_store_transitive_with_relabel(spark, tmp_path):
    """Vector twin of the cluster store: three waves of rescaled copies
    (cosine 1.0, scale-invariant sign buckets) build one transitive
    cluster, and a smaller id arriving LAST must relabel the stored
    members — labels are min member ids, mirroring the document path."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_vector_dedup

    vecs_dir = tmp_path / "vecs_in"
    vecs_dir.mkdir()
    store = tmp_path / "store"
    base = [float(i % 7 - 3) + 0.25 for i in range(64)]

    def write_wave(name, rows):
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, vecs_dir / f"{name}.parquet")

    write_wave("w1", [(5, base)])
    q = stream_vector_dedup(spark, str(vecs_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        write_wave("w2", [(7, [x * 2.0 for x in base])])
        q.processAllAvailable()
        write_wave("w3", [(1, [x * 4.0 for x in base])])
        q.processAllAvailable()
        # replay the last wave: the store must not change
        write_wave("w3_replay", [(1, [x * 4.0 for x in base])])
        q.processAllAvailable()
        assert _query_jobs(spark, q) <= 64  # job budget: 3 waves + a replay
    finally:
        q.stop()

    clusters = {
        r.vec_id: r.cluster_id
        for r in spark.read.parquet(str(store / "clusters")).collect()
    }
    # 7 matched 5 -> cluster 5; 1 matched 5 later -> min id 1 relabels
    # the whole stored cluster
    assert clusters == {5: 1, 7: 1, 1: 1}, clusters
    assert spark.read.parquet(str(store / "clusters")).count() == 3


def test_vector_replay_of_batch_with_in_batch_near_pair_changes_no_store(
    spark, tmp_path
):
    """Vector twin of the intake replay test: a wave holding a rescaled
    pair of its own lands both vectors and derives no cluster (no
    in-batch near pass). Its replay finds both already landed; those
    matches against the wave's own ids must be dropped like self-pairs,
    or the replay writes cluster rows the first run never wrote."""
    import os
    import shutil

    from eurovision_spark.streaming.ingest import stream_vector_dedup

    vecs_dir = tmp_path / "vecs_in"
    vecs_dir.mkdir()
    store = tmp_path / "store"
    va = [float(i % 7 - 3) + 0.25 for i in range(64)]
    vb = [float((i * 3) % 11 - 5) - 0.5 for i in range(64)]
    wave = [(1, va), (2, [x * 2.0 for x in va]), (3, vb)]
    stores = ("landed", "decisions", "clusters")

    def write_wave(name, rows):
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, vecs_dir / f"{name}.parquet")

    def counts() -> dict[str, int]:
        return {
            name: spark.read.parquet(str(store / name)).count()
            if os.path.isdir(store / name)
            else 0
            for name in stores
        }

    write_wave("w1", wave)
    q = stream_vector_dedup(spark, str(vecs_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        first = counts()
        write_wave("w1_replay", wave)
        q.processAllAvailable()
    finally:
        q.stop()

    assert first == {"landed": 3, "decisions": 3, "clusters": 0}, first
    assert counts() == first


def test_vector_wave_resending_a_landed_vector_keeps_a_fresh_near_copys_match(
    spark, tmp_path
):
    """A wave that re-sends landed vector 1 together with a fresh rescaled
    copy 2 of it: only the re-sent vector's matches are dropped (it was
    decided earlier), so 2 is still decided near_dup of 1 and the two
    share a cluster, as if 1 had not been re-sent."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_vector_dedup

    vecs_dir = tmp_path / "vecs_in"
    vecs_dir.mkdir()
    store = tmp_path / "store"
    va = [float(i % 7 - 3) + 0.25 for i in range(64)]
    vb = [float((i * 3) % 11 - 5) - 0.5 for i in range(64)]

    def write_wave(name, rows):
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, vecs_dir / f"{name}.parquet")

    write_wave("w1", [(1, va), (3, vb)])
    q = stream_vector_dedup(spark, str(vecs_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        write_wave("w2", [(1, va), (2, [x * 2.0 for x in va])])
        q.processAllAvailable()
    finally:
        q.stop()

    def rows(name):
        return sorted(tuple(r) for r in spark.read.parquet(str(store / name)).collect())

    assert rows("decisions") == [(1, "new", None), (2, "near_dup", 1), (3, "new", None)]
    assert [r[0] for r in rows("landed")] == [1, 3]
    assert rows("clusters") == [(1, 1), (2, 1)]


def _vector_run(spark, root, monkeypatch=None, cut_at=None) -> dict[str, list]:
    """Two vector waves streamed into a store under ``root``; with
    ``cut_at``, the second wave's first run is cut before its commit
    into that store, which fails the query, and a restart from the same
    checkpoint re-runs the wave. Returns every store's rows."""
    import shutil

    from pyspark.errors import StreamingQueryException

    from eurovision_spark.streaming.ingest import stream_vector_dedup

    va = [float(i % 7 - 3) + 0.25 for i in range(64)]
    vb = [float((i * 3) % 11 - 5) - 0.5 for i in range(64)]
    waves = [
        [(1, va), (3, vb)],
        [(2, [x * 2.0 for x in va]), (4, [x * 3.0 for x in vb])],
    ]
    vecs_dir = root / "vecs_in"
    vecs_dir.mkdir(parents=True)
    store = root / "store"
    ck = str(root / "ck")
    for i, wave in enumerate(waves):
        out = root / f"w{i}"
        spark.createDataFrame(
            wave, "vec_id bigint, embedding array<double>"
        ).coalesce(1).write.parquet(str(out))
        shutil.copy(next(out.glob("part-*.parquet")), vecs_dir / f"w{i}.parquet")
        if cut_at and i == 1:
            _cut_once_at(monkeypatch, cut_at)
            q = stream_vector_dedup(spark, str(vecs_dir), str(store), ck)
            try:
                with pytest.raises(StreamingQueryException, match="cut before"):
                    q.processAllAvailable()
            finally:
                q.stop()
        q = stream_vector_dedup(spark, str(vecs_dir), str(store), ck)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
    return {
        name: sorted(tuple(r) for r in spark.read.parquet(str(store / name)).collect())
        for name in ("landed", "decisions", "clusters")
    }


@pytest.fixture(scope="module")
def vector_clean(spark, tmp_path_factory):
    """The uncut two-wave vector intake, run once for every cut test."""
    return _vector_run(spark, tmp_path_factory.mktemp("vector") / "clean")


@pytest.mark.parametrize("cut_at", ["landed", "clusters"])
def test_vector_wave_cut_after_its_decisions_commit_then_replayed_equals_clean_run(
    spark, tmp_path, monkeypatch, cut_at, vector_clean
):
    """Vector twin of the intake recovery test: a wave whose run dies
    after its decisions commit fails the query; a restart from the same
    checkpoint re-runs the wave, and its matches to vectors landed by the
    earlier wave must still be written, so every store equals that of a
    run that was never cut."""
    assert vector_clean["clusters"] == [(1, 1), (2, 1), (3, 3), (4, 3)]
    assert _vector_run(spark, tmp_path / "cut", monkeypatch, cut_at) == vector_clean


def test_stream_quality_gate_equals_batch_classifier(spark, sf_dir, tmp_path):
    """The learned quality filter scores an arriving document stream
    with weights trained offline on the landed corpus, and must agree
    with the batch classifier row-for-row (shared scoring core, shared
    trained weights — one definition for both planes)."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_quality_gate

    docs_dir = str(tmp_path / "docs_qc_stream")
    (tmp_path / "docs_qc_stream").mkdir()
    shutil.copy(f"{sf_dir}/documents.parquet", docs_dir)

    q = (
        stream_quality_gate(spark, docs_dir, sf_dir)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("qc_stream")
        .start()
    )
    try:
        q.processAllAvailable()
        streamed = {
            r["doc_id"]: (r["qc_logit"], r["qc_label"])
            for r in spark.sql("SELECT * FROM qc_stream").collect()
        }
    finally:
        q.stop()

    from eurovision_spark.catalog import registry

    batch = {
        r["doc_id"]: (r["qc_logit"], r["qc_label"])
        for r in registry()["quality_classifier"].fn(spark, sf_dir).collect()
    }
    assert streamed == batch and len(batch) > 0


def test_stream_span_dedup_matches_batch_core_on_union(spark, tmp_path):
    """Block-level intake dedup: a block landed in wave 1 must be cut
    from every later arrival, in-batch repeats keep only their first
    occurrence, the final landed store equals the BATCH span-dedup core
    run over the union (doc_id-ordered arrival == global min survivor),
    and replaying a wave changes neither store."""
    import shutil

    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    from eurovision_spark.operators.dedup import (
        apply_block_removals,
        block_rows,
        doc_blocks,
    )
    from eurovision_spark.streaming.ingest import stream_span_dedup

    docs_dir = tmp_path / "docs_in"
    docs_dir.mkdir()
    store = tmp_path / "store"

    def blk8(tag):  # one full 8-token block of distinct words
        return " ".join(f"{tag}{i}" for i in range(8))

    A, B, C, D = blk8("a"), blk8("b"), blk8("c"), blk8("d")
    waves = {
        "wave1": [(1, f"{A} {B}")],
        # B repeats from wave1 (cross-batch); C is new
        "wave2": [(10, f"{B} {C}")],
        # C and A repeat across batches; D appears twice IN-batch
        "wave3": [(20, f"{C} {A} {D}"), (21, f"{D} {blk8('e')}")],
    }

    def write_wave(name):
        spark.createDataFrame(
            [(i, t, len(t)) for i, t in waves[name]],
            "doc_id bigint, text string, n_chars int",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    write_wave("wave1")
    q = stream_span_dedup(spark, str(docs_dir), str(store), str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        write_wave("wave2")
        q.processAllAvailable()
        write_wave("wave3")
        q.processAllAvailable()
        landed_before = {
            r.doc_id: tuple(r) for r in spark.read.parquet(str(store / "landed")).collect()
        }
        idx_before = {
            r.bh: (r.doc_id, r.bi)
            for r in spark.read.parquet(str(store / "blockindex")).collect()
        }
        # replay wave 3 under a new file name (same rows re-delivered)
        shutil.copy(docs_dir / "wave3.parquet", docs_dir / "wave3_replay.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    landed = {
        r.doc_id: tuple(r) for r in spark.read.parquet(str(store / "landed")).collect()
    }
    idx = {
        r.bh: (r.doc_id, r.bi)
        for r in spark.read.parquet(str(store / "blockindex")).collect()
    }
    assert landed == landed_before and idx == idx_before, "replay mutated a store"

    # expected cuts: doc 10 loses B, doc 20 loses C and A, doc 21 loses D
    by_id = {d: r for d, r in landed.items()}
    assert by_id[1][4] == f"{A} {B}"
    assert by_id[10][4] == C
    assert by_id[20][4] == D
    assert by_id[21][4] == blk8("e")

    # batch-core parity on the union (arrival is doc_id-ordered)
    union = spark.createDataFrame(
        [(i, t) for rows in waves.values() for i, t in rows], "doc_id bigint, text string"
    )
    blk = doc_blocks(union)
    w = W.partitionBy("bh").orderBy("doc_id", "bi")
    removed = (
        block_rows(union).withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select("doc_id", "bi")
    )
    batch_out = {r.doc_id: tuple(r) for r in apply_block_removals(blk, removed).collect()}
    assert batch_out == landed


def test_refresh_corpus_matches_from_scratch_intake(spark, tmp_path):
    """refresh(v1 -> v2) must leave the landed / index / sigindex /
    decisions / clusters stores EQUAL to a from-scratch intake of v2
    (r05 item #6), on a fixture exercising every delta class the
    equality contract covers: an unchanged doc, an unchanged exact-dup
    member whose landed representative is REMOVED (promotion), a
    removed dup member, a doc CHANGED into an exact dup of a landed
    doc, an added exact dup, and an added fresh doc. A second refresh
    then pins the documented arrival-order divergence: a doc added as
    a NEAR-dup of landed text is decided 'near_dup' against the store
    (where a from-scratch single batch would land both)."""
    import os

    from eurovision_spark.streaming.ingest import (
        intake_batch,
        refresh_corpus,
        snapshot_digests,
    )

    t1 = "alpha bravo charlie delta echo foxtrot golf"
    t3 = "hotel india juliet kilo lima mike november"
    t4 = "oscar papa quebec romeo sierra tango uniform"
    t5 = "whiskey xray yankee zulu one two three"
    t8 = "fresh document eight with wholly new text here"
    v1 = [(1, t1), (2, t1), (3, t3), (4, t4), (5, t5), (6, t5)]
    v2 = [(2, t1), (3, t3), (4, t3), (5, t5), (7, t5), (8, t8)]

    def mkdf(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def store_state(d):
        out = {}
        for name in ("landed", "index", "sigindex", "decisions", "clusters", "edges"):
            p = os.path.join(d, name)
            if not os.path.exists(p):
                out[name] = None
                continue
            df = spark.read.parquet(p)
            if "sh" in df.columns:
                from pyspark.sql import functions as F

                df = df.withColumn("sh", F.array_sort("sh"))
            out[name] = sorted(map(tuple, df.collect()))
        return out

    refreshed = str(tmp_path / "refreshed")
    scratch = str(tmp_path / "scratch")
    intake_batch(spark, refreshed, mkdf(v1))
    delta = {
        (r.doc_id, r.status)
        for r in refresh_corpus(
            spark, refreshed, snapshot_digests(mkdf(v1)), mkdf(v2)
        ).collect()
    }
    assert delta == {
        (1, "removed"), (6, "removed"), (4, "changed"),
        (7, "added"), (8, "added"),
    }
    intake_batch(spark, scratch, mkdf(v2))
    assert store_state(refreshed) == store_state(scratch)
    dec = {
        r.doc_id: (r.decision, r.matched_id)
        for r in spark.read.parquet(os.path.join(refreshed, "decisions")).collect()
    }
    # the promotion case: 2 (orphaned by 1's removal) re-landed as new
    assert dec[2] == ("new", None)
    assert dec[4] == ("exact_dup", 3) and dec[7] == ("exact_dup", 5)

    # second refresh: near-dup arrival against the landed store
    t9 = t3 + " perturbed"
    v3 = v2 + [(9, t9)]
    refresh_corpus(spark, refreshed, snapshot_digests(mkdf(v2)), mkdf(v3))
    dec = {
        r.doc_id: (r.decision, r.matched_id)
        for r in spark.read.parquet(os.path.join(refreshed, "decisions")).collect()
    }
    assert dec[9] == ("near_dup", 3)
    landed = {
        r.doc_id
        for r in spark.read.parquet(os.path.join(refreshed, "landed")).collect()
    }
    assert landed == {2, 3, 5, 8}
    clusters = {
        (r.doc_id, r.cluster_id)
        for r in spark.read.parquet(os.path.join(refreshed, "clusters")).collect()
    }
    assert (9, 3) in clusters and (3, 3) in clusters


def test_refresh_corpus_splits_cluster_when_bridge_retired(spark, tmp_path):
    """r06 item #5: the clusters store persists its verified edges, so
    a recrawl that retires the BRIDGE doc of a chain cluster must SPLIT
    the cluster (here: dissolve it — both ends lose their only dup
    relation), leaving store state equal to a from-scratch intake of v2
    — the old relabel-without-split would have kept {A, C} merged.
    Retiring a LEAF member instead must keep the surviving pair intact.

    Fixture: B is a near-dup of BOTH A and C (Jaccard 35/40 = 0.875
    each) while A-vs-C sits below the gate (30/40 = 0.75): A and C land
    together in batch 1 (in-batch near pass elided by design), B
    arrives in batch 2 and bridges them into one cluster."""
    import os
    import shutil

    from eurovision_spark.streaming.ingest import (
        intake_batch,
        refresh_corpus,
        snapshot_digests,
    )

    toks = [f"tok{i:02d}" for i in range(42)]
    A = (101, " ".join(toks[:37]))       # first 37 tokens -> shingles 1..35
    B = (102, " ".join(toks))            # all 42 tokens   -> shingles 1..40
    C = (103, " ".join(toks[5:]))        # last 37 tokens  -> shingles 6..40

    def mkdf(rows):
        return spark.createDataFrame(rows, "doc_id bigint, text string")

    def snap(d, name):
        p = os.path.join(d, name)
        if not os.path.exists(p):
            return []
        return sorted(map(tuple, spark.read.parquet(p).collect()))

    base = str(tmp_path / "base")
    intake_batch(spark, base, mkdf([A, C]))
    intake_batch(spark, base, mkdf([B]))
    # the bridge cluster formed, with its edges persisted
    assert snap(base, "clusters") == [(101, 101), (102, 101), (103, 101)]
    assert snap(base, "edges") == [(101, 102), (102, 103)]

    # branch 1: retire the bridge -> cluster dissolves entirely
    bridge = str(tmp_path / "bridge")
    shutil.copytree(base, bridge)
    v1 = [A, B, C]
    v2 = [A, C]
    refresh_corpus(spark, bridge, snapshot_digests(mkdf(v1)), mkdf(v2))
    assert snap(bridge, "clusters") == []
    assert snap(bridge, "edges") == []
    scratch = str(tmp_path / "scratch")
    intake_batch(spark, scratch, mkdf(v2))
    for name in ("landed", "decisions", "clusters", "edges"):
        assert snap(bridge, name) == snap(scratch, name), name

    # branch 2: retire a leaf (C) -> the A-B pair survives as a cluster
    leaf = str(tmp_path / "leaf")
    shutil.copytree(base, leaf)
    refresh_corpus(spark, leaf, snapshot_digests(mkdf(v1)), mkdf([A, B]))
    assert snap(leaf, "clusters") == [(101, 101), (102, 101)]
    assert snap(leaf, "edges") == [(101, 102)]


def _query_jobs(spark, q) -> int:
    """Spark jobs a streaming query has run: each micro-batch runs under
    the job group ``str(q.runId)``."""
    return len(spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId)))


def test_stream_drift_gate_alerts_and_is_replay_stable(spark, tmp_path):
    """The intake drift gate: same-distribution batches pass (low KS,
    no alert), a shifted batch alarms (disjoint support -> KS 1.0),
    the ledger statistic equals the BATCH ks_drift formulation on the
    same split (twin parity), and an at-least-once replay changes
    neither the ledger nor the baseline histogram."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from eurovision_spark.operators.textstats import ks_drift_frame
    from eurovision_spark.streaming.ingest import stream_drift_gate

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    store = tmp_path / "store"

    def wave(name, rows):
        spark.createDataFrame(
            rows, "doc_id bigint, text string, n_chars int"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    w1 = [(i, "x", 100 + (i % 7)) for i in range(300)]
    w2 = [(1000 + i, "x", 100 + (i % 7)) for i in range(300)]
    w3 = [(2000 + i, "x", 1500 + (i % 5)) for i in range(150)]

    wave("w1", w1)
    q = stream_drift_gate(spark, str(docs_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        wave("w2", w2)
        q.processAllAvailable()
        wave("w3", w3)
        q.processAllAvailable()
        ledger_before = sorted(
            map(tuple, spark.read.parquet(str(store / "drift_ledger")).collect())
        )
        hist_before = sorted(
            map(tuple, spark.read.parquet(str(store / "hist_batches")).collect())
        )
        shutil.copy(docs_dir / "w3.parquet", docs_dir / "w3_replay.parquet")
        q.processAllAvailable()
        assert _query_jobs(spark, q) <= 52  # job budget: 3 waves + a replay
    finally:
        q.stop()

    rows = sorted(
        spark.read.parquet(str(store / "drift_ledger")).collect(),
        key=lambda r: (r.ks_vs_baseline is not None, r.ks_vs_baseline or -1),
    )
    first, second, third = rows
    assert first.ks_vs_baseline is None and first.alert == 0  # no baseline yet
    assert second.ks_vs_baseline < 0.3 and second.alert == 0  # same distribution
    assert third.ks_vs_baseline == 1.0 and third.alert == 1  # disjoint support

    # replay mutated nothing
    assert ledger_before == sorted(
        map(tuple, spark.read.parquet(str(store / "drift_ledger")).collect())
    )
    assert hist_before == sorted(
        map(tuple, spark.read.parquet(str(store / "hist_batches")).collect())
    )

    # batch-twin parity: with exactly two labeled slices, ks_drift's
    # source-vs-rest IS the two-sample statistic the gate computed
    union = spark.createDataFrame(
        [("base", n) for _, _, n in w1 + w2] + [("w3", n) for _, _, n in w3],
        "source string, n_chars int",
    )
    batch_ks = {
        r.source: r.ks_vs_rest for r in ks_drift_frame(union).collect()
    }
    assert batch_ks["w3"] == third.ks_vs_baseline


def test_stream_drift_gate_recrawled_batch_does_not_fold_into_baseline(spark, tmp_path):
    """A wave that re-sends landed ids with recrawled content has the
    landed wave's batch key (the key digests the id multiset), so its
    ledger upsert is a no-op — and its histogram must be one too. Keyed
    on (batch_key, bin), the recrawl's new bins were folded under the
    landed key: the baseline held 600 docs of mass under a 300-doc
    ledger row, and a later wave distributed like the first read KS 0.5
    with a spurious alert."""
    import shutil

    from pyspark.sql import functions as F

    from eurovision_spark.streaming.ingest import stream_drift_gate

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    store = tmp_path / "store"

    def wave(name, rows):
        spark.createDataFrame(
            rows, "doc_id bigint, text string, n_chars int"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    wave("w1", [(i, "x", 100 + (i % 7)) for i in range(300)])
    q = stream_drift_gate(spark, str(docs_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        wave("w1b", [(i, "x", 1500 + (i % 5)) for i in range(300)])  # recrawl
        q.processAllAvailable()
        wave("w2", [(1000 + i, "x", 100 + (i % 7)) for i in range(300)])
        q.processAllAvailable()
    finally:
        q.stop()

    hist = spark.read.parquet(str(store / "hist_batches"))
    mass = hist.groupBy("batch_key").agg(F.sum("n").alias("n")).collect()
    assert sorted(r.n for r in mass) == [300.0, 300.0]  # one wave's docs per key
    rows = spark.read.parquet(str(store / "drift_ledger")).collect()
    assert len(rows) == 2
    w2 = next(r for r in rows if r.ks_vs_baseline is not None)
    assert w2.ks_vs_baseline == 0.0 and w2.alert == 0


def test_drift_batch_key_is_64_bit_and_survives_32_bit_collisions(spark):
    """r07 hardening: the gate's batch digest must have genuine 64-bit
    entropy. Forced 32-bit collision pair: among doc_ids 0..4095,
    Spark's 32-bit Murmur3 hash() gives hash(601)^hash(1845) ==
    hash(2982)^hash(3865) (found by an exhaustive pairwise-xor sweep of
    that pool — deterministic, hash() is seeded at 42; re-run the sweep
    if this ever drifts). Under the old count+bit_xor(hash) digest the
    two DISTINCT same-count batches {601,1845} and {2982,3865} keyed
    identically, so the second batch's ledger row and baseline
    histogram were silently dropped (keep=existing no-ops). The
    xxhash64-based drift_batch_key must tell them apart."""
    from pyspark.sql import functions as F

    from eurovision_spark.streaming.ingest import drift_batch_key

    b1, b2 = [601, 1845], [2982, 3865]

    def h32_xor(ids):
        df = spark.createDataFrame([(int(i),) for i in ids], "doc_id bigint")
        return df.agg(F.expr("bit_xor(hash(doc_id))")).first()[0]

    # the premise: this IS a 32-bit digest collision (same count too)
    assert h32_xor(b1) == h32_xor(b2)

    def mk(ids):
        return spark.createDataFrame([(int(i),) for i in ids], "doc_id bigint")

    n1, k1 = drift_batch_key(mk(b1))
    n2, k2 = drift_batch_key(mk(b2))
    assert n1 == n2 == 2
    assert k1 != k2  # 64-bit content digest separates the collision pair
    # replay-stable: same rows, any order/partitioning -> same key
    assert drift_batch_key(mk(list(reversed(b1))).repartition(4))[1] == k1
    # duplicate doc_ids must NOT self-cancel out of the digest: under a
    # bare per-row xor, {7,7,9} and {8,8,9} both fold to h(9) (h^h=0)
    # and collide at equal count — the multiplicity-folded digest keys
    # the MULTISET, so they differ, and a reordered replay of the
    # duplicate-carrying batch still keys identically
    nd1, kd1 = drift_batch_key(mk([7, 7, 9]))
    nd2, kd2 = drift_batch_key(mk([8, 8, 9]))
    assert nd1 == nd2 == 3
    assert kd1 != kd2
    assert drift_batch_key(mk([9, 7, 7]).repartition(3))[1] == kd1
    # and multiplicity matters within one id too: {7,7} vs {7} differ
    assert drift_batch_key(mk([7, 7]))[1] != drift_batch_key(mk([7]))[1]
    # empty batch degrades explicitly
    assert drift_batch_key(mk([]).filter(F.lit(False)))[0] == 0


def test_stream_lang_gate_alerts_and_is_replay_stable(spark, tmp_path):
    """The categorical intake gate: same-language-mix batches pass
    (low chi-square, no alert), a batch that flips to a language the
    baseline never saw alarms — while its LENGTH profile matches, so
    the numeric gate would stay silent — and an at-least-once replay
    changes neither the ledger nor the stored category histograms."""
    import shutil

    from eurovision_spark.operators.textstats import chisq_drift_frame
    from eurovision_spark.streaming.ingest import stream_lang_gate

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    store = tmp_path / "store"

    def wave(name, rows):
        spark.createDataFrame(
            rows, "doc_id bigint, lang string, n_chars int"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    def mix(base_id, langs):
        return [(base_id + i, langs[i % len(langs)], 100 + (i % 7)) for i in range(300)]

    wave("w1", mix(0, ["en", "de"]))
    q = stream_lang_gate(spark, str(docs_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        wave("w2", mix(1000, ["en", "de"]))
        q.processAllAvailable()
        wave("w3", mix(2000, ["zz"]))  # same lengths, flipped language
        q.processAllAvailable()
        ledger_before = sorted(
            map(tuple, spark.read.parquet(str(store / "lang_ledger")).collect())
        )
        hist_before = sorted(
            map(tuple, spark.read.parquet(str(store / "cat_batches")).collect())
        )
        shutil.copy(docs_dir / "w3.parquet", docs_dir / "w3_replay.parquet")
        q.processAllAvailable()
        assert _query_jobs(spark, q) <= 49  # job budget: 3 waves + a replay
    finally:
        q.stop()

    rows = sorted(
        spark.read.parquet(str(store / "lang_ledger")).collect(),
        key=lambda r: (
            r.chisq_vs_baseline is not None,
            r.chisq_vs_baseline or -1,
        ),
    )
    assert len(rows) == 3
    first, second, third = rows
    assert first.chisq_vs_baseline is None and first.dof is None and first.alert == 0
    assert second.alert == 0 and second.chisq_vs_baseline < 10.0  # same mix
    assert third.alert == 1 and third.dof == 2  # en, de, zz on the grid
    assert third.chisq_vs_baseline > 100.0  # exclusive language fires hard

    # replay mutated nothing
    assert ledger_before == sorted(
        map(tuple, spark.read.parquet(str(store / "lang_ledger")).collect())
    )
    assert hist_before == sorted(
        map(tuple, spark.read.parquet(str(store / "cat_batches")).collect())
    )

    # batch-twin parity: with exactly two sources, chisq_drift's
    # source-vs-rest IS the batch-vs-baseline statistic the gate computed
    union = spark.createDataFrame(
        [("base", lang) for _, lang, _ in mix(0, ["en", "de"]) + mix(1000, ["en", "de"])]
        + [("w3", lang) for _, lang, _ in mix(2000, ["zz"])],
        "source string, lang string",
    )
    twin = {r.source: r for r in chisq_drift_frame(union).collect()}
    assert twin["w3"].chisq_vs_rest == third.chisq_vs_baseline
    assert twin["w3"].dof == third.dof


def test_stream_lang_gate_null_category_is_one_cell(spark, tmp_path):
    """r08 review finding: lang=NULL must behave as ONE category on
    both sides of the grid. Two batches with the identical en/NULL mix
    must score near-zero chi-square with dof=1 (two cells: en, <null>)
    and no alert — an un-coalesced NULL would split into two
    maximal-drift rows and fire."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_lang_gate

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()

    def wave(name, base_id):
        rows = [
            (base_id + i, "en" if i % 2 else None, 100 + (i % 7))
            for i in range(200)
        ]
        spark.createDataFrame(
            rows, "doc_id bigint, lang string, n_chars int"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    wave("w1", 0)
    q = stream_lang_gate(spark, str(docs_dir), str(tmp_path / "store"), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        wave("w2", 1000)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(str(tmp_path / "store" / "lang_ledger")).collect()
    scored = [r for r in rows if r.chisq_vs_baseline is not None]
    assert len(scored) == 1
    assert scored[0].dof == 1  # en + <null>, one cell each
    assert scored[0].chisq_vs_baseline < 1.0 and scored[0].alert == 0


def test_stream_drift_gate_grids_share_a_store(spark, tmp_path):
    """r08 review finding: two gates with different (value, width)
    grids over the SAME store_dir must keep separate baselines — the
    second grid's first batch has nothing of ITS OWN to drift from
    (statistic null), instead of comparing against the other grid's
    incompatible bins."""
    import shutil

    from eurovision_spark.streaming.ingest import stream_drift_gate

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    store = tmp_path / "store"

    def wave(name, rows):
        spark.createDataFrame(
            rows, "doc_id bigint, text string, n_chars int"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    wave("w1", [(i, "x", 100 + (i % 7)) for i in range(200)])
    q1 = stream_drift_gate(spark, str(docs_dir), str(store), str(tmp_path / "ck1"))
    try:
        q1.processAllAvailable()
    finally:
        q1.stop()

    # same store, different grid (width): its first batch must see NO
    # baseline even though hist_batches already has the other grid's rows
    q2 = stream_drift_gate(
        spark, str(docs_dir), str(store), str(tmp_path / "ck2"), width=2.0
    )
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    rows = spark.read.parquet(str(store / "drift_ledger")).collect()
    assert len(rows) == 2  # one ledger row per grid for the same batch
    assert all(r.ks_vs_baseline is None and r.alert == 0 for r in rows)


def test_stream_embedding_gate_alerts_and_is_replay_stable(spark, tmp_path):
    """The embedding-space intake gate: same-direction batches pass
    (centroid cosine near 1, no alert), an orthogonal batch alarms
    (the encoder-flip / poisoned-source event the text gates miss),
    the ledger statistic equals the BATCH embedding_drift formulation
    on the same two-group split (twin parity, to one 6dp rounding
    quantum), and an at-least-once replay changes neither the ledger
    nor the stored per-dim sums."""
    import shutil

    from pyspark.sql import functions as F

    from eurovision_spark.operators.similarity import as_double, embedding_drift_frame
    from eurovision_spark.streaming.ingest import stream_embedding_gate

    emb_dir = tmp_path / "emb"
    emb_dir.mkdir()
    store = tmp_path / "store"

    def wave(name, rows):
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>, label int"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, emb_dir / f"{name}.parquet")

    def vec(axis, i):
        v = [0.0, 0.0, 0.0]
        v[axis] = 1.0
        v[(axis + 1) % 3] = 0.001 * i  # tiny jitter, same direction
        return v

    w1 = [(i, vec(0, i), 0) for i in range(100)]
    w2 = [(1000 + i, vec(0, i), 0) for i in range(100)]  # same direction
    w3 = [(2000 + i, vec(2, i), 0) for i in range(80)]  # orthogonal

    wave("w1", w1)
    q = stream_embedding_gate(spark, str(emb_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        wave("w2", w2)
        q.processAllAvailable()
        wave("w3", w3)
        q.processAllAvailable()
        ledger_before = sorted(
            map(tuple, spark.read.parquet(str(store / "emb_ledger")).collect())
        )
        sums_before = sorted(
            map(tuple, spark.read.parquet(str(store / "emb_batches")).collect())
        )
        shutil.copy(emb_dir / "w3.parquet", emb_dir / "w3_replay.parquet")
        q.processAllAvailable()
        assert _query_jobs(spark, q) <= 49  # job budget: 3 waves + a replay
    finally:
        q.stop()

    rows = sorted(
        spark.read.parquet(str(store / "emb_ledger")).collect(),
        key=lambda r: (r.cos_vs_baseline is not None, r.cos_vs_baseline or -2),
    )
    assert len(rows) == 3
    first, low, high = rows
    assert first.cos_vs_baseline is None and first.alert == 0  # no baseline yet
    assert high.cos_vs_baseline > 0.99 and high.alert == 0  # same direction
    assert low.cos_vs_baseline < 0.2 and low.alert == 1  # orthogonal batch

    # replay mutated nothing
    assert ledger_before == sorted(
        map(tuple, spark.read.parquet(str(store / "emb_ledger")).collect())
    )
    assert sums_before == sorted(
        map(tuple, spark.read.parquet(str(store / "emb_batches")).collect())
    )

    # batch-twin parity: with exactly two labels, embedding_drift's
    # label-vs-rest IS the batch-vs-baseline cosine the gate computed
    base_df = spark.read.parquet(str(tmp_path / "w1"), str(tmp_path / "w2"))
    w3_df = spark.read.parquet(str(tmp_path / "w3"))
    union = base_df.select(
        F.lit(0).alias("label"), as_double(F.col("embedding")).alias("v")
    ).unionByName(
        w3_df.select(F.lit(1).alias("label"), as_double(F.col("embedding")).alias("v"))
    )
    twin = {r.label: r.cos_vs_rest for r in embedding_drift_frame(union).collect()}
    assert abs(twin[1] - low.cos_vs_baseline) <= 1e-6


def test_stream_embedding_gate_ragged_batch_matches_its_twin(spark, tmp_path):
    """An encoder that widens its vectors must not pass the gate. The
    batch centroid's norm covers every dim the BATCH has, as in
    embedding_drift_frame (a short vector is absent from, not zero at,
    its missing dims): baseline [1,0] vs batch [1,0,5] reads
    1/sqrt(26) = 0.196116 there. An inner join on the dim dropped the
    batch's extra dim and read 1.0."""
    import shutil

    from pyspark.sql import functions as F

    from eurovision_spark.operators.similarity import as_double, embedding_drift_frame
    from eurovision_spark.streaming.ingest import stream_embedding_gate

    emb_dir = tmp_path / "emb"
    emb_dir.mkdir()
    store = tmp_path / "store"
    w1 = [(i, [1.0, 0.0]) for i in range(20)]
    w2 = [(100 + i, [1.0, 0.0, 5.0]) for i in range(20)]

    def wave(name, rows):
        spark.createDataFrame(
            rows, "vec_id bigint, embedding array<float>"
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, emb_dir / f"{name}.parquet")

    wave("w1", w1)
    q = stream_embedding_gate(spark, str(emb_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        wave("w2", w2)
        q.processAllAvailable()
    finally:
        q.stop()

    rows = spark.read.parquet(str(store / "emb_ledger")).collect()
    scored = [r for r in rows if r.cos_vs_baseline is not None]
    assert len(rows) == 2 and len(scored) == 1
    union = spark.createDataFrame(
        [(0, v) for _, v in w1] + [(1, v) for _, v in w2],
        "label int, embedding array<float>",
    ).select("label", as_double(F.col("embedding")).alias("v"))
    twin = {r.label: r.cos_vs_rest for r in embedding_drift_frame(union).collect()}
    assert twin[1] == 0.196116
    assert scored[0].cos_vs_baseline == twin[1] and scored[0].alert == 1


def test_stream_split_assign_inherits_detects_conflicts_and_replays(spark, tmp_path):
    """The streaming leakage-safe split: (1) singletons get hash_split's
    exact rule; (2) a later near-copy INHERITS its cluster's min-id
    member's split instead of re-rolling; (3) a bridge doc that merges
    two already-differently-split singletons cannot repair them —
    landed assignments are immutable — but the straddle lands in
    split_conflicts/; (4) replay changes nothing; (5) a later merge
    that RELABELS the conflicted cluster (new min member) moves the
    quarantine row to the new label and prunes the stale one (the r09
    advice fix — keyed upserts alone would leave the dead label's row
    in the store forever)."""
    import hashlib
    import shutil

    from eurovision_spark.streaming.ingest import stream_split_assign

    def hash_split(i):
        b = int(hashlib.md5(f"{i}:splitseed".encode()).hexdigest()[:15], 16) % 100
        return "train" if b < 90 else "valid" if b < 95 else "test"

    # doc 1 hashes to 'valid', doc 2 to 'train' (computed, not assumed)
    assert hash_split(1) == "valid" and hash_split(2) == "train"
    base = [f"tok{i}" for i in range(20)]
    extra = ["xa", "xb", "xc", "xd", "xe"]
    t1 = " ".join(base)                    # 18 shingles
    t2 = " ".join(base + extra)            # jaccard(1,2) = 18/23 < 0.8
    bridge = " ".join(base + extra[:2])    # 0.90 vs doc1, 0.87 vs doc2
    fresh = " ".join(f"zq{i}" for i in range(20))

    docs_dir = tmp_path / "docs_in"
    docs_dir.mkdir()
    store = tmp_path / "store"

    def write_wave(name, rows):
        spark.createDataFrame(
            [(i, t, len(t)) for i, t in rows],
            "doc_id bigint, text string, n_chars int",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    def read_splits():
        return {
            r.doc_id: (r.split, r.via)
            for r in spark.read.parquet(str(store / "splits")).collect()
        }

    write_wave("wave1", [(1, t1), (2, t2)])
    q = stream_split_assign(spark, str(docs_dir), str(store), str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        s1 = read_splits()
        assert s1 == {1: ("valid", "hash"), 2: ("train", "hash")}
        import os

        assert not os.path.exists(str(store / "split_conflicts"))
        write_wave("wave2", [(300, bridge), (301, fresh)])
        q.processAllAvailable()
        s2 = read_splits()
        # the bridge merged {1, 2, 300}: it INHERITS the min-id split
        # member's split (doc 1, 'valid'); the fresh doc hash-rolls
        assert s2[300] == ("valid", "inherited")
        assert s2[301] == (hash_split(301), "hash")
        # immutability: the pre-merge assignments never move
        assert s2[1] == s1[1] and s2[2] == s1[2]
        # the straddle is DETECTED: one conflict row for the merged
        # cluster (label = min member id 1), splits sorted
        conf = {
            r.cluster_id: (r.n_splits, r.splits)
            for r in spark.read.parquet(str(store / "split_conflicts")).collect()
        }
        assert conf == {1: (2, "train,valid")}
        # replay wave 2 (at-least-once delivery): nothing changes
        write_wave("wave2_replay", [(300, bridge), (301, fresh)])
        q.processAllAvailable()
        assert read_splits() == s2
        conf2 = {
            r.cluster_id: (r.n_splits, r.splits)
            for r in spark.read.parquet(str(store / "split_conflicts")).collect()
        }
        assert conf2 == conf
        assert spark.read.parquet(str(store / "splits")).count() == 4
        # (5) doc 0 near-dups doc 1 and merges into the cluster, whose
        # min-member label RELABELS from 1 to 0: the straddle row must
        # re-key to 0 and the stale key-1 row must be pruned
        t0 = " ".join(base + ["xz"])  # jaccard vs t1 = 18/19 >= 0.8
        write_wave("wave3", [(0, t0)])
        q.processAllAvailable()
        s3 = read_splits()
        assert s3[0] == ("valid", "inherited")  # min split member: doc 1
        conf3 = {
            r.cluster_id: (r.n_splits, r.splits)
            for r in spark.read.parquet(str(store / "split_conflicts")).collect()
        }
        assert conf3 == {0: (2, "train,valid")}
    finally:
        q.stop()


def test_stream_rate_gate_flags_spike_and_replays_stable(spark, tmp_path):
    """The events-modality intake gate: a baseline wave of steady
    hourly rates lands with no alert (nothing to drift from), a spike
    wave whose (type, hour) cell sits far above the landed per-type
    rate distribution fires, a steady same-rate wave stays quiet, and
    a replayed wave changes neither ledger nor baseline (first-wins
    upserts under the versioned batch digest)."""
    import shutil
    from datetime import datetime, timedelta

    from eurovision_spark.streaming.ingest import stream_rate_gate

    events_dir = tmp_path / "events_in"
    events_dir.mkdir()
    store = tmp_path / "store"
    base = datetime(2024, 3, 1)

    def write_wave(name, rows):
        spark.createDataFrame(
            rows,
            "event_id bigint, ts timestamp, user_id bigint, "
            "event_type string, value double",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, events_dir / f"{name}.parquet")

    eid = 0

    def hours(event_type, start_h, n_hours, per_hour):
        nonlocal eid
        out = []
        for h in range(start_h, start_h + n_hours):
            for j in range(per_hour):
                out.append(
                    (eid, base + timedelta(hours=h, minutes=j % 60), 1,
                     event_type, 1.0)
                )
                eid += 1
        return out

    def ledger():
        return sorted(
            (
                (r.batch_key, r.n_events, r.n_cells, r.n_anomalous, r.alert)
                for r in spark.read.parquet(str(store / "rate_ledger")).collect()
            )
        )

    # baseline: 30 steady hours, alternating 4/6 per hour (non-flat)
    w1 = []
    for h in range(30):
        w1 += hours("click", h, 1, 4 if h % 2 == 0 else 6)
    write_wave("wave1", w1)
    q = stream_rate_gate(spark, str(events_dir), str(store), str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        l1 = ledger()
        assert len(l1) == 1 and l1[0][4] == 0  # first batch: no baseline
        # spike: one hour at 10x the landed mean
        write_wave("wave2", hours("click", 31, 1, 50))
        q.processAllAvailable()
        l2 = ledger()
        spike_rows = [r for r in l2 if r not in l1]
        assert len(spike_rows) == 1 and spike_rows[0][3] == 1 and spike_rows[0][4] == 1
        # steady continuation at the landed rate: quiet
        write_wave("wave3", hours("click", 32, 1, 5))
        q.processAllAvailable()
        l3 = ledger()
        quiet_rows = [r for r in l3 if r not in l2]
        assert len(quiet_rows) == 1 and quiet_rows[0][4] == 0
        # byte-identical replay (at-least-once delivery re-presents the
        # SAME rows, same event ids -> same digest): ledger and baseline
        # must not change
        shutil.copy(events_dir / "wave2.parquet", events_dir / "wave2_again.parquet")
        q.processAllAvailable()
        assert ledger() == l3  # no new row, no mutation
        n_batches = (
            spark.read.parquet(str(store / "rate_batches"))
            .select("batch_key")
            .distinct()
            .count()
        )
        assert n_batches == len(l3)  # baseline never double-counted
        assert _query_jobs(spark, q) <= 60  # job budget: 3 waves + a replay
    finally:
        q.stop()


def test_stream_quality_gate_flags_boilerplate_flood_and_replays(spark, tmp_path):
    """The quality-marginal intake gate (r10, closing the r09 gap): a
    boilerplate flood keeps lengths/language/embeddings normal-looking
    and was previously caught only by the batch quality_drift after
    landing. Same-distribution waves pass (PSI near 0), the planted
    flood fires (PSI > 0.25), the ledger statistic equals the BATCH
    quality_drift on the matching two-source split (the gate runs
    psi_from_bin_counts verbatim, so equality is by construction), and
    an at-least-once replay changes neither ledger nor histograms."""
    import shutil

    from eurovision_spark.operators.textstats import _qc_fit, quality_drift_frame
    from eurovision_spark.streaming.ingest import stream_quality_drift_gate

    def normal(i):
        # diverse vocabulary, varying length: the in-distribution doc
        return " ".join(f"w{i}x{j}" for j in range(10 + i % 25))

    def flood(i):
        # low-diversity template chrome: the quality collapse
        return " ".join(["click here subscribe now"] * (4 + i % 3))

    # frozen classifier: fit once on a mixed sample (offline training
    # on the landed corpus — the production shape), shared by gate+twin
    w, b = _qc_fit([normal(i) for i in range(8)] + [flood(i) for i in range(8)])

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()
    store = tmp_path / "store"

    def wave(name, rows):
        spark.createDataFrame(
            [(i, t, len(t)) for i, t in rows],
            "doc_id bigint, text string, n_chars int",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    w1 = [(i, normal(i)) for i in range(100)]
    w2 = [(1000 + i, normal(50 + i)) for i in range(100)]  # same distribution
    w3 = [(2000 + i, flood(i)) for i in range(80)]  # the flood

    wave("w1", w1)
    q = stream_quality_drift_gate(
        spark, str(docs_dir), str(store), str(tmp_path / "ck"), w, b
    )
    try:
        q.processAllAvailable()
        wave("w2", w2)
        q.processAllAvailable()
        wave("w3", w3)
        q.processAllAvailable()
        ledger_before = sorted(
            map(tuple, spark.read.parquet(str(store / "qlogit_ledger")).collect())
        )
        hists_before = sorted(
            map(tuple, spark.read.parquet(str(store / "qlogit_batches")).collect())
        )
        shutil.copy(docs_dir / "w3.parquet", docs_dir / "w3_replay.parquet")
        q.processAllAvailable()
        assert _query_jobs(spark, q) <= 58  # job budget: 3 waves + a replay
    finally:
        q.stop()

    rows = sorted(
        spark.read.parquet(str(store / "qlogit_ledger")).collect(),
        key=lambda r: (r.psi_vs_baseline is not None, r.psi_vs_baseline or -1),
    )
    assert len(rows) == 3
    first, quiet, loud = rows
    assert first.psi_vs_baseline is None and first.alert == 0  # no baseline
    assert quiet.psi_vs_baseline < 0.1 and quiet.alert == 0  # same distribution
    assert loud.psi_vs_baseline > 0.25 and loud.alert == 1  # the flood

    # replay mutated nothing
    assert ledger_before == sorted(
        map(tuple, spark.read.parquet(str(store / "qlogit_ledger")).collect())
    )
    assert hists_before == sorted(
        map(tuple, spark.read.parquet(str(store / "qlogit_batches")).collect())
    )

    # batch-twin parity: quality_drift over the two-source split
    # (flood vs landed) must report the gate's exact statistic
    landed = spark.createDataFrame(
        [(i, t, "landed") for i, t in w1 + w2], "doc_id bigint, text string, source string"
    )
    fl = spark.createDataFrame(
        [(i, t, "flood") for i, t in w3], "doc_id bigint, text string, source string"
    )
    twin = {
        r.source: r.psi_vs_rest
        for r in quality_drift_frame(landed.unionByName(fl), w, b).collect()
    }
    assert abs(twin["flood"] - loud.psi_vs_baseline) <= 1e-6


def test_stream_media_dedup_probes_store_and_replays_stable(spark, tmp_path):
    """The media-intake dedup gate (r10, closing the r09 gap): landed
    payloads index their region fingerprints; an arriving one-byte-
    mutated copy is decided media_dup against the EARLIEST landed match
    (3-of-4 regions), an identical re-upload at 4-of-4, fresh content
    lands; a replayed wave changes neither decisions nor the
    fingerprint index; and every streamed dup decision's n_shared
    equals the batch pair machinery's count on the union (the shared
    region_fp_batch + pairs_in_buckets plan — batch-twin parity under
    min-id-first arrival)."""
    import shutil

    from pyspark.sql import functions as F

    from eurovision_spark.operators.dedup import pairs_in_buckets
    from eurovision_spark.operators.multimodal import (
        REGION_FP_SCHEMA,
        region_fp_batch,
    )
    from eurovision_spark.streaming.ingest import stream_media_dedup

    base = "".join(f"t{i:02d}" for i in range(32))  # 96 ASCII bytes
    # one byte inside region 1 (bytes 24-47 of 96) flipped
    near = base[:36] + "~" + base[37:]
    half = base[:48] + "".join(f"z{i:02d}" for i in range(16))
    fresh = "".join(f"q{i:02d}" for i in range(32))

    media_dir = tmp_path / "media"
    media_dir.mkdir()
    store = tmp_path / "store"

    def wave(name, rows):
        spark.createDataFrame(rows, "doc_id bigint, text string").select(
            "doc_id", F.encode("text", "UTF-8").alias("content")
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, media_dir / f"{name}.parquet")

    wave("w1", [(0, base), (1, base), (2, half)])  # co-arriving: all land
    q = stream_media_dedup(spark, str(media_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        # the near-copy of 0 (also 3-shares with identical doc 1 -> min
        # id 0 wins) and an identical re-upload of 2
        wave("w2", [(100, near), (101, half)])
        q.processAllAvailable()
        wave("w3", [(102, fresh)])
        q.processAllAvailable()
        dec_before = sorted(
            map(tuple, spark.read.parquet(str(store / "media_decisions")).collect())
        )
        idx_before = sorted(
            map(tuple, spark.read.parquet(str(store / "media_fpindex")).collect())
        )
        shutil.copy(media_dir / "w2.parquet", media_dir / "w2_replay.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    dec = {
        r.doc_id: (r.decision, r.matched_id, r.n_shared)
        for r in spark.read.parquet(str(store / "media_decisions")).collect()
    }
    assert dec[0] == ("landed", None, None)  # in-batch pair elided
    assert dec[1] == ("landed", None, None)
    assert dec[2] == ("landed", None, None)
    assert dec[100] == ("media_dup", 0, 3)  # one region mutated, min-id match
    assert dec[101] == ("media_dup", 2, 4)  # identical re-upload
    assert dec[102] == ("landed", None, None)
    # only landed docs index fingerprints: 4 docs x 4 regions
    assert spark.read.parquet(str(store / "media_fpindex")).count() == 16

    # replay mutated nothing
    assert dec_before == sorted(
        map(tuple, spark.read.parquet(str(store / "media_decisions")).collect())
    )
    assert idx_before == sorted(
        map(tuple, spark.read.parquet(str(store / "media_fpindex")).collect())
    )

    # batch-twin parity: the union corpus through the SAME fingerprint
    # worker + bucket pair generator must count each streamed dup
    # decision's (min, max) pair at the same n_shared
    union = spark.createDataFrame(
        [(0, base), (1, base), (2, half), (100, near), (101, half), (102, fresh)],
        "doc_id bigint, text string",
    ).select("doc_id", F.encode("text", "UTF-8").alias("content"))
    fps = union.mapInPandas(region_fp_batch, REGION_FP_SCHEMA)
    pairs = {
        (r.doc_id_1, r.doc_id_2): r.n
        for r in pairs_in_buckets(
            fps.select("doc_id", "band_id", F.col("fp").alias("band_sig")),
            "doc_id",
            dedup_pairs=False,
        )
        .groupBy("doc_id_1", "doc_id_2")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    for doc_id, (decision, matched, n) in dec.items():
        if decision == "media_dup":
            assert pairs[(matched, doc_id)] == n, (doc_id, matched, n)


def test_stream_contamination_gate_flags_suite_copies_and_replays_stable(
    spark, tmp_path
):
    """The seventh intake marginal (r10): arriving docs probed against
    the persisted benchmark gram store. Clean waves pass (alert 0), a
    wave carrying verbatim suite copies fires (contam_frac 0.5 >>
    CGATE_FRAC_ALERT), replay mutates nothing, and the per-doc verdict
    store is row-for-row EQUAL to batch contamination_check on the
    union corpus (suite docs at doc_id % BENCH_MOD == 0 + every
    arrived doc)."""
    import shutil

    from eurovision_spark.streaming.ingest import (
        build_bench_gram_store,
        stream_contamination_gate,
    )

    def fresh(tag, i):
        return " ".join(f"{tag}{i}w{j}" for j in range(40))

    # the frozen eval suite: ids = 0 mod 20 (the batch twin's slice)
    suite = [(20 * i, fresh("suite", i)) for i in range(3)]
    suite_df = spark.createDataFrame(
        [(i, t, len(t)) for i, t in suite], "doc_id bigint, text string, n_chars int"
    )
    store = tmp_path / "store"
    n_grams = build_bench_gram_store(suite_df, str(store / "bench_grams"))
    assert n_grams == 3 * 38  # 40 tokens -> 38 distinct 3-grams each

    docs_dir = tmp_path / "docs"
    docs_dir.mkdir()

    def wave(name, rows):
        spark.createDataFrame(
            [(i, t, len(t)) for i, t in rows],
            "doc_id bigint, text string, n_chars int",
        ).coalesce(1).write.mode("overwrite").parquet(str(tmp_path / name))
        part = next((tmp_path / name).glob("part-*.parquet"))
        shutil.copy(part, docs_dir / f"{name}.parquet")

    # odd ids are never 0 mod 20: no arriving doc collides with the slice
    w1 = [(101 + 2 * i, fresh("a", i)) for i in range(20)]
    w2 = [(1001 + 2 * i, fresh("b", i)) for i in range(20)]
    w3 = [(2001 + 2 * i, fresh("c", i)) for i in range(10)] + [
        (3001 + 2 * i, suite[i % 3][1]) for i in range(10)  # suite copies
    ]

    wave("w1", w1)
    q = stream_contamination_gate(spark, str(docs_dir), str(store), str(tmp_path / "ck"))
    try:
        q.processAllAvailable()
        wave("w2", w2)
        q.processAllAvailable()
        wave("w3", w3)
        q.processAllAvailable()
        ledger_before = sorted(
            map(tuple, spark.read.parquet(str(store / "contam_ledger")).collect())
        )
        verdicts_before = sorted(
            map(tuple, spark.read.parquet(str(store / "contam_verdicts")).collect())
        )
        shutil.copy(docs_dir / "w3.parquet", docs_dir / "w3_replay.parquet")
        q.processAllAvailable()
    finally:
        q.stop()

    rows = sorted(
        spark.read.parquet(str(store / "contam_ledger")).collect(),
        key=lambda r: r.contam_frac,
    )
    assert len(rows) == 3
    assert all(r.n_suite_grams == 3 * 38 for r in rows)  # store audited
    assert [r.alert for r in rows] == [0, 0, 1]
    assert rows[0].contam_frac == 0.0 and rows[1].contam_frac == 0.0
    assert rows[2].contam_frac == 0.5 and rows[2].n_contaminated == 10

    # replay mutated nothing
    assert ledger_before == sorted(
        map(tuple, spark.read.parquet(str(store / "contam_ledger")).collect())
    )
    assert verdicts_before == sorted(
        map(tuple, spark.read.parquet(str(store / "contam_verdicts")).collect())
    )

    # batch-twin parity: contamination_check on suite + arrived docs
    union = suite + w1 + w2 + w3
    union_dir = tmp_path / "union"
    union_dir.mkdir()
    spark.createDataFrame(
        [(i, t, len(t)) for i, t in union],
        "doc_id bigint, text string, n_chars int",
    ).write.mode("overwrite").parquet(str(union_dir / "documents.parquet"))
    from eurovision_spark.catalog import registry

    batch = sorted(
        map(tuple, registry()["contamination_check"].fn(spark, str(union_dir)).collect())
    )
    assert batch == verdicts_before
