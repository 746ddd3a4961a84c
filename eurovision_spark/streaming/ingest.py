"""Structured Streaming parity (SURVEY §2.9, M5).

The reference is batch-only but structurally incremental: pages are
appended over hours (scrape.py:63-67) and per-trial state flushes at
record boundaries (scan.py:341-351). Two streaming surfaces:

1. ``stream_registry_ingest`` — file-source stream over the scrape
   landing directory (one text file per page = one micro-batch input);
   each micro-batch runs the SAME parse pipeline as batch
   (parse_registry_lines) inside ``foreachBatch``, then upserts into
   parquet with first-wins dedup — the exactly-once rebuild of the
   reference's "database wraps" duplicate-PK tolerance
   (scan.py:129-132). Records spanning a micro-batch boundary are
   carried as an epoch-keyed tail and parsed only when complete
   (see stream_registry_ingest / flush_registry_tail).

2. ``stream_events_rollup`` — watermarked tumbling-window aggregation
   over the events table shape: the standard late-data-tolerant rollup
   the reference lacks entirely (SURVEY §2.9 "no watermarks exist").

Both run to completion on local parquet/text dirs via
``processAllAvailable`` in tests (no external broker needed).
"""

from __future__ import annotations

import hashlib
import os
from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from eurovision_spark.operators.parse import number_lines, parse_registry_lines
from eurovision_spark.timeaxis import (
    SESSION_GAP_US,
    event_ts_col,
    stream_events_source,
    ts_us_col,
)


def _latest_tail(tails_root: str, before: int | None = None) -> str | None:
    """Path of the newest carried-tail file (optionally with epoch <
    ``before`` — replay-stable: re-running epoch N reads the same
    predecessor tail it read the first time)."""
    if not os.path.isdir(tails_root):
        return None
    epochs = sorted(
        int(e.split("=", 1)[1])
        for e in os.listdir(tails_root)
        if e.startswith("epoch=")
    )
    if before is not None:
        epochs = [e for e in epochs if e < before]
    return os.path.join(tails_root, f"epoch={epochs[-1]}", "tail.txt") if epochs else None


def _upsert_tables(tables: dict[str, DataFrame], out_dir: str) -> None:
    from eurovision_spark.sinks import upsert_parquet

    for name, df in tables.items():
        path = f"{out_dir}/{name}"
        if name == "trial":
            # first batch wins per trial id (scan.py:129-132: later
            # duplicate inserts are dropped) — the keyed MERGE edge
            upsert_parquet(df, path, ["eudract_id"], keep="existing")
        else:
            # child tables are sets of whole rows: the "key" is the
            # full row, so the same first-wins upsert is a set union
            upsert_parquet(df.dropDuplicates(), path, df.columns, keep="existing")


def stream_registry_ingest(
    spark: SparkSession, landing_dir: str, out_dir: str
) -> StreamingQuery:
    """Incremental registry ingest: landing dir of page files -> 4-table
    parquet, merging per micro-batch with first-wins semantics.

    Records SPANNING a micro-batch boundary are handled with a carried
    tail: each batch parses only up to the LAST 'EudraCT Number:'
    record boundary it contains; the final (possibly incomplete) record
    is buffered under ``out_dir/_tails/epoch=N`` and prepended to the
    next batch — so no record is ever parsed from half its lines.
    ``flush_registry_tail`` finalizes the buffered record at
    end-of-ingest. Tails are epoch-keyed and reads are replay-stable
    (a re-run epoch reads the same predecessor tail), so foreachBatch's
    at-least-once retries recompute identical merges. Within one batch,
    files contribute lines in name order (the fetcher's zero-padded
    page naming sorts correctly — that ordering is this source's
    contract, as file order is the parser's only implicit input)."""
    from eurovision_spark.functions import norm_ws

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        caches: list = []
        try:
            tails_root = os.path.join(out_dir, "_tails")
            lines_df = batch_df.select("value")
            prev = _latest_tail(tails_root, before=epoch_id)
            if prev is not None:
                # tail partitions precede the batch's in union order, so
                # number_lines gives them the lower line numbers
                lines_df = spark.read.text(prev).union(lines_df)
            numbered = number_lines(lines_df, caches=caches)
            is_marker = norm_ws(F.col("raw")).startswith("EudraCT Number:")
            first_marker, last_marker = numbered.filter(is_marker).agg(
                F.min("line_no"), F.max("line_no")
            ).first()
            tail_rows = (
                numbered.filter(F.col("line_no") >= last_marker)
                if last_marker is not None
                else numbered
            ).orderBy("line_no").select("raw").collect()
            # driver-side tail write: one record's lines (bounded —
            # records are a few hundred lines), written atomically into
            # this epoch's slot
            tail_dir = os.path.join(tails_root, f"epoch={epoch_id}")
            os.makedirs(tail_dir, exist_ok=True)
            with open(os.path.join(tail_dir, "tail.txt"), "w") as fh:
                fh.write("\n".join(r.raw for r in tail_rows))
                if tail_rows:
                    fh.write("\n")
            if last_marker is None or first_marker == last_marker:
                # zero or one marker: no COMPLETE record in this batch
                # (a record is complete only when the next boundary or
                # end-of-ingest proves it) — everything stays carried
                return
            head = numbered.filter(F.col("line_no") < last_marker)
            tables = parse_registry_lines(head, caches=caches)
            _upsert_tables(tables, out_dir)
        finally:
            # release the batch's persisted intermediates: a long-running
            # stream otherwise pins cached datasets PER micro-batch
            for c in caches:
                c.unpersist()

    stream = spark.readStream.format("text").load(landing_dir)
    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )


def flush_registry_tail(spark: SparkSession, out_dir: str) -> None:
    """Finalize the ingest: parse the carried tail (the stream's last —
    by definition boundary-complete — record) and merge it. Call when
    no further pages will arrive; idempotent (re-parsing identical
    lines merges to a no-op under first-wins), and safe to interleave
    with a later resumed stream ONLY if the buffered record was truly
    complete (a record still awaiting continuation lines would be
    finalized from half its lines — exactly what the in-stream tail
    carry exists to prevent)."""
    import shutil

    tails_root = os.path.join(out_dir, "_tails")
    latest = _latest_tail(tails_root)
    if latest is None or os.path.getsize(latest) == 0:
        return
    caches: list = []
    try:
        tables = parse_registry_lines(
            number_lines(spark.read.text(latest), caches=caches), caches=caches
        )
        _upsert_tables(tables, out_dir)
    finally:
        for c in caches:
            c.unpersist()
    shutil.rmtree(tails_root, ignore_errors=True)


def stream_events_rollup(
    spark: SparkSession, events_dir: str, query_name: str = "events_rollup"
) -> StreamingQuery:
    """Watermarked 1-hour tumbling rollup of the events stream
    (counts + value sums per event_type), 10-minute late-data bound.
    Update output mode: windows older than the watermark are finalized
    and their state evicted — complete mode would silently DISABLE the
    watermark (no eviction, no late-row dropping) and grow state and
    the result table for the stream's lifetime."""
    stream = stream_events_source(spark, events_dir)
    # dtype-adaptive: ns-bigint or timestamp(_ntz) ts both land on the
    # same µs-resolution TIMESTAMP axis (timeaxis.event_ts_col)
    ts = event_ts_col(stream.schema["ts"].dataType)
    agg = (
        stream.withColumn("event_ts", ts)
        .withWatermark("event_ts", "10 minutes")
        .groupBy(F.window("event_ts", "1 hour"), F.col("event_type"))
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            F.date_format("window.start", "yyyy-MM-dd HH:mm").alias("window_start"),
            "event_type",
            "n",
            "value_sum",
        )
    )
    return (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def stream_sessionize(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_sessions",
    gap_us: int = SESSION_GAP_US,
) -> StreamingQuery:
    """Custom stateful streaming operator: per-user gap sessionization
    via ``applyInPandasWithState`` (SURVEY §2.9 / M5: the reference's
    per-trial mutable state generalized to keyed streaming state).

    State per user = (last event ts, sessions so far); each micro-batch
    folds its events into that state and emits the updated per-user
    totals. The batch twin is ``operators/temporal.sessionize`` — the
    test asserts both agree on the same data, which is the streaming/
    batch-parity property the engine guarantees.

    Scale: state is two longs per user key, hash-partitioned by user_id
    across executors; micro-batch cost is one shuffle of the new events
    on user_id — identical shape to the batch window's exchange.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    raw = stream_events_source(spark, events_dir)
    # normalize to canonical µs BEFORE the stateful operator so state
    # (a bigint) is dtype-independent
    stream = (
        raw.withColumn("ts_us", ts_us_col(raw.schema["ts"].dataType))
        # a null ts cannot be sessionized — and a null bigint arrives in
        # pandas as float NaN, where int(NaN) would kill the whole query
        .filter(F.col("ts_us").isNotNull())
        .select("user_id", "ts_us")
    )

    def update(key, pdfs, state: GroupState):  # noqa: ANN001
        (user_id,) = key
        last_ts, n_sessions, n_events = (
            state.get if state.exists else (None, 0, 0)
        )
        # materialize ALL chunks before sorting: applyInPandasWithState
        # delivers a group's micro-batch rows as multiple pandas chunks
        # in arbitrary order (boundary = arrow.maxRecordsPerBatch), and
        # a per-chunk sort over-counts sessions whenever one user's
        # events straddle a chunk boundary out of time order
        all_ts = [int(t) for pdf in pdfs for t in pdf["ts_us"]]
        for ts in sorted(all_ts):
            if last_ts is None or ts - last_ts > gap_us:
                n_sessions += 1
            # monotone: a LATE event (ts < last_ts, delivered by a later
            # micro-batch) must not drag the frontier backwards — that
            # would fabricate a session break for the next in-order
            # event and permanently over-count vs the batch twin
            last_ts = ts if last_ts is None else max(last_ts, ts)
        n_events += len(all_ts)
        state.update((last_ts, n_sessions, n_events))
        yield pd.DataFrame(
            [(user_id, n_events, n_sessions)],
            columns=["user_id", "n_events", "n_sessions"],
        )

    sessions = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id bigint, n_events bigint, n_sessions bigint",
        stateStructType="last_ts bigint, n_sessions bigint, n_events bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        sessions.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_funnel(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "stream_funnel",
) -> StreamingQuery:
    """Stateful streaming funnel: per-user view→click→purchase stage
    tracking via ``applyInPandasWithState`` — the streaming twin of
    ``operators/analytics.funnel_steps``.

    State per user = the three stage timestamps (bigint µs, unset =
    None). Each micro-batch folds its events in ts order: the first
    view sets stage 1; the first click strictly after stage 1 sets
    stage 2; the first purchase strictly after stage 2 sets stage 3.
    Under in-order arrival this greedy fold equals the batch query's
    staged minima exactly (the parity test feeds time-split
    micro-batches); stage timestamps only ever move from None to a
    value, so emitted depths are monotone across batches.

    Scale: state is three longs per user, hash-partitioned on user_id —
    the same exchange shape as the batch funnel's single window
    partitioning; the input projection keeps only the three funnel
    event types, so the stateful shuffle carries a fraction of the
    stream.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    raw = stream_events_source(spark, events_dir)
    stream = (
        raw.withColumn("ts_us", ts_us_col(raw.schema["ts"].dataType))
        .filter(F.col("event_type").isin("view", "click", "purchase"))
        # null ts: see stream_sessionize (int(NaN) kills the worker)
        .filter(F.col("ts_us").isNotNull())
        .select("user_id", "ts_us", "event_type")
    )

    def update(key, pdfs, state: GroupState):  # noqa: ANN001
        (user_id,) = key
        t_view, t_click, t_purchase = state.get if state.exists else (None, None, None)
        evs = []
        for pdf in pdfs:
            evs.extend(zip((int(t) for t in pdf["ts_us"]), pdf["event_type"]))
        for ts, kind in sorted(evs):
            if kind == "view" and t_view is None:
                t_view = ts
            elif kind == "click" and t_click is None and t_view is not None and ts > t_view:
                t_click = ts
            elif (
                kind == "purchase"
                and t_purchase is None
                and t_click is not None
                and ts > t_click
            ):
                t_purchase = ts
        state.update((t_view, t_click, t_purchase))
        depth = 0 if t_view is None else 1 if t_click is None else 2 if t_purchase is None else 3
        yield pd.DataFrame(
            [(user_id, t_view, t_click, t_purchase, depth)],
            columns=["user_id", "t_view_us", "t_click_us", "t_purchase_us", "funnel_depth"],
        )

    funnel = stream.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType=(
            "user_id bigint, t_view_us bigint, t_click_us bigint, "
            "t_purchase_us bigint, funnel_depth int"
        ),
        stateStructType="t_view bigint, t_click bigint, t_purchase bigint",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    return (
        funnel.writeStream.outputMode("update")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_dedup_events(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "deduped_events",
) -> StreamingQuery:
    """Exactly-once event intake: watermarked dropDuplicates on the
    event key — the streaming rebuild of the reference's swallowed
    duplicate-PK inserts ("database wraps on last page",
    scan.py:129-132 / SURVEY §2.9). The watermark bounds the dedup
    state: keys older than 1 hour of event time are expired instead of
    accumulating forever — the piece that makes dedup state O(window)
    instead of O(stream) at scale."""
    stream = stream_events_source(spark, events_dir)
    deduped = (
        stream.withColumn(
            "event_ts", event_ts_col(stream.schema["ts"].dataType)
        )
        .withWatermark("event_ts", "1 hour")
        .dropDuplicatesWithinWatermark(["event_id"])
        .select("event_id", "user_id", "event_type", "value")
    )
    return (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_click_error_join(
    spark: SparkSession,
    events_dir: str,
    checkpoint_dir: str,
    query_name: str = "click_errors",
) -> StreamingQuery:
    """Watermarked stream-stream interval join: each click matched to
    the same user's errors within the preceding 30 minutes.

    The time-bound predicate plus watermarks on BOTH sides is what
    bounds join state: rows older than watermark + interval are evicted
    instead of buffering the full history — the property that keeps a
    stream-stream join runnable forever at scale. State is
    hash-partitioned on user_id, the same exchange shape as the batch
    twin (an as-of/interval join, operators/temporal.py)."""
    base = stream_events_source(spark, events_dir)
    ts_ev = event_ts_col(base.schema["ts"].dataType)
    clicks = (
        base.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            "user_id",
            ts_ev.alias("click_ts"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    # stream-stream SELF-join off the one source: a second
    # stream_events_source would be a second FileStreamSource listing
    # and scanning the same directory every trigger
    errors = (
        base.filter(F.col("event_type") == "error")
        .select(
            F.col("event_id").alias("err_id"),
            F.col("user_id").alias("err_user"),
            ts_ev.alias("err_ts"),
        )
        .withWatermark("err_ts", "1 hour")
    )
    joined = clicks.join(
        errors,
        (F.col("user_id") == F.col("err_user"))
        & (F.col("err_ts") <= F.col("click_ts"))
        & (F.col("err_ts") >= F.col("click_ts") - F.expr("INTERVAL 30 MINUTES")),
    ).select("click_id", "user_id", "err_id")
    return (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_session_rollup(
    spark: SparkSession,
    events_dir: str,
    query_name: str = "session_rollup",
    gap: str = "60 minutes",
) -> StreamingQuery:
    """Native session windows (the built-in alternative to the custom
    applyInPandasWithState sessionizer): watermarked
    ``session_window(event_ts, gap)`` merges events into dynamic
    per-user sessions engine-side. APPEND output mode is what makes
    the scale claim TRUE: a session is emitted exactly once, when the
    watermark passes its end, and its state is evicted (complete mode
    — session_window's only other legal mode — ignores watermarks, so
    state and the result table would grow for the stream's lifetime).
    The custom stateful operator remains for logic session_window
    can't express (e.g. counters that never expire)."""
    stream = stream_events_source(spark, events_dir)
    ts = event_ts_col(stream.schema["ts"].dataType)
    agg = (
        stream.withColumn("event_ts", ts)
        .withWatermark("event_ts", "1 hour")
        .groupBy(F.session_window("event_ts", gap), F.col("user_id"))
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            "user_id",
            F.date_format("session_window.start", "yyyy-MM-dd HH:mm:ss").alias("session_start"),
            "n_events",
            "value_sum",
        )
    )
    return (
        agg.writeStream.outputMode("append")
        .format("memory")
        .queryName(query_name)
        .start()
    )


def _stream_parquet(spark: SparkSession, path: str) -> DataFrame:
    """A parquet file-stream source over ``path``, its schema read from
    the files already there (a file stream cannot infer one)."""
    return spark.readStream.schema(spark.read.parquet(path).schema).parquet(path)


def _stream_docs(spark: SparkSession, docs_dir: str) -> DataFrame:
    """The documents file-stream source shared by every stateless doc
    twin (one definition of the schema acquisition + n_chars guard)."""
    return _stream_parquet(spark, docs_dir).filter(F.col("n_chars") > 0)


def stream_chunk_documents(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming twin of the sample-production chunker: a parquet file
    stream of (doc_id, text, n_chars) documents through the SAME
    per-row chunking expressions as the batch path
    (operators/pipeline.chunk_documents). Stateless — no watermark, no
    state store: each arriving file's docs chunk independently, which
    is exactly why the batch plan composes with ``readStream``
    unchanged. Returns the unstarted streaming DataFrame; callers pick
    the sink (tests use a memory sink + processAllAvailable)."""
    from eurovision_spark.operators.pipeline import chunk_documents

    return chunk_documents(_stream_docs(spark, docs_dir))


def stream_redact_documents(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming twin of the PII scrub: documents arriving as a parquet
    file stream go through the SAME plant+redact expressions as the
    batch path (operators/pipeline.redact_documents). Stateless like
    the chunker — per-row regex only, so compliance scrubbing composes
    with ``readStream`` at ingest time instead of as a later batch
    sweep over landed (still-unscrubbed) data."""
    from eurovision_spark.operators.pipeline import redact_documents

    return redact_documents(_stream_docs(spark, docs_dir))


def stream_prep_pipeline(spark: SparkSession, docs_dir: str) -> DataFrame:
    """Streaming twin of the composed prep pass: every stage of
    prep_pipeline (scrub -> chunk -> split -> digest) is a stateless
    per-row map, so the WHOLE pipeline composes with ``readStream``
    unchanged — arriving documents leave as split-labeled training
    chunks in the same micro-batch, no state store, no watermark.
    The body IS the batch core (operators/pipeline.prep_documents) —
    one definition, so the stream/batch parity test certifies a shared
    plan rather than two copies that could drift."""
    from eurovision_spark.operators.pipeline import prep_documents

    return prep_documents(_stream_docs(spark, docs_dir))


def stream_incremental_dedup(
    spark: SparkSession,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming twin of ``incremental_dedup`` + ``minhash_cluster``:
    documents arrive as a parquet file stream and each micro-batch is
    deduped against the GROWING landed store before it lands — the
    production intake shape where dedup happens once at ingest instead
    of as corpus-wide sweeps over already-landed duplicates.

    Store layout (all keyed parquet, upserted per batch):

    - ``landed/``    (doc_id, text) — surviving documents;
    - ``index/``     (doc_id, _d, sh) — digest + distinct-shingle probe
      index of the landed docs (operators/dedup.doc_index);
    - ``sigindex/``  (doc_id, band_id, band_sig) — their banded minhash
      signatures;
    - ``decisions/`` (doc_id, decision, matched_id) — one row for EVERY
      arriving doc, including in-batch exact-collapsed members;
    - ``clusters/``  (doc_id, cluster_id) — the minhash_cluster twin: a
      row per doc that participates in any dup relation, labeled with
      the min member id of its (transitive) cluster;
    - ``edges/``     (src < dst) — the VERIFIED dup edges behind those
      clusters (id pairs only, ~16 bytes/row): the recrawl refresh
      (:func:`refresh_corpus`) re-derives touched components from them,
      so retiring a bridge doc splits its cluster instead of silently
      over-merging.

    Per micro-batch (foreachBatch, batch semantics inside):

    1. collapse exact dups WITHIN the batch (content digest, min doc_id
       survives — deterministic under replay); collapsed members get an
       ('exact_dup', in-batch survivor id) decision row, so the
       decisions ledger accounts for every arriving doc;
    2. decide each representative against the landed store by PROBING
       the persisted index: digest equi-join on ``index._d``, banded
       signatures equi-join on ``sigindex``, exact-Jaccard verify
       against ``index.sh`` (operators/dedup.incremental_probe) —
       minhash/shingles are computed for the BATCH only, so per-batch
       cost tracks batch size, never store size;
    3. upsert the decisions, land survivors ('new') into ``landed/``
       and append their index + signature rows — all first-wins keyed
       upserts, each committed as one appended file (sinks.commit_store:
       the write tracks the batch, never the store), so a replayed
       micro-batch (restart, at-least-once source) re-derives the same
       decisions and changes nothing;
    4. maintain ``clusters/``: every verified (incoming, landed) pair —
       near or exact — becomes an edge (node, current cluster label of
       the landed side); a batch-sized connected-components pass
       (imp_dedup.cc_edge_list) merges the touched clusters, existing
       member rows of merged clusters are relabeled, and the incoming
       docs get their labels. Labels are min member ids, so three
       micro-batches building a transitive cluster converge to exactly
       the batch minhash_cluster labels on the union (pinned in
       tests/test_streaming.py).

    Commit order: the edges and the cluster labels are fixed before the
    first store commit. Then the edges and clusters commits overlap the
    decisions commit, and landed/index/sigindex overlap each other once
    decisions has landed (sinks._ConcurrentUpserts; decisions ->
    survivors is the one dependency). A crash may therefore leave edges
    and clusters committed without decisions, or decisions with any
    subset of the other five stores. The batch replayed whole leaves
    every store as an uncut run would (pinned there too for a failure at
    each single commit, and for decisions committed alone).

    Arrival-order semantics, stated honestly: a near-dup pair split
    across batches keeps the EARLIER-ARRIVED member (the batch twin
    keeps min landed id); two near-dup docs inside ONE batch both land
    unless byte-identical — at scale the in-batch near-dup pass is the
    batch LSH (minhash_cluster) over the batch alone, elided here to
    keep the store probe the focus. Cluster visibility follows the same
    rule: edges are only seen against LANDED docs, so a chain that runs
    exclusively through dropped (never-landed) members is not observed.
    At 100 TB the stores are partitioned tables keyed like their probes
    (digest / band signature / cluster id).
    """
    stream = _stream_docs(spark, docs_dir).select("doc_id", "text")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        intake_batch(spark, store_dir, batch_df)

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


DECISIONS_DDL = "doc_id bigint, decision string, matched_id bigint"
CLUSTERS_DDL = "doc_id bigint, cluster_id bigint"


def _read_store_or_empty(
    spark: SparkSession, path: str, ddl: "str | T.StructType"
) -> DataFrame:
    """A keyed store (sinks.commit_store layout) read with the schema its
    caller already knows — no schema-inference job — after recovering
    any interrupted commit; an absent store reads as empty."""
    from eurovision_spark.sinks import recover_store

    recover_store(path)
    if os.path.isdir(path):
        return spark.read.schema(ddl).parquet(path)
    # the false filter lets the optimizer see the frame as empty (an
    # empty LocalRelation) and prune the joins against it; a list-built
    # frame is an opaque Python RDD, joined by a job of its own
    return spark.createDataFrame([], ddl).filter(F.lit(False))


def _drop_replayed_matches(
    pairs: DataFrame, inc: str, ex: str, decided: DataFrame, own: DataFrame
) -> DataFrame:
    """Drop the probe matches that only a REPLAY of a batch can find: the
    incoming id ``inc`` already has a decision (its id is in the one-
    column ``decided``) AND the landed id ``ex`` is one of the batch's
    own ids (in the one-column ``own``). The first run never probed a
    batch against itself (the in-batch near pass is elided), so such a
    match is a self-pair or an in-batch near pair the first run did not
    link. Every other match is kept: a match to a doc landed by an
    earlier batch is re-derived identically on a replay (rewriting it is
    idempotent, which re-writes the edges and clusters of a batch cut
    after its decisions commit), and a fresh doc's match to a re-sent
    landed doc is the real dup it is."""
    decided_flag = decided.select(
        F.col(decided.columns[0]).alias(inc), F.lit(True).alias("_decided")
    )
    own_flag = own.select(F.col(own.columns[0]).alias(ex), F.lit(True).alias("_own"))
    replayed = F.coalesce("_decided", F.lit(False)) & F.coalesce("_own", F.lit(False))
    return (
        pairs.join(decided_flag, inc, "left")
        .join(own_flag, ex, "left")
        .filter(~replayed)
        .select(*pairs.columns)
    )


def intake_batch(spark: SparkSession, store_dir: str, batch_df: DataFrame) -> None:
    """ONE intake step of the incremental-dedup store (the foreachBatch
    body of :func:`stream_incremental_dedup`, module-level so the
    recrawl refresh path — :func:`refresh_corpus` — drives the
    identical probe/land/cluster machinery as the live stream):
    exact-collapse within the batch, decide each representative against
    the landed store by probing its persisted digest + signature
    indexes, land survivors, maintain the cluster store. Semantics and
    replay guarantees documented on stream_incremental_dedup."""
    from eurovision_spark.operators.dedup import (
        assemble_decisions,
        banded_signatures,
        doc_index,
        incremental_probe,
        index_signatures,
    )
    from eurovision_spark.sinks import _ConcurrentUpserts, upsert_parquet

    landed_dir = os.path.join(store_dir, "landed")
    index_dir = os.path.join(store_dir, "index")
    sigindex_dir = os.path.join(store_dir, "sigindex")
    decisions_dir = os.path.join(store_dir, "decisions")
    clusters_dir = os.path.join(store_dir, "clusters")
    edges_dir = os.path.join(store_dir, "edges")

    def _read_or_empty(path: str, ddl: str) -> DataFrame:
        return _read_store_or_empty(spark, path, ddl)

    # in-batch digest collapse as ONE min-over-window pass (r10, the
    # batch dedup_decision_frames shape): the old groupBy(min_by) +
    # digest join recomputed md5(text) three times over the batch and
    # reassembled survivor/member rows it already had side by side.
    # The pass is checkpointed (r11, ADVICE r10): BOTH consumers — the
    # survivor filter feeding the probe/land/index legs and the
    # collapsed ledger filter — read the one materialized leaf, so the
    # md5+window work executes once per batch, not once per consumer.
    rep_w = (
        batch_df.select("doc_id", "text", F.md5("text").alias("_d"))
        .select(
            "doc_id",
            "text",
            F.min("doc_id").over(W.partitionBy("_d")).alias("_rep"),
        )
        .localCheckpoint(eager=False)
    )
    grouped = rep_w.filter(F.col("doc_id") == F.col("_rep")).select(
        "doc_id", "text"
    )
    # the collapsed members' ledger rows: exact_dup of the in-batch
    # survivor (they never probe the store — their text already did)
    collapsed = rep_w.filter(F.col("doc_id") != F.col("_rep")).select(
        "doc_id",
        F.lit("exact_dup").alias("decision"),
        F.col("_rep").cast("bigint").alias("matched_id"),
    )
    # decisions + landing + index share the survivor filter — a narrow
    # in-partition filter over the rep_w leaf, so no second checkpoint
    batch = grouped
    ex_idx = _read_or_empty(index_dir, "doc_id bigint, _d string, sh array<string>")
    ex_bands = _read_or_empty(
        sigindex_dir, "doc_id bigint, band_id int, band_sig string"
    )
    inc_idx = doc_index(batch).localCheckpoint()
    # band signatures derive from the checkpointed index's distinct
    # shingle sets (r10: index_signatures — bit-identical minhashes,
    # one tokenize+shingle pass per batch instead of two)
    inc_bands = banded_signatures(index_signatures(inc_idx)).localCheckpoint()
    # the probe keeps the adaptive join's density count: per-batch
    # candidate volume is batch x matching STORE bucket sizes — NOT
    # bounded by the batch alone (a hot landed band bucket of
    # below-threshold boilerplate fans a tiny batch into an unbounded
    # pair list), so skipping the valve risks an uncounted broadcast
    # of the enriched candidates. The r07-advice overhead concern is
    # addressed inside adaptive_verify_join instead: the lazy-
    # checkpoint+count fusion makes the valve ONE Spark job per batch
    exact, near_pairs = incremental_probe(inc_idx, inc_bands, ex_idx, ex_bands)
    near_pairs = near_pairs.localCheckpoint()
    exact = exact.localCheckpoint()
    decisions = assemble_decisions(batch, exact, near_pairs).unionByName(collapsed)
    # --- the batch's dup edges, fixed BEFORE any store commit ---
    # verified near pairs + exact matches vs the landed store + the
    # in-batch exact collapses (batch CC on the union would see the
    # identical-text edge, so the twin must too — the chain member ->
    # in-batch rep -> landed match resolves transitively in the same
    # mini-CC). A replay's extra probe matches (an already-decided
    # incoming doc against one of the batch's own landed docs) are
    # dropped, so a replay re-derives exactly the first run's edges,
    # also when the first run was cut after its decisions commit; a
    # fresh doc in the same wave keeps its match to a re-sent landed
    # one. The decided set must be read before this batch's decisions
    # commit, so the pairs are checkpointed here, and the emptiness
    # test below reads that leaf. No distinct: a pair found twice (near
    # and exact) is harmless to the CC, and the edge store's write
    # dedups its normalized pairs itself.
    dup_pairs = (
        _drop_replayed_matches(
            near_pairs.unionByName(
                exact.select(
                    F.col("doc_id").alias("inc_id"), F.col("exact_id").alias("ex_id")
                )
            ),
            "inc_id",
            "ex_id",
            decided=_read_or_empty(decisions_dir, DECISIONS_DDL).select("doc_id"),
            own=grouped.select("doc_id"),
        )
        .unionByName(
            collapsed.select(
                F.col("doc_id").alias("inc_id"), F.col("matched_id").alias("ex_id")
            )
        )
        .localCheckpoint()  # edge store + CC both read it
    )
    # --- commits: decisions -> {landed, index, sigindex} is the one
    # dependency; edges and clusters read only dup_pairs and their own
    # stores, so they overlap the decisions commit. The CC runs first,
    # on this thread, before any commit is in flight: its Spark rounds
    # change session confs (imp_dedup.cc_edge_list, CONCURRENCY NOTE).
    cluster_rows = (
        None
        if dup_pairs.isEmpty()
        else _cluster_updates(spark, clusters_dir, dup_pairs, "inc_id", "doc_id")
    )
    with _ConcurrentUpserts() as ups:
        if cluster_rows is not None:
            # the VERIFIED edge list (normalized id pairs — tiny rows):
            # the recrawl refresh re-derives components of touched
            # clusters from these, so retiring a bridge doc SPLITS its
            # cluster exactly as a from-scratch intake would
            ups.commit(
                dup_pairs.select(
                    F.least("inc_id", "ex_id").alias("src"),
                    F.greatest("inc_id", "ex_id").alias("dst"),
                ).distinct(),
                edges_dir,
                ["src", "dst"],
            )
            ups.commit(cluster_rows, clusters_dir, ["doc_id"], keep="updates")
        # decisions FIRST, survivors after, and the survivors re-read
        # the decisions STORE rather than the in-flight plan: new_ids
        # must be the FIRST run's decisions. A replay of a batch cut
        # after its index commit probes a store that already holds the
        # batch, so its own plan decides every survivor an exact dup of
        # itself and would never land it. (The decisions plan reads only
        # checkpointed leaves, so no commit here can re-plan it.)
        upsert_parquet(decisions, decisions_dir, ["doc_id"], keep="existing")
        new_ids = (
            _read_or_empty(decisions_dir, DECISIONS_DDL)
            .filter(F.col("decision") == "new")
            .select("doc_id")
        )
        ups.commit(batch.join(new_ids, "doc_id"), landed_dir, ["doc_id"])
        ups.commit(inc_idx.join(new_ids, "doc_id"), index_dir, ["doc_id"])
        ups.commit(
            inc_bands.join(new_ids, "doc_id"), sigindex_dir, ["doc_id", "band_id"]
        )


def _cluster_updates(
    spark: SparkSession, clusters_dir: str, pairs: DataFrame, inc: str, key: str
) -> DataFrame:
    """The ``clusters/`` store rows one batch's verified (``inc``,
    ``ex_id``) pairs — incoming id, matched landed id — change, as
    (``key``, cluster_id) rows for a ``keep="updates"`` upsert: each
    pair links both ends to the landed side's current label (itself if
    unlabeled), a batch-sized imp_dedup.cc_edge_list merges the touched
    clusters (run here, eagerly), their stored members are relabeled and
    the nodes get rows. Labels are min member ids, so clusters built
    across batches converge to the batch labels.

    Replay contract: the labels are a function of ``pairs`` and the
    store alone, so a replayed batch re-derives the same rows and the
    incoming-wins upsert changes nothing, also when the first run's
    clusters commit landed and another of its commits did not;
    ``pairs`` must be materialized before the batch's first store
    commit."""
    from eurovision_spark.operators.imp_dedup import cc_edge_list

    cl = _read_store_or_empty(spark, clusters_dir, f"{key} bigint, cluster_id bigint")
    old = pairs.join(
        cl.select(F.col(key).alias("ex_id"), "cluster_id"), "ex_id", "left"
    ).select(inc, "ex_id", F.coalesce("cluster_id", F.col("ex_id")).alias("old_cid"))
    edges = old.select(F.col(inc).alias("a"), F.col("old_cid").alias("b")).unionByName(
        old.select(F.col("ex_id").alias("a"), F.col("old_cid").alias("b"))
    )
    labels = cc_edge_list(edges, "a", "b")  # (node, comp): min member id
    relabeled = cl.join(
        labels.select(F.col("node").alias("cluster_id"), "comp"), "cluster_id"
    ).select(key, F.col("comp").alias("cluster_id"))
    node_rows = labels.select(F.col("node").alias(key), F.col("comp").alias("cluster_id"))
    return relabeled.unionByName(node_rows).groupBy(key).agg(
        F.min("cluster_id").alias("cluster_id")
    )


def assign_splits_batch(
    spark: SparkSession, store_dir: str, batch_ids: DataFrame
) -> None:
    """ONE split-assignment step over the intake store — the streaming
    twin of ``leakage_safe_split`` (operators/pipeline.py), with the
    constraint the batch op doesn't have: an assignment, once written,
    is IMMUTABLE (a doc already served to a training run cannot move).

    EVERY arriving doc gets a split — landed survivors AND dropped
    dups: the training set reads landed/, but eval-set construction
    samples the full ledger, and an unlabeled near-copy of a trained
    doc is exactly the leaked eval item this op exists to prevent.
    Rules, in order, for each batch doc with no split yet:

    1. if its (transitive, relabeled) cluster already has a member with
       a split, inherit the split of the MINIMUM-id such member —
       deterministic, replay-stable, and the production semantics: a
       new near-copy of an already-split doc must follow it, never
       re-roll;
    2. otherwise apply hash_split's md5-bucket rule to the GROUP key
       (cluster label if clustered, own id if singleton) — exactly the
       batch op's rule, so under min-member-first arrival the streamed
       assignments match leakage_safe_split's on every doc whose
       cluster relations are visible to the stream (in-batch co-landed
       near-dups are the documented intake_batch elision)
       (pinned in tests/test_streaming.py).

    Because landed assignments are immutable, a LATE-discovered link
    between docs already split differently (two singletons that a
    bridge doc merges — the bridge itself may be a never-landed dup)
    cannot be repaired, only DETECTED: the ``split_conflicts/`` store
    carries one row per watched cluster whose members straddle splits
    — the quarantine list a data owner drains before the next eval.
    Per-batch cost: every frame here is batch-sized or
    touched-clusters-sized (semi-joins against the batch's cluster
    labels); the stores are keyed parquet like the rest of the intake
    tier."""
    from eurovision_spark.operators.pipeline import SPLIT_SEED
    from eurovision_spark.operators.textstats import md5_long
    from eurovision_spark.sinks import delete_keys, upsert_parquet

    clusters_dir = os.path.join(store_dir, "clusters")
    splits_dir = os.path.join(store_dir, "splits")
    conflicts_dir = os.path.join(store_dir, "split_conflicts")

    splits_ddl = "doc_id bigint, split string, via string"
    clusters = _read_store_or_empty(spark, clusters_dir, CLUSTERS_DDL)
    splits = _read_store_or_empty(spark, splits_dir, splits_ddl)
    new_docs = batch_ids.select("doc_id").join(
        splits.select("doc_id"), "doc_id", "left_anti"
    )
    g = new_docs.join(clusters, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("group_id")
    ).localCheckpoint()
    touched = g.select(F.col("group_id").alias("cluster_id")).distinct()
    members = clusters.join(touched, "cluster_id", "leftsemi")
    inherited = (
        members.join(splits.select("doc_id", "split"), "doc_id")
        .groupBy("cluster_id")
        .agg(F.min_by("split", "doc_id").alias("inherited"))
    )
    bucket = (
        md5_long(F.concat(F.col("group_id").cast("string"), F.lit(SPLIT_SEED))) % 100
    )
    fresh = (
        F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test")
    )
    assigned = g.join(
        inherited, g.group_id == inherited.cluster_id, "left"
    ).select(
        "doc_id",
        F.coalesce(F.col("inherited"), fresh).alias("split"),
        F.when(F.col("inherited").isNotNull(), F.lit("inherited"))
        .otherwise(F.lit("hash"))
        .alias("via"),
    )
    upsert_parquet(assigned, splits_dir, ["doc_id"], keep="existing")
    # conflict audit — watch the batch's clusters too: a never-landed
    # bridge dup can merge two already-split clusters without any new
    # landed doc, and only the batch's cluster labels reveal it.
    # Re-read the splits STORE (post-upsert listing), the decisions
    # ordering lesson above.
    batch_clusters = (
        clusters.join(batch_ids.select("doc_id"), "doc_id", "leftsemi")
        .select("cluster_id")
        .distinct()
    )
    watch = touched.unionByName(batch_clusters).distinct()
    msplits = (
        clusters.join(watch, "cluster_id", "leftsemi")
        .join(
            _read_store_or_empty(spark, splits_dir, splits_ddl).select(
                "doc_id", "split"
            ),
            "doc_id",
        )
    )
    conf = (
        msplits.groupBy("cluster_id")
        .agg(
            F.countDistinct("split").cast("bigint").alias("n_splits"),
            F.concat_ws(",", F.array_sort(F.collect_set("split"))).alias("splits"),
        )
        .filter(F.col("n_splits") > 1)
    )
    if not conf.isEmpty():
        upsert_parquet(
            conf.localCheckpoint(), conflicts_dir, ["cluster_id"], keep="updates"
        )
    # stale-quarantine prune: a later merge RELABELS a conflicted
    # cluster (min-member labels — the merged component takes the
    # smallest id), and the keyed upsert above only overwrites
    # same-key rows, so the OLD label's conflict row would otherwise
    # persist forever against a cluster_id that no longer exists. The
    # conflicts store is the bounded quarantine list, so one anti-join
    # of its keys against the live label set per batch keeps every
    # quarantine row naming a CURRENT cluster (the merged cluster's
    # new label re-enters via `watch` in the same batch that merged it).
    quarantine = _read_store_or_empty(spark, conflicts_dir, "cluster_id bigint")
    if os.path.exists(conflicts_dir):
        stale = (
            quarantine.select("cluster_id")
            .join(clusters.select("cluster_id").distinct(), "cluster_id", "left_anti")
        )
        if not stale.isEmpty():
            delete_keys(spark, conflicts_dir, "cluster_id", stale.localCheckpoint())


def stream_split_assign(
    spark: SparkSession,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming leakage-safe split assignment at INTAKE: each
    micro-batch runs the full incremental-dedup intake
    (:func:`intake_batch` — probe, land, cluster) and then
    :func:`assign_splits_batch` over every arriving doc, so every
    document leaves ingest with an immutable train/valid/test label
    that near-copies can never contradict silently (they inherit, or
    the straddle lands in ``split_conflicts/``). The batch twin is
    ``leakage_safe_split``; parity under min-member-first arrival and
    replay stability are pinned in tests/test_streaming.py."""
    stream = _stream_docs(spark, docs_dir).select("doc_id", "text")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        intake_batch(spark, store_dir, batch_df)
        assign_splits_batch(spark, store_dir, batch_df.select("doc_id"))

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def snapshot_digests(docs: DataFrame) -> DataFrame:
    """(doc_id, digest) of a corpus snapshot — the per-crawl artifact a
    production pipeline persists so the NEXT refresh can diff against
    it without re-reading old text (16-ish bytes/doc). Full md5, the
    same digest the landed index keys on."""
    return docs.select("doc_id", F.md5("text").alias("digest"))


def refresh_corpus(
    spark: SparkSession,
    store_dir: str,
    old_digests: DataFrame,
    v2: DataFrame,
) -> DataFrame:
    """Recrawl refresh of the incremental-dedup store — corpus_diff
    composed into the intake tier (r05 item #6): diff the new snapshot
    against the previous snapshot's digest artifact, retire what
    disappeared, and feed ONLY the delta through the SAME probe path as
    :func:`stream_incremental_dedup` (:func:`intake_batch`). The
    unchanged bulk is never re-tokenized, re-hashed, or re-decided —
    per-refresh cost tracks the delta, the property that matters when
    the corpus is 100 TB and the recrawl touches 1%.

    Steps:

    1. ``delta`` = :func:`~eurovision_spark.operators.pipeline.
       digest_delta` (old_digests vs v2's in-row digests) — (id, digest)
       rows only through the full outer join;
    2. retire ``removed`` + ``changed`` ids from landed/index/sigindex
       and their decision rows; also un-decide ORPHANS — docs whose
       decision's matched_id was retired (their text is unchanged and
       still in v2, but their duplicate target is gone, so they must
       re-probe: a dup member whose landed representative disappeared
       gets re-landed — the promotion case);
    3. cluster store: prune the verified-edge store of edges incident
       to retired docs, carry untouched clusters over unchanged, and
       RE-DERIVE the touched clusters' components from the surviving
       edges (id-only CC over the touched subgraph) — so a cluster
       bridged only by a retired doc SPLITS, members left without any
       dup relation drop out, and labels stay min-member-id. This is
       the exact re-derivation, not the r06 conservative
       relabel-without-split.
    4. one :func:`intake_batch` over v2 ⋉ (added ∪ changed ∪ orphans).

    Store-state equality with a from-scratch intake of v2 (pinned in
    tests/test_streaming.py) holds under the stream's documented
    arrival-order semantics: ids monotone with arrival (min-id
    representatives), and near-dup pairs resolve against the EARLIER-
    landed member — a doc whose refresh makes it a near-dup of an
    already-landed doc is decided 'near_dup' here, where a from-scratch
    single batch (both docs arriving together, in-batch near pass
    elided by design) would land both.

    Returns the materialized delta frame (doc_id, status, old_digest,
    new_digest)."""
    from eurovision_spark.operators.pipeline import digest_delta
    from eurovision_spark.sinks import commit_store, delete_keys

    landed_dir = os.path.join(store_dir, "landed")
    index_dir = os.path.join(store_dir, "index")
    sigindex_dir = os.path.join(store_dir, "sigindex")
    decisions_dir = os.path.join(store_dir, "decisions")
    clusters_dir = os.path.join(store_dir, "clusters")
    edges_dir = os.path.join(store_dir, "edges")

    v2 = v2.select("doc_id", "text")
    delta = digest_delta(
        old_digests.select("doc_id", F.col("digest").alias("old_digest")),
        v2.select("doc_id", F.md5("text").alias("new_digest")),
    ).localCheckpoint()  # frozen BEFORE any store mutation below
    retired = (
        delta.filter(F.col("status").isin("removed", "changed"))
        .select("doc_id")
        .localCheckpoint()
    )
    dec = _read_store_or_empty(spark, decisions_dir, DECISIONS_DDL)
    # orphans: decision targets retired, the doc itself survives in v2
    orphans = (
        dec.join(
            retired.withColumnRenamed("doc_id", "matched_id"), "matched_id"
        )
        .join(retired, "doc_id", "left_anti")
        .join(v2.select("doc_id"), "doc_id", "left_semi")
        .select("doc_id")
        .localCheckpoint()
    )
    undecided = retired.unionByName(orphans).localCheckpoint()
    for path in (landed_dir, index_dir, sigindex_dir):
        delete_keys(spark, path, "doc_id", retired)
    delete_keys(spark, decisions_dir, "doc_id", undecided)
    # cluster retirement with SPLIT TRACKING (r06 item #5): prune the
    # verified-edge store of edges incident to a retired doc, then
    # re-derive components for TOUCHED clusters only from the surviving
    # edges — a cluster bridged solely by a retired doc therefore
    # SPLITS, exactly as a from-scratch intake of v2 would derive.
    # Untouched clusters (the overwhelming bulk at a 1% recrawl) are
    # carried over byte-identical; the CC runs on id-only edge rows of
    # the touched subgraph, so refresh cost keeps tracking the delta.
    delete_keys(spark, edges_dir, "src", retired.withColumnRenamed("doc_id", "src"))
    delete_keys(spark, edges_dir, "dst", retired.withColumnRenamed("doc_id", "dst"))
    cl = _read_store_or_empty(spark, clusters_dir, CLUSTERS_DDL)
    if os.path.exists(clusters_dir):
        from eurovision_spark.operators.imp_dedup import cc_edge_list

        touched = (
            cl.join(retired, "doc_id", "left_semi").select("cluster_id").distinct()
        )
        # re-select after the USING anti join (it fronts the join key)
        untouched = cl.join(touched, "cluster_id", "left_anti").select(
            "doc_id", "cluster_id"
        )
        # surviving edges whose endpoints sit in a touched cluster (an
        # edge's two endpoints always share a cluster, so the src-side
        # membership test suffices)
        touched_members = cl.join(touched, "cluster_id", "left_semi").select(
            "doc_id"
        )
        sub = (
            _read_store_or_empty(spark, edges_dir, "src bigint, dst bigint")
            .join(touched_members.withColumnRenamed("doc_id", "src"), "src", "left_semi")
            .localCheckpoint()
        )
        if sub.isEmpty():
            rebuilt = untouched.localCheckpoint()
        else:
            labels = cc_edge_list(sub, "src", "dst", materialized=True)
            # components from edges always have >= 2 members; members
            # left with no surviving dup relation drop out — the
            # singleton rule a from-scratch derivation applies
            rebuilt = untouched.unionByName(
                labels.select(
                    F.col("node").alias("doc_id"),
                    F.col("comp").alias("cluster_id"),
                )
            ).localCheckpoint()
        commit_store(rebuilt, clusters_dir, replace=True)
    # re-intake the delta (plus orphans) through the live probe path
    batch_ids = (
        delta.filter(F.col("status").isin("added", "changed"))
        .select("doc_id")
        .unionByName(orphans)
        .distinct()
    )
    batch = v2.join(batch_ids, "doc_id").localCheckpoint()
    if not batch.isEmpty():
        intake_batch(spark, store_dir, batch)
    return delta


def stream_vector_dedup(
    spark: SparkSession,
    vecs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Vector-modality twin of ``stream_incremental_dedup``: embedding
    micro-batches dedupe against a GROWING landed vector store before
    landing. Candidates come from the sign-hyperplane LSH bucket
    (similarity._sign_bucket — scale-invariant, so a rescaled copy of a
    landed vector shares its bucket exactly), verified by exact cosine
    >= the near-dup threshold; decisions and survivors go through the
    same first-wins keyed upserts, so replayed batches change nothing.

    The landed store carries (vec_id, v, bucket): the bucket column is
    the store's probe key — at scale a bucket-partitioned table, so the
    per-batch candidate join touches only matching buckets, never the
    corpus. Single-bucket probing is the deliberately-cheap intake
    variant; batch-side semantic_dedup (k-means cells) is the deep
    sweep. A ``clusters/`` store mirrors the document twin's: every
    verified (incoming, landed) near pair becomes an edge against the
    landed side's current label, a batch-sized CC merges touched
    clusters, and stored members relabel when a smaller id arrives
    later — labels are min member ids, transitive across micro-batches
    (pinned in tests/test_streaming.py)."""
    from eurovision_spark.operators.similarity import (
        N_PLANES,
        NEAR_DUP_THRESHOLD,
        _sign_bucket,
        as_double,
        dot,
        l2norm,
    )
    from eurovision_spark.sinks import upsert_parquet

    landed_dir = os.path.join(store_dir, "landed")
    decisions_dir = os.path.join(store_dir, "decisions")
    clusters_dir = os.path.join(store_dir, "clusters")
    stream = (
        _stream_parquet(spark, vecs_dir)
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
        .filter(l2norm(F.col("v")) > 0)
    )

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        batch = batch_df.withColumn("nv", l2norm(F.col("v"))).withColumn(
            "bucket", _sign_bucket(F.col("v"), range(N_PLANES))
        )
        ex = _read_store_or_empty(
            spark, landed_dir, "vec_id bigint, v array<double>, nv double, bucket bigint"
        )
        cand = batch.select("vec_id", "v", "nv", "bucket").join(
            ex.select(
                F.col("vec_id").alias("ex_id"),
                F.col("v").alias("ev"),
                F.col("nv").alias("en"),
                "bucket",
            ),
            "bucket",
        )
        cos = dot(F.col("v"), F.col("ev")) / (F.col("nv") * F.col("en"))
        # materialized BEFORE any store write (the plan reads landed_dir
        # and decisions_dir; a rewrite would invalidate its file
        # listing). A replay's extra matches (an already-decided
        # incoming vector against one of the wave's own landed vectors)
        # are dropped, as in intake_batch; a fresh vector in the same
        # wave keeps its match to a re-sent landed one
        near_pairs = (
            _drop_replayed_matches(
                cand.filter(cos >= NEAR_DUP_THRESHOLD).select("vec_id", "ex_id"),
                "vec_id",
                "ex_id",
                decided=_read_store_or_empty(
                    spark,
                    decisions_dir,
                    "vec_id bigint, decision string, matched_id bigint",
                ).select("vec_id"),
                own=batch.select("vec_id"),
            )
            .localCheckpoint()
        )
        near = near_pairs.groupBy("vec_id").agg(F.min("ex_id").alias("matched_id"))
        decisions = (
            batch.select("vec_id")
            .join(near, "vec_id", "left")
            .select(
                "vec_id",
                F.when(F.col("matched_id").isNotNull(), F.lit("near_dup"))
                .otherwise(F.lit("new"))
                .alias("decision"),
                F.col("matched_id").cast("bigint"),
            )
        )
        # decisions first, survivors from the decisions STORE — the
        # same replay rule as intake_batch
        upsert_parquet(decisions, decisions_dir, ["vec_id"], keep="existing")
        survivors = batch.select("vec_id", "v", "nv", "bucket").join(
            _read_store_or_empty(
                spark, decisions_dir, "vec_id bigint, decision string, matched_id bigint"
            )
            .filter(F.col("decision") == "new")
            .select("vec_id"),
            "vec_id",
        )
        upsert_parquet(survivors, landed_dir, ["vec_id"], keep="existing")
        # --- cluster maintenance: the vector twin of the document path
        if not near_pairs.isEmpty():
            upsert_parquet(
                _cluster_updates(spark, clusters_dir, near_pairs, "vec_id", "vec_id"),
                clusters_dir,
                ["vec_id"],
                keep="updates",
            )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def stream_quality_gate(
    spark: SparkSession, docs_dir: str, train_dir: str
) -> DataFrame:
    """Streaming twin of quality_classifier — the production shape for
    a learned intake filter: the model is trained OFFLINE on the landed
    corpus (``train_dir``, bounded md5-ordered sample, deterministic
    fit — operators/textstats.train_quality_model), then its frozen
    weights gate the arriving document stream as the SAME stateless
    per-row scoring expression the batch path uses
    (operators/textstats.score_documents) — one definition, so the
    stream/batch parity test certifies a shared plan. No state store,
    no watermark: each arriving doc scores independently, and weights
    ride the closure exactly as they do in batch (at cluster scale the
    array literal broadcasts with the task binary). Retraining is a
    restart with new weights — the standard frozen-scorer deployment,
    not an in-stream learner."""
    from eurovision_spark.operators.textstats import (
        score_documents,
        train_quality_model,
    )

    w, b = train_quality_model(spark, train_dir)
    return score_documents(_stream_docs(spark, docs_dir), w, b)


def stream_span_dedup(
    spark: SparkSession,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming twin of ``span_dedup`` — duplicated-block removal AT
    INTAKE: each arriving document is rewritten with every block whose
    text already landed (or occurred earlier in the same batch) cut
    out, so the landed corpus never stores a block's text twice. The
    production shape for block/line-level dedup of a continuous crawl:
    the batch op's global min-(doc_id, block_idx) survivor becomes
    first-ARRIVED-wins here, which coincides with the batch result
    whenever batches arrive in doc_id order (pinned in
    tests/test_streaming.py against the batch core on the union).

    Store layout (keyed parquet, upserted per batch):

    - ``landed/``     (doc_id, n_tokens, removed_blocks, kept_tokens,
      clean_text) — the rewritten documents;
    - ``blockindex/`` (bh, doc_id, bi) — one row per distinct landed
      block hash: its first owner. The store is PROBED on the block
      hash (equi-join) only; per-batch cost tracks batch block count,
      never store size.

    Per micro-batch (foreachBatch, batch semantics inside): build the
    in-row block arrays (operators/dedup.doc_blocks), explode the
    id+hash rows ONCE (block_rows), decide removals = store hits (any
    occurrence of an already-owned hash, excluding the owner row
    itself so a replayed batch doesn't self-collide) + in-batch
    non-first occurrences (row_number over the hash among store
    misses), rewrite via the SAME array-filter tail as batch
    (apply_block_removals), then first-wins upsert landed docs and the
    batch's newly-owned hash rows. Decisions are materialized
    (localCheckpoint) BEFORE either store write, so the lazily-planned
    store probe can't re-read files the same batch rewrites; first-wins
    keyed upserts make a replayed micro-batch a no-op on both stores."""
    from eurovision_spark.operators.dedup import (
        apply_block_removals,
        block_removals,
        block_rows,
        block_survivors,
        doc_blocks,
    )
    from eurovision_spark.sinks import upsert_parquet

    landed_dir = os.path.join(store_dir, "landed")
    blockindex_dir = os.path.join(store_dir, "blockindex")
    stream = _stream_docs(spark, docs_dir).select("doc_id", "text")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        blk = doc_blocks(batch_df).localCheckpoint()
        rows = block_rows(batch_df).localCheckpoint()
        ex = _read_store_or_empty(
            spark, blockindex_dir, "bh bigint, doc_id bigint, bi int"
        )
        # store hits: every occurrence of an already-owned hash is cut —
        # except the owner row itself (replay: the batch's own blocks
        # are already in the index and must not erase themselves)
        store_hit = (
            rows.join(
                ex.select("bh", F.col("doc_id").alias("_od"), F.col("bi").alias("_ob")),
                "bh",
            )
            .filter(~((F.col("doc_id") == F.col("_od")) & (F.col("bi") == F.col("_ob"))))
            .select("doc_id", "bi")
        )
        # in-batch decision among store MISSES: first (doc_id, bi) owns
        # — the SAME skew-safe groupBy-min survivor core as the batch op
        # (block_survivors/block_removals: map-side partial aggregation,
        # no per-hash window sort)
        misses = rows.join(ex.select("bh"), "bh", "left_anti").localCheckpoint()
        new_owners = block_survivors(misses).localCheckpoint()
        removed = (
            store_hit.unionByName(block_removals(misses, new_owners))
            .localCheckpoint()
        )
        cleaned = apply_block_removals(blk, removed).localCheckpoint()
        upsert_parquet(cleaned, landed_dir, ["doc_id"], keep="existing")
        upsert_parquet(new_owners, blockindex_dir, ["bh"], keep="existing")

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


DRIFT_KS_ALERT = 0.3  # grid-KS above this flags the arriving slice


# Bump whenever the digest formula OR the key FORMAT changes — the tag
# suffixes count as format: v3 = the r08 grid/category config tags
# ("-g<tag>" / "-c<tag>" / "-v<tag>") appended to every batch key. A
# store written before the tags (v2) would otherwise re-land replayed
# batches under the new tagged key — a duplicate ledger decision row
# plus permanently-dead untagged histogram rows — with nothing to
# detect it; the version prefix makes the mismatch visible under the
# documented rebuild-or-retire upgrade policy (drift_batch_key).
DRIFT_KEY_VERSION = "v3"


def drift_batch_key(batch_df: DataFrame) -> tuple[int, str]:
    """Deterministic, order-independent batch digest: row count plus
    bit_xor of xxhash64(doc_id, multiplicity) — a genuine 64-bit
    content key over the doc-id MULTISET. Two r07/r08 fixes live here:
    (a) Spark's hash() is 32-bit Murmur3, so xor'ing it left the old
    key with ~32 bits of entropy and a plausible birthday collision
    around tens of thousands of similar-count batches; (b) a bare
    xor of per-ROW hashes self-cancels duplicate doc_ids
    (h^h = 0, so batches {a,a,b} and {c,c,b} collided) — folding each
    id's occurrence count into its hash makes the digest
    duplicate-sensitive while staying order-independent. Either
    collision silently dropped the later batch's ledger row
    (keep='existing' no-ops).

    The key carries a FORMAT VERSION: a digest-formula change makes
    every key in an existing hist_batches/drift_ledger store
    unmatchable, so a post-upgrade replay would re-land historic
    batches and double-count the baseline. The version prefix makes
    the mismatch detectable; rebuild (or retire) stores written by an
    older version when upgrading. Returns (0, "") for an empty
    batch."""
    per_doc = batch_df.groupBy("doc_id").agg(F.count("*").alias("m"))
    ident = per_doc.agg(
        F.sum("m").alias("n"),
        F.expr("bit_xor(xxhash64(doc_id, m))").alias("x"),
    ).first()
    if not ident or not ident.n:
        return 0, ""
    return (
        int(ident.n),
        f"{DRIFT_KEY_VERSION}-{ident.n}-{ident.x & 0xFFFFFFFFFFFFFFFF:016x}",
    )


def _keyed_gate(
    spark: SparkSession,
    stream: DataFrame,
    checkpoint_dir: str,
    hist_dir: str,
    ledger_dir: str,
    tag: str,
    histogram: Callable[[DataFrame], DataFrame],
    statistic: Callable[[DataFrame, DataFrame | None], tuple],
    ledger_ddl: str,
) -> StreamingQuery:
    """The skeleton of every histogram intake gate. Per micro-batch of
    ``stream`` (which carries a ``doc_id`` identity column),
    ``histogram(batch)`` folds the arriving rows into a bounded
    histogram ``counts``, ``statistic(counts, base)`` scores it against
    the landed baseline, one ledger row records the result, and the
    histogram folds into the baseline.

    The replay contract, kept here once for every gate:

    - the batch key is :func:`drift_batch_key` over ``doc_id`` plus the
      gate's config ``tag`` (a digest of the watched column, grid or
      model): replay-stable, and scoped to the config, so several
      configs can share one store directory without mixing;
    - the baseline is every OTHER key's stored histogram under the same
      tag. Exclusion is by key, so an at-least-once replay never sees
      itself and recomputes the identical statistic. ``statistic`` gets
      those rows unsummed (the histogram's columns, no ``batch_key``),
      or None when there are none: the first batch of a config has
      nothing to drift from;
    - the ledger row (``ledger_ddl``: ``batch_key``, the batch's row
      count, then the values ``statistic`` returns) is written before
      the histogram, and both stores are first-wins upserts keyed on
      ``batch_key`` alone. A batch cut between the two commits replays
      to the same ledger row and then lands its histogram; a replay
      after both changes neither store; and a wave that re-sends landed
      ids with recrawled content (the same key) cannot fold its cells
      under the landed key's ledger row;
    - the histogram store's schema is ``batch_key`` plus
      ``counts.schema``, so the baseline read needs no DDL of its own
      and no schema-inference job.

    Per batch the only batch-sized work is the key and the histogram
    (bounded rows out); the baseline is batches x cells rows at any
    corpus scale and never touches raw rows."""
    from eurovision_spark.sinks import upsert_parquet

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        n, batch_key = drift_batch_key(batch_df.select("doc_id"))
        if not n:
            return
        batch_key += tag
        counts = histogram(batch_df).localCheckpoint()
        stored = T.StructType(
            [T.StructField("batch_key", T.StringType()), *counts.schema.fields]
        )
        base = (
            _read_store_or_empty(spark, hist_dir, stored)
            .filter((F.col("batch_key") != batch_key) & F.col("batch_key").endswith(tag))
            .drop("batch_key")
        )
        values = statistic(counts, None if base.isEmpty() else base)
        ledger_row = spark.createDataFrame([(batch_key, n, *values)], ledger_ddl)
        upsert_parquet(ledger_row, ledger_dir, ["batch_key"], keep="existing")
        upsert_parquet(
            counts.select(F.lit(batch_key).alias("batch_key"), "*"),
            hist_dir,
            ["batch_key"],
            keep="existing",
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


def _config_tag(kind: str, config: str) -> str:
    """A gate's config tag: ``-<kind>`` and 8 hex digits of the config's
    md5 (the suffix :func:`_keyed_gate` scopes keys and baselines by)."""
    return f"-{kind}{hashlib.md5(config.encode()).hexdigest()[:8]}"


def _grid_bin(v: Column, width: float) -> Column:
    """The fixed-width bin of ``v``, clamped to [0, KS_NBINS)."""
    from eurovision_spark.operators.textstats import KS_NBINS

    return F.least(
        F.greatest(F.floor(v / F.lit(width)), F.lit(0)), F.lit(KS_NBINS - 1)
    ).cast("bigint")


def _count_by(batch: DataFrame, *cells: "str | Column") -> DataFrame:
    """The (cells, n double) count histogram of ``batch``."""
    return batch.groupBy(*cells).agg(F.count("*").cast("double").alias("n"))


def stream_drift_gate(
    spark: SparkSession,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    value: "str | Column" = "n_chars",
    width: float | None = None,
) -> StreamingQuery:
    """Streaming twin of ``ks_drift`` at the intake edge — the
    production drift GATE: every arriving micro-batch's distribution of
    ``value`` (a numeric column name or expression over the document
    schema; document length by default, token count or a quality logit
    just as well — the grid is column-generic like ks_drift_frame) is
    compared (grid two-sample KS, the operators/textstats.ks_drift
    formulation) against the LANDED baseline before the batch folds
    into it, and one ledger row per batch records the statistic and
    the alert decision. ``width`` is the fixed bin width (defaults to
    the n_chars KS_W). This is the check that stops a bad crawl slice
    (truncated pages, boilerplate floods, wrong parser) from silently
    polluting a 100 TB mixture.

    Stores (keyed parquet, replay contract: :func:`_keyed_gate`):

    - ``hist_batches/`` (batch_key, bin, n) — each batch's fixed-grid
      histogram (<= 64 rows), keyed by the deterministic
      ``drift_batch_key`` plus the grid tag;
    - ``drift_ledger/`` (batch_key, n_docs, ks_vs_baseline, alert) —
      one decision row per distinct batch.

    The first batch of a grid has no baseline: ks is null, alert 0."""
    from eurovision_spark.operators.textstats import KS_NBINS, KS_W

    val = F.col(value) if isinstance(value, str) else value
    w = float(width) if width is not None else KS_W
    # r08 review finding: the binned VALUE and WIDTH define the grid's
    # semantics — histograms from different (value, width) configs must
    # never merge into one baseline, and a config change must not let a
    # replay freeze a stale ledger row. The grid tag scopes keys and
    # baseline, so one store_dir can carry several watched marginals.
    val_repr = value if isinstance(value, str) else str(value)
    stream = _stream_docs(spark, docs_dir).select("doc_id", _grid_bin(val, w).alias("bin"))

    def statistic(counts: DataFrame, base: DataFrame | None) -> tuple:
        if base is None:
            return None, 0
        base_counts = base.groupBy("bin").agg(F.sum("n").alias("n"))
        bins = spark.range(KS_NBINS).select(F.col("id").cast("bigint").alias("bin"))
        wcum = W.orderBy("bin")  # 64 rows — a global window is fine
        g = (
            bins.join(counts.select("bin", F.col("n").alias("nb")), "bin", "left")
            .join(base_counts.select("bin", F.col("n").alias("na")), "bin", "left")
            .select(
                "bin",
                F.coalesce("nb", F.lit(0.0)).alias("nb"),
                F.coalesce("na", F.lit(0.0)).alias("na"),
            )
            .select(
                F.sum("nb").over(wcum).alias("cb"),
                F.sum("na").over(wcum).alias("ca"),
                F.sum("nb").over(W.partitionBy()).alias("tb"),
                F.sum("na").over(W.partitionBy()).alias("ta"),
            )
        )
        ks_val = g.agg(
            F.round(
                F.max(F.abs(F.col("cb") / F.col("tb") - F.col("ca") / F.col("ta"))), 6
            )
        ).first()[0]
        return ks_val, int(ks_val is not None and ks_val > DRIFT_KS_ALERT)

    return _keyed_gate(
        spark,
        stream,
        checkpoint_dir,
        os.path.join(store_dir, "hist_batches"),
        os.path.join(store_dir, "drift_ledger"),
        _config_tag("g", f"{val_repr}|{w}"),
        lambda batch: _count_by(batch, "bin"),
        statistic,
        "batch_key string, n_docs bigint, ks_vs_baseline double, alert int",
    )


EMB_COS_ALERT = 0.8  # batch-vs-baseline centroid cosine below this flags


def stream_embedding_gate(
    spark: SparkSession,
    emb_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    vec_col: str = "embedding",
) -> StreamingQuery:
    """Streaming EMBEDDING-SPACE twin of the intake drift gates — the
    modality check the text gates cannot express: an encoder-version
    flip or a poisoned source arrives through the same landing dir with
    normal-looking lengths, tokens, and language mix, and only the
    representation itself has moved. Every arriving micro-batch's
    centroid is compared (cosine, ``embedding_drift``'s arithmetic:
    with exactly two groups, label-vs-rest IS batch-vs-baseline) against
    the LANDED baseline centroid BEFORE the batch folds in, and one
    ledger row per batch records the statistic and the alert (cosine
    below EMB_COS_ALERT — drift pulls the batch centroid AWAY, so the
    gate fires LOW, unlike the fire-high KS/chi-square gates).

    Stores (keyed parquet, replay contract: :func:`_keyed_gate`):

    - ``emb_batches/`` (batch_key, d, s, n) — each batch's per-dim
      component sums + counts (the vec ids keyed as doc_id, the watched
      vector column as the tag);
    - ``emb_ledger/`` (batch_key, n_vecs, cos_vs_baseline, alert) —
      one decision row per distinct batch.

    The histogram is one partial/final (dim) sum (<= dims rows out —
    the posexplode never leaves its partition unaggregated). The first
    batch has no baseline: cosine null, alert 0. Ragged vectors follow
    embedding_drift_frame: a short vector is absent from, not zero at,
    its missing dims, so the batch centroid's norm covers every dim the
    BATCH has (left join from the batch's dims) and the dot product and
    the baseline's norm cover the dims both sides have — a batch whose
    encoder widened its vectors reads a low cosine, not 1.0."""
    from eurovision_spark.operators.similarity import as_double, l2norm

    stream = (
        _stream_parquet(spark, emb_dir)
        .select(F.col("vec_id").alias("doc_id"), as_double(F.col(vec_col)).alias("_v"))
        .filter(l2norm(F.col("_v")) > 0)
    )

    def histogram(batch: DataFrame) -> DataFrame:
        return (
            batch.select(F.posexplode("_v").alias("d", "val"))
            .groupBy("d")
            .agg(F.sum("val").alias("s"), F.count("*").cast("double").alias("n"))
        )

    def statistic(sums: DataFrame, base: DataFrame | None) -> tuple:
        if base is None:
            return None, 0
        base_sums = base.groupBy("d").agg(F.sum("s").alias("bs"), F.sum("n").alias("bn"))
        g = sums.join(base_sums, "d", "left").select(
            (F.col("s") / F.col("n")).alias("cb"),
            (F.col("bs") / F.col("bn")).alias("ca"),
        )
        cos_val = g.agg(
            F.round(
                F.sum(F.col("cb") * F.col("ca"))
                / (
                    F.sqrt(F.sum(F.col("cb") * F.col("cb")))
                    * F.sqrt(F.sum(F.col("ca") * F.col("ca")))
                ),
                6,
            )
        ).first()[0]
        return cos_val, int(cos_val is not None and cos_val < EMB_COS_ALERT)

    return _keyed_gate(
        spark,
        stream,
        checkpoint_dir,
        os.path.join(store_dir, "emb_batches"),
        os.path.join(store_dir, "emb_ledger"),
        _config_tag("v", vec_col),
        histogram,
        statistic,
        "batch_key string, n_vecs bigint, cos_vs_baseline double, alert int",
    )


QGATE_PSI_ALERT = 0.25  # the PSI runbook's 'significant shift' line (psi_drift)


def stream_quality_drift_gate(
    spark: SparkSession,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    w: list[float],
    b: float,
) -> StreamingQuery:
    """Streaming QUALITY-MARGINAL intake gate — the sixth member of the
    gate suite (length KS / language chi-square / embedding cosine /
    event-rate z / this), closing the r09 gap: a boilerplate-flood
    source passes every one of those gates at the door (normal lengths,
    normal language mix, in-distribution embeddings if the encoder is
    robust) and was previously caught only by the BATCH quality_drift
    after landing. Every arriving micro-batch is scored by the FROZEN
    quality classifier (train offline on the landed corpus — the
    score_documents production shape; the weights are an argument, not
    a per-batch fit), its logits binned on quality_drift's exact grid
    (64 bins of width QDRIFT_W over [-QDRIFT_OFF, QDRIFT_OFF), clamped,
    binning the 4dp-ROUNDED logit), and the batch histogram's smoothed
    PSI against the LANDED histogram is computed by the SAME
    psi_from_bin_counts arithmetic as the batch op (two labels:
    label-vs-rest IS batch-vs-baseline), so the ledger statistic is
    pinned EQUAL to quality_drift on the matching split by
    construction (tests/test_streaming.py). Alert fires HIGH at the
    runbook's significant-shift line (PSI > QGATE_PSI_ALERT).

    Stores (keyed parquet, replay contract: :func:`_keyed_gate`):

    - ``qlogit_batches/`` (batch_key, bin, n) — each batch's 64-bin
      logit histogram, tagged with the WEIGHTS digest (a new classifier
      version starts a new baseline instead of silently mixing
      distributions);
    - ``qlogit_ledger/`` (batch_key, n_docs, psi_vs_baseline, alert).

    The histogram is the classifier's per-row zero-shuffle fold into
    one (bin) partial/final count (<= 64 rows out). First batch: no
    baseline, PSI null, alert 0."""
    from eurovision_spark.operators.textstats import (
        QDRIFT_OFF,
        QDRIFT_W,
        psi_from_bin_counts,
        score_documents,
    )

    def histogram(batch: DataFrame) -> DataFrame:
        qv = F.col("qc_logit") + F.lit(QDRIFT_OFF)
        return _count_by(
            score_documents(batch, w, b).select(_grid_bin(qv, QDRIFT_W).alias("bin")),
            "bin",
        )

    def statistic(counts: DataFrame, base: DataFrame | None) -> tuple:
        if base is None:
            return None, 0
        base_counts = base.groupBy("bin").agg(F.sum("n").alias("n"))
        two = (
            counts.select(F.lit("__batch__").alias("source"), "bin", "n")
            .unionByName(
                base_counts.select(F.lit("__baseline__").alias("source"), "bin", "n")
            )
            .localCheckpoint()
        )
        row = psi_from_bin_counts(two).filter(F.col("source") == "__batch__").first()
        psi_val = row.psi_vs_rest if row else None
        return psi_val, int(psi_val is not None and psi_val > QGATE_PSI_ALERT)

    return _keyed_gate(
        spark,
        _stream_docs(spark, docs_dir).select("doc_id", "text"),
        checkpoint_dir,
        os.path.join(store_dir, "qlogit_batches"),
        os.path.join(store_dir, "qlogit_ledger"),
        _config_tag("q", repr((list(w), b))),
        histogram,
        statistic,
        "batch_key string, n_docs bigint, psi_vs_baseline double, alert int",
    )


def stream_media_dedup(
    spark: SparkSession,
    media_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming MEDIA-intake dedup — the modality member the intake
    tier was missing (r09 gap #3): text has stream_incremental_dedup,
    vectors stream_vector_dedup, blocks stream_span_dedup; this probes
    arriving BINARY payloads' region fingerprints against the landed
    fingerprint store, so a re-upload or a near-copy (same content, one
    corrupted byte / region) is decided at the door. The batch twin is
    ``media_region_dedup`` (operators/multimodal.py): the SAME Arrow
    worker fingerprints each payload per equal-width region
    (region_fp_batch — binary never leaves the scan stage), and a new
    payload matching any landed doc on >= REGION_MIN_SHARED of its
    N_REGIONS fingerprints is a near-dup of the EARLIEST such landed
    doc (min doc_id — the text twin's earlier-landed-member rule);
    everything else lands and indexes its fingerprints.

    Stores (keyed parquet, the intake-tier discipline):

    - ``media_fpindex/``    (doc_id, band_id, fp) — one row per landed
      doc x region: the probe target. Probed by (band_id, fp)
      equi-join only, so per-batch cost tracks batch fingerprint count
      x collision density, never store size;
    - ``media_decisions/``  (doc_id, decision in {landed, media_dup},
      matched_id, n_shared) — one immutable row per arriving doc.

    Arrival-order semantics, stated plainly (the intake_batch elision):
    near-dup pairs CO-ARRIVING in one batch both land — the in-batch
    pass is elided by design, exactly like the text twin; under
    min-id-first arrival the streamed decisions match the batch op's
    pairs on the union (pinned in tests/test_streaming.py, n_shared
    equal row-for-row via the shared pair machinery). Replay: a landed
    doc re-probing excludes its own store rows (the stream_span_dedup
    self-collision rule), recomputes the identical decision, and both
    first-wins upserts no-op. A real deploy swaps the stubbed
    fingerprint fn (payload-hex region md5) for decoded-content pHash /
    chroma INSIDE the same worker; every store and join here is the
    production shape."""
    from eurovision_spark.operators.multimodal import (
        REGION_FP_SCHEMA,
        REGION_MIN_SHARED,
        region_fp_batch,
    )
    from eurovision_spark.sinks import upsert_parquet

    fpindex_dir = os.path.join(store_dir, "media_fpindex")
    decisions_dir = os.path.join(store_dir, "media_decisions")

    stream = _stream_parquet(spark, media_dir).select("doc_id", "content")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        fps = batch_df.mapInPandas(
            region_fp_batch, REGION_FP_SCHEMA
        ).localCheckpoint()
        if fps.isEmpty():
            return
        store = _read_store_or_empty(
            spark, fpindex_dir, "doc_id bigint, band_id int, fp string"
        )
        hits = (
            fps.alias("new")
            .join(
                store.alias("l"),
                (F.col("new.band_id") == F.col("l.band_id"))
                & (F.col("new.fp") == F.col("l.fp"))
                & (F.col("new.doc_id") != F.col("l.doc_id")),
            )
            .groupBy(
                F.col("new.doc_id").alias("doc_id"),
                F.col("l.doc_id").alias("landed_id"),
            )
            .agg(F.count("*").cast("bigint").alias("n_shared"))
            .filter(F.col("n_shared") >= REGION_MIN_SHARED)
        )
        best = hits.groupBy("doc_id").agg(
            F.min_by(
                F.struct("landed_id", "n_shared"), F.col("landed_id")
            ).alias("m")
        )
        decisions = (
            fps.select("doc_id")
            .distinct()
            .join(best, "doc_id", "left")
            .select(
                "doc_id",
                F.when(F.col("m").isNotNull(), F.lit("media_dup"))
                .otherwise(F.lit("landed"))
                .alias("decision"),
                F.col("m.landed_id").alias("matched_id"),
                F.col("m.n_shared").alias("n_shared"),
            )
            .localCheckpoint()
        )
        upsert_parquet(decisions, decisions_dir, ["doc_id"], keep="existing")
        landed_ids = decisions.filter(F.col("decision") == "landed").select(
            "doc_id"
        )
        upsert_parquet(
            fps.join(landed_ids, "doc_id", "leftsemi"),
            fpindex_dir,
            ["doc_id", "band_id"],
            keep="existing",
        )

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )


CHISQ_ALERT_PER_DOF = 10.0  # chi-square per degree of freedom above this flags


def stream_lang_gate(
    spark: SparkSession,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
    cat: str = "lang",
) -> StreamingQuery:
    """Streaming CATEGORICAL twin of the intake drift gate — the
    composition-flip check the numeric grids cannot express: every
    arriving micro-batch's ``cat`` mix (language by default; any
    categorical document column) is compared by two-sample chi-square
    (the operators/textstats.chisq_lang_drift formulation, batch vs
    landed baseline) BEFORE the batch folds in, and one ledger row per
    batch records the statistic, its degrees of freedom, and the alert
    (chi-square per dof above CHISQ_ALERT_PER_DOF). A crawl slice that
    keeps its length and token profiles but silently flips language
    composition (wrong parser locale, a proxy rerouting a domain)
    passes stream_drift_gate on every numeric marginal and fires only
    here.

    Stores (keyed parquet, replay contract: :func:`_keyed_gate`):

    - ``cat_batches/`` (batch_key, cat, n) — each batch's bounded
      category histogram (<= distinct-categories rows), the watched
      column as the tag;
    - ``lang_ledger/`` (batch_key, n_docs, chisq_vs_baseline, dof,
      alert) — one decision row per distinct batch.

    The first batch has no baseline: statistic and dof are null, alert
    0. Expectations on the full-join category grid are strictly
    positive (a grid row exists only where the batch or the baseline
    has mass, and both totals are positive once a baseline exists), so
    no zero denominator."""
    stream = _stream_docs(spark, docs_dir).select(
        "doc_id",
        # null-safe category (r08 review finding): a NULL category must
        # be ONE grid cell on both sides — the full join below uses
        # non-null-safe equality, so an un-coalesced NULL would split
        # into two maximal-drift rows and fire a spurious alert
        F.coalesce(F.col(cat).cast("string"), F.lit("<null>")).alias("cat"),
    )

    def statistic(counts: DataFrame, base: DataFrame | None) -> tuple:
        if base is None:
            return None, None, 0
        base_counts = base.groupBy("cat").agg(F.sum("n").alias("n"))
        g = (
            counts.select("cat", F.col("n").alias("nb"))
            .join(base_counts.select("cat", F.col("n").alias("na")), "cat", "full")
            .select(
                "cat",
                F.coalesce("nb", F.lit(0.0)).alias("nb"),
                F.coalesce("na", F.lit(0.0)).alias("na"),
            )
            .select(
                "nb",
                "na",
                F.sum("nb").over(W.partitionBy()).alias("tb"),
                F.sum("na").over(W.partitionBy()).alias("ta"),
            )
        )
        t = F.col("nb") + F.col("na")
        tot = F.col("tb") + F.col("ta")
        e_b = t * F.col("tb") / tot
        e_a = t * F.col("ta") / tot
        term = (F.col("nb") - e_b) * (F.col("nb") - e_b) / e_b + (
            F.col("na") - e_a
        ) * (F.col("na") - e_a) / e_a
        row = g.agg(F.round(F.sum(term), 6).alias("chisq"), F.count("*").alias("k")).first()
        chisq_val, dof = row.chisq, int(row.k) - 1
        alert = int(chisq_val is not None and chisq_val > CHISQ_ALERT_PER_DOF * max(dof, 1))
        return chisq_val, dof, alert

    return _keyed_gate(
        spark,
        stream,
        checkpoint_dir,
        os.path.join(store_dir, "cat_batches"),
        os.path.join(store_dir, "lang_ledger"),
        _config_tag("c", cat),
        lambda batch: _count_by(batch, "cat"),
        statistic,
        "batch_key string, n_docs bigint, chisq_vs_baseline double, dof int, alert int",
    )


RATE_Z_ALERT = 3.0  # |z| above this flags a (type, hour) cell


def stream_rate_gate(
    spark: SparkSession,
    events_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """EVENT-RATE intake gate — the events-modality member of the gate
    suite (documents: stream_drift_gate / stream_lang_gate /
    stream_quality_drift_gate / stream_embedding_gate): every arriving
    micro-batch's per-(event_type, hour) counts are z-scored against
    the LANDED per-type hourly-rate distribution before the batch
    folds in, catching the retry storm (spike) and the dead producer
    (an arriving hour far below its type's norm) at the door instead
    of in tomorrow's batch report (rate_anomaly is the corpus-wide
    twin; this gate trades its trailing-window locality for the landed
    corpus's FULL per-type hourly distribution — the baseline that is
    incrementally maintainable from bounded per-batch histograms).

    Stores (keyed parquet, replay contract: :func:`_keyed_gate`; the
    gate watches one fixed grid, so its tag is empty):

    - ``rate_batches/`` (batch_key, event_type, bucket, n) — each
      batch's (type, hour) count grid (event ids keyed as doc_id);
    - ``rate_ledger/`` (batch_key, n_events, n_cells, n_anomalous,
      alert) — one decision row per distinct batch.

    Baseline stats per type fold from all OTHER batches' stored grids
    (bounded: batches x types x hours rows, never raw events):
    exact-integer sum/sumsq over the type's landed [min, max] hour
    span — hours with no landed events are genuine zero observations
    (rate_anomaly's spine rule), entering k without touching the
    integer sums. The all-equal span is decided exactly like
    rate_anomaly (k*sumsq = sum^2 — no epsilon), where a deviating
    arriving cell alerts by integer compare. Types unseen in the
    baseline contribute no verdict (NULL z, not anomalous — nothing
    to deviate from). First batch: no baseline, alert 0.

    Scope, stated plainly (what this gate can and cannot fire on):

    - only (type, hour) cells PRESENT in the arriving batch are
      scored, so a diminished-but-nonzero producer fires here, but a
      producer gone fully silent contributes no cell and never fires
      at the door — total silence is a property of what did NOT
      arrive, and the batch twin ``rate_anomaly`` is the op that sees
      it (its gapfilled spine emits the zero-count hour explicitly);
      an intake-side dead-man switch would track per-type last-seen
      hours against wall clock, which is an operational timer, not a
      property of any batch.
    - an arriving cell's count is the count IN THIS BATCH: the gate's
      semantics assume micro-batch boundaries align with hour
      boundaries (the landed grid folds same-hour cells across batches
      back together, so the BASELINE self-heals, but a sliced arriving
      hour is z-scored at partial volume and can raise a spurious
      dropout alert for that batch). The replay/wave tests pin the
      aligned form; an aligned trigger (processingTime on the hour) or
      the batch twin adjudicates the sliced case."""
    HOUR_US = 3_600_000_000

    raw = stream_events_source(spark, events_dir)
    # dtype-adaptive hour axis (the timeaxis contract — never hand-coded
    # arithmetic on the raw ts column); integer `div` (truncate toward
    # zero) is rate_anomaly's exact bucket arithmetic — a double divide
    # + floor would diverge from the batch twin at pre-epoch ts and
    # lose integer exactness past 2^53
    stream = raw.select(
        F.col("event_id").alias("doc_id"),
        "event_type",
        ts_us_col(raw.schema["ts"].dataType).alias("_ts_us"),
    ).select("doc_id", "event_type", F.expr(f"_ts_us div {HOUR_US}").alias("bucket"))

    def histogram(batch: DataFrame) -> DataFrame:
        return batch.groupBy("event_type", "bucket").agg(
            F.count("*").cast("bigint").alias("n")
        )

    def statistic(counts: DataFrame, base: DataFrame | None) -> tuple:
        n_cells = counts.count()
        if base is None:
            return n_cells, 0, 0
        landed = base.groupBy("event_type", "bucket").agg(
            F.sum("n").cast("bigint").alias("n")
        )
        # per-type exact-integer stats over the landed span: hours
        # between a type's min and max with no events are genuine
        # zeros — they enter k, never the sums
        stats = landed.groupBy("event_type").agg(
            (F.max("bucket") - F.min("bucket") + 1).cast("bigint").alias("k"),
            F.sum("n").cast("bigint").alias("s"),
            F.sum(F.col("n") * F.col("n")).cast("bigint").alias("sq"),
        )
        j = counts.join(stats, "event_type", "left")
        flat = F.col("k") * F.col("sq") == F.col("s") * F.col("s")
        mean = F.col("s") / F.col("k")
        var = (F.col("sq") - F.col("s") * F.col("s") / F.col("k")) / (F.col("k") - 1)
        z = F.round((F.col("n") - mean) / F.sqrt(F.greatest(var, F.lit(0.0))), 4)
        anom = (
            F.when(F.col("k").isNull(), F.lit(0))  # unseen type: no verdict
            .when(F.col("k") < 2, F.lit(0))  # one landed hour: no spread
            .when(flat, (F.col("n") * F.col("k") != F.col("s")).cast("int"))
            .otherwise((F.abs(z) > RATE_Z_ALERT).cast("int"))
        )
        n_anom = int(j.agg(F.coalesce(F.sum(anom), F.lit(0))).first()[0])
        return n_cells, n_anom, int(n_anom > 0)

    return _keyed_gate(
        spark,
        stream,
        checkpoint_dir,
        os.path.join(store_dir, "rate_batches"),
        os.path.join(store_dir, "rate_ledger"),
        "",
        histogram,
        statistic,
        "batch_key string, n_events bigint, n_cells bigint, n_anomalous bigint, alert int",
    )


# contamination gate: alert when more than this fraction of a batch's
# docs share >= CONTAM_THRESHOLD grams with the benchmark suite (a
# handful of organic collisions is normal; a crawl that ingested the
# eval suite itself is not)
CGATE_FRAC_ALERT = 0.05


def build_bench_gram_store(bench_docs: DataFrame, store_dir: str) -> int:
    """Persist the benchmark suite's distinct gram hashes — the frozen
    artifact every arriving batch probes. Bounded by the SUITE size
    (eval suites are MBs in production; contamination_check's premise),
    never by the corpus, so overwrite-on-rebuild is the right
    versioning: a new suite release replaces the store wholesale and
    the gate picks it up at the next batch. Grams are the exact
    lowercased word-3-gram md5_long hashes of the batch twin
    (operators/pipeline.py contamination_check), so gate verdicts are
    comparable row-for-row with the batch op. Returns the gram count."""
    from eurovision_spark.operators.dedup import shingles
    from eurovision_spark.operators.textstats import md5_long, tokens

    grams = (
        bench_docs.filter(F.col("n_chars") > 0)
        .select(tokens(F.lower(F.col("text"))).alias("_toks"))
        .select(F.explode(F.array_distinct(shingles(F.col("_toks")))).alias("sh"))
        .select(md5_long(F.col("sh")).alias("gh"))
        .distinct()
    )
    grams.write.mode("overwrite").parquet(store_dir)
    return grams.sparkSession.read.parquet(store_dir).count()


def stream_contamination_gate(
    spark: SparkSession,
    docs_dir: str,
    store_dir: str,
    checkpoint_dir: str,
) -> StreamingQuery:
    """Streaming BENCHMARK-CONTAMINATION intake gate — the door-side
    twin of contamination_check (operators/pipeline.py): every arriving
    micro-batch's docs are probed against the persisted benchmark gram
    store (build_bench_gram_store) and docs sharing >=
    CONTAM_THRESHOLD distinct grams with the suite are flagged BEFORE
    they land in the training corpus — the gate the batch op can only
    emulate after the fact. Completes the intake suite's seventh
    marginal: exact text (incremental_dedup), vectors, spans, media,
    length/language/quality/embedding/rate drift — and now eval-suite
    leakage.

    Stores (keyed parquet, the gate-suite discipline):

    - ``contam_verdicts/`` (doc_id, n_shared, contaminated) — one
      first-wins verdict per doc, row-for-row EQUAL to the batch twin's
      output on the same docs (pinned in tests/test_streaming.py);
    - ``contam_ledger/`` (batch_key, n_docs, n_suite_grams,
      n_contaminated, contam_frac, alert) under the versioned 64-bit
      multiset batch digest; alert fires when contam_frac >
      CGATE_FRAC_ALERT, and n_suite_grams == 0 exposes a gate run
      against an absent/empty suite store (which passes vacuously).

    Per batch the only batch-sized work is one per-row distinct-gram
    explode + a BROADCAST probe of the bounded suite store + one
    doc_id-keyed partial/final count — gram text never shuffles and
    the store side is suite-sized at any corpus scale. At extreme
    suite sizes the broadcast store swaps for contamination_bloom's
    word-map pre-probe (the batch pair documents the trade). Replay:
    recomputed verdicts are identical and both first-wins upserts
    no-op."""
    from eurovision_spark.operators.dedup import shingles
    from eurovision_spark.operators.pipeline import CONTAM_THRESHOLD
    from eurovision_spark.operators.textstats import md5_long, tokens
    from eurovision_spark.sinks import upsert_parquet

    gram_dir = os.path.join(store_dir, "bench_grams")
    verdict_dir = os.path.join(store_dir, "contam_verdicts")
    ledger_dir = os.path.join(store_dir, "contam_ledger")

    stream = _stream_docs(spark, docs_dir).select("doc_id", "text")

    def _process(batch_df: DataFrame, epoch_id: int) -> None:
        n_docs, batch_key = drift_batch_key(batch_df.select("doc_id"))
        if not n_docs:
            return
        # suite size rides the ledger: a gate run against an absent or
        # empty store passes EVERYTHING vacuously — n_suite_grams == 0
        # makes that auditable instead of silent
        bench = _read_store_or_empty(spark, gram_dir, "gh bigint").localCheckpoint()
        n_suite = bench.count()
        grams = (
            batch_df.select("doc_id", tokens(F.lower(F.col("text"))).alias("_toks"))
            .select(
                "doc_id",
                F.explode(F.array_distinct(shingles(F.col("_toks")))).alias("sh"),
            )
            .select("doc_id", md5_long(F.col("sh")).alias("gh"))
        )
        shared = (
            grams.join(F.broadcast(bench), "gh")
            .groupBy("doc_id")
            .agg(F.count_distinct("gh").alias("n"))
        )
        n_shared = F.coalesce(F.col("n"), F.lit(0))
        verdicts = (
            batch_df.select("doc_id")
            .join(shared, "doc_id", "left")
            .select(
                "doc_id",
                n_shared.cast("bigint").alias("n_shared"),
                (n_shared >= CONTAM_THRESHOLD).cast("int").alias("contaminated"),
            )
            .localCheckpoint()
        )
        n_contam = verdicts.filter(F.col("contaminated") == 1).count()
        frac = round(n_contam / n_docs, 6)
        ledger_row = spark.createDataFrame(
            [
                (
                    batch_key,
                    n_docs,
                    n_suite,
                    n_contam,
                    frac,
                    int(frac > CGATE_FRAC_ALERT),
                )
            ],
            "batch_key string, n_docs bigint, n_suite_grams bigint, "
            "n_contaminated bigint, contam_frac double, alert int",
        )
        upsert_parquet(ledger_row, ledger_dir, ["batch_key"], keep="existing")
        upsert_parquet(verdicts, verdict_dir, ["doc_id"], keep="existing")

    return (
        stream.writeStream.foreachBatch(_process)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
