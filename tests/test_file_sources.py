"""CSV / JSON-lines source tests (sources/files.py): explicit-schema
scans, PERMISSIVE corrupt-record quarantine, and round-trip fidelity
against the parquet-native path."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from eurovision_spark.sources import load_table, read_csv, read_jsonl, split_corrupt

SF = "/root/testdata/sf0.001"

DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("lang", StringType()),
        StructField("n_chars", LongType()),
    ]
)


def test_csv_roundtrip_matches_parquet(spark, tmp_path):
    src = load_table(spark, SF, "documents").select("doc_id", "lang", "n_chars")
    csv_dir = str(tmp_path / "docs_csv")
    src.write.option("header", True).csv(csv_dir)

    back = read_csv(spark, csv_dir, DOC_SCHEMA)
    clean, quarantine = split_corrupt(back)
    assert quarantine.count() == 0
    assert sorted(map(tuple, clean.collect())) == sorted(map(tuple, src.collect()))


def test_jsonl_corrupt_rows_are_quarantined_not_dropped(spark, tmp_path):
    p = tmp_path / "rows.jsonl"
    p.write_text(
        '{"doc_id": 1, "lang": "en", "n_chars": 10}\n'
        "this line is not json\n"
        '{"doc_id": 2, "lang": "fr", "n_chars": 20}\n'
        '{"doc_id": "NOT_A_NUMBER", "lang": "de", "n_chars": 5}\n'
    )
    df = read_jsonl(spark, str(p), DOC_SCHEMA)
    clean, quarantine = split_corrupt(df)
    assert {r.doc_id for r in clean.collect()} == {1, 2}
    # both failure modes land in quarantine with the raw line preserved
    bad = [r._corrupt for r in quarantine.collect()]
    assert len(bad) == 2
    assert any("not json" in b for b in bad)
    assert any("NOT_A_NUMBER" in b for b in bad)


def test_csv_malformed_numeric_quarantined(spark, tmp_path):
    p = tmp_path / "rows.csv"
    p.write_text("doc_id,lang,n_chars\n1,en,10\nbad,fr,notanint\n2,de,30\n")
    clean, quarantine = split_corrupt(read_csv(spark, str(p), DOC_SCHEMA))
    assert {r.doc_id for r in clean.collect()} == {1, 2}
    assert quarantine.count() == 1


def test_explicit_schema_means_no_inference_pass(spark, tmp_path):
    # the reader must not need header/inference jobs: a schema'd scan of
    # a headerless file parses by position
    p = tmp_path / "nohdr.csv"
    p.write_text("7,en,42\n")
    clean, _ = split_corrupt(read_csv(spark, str(p), DOC_SCHEMA, header=False))
    row = clean.collect()[0]
    assert (row.doc_id, row.lang, row.n_chars) == (7, "en", 42)


def test_events_jsonl_flows_into_engine_ops(spark, tmp_path):
    # interchange intake composes with the catalog's tables: write a
    # JSONL slice of events, read it back, aggregate
    ev = load_table(spark, SF, "events").select("event_id", "user_id", "event_type", "value")
    jl = str(tmp_path / "events_jsonl")
    ev.write.json(jl)
    schema = StructType(
        [
            StructField("event_id", LongType()),
            StructField("user_id", LongType()),
            StructField("event_type", StringType()),
            StructField("value", DoubleType()),
        ]
    )
    clean, quarantine = split_corrupt(read_jsonl(spark, jl, schema))
    assert quarantine.count() == 0
    got = {
        r.event_type: r.n
        for r in clean.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    want = {
        r.event_type: r.n
        for r in ev.groupBy("event_type").agg(F.count("*").alias("n")).collect()
    }
    assert got == want


def test_upsert_parquet_policies_and_replay_idempotence(spark, tmp_path):
    """The keyed MERGE edge (sinks.upsert_parquet): first-wins keeps
    existing rows, last-wins replaces them, and replaying the same
    update batch changes nothing (the exactly-once property the
    streaming ingest leans on)."""
    from eurovision_spark.sinks import upsert_parquet

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    upsert_parquet(base, path, ["k"])  # empty target: plain write
    upd = spark.createDataFrame([(2, "B"), (3, "c")], "k long, v string")

    upsert_parquet(upd, path, ["k"], keep="existing")
    got = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b", 3: "c"}  # existing k=2 survives

    upsert_parquet(upd, path, ["k"], keep="existing")  # replay: no-op
    assert {r.k: r.v for r in spark.read.parquet(path).collect()} == got

    upsert_parquet(upd, path, ["k"], keep="updates")
    got2 = {r.k: r.v for r in spark.read.parquet(path).collect()}
    assert got2 == {1: "a", 2: "B", 3: "c"}  # incoming k=2 replaces


KV = "k long, v string"
# base (fresh append), first-wins append, last-wins swap, keyed delete
UPSERT_STEPS = [
    ([(1, "a"), (2, "b")], "existing"),
    ([(2, "B"), (3, "c")], "existing"),
    ([(3, "C"), (4, "d")], "updates"),
    ([(4, None)], "delete"),
]
CLEAN_STATES = [
    {1: "a", 2: "b"},
    {1: "a", 2: "b", 3: "c"},
    {1: "a", 2: "b", 3: "C", 4: "d"},
    {1: "a", 2: "b", 3: "C"},
]


class Crash(Exception):
    pass


def _run_step(spark, path, i, frame=None):
    from eurovision_spark.sinks import delete_keys, upsert_parquet

    rows, keep = UPSERT_STEPS[i]
    df = frame if frame is not None else spark.createDataFrame(rows, KV)
    if keep == "delete":
        delete_keys(spark, path, "k", df)
    else:
        upsert_parquet(df, path, ["k"], keep=keep)


def _store(spark, path):
    from eurovision_spark.streaming.ingest import _read_store_or_empty

    return {r.k: r.v for r in _read_store_or_empty(spark, path, KV).collect()}


def _leftovers(tmp_path, name):
    """Staging entries a commit may leave: ``_stage`` inside the store,
    ``_next`` / ``_old`` beside it."""
    inside = [e for e in os.listdir(tmp_path / name) if e.startswith("_stage")]
    beside = [e for e in os.listdir(tmp_path) if e != name]
    return inside + beside


def _fail_once(real, pred):
    state = {"armed": True}

    def fake(*args, **kwargs):
        if state["armed"] and pred(*args):
            state["armed"] = False
            raise Crash(args)
        return real(*args, **kwargs)

    return fake


# (failing call, predicate on its arguments, step it fires in)
CRASH_POINTS = {
    # the fresh store's staged copy never renamed in
    "fresh_commit_rename": ("rename", lambda src, dst: src.endswith("_next"), 0),
    # the append's staged file never renamed into the store
    "append_commit_rename": ("rename", lambda src, dst: "_stage" in src, 1),
    # the append committed, its staging directory not yet deleted
    "append_stage_cleanup": ("rmtree", lambda p, *a: p.endswith("_stage"), 1),
    # between the swap's renames: live copy aside, new copy not yet in
    "swap_between_renames": (
        "rename",
        lambda src, dst: src.endswith("_next") and os.path.isdir(dst + "_old"),
        2,
    ),
    # the swap committed, the swapped-out copy not yet deleted
    "swap_old_cleanup": ("rmtree", lambda p, *a: p.endswith("_old"), 3),
}


@pytest.mark.parametrize("point", sorted(CRASH_POINTS))
def test_store_commit_crash_then_replay_equals_clean_run(spark, tmp_path, monkeypatch, point):
    """The store-commit contract (sinks.commit_store): a crash at any
    step of a commit leaves the store reading as either its state
    before the commit or after it — never a mix — and replaying the
    interrupted step, then the rest, ends at exactly the clean run's
    store, with no staging entry left behind."""
    import shutil

    what, pred, at = CRASH_POINTS[point]
    path = str(tmp_path / "tbl")
    for i in range(len(UPSERT_STEPS)):
        if i != at:
            _run_step(spark, path, i)
            continue
        mod, name = (os, "rename") if what == "rename" else (shutil, "rmtree")
        with monkeypatch.context() as m:
            m.setattr(mod, name, _fail_once(getattr(mod, name), pred))
            with pytest.raises(Crash):
                _run_step(spark, path, i)
        before = CLEAN_STATES[i - 1] if i else {}
        assert _store(spark, path) in (before, CLEAN_STATES[i])
        _run_step(spark, path, i)  # the at-least-once replay
        assert _store(spark, path) == CLEAN_STATES[i]
    assert _store(spark, path) == CLEAN_STATES[-1]
    assert _leftovers(tmp_path, "tbl") == []


def test_store_commit_failed_staged_write_then_replay(spark, tmp_path):
    """A Spark write that dies before the staged file is complete (a
    task error mid-write) commits nothing; the replay lands the rows
    once."""
    from pyspark.sql.functions import udf

    path = str(tmp_path / "tbl")
    _run_step(spark, path, 0)

    @udf("string")
    def boom(v):
        raise ValueError("task died mid-write")

    bad = spark.createDataFrame(UPSERT_STEPS[1][0], KV).withColumn("v", boom("v"))
    with pytest.raises(Exception, match="task died mid-write"):
        _run_step(spark, path, 1, frame=bad)
    assert _store(spark, path) == CLEAN_STATES[0]
    for i in range(1, len(UPSERT_STEPS)):
        _run_step(spark, path, i)
    assert _store(spark, path) == CLEAN_STATES[-1]
    assert _leftovers(tmp_path, "tbl") == []


def test_store_append_adds_one_file_per_nonempty_delta(spark, tmp_path):
    """Append commits stay flat and small: N appends add at most N
    ``*.parquet`` files directly under the store, a delta with no new
    key (a replay) adds none, and no staging entry survives."""
    from eurovision_spark.sinks import upsert_parquet

    path = str(tmp_path / "tbl")

    def files():
        return sorted(f for f in os.listdir(path) if f.endswith(".parquet"))

    upsert_parquet(spark.range(0, 40).selectExpr("id AS k", "'x' AS v"), path, ["k"])
    assert len(files()) == 1
    for n in range(1, 4):
        batch = spark.range(n * 10, n * 10 + 40).selectExpr("id AS k", "'y' AS v")
        upsert_parquet(batch, path, ["k"])
        assert len(files()) == 1 + n
        assert _leftovers(tmp_path, "tbl") == []
        held = files()
        upsert_parquet(batch, path, ["k"])  # replay: empty delta
        assert files() == held
    assert spark.read.parquet(path).count() == 70
    assert not [e for e in os.listdir(path) if os.path.isdir(os.path.join(path, e))]


def test_store_reads_and_first_wins_upsert_launch_no_schema_job(spark, tmp_path):
    """Job-count pin of the store paths: a store read with its known
    schema launches no job at all (no schema-inference pass), and a
    first-wins upsert into an existing store — key-only read, anti-join,
    one staged file — launches at most 2 (measured: the anti-join's
    broadcast plus the write), and so does a keyed delete, which reads
    the store with the schema in a file's footer (measured: 2, the
    schema-inference read took 3); so a schema-inference job or a
    second write shows as a failure here."""
    from eurovision_spark.sinks import delete_keys, upsert_parquet
    from eurovision_spark.streaming.ingest import _read_store_or_empty

    sc = spark.sparkContext
    path = str(tmp_path / "tbl")
    upsert_parquet(spark.range(0, 200).selectExpr("id AS k", "'x' AS v"), path, ["k"])
    upd = spark.range(150, 300).selectExpr("id AS k", "'y' AS v")

    def jobs(group, fn):
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs("store-read", lambda: _read_store_or_empty(spark, path, KV)) == 0
    assert jobs("store-append", lambda: upsert_parquet(upd, path, ["k"])) <= 2
    assert spark.read.parquet(path).count() == 300
    victims = spark.range(0, 100).selectExpr("id AS k")
    assert jobs("store-delete", lambda: delete_keys(spark, path, "k", victims)) <= 2
    assert spark.read.parquet(path).count() == 200


def test_orc_roundtrip_matches_parquet(spark, tmp_path):
    """ORC interchange: write the documents projection as ORC, read it
    back, rows identical — and the ORC scan still takes pushed filters
    (same vectorized-columnar contract as the parquet store)."""
    from eurovision_spark.obs import plan_text
    from eurovision_spark.sinks import write_orc

    src = load_table(spark, SF, "documents").select("doc_id", "lang", "n_chars")
    orc_dir = str(tmp_path / "docs_orc")
    write_orc(src, orc_dir)
    back = spark.read.orc(orc_dir)
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, src.collect()))

    plan = plan_text(back.filter(F.col("n_chars") > 100))
    assert "PushedFilters: [IsNotNull(n_chars), GreaterThan(n_chars,100)]" in plan


def test_parquet_schema_evolution_on_read(spark, tmp_path):
    """The native store tolerates additive schema drift: files written
    before a column existed read as NULL for it under mergeSchema —
    the append-only evolution story a long-lived 100 TB table needs
    (and the read-side twin of union_evolution's unionByName)."""
    p = str(tmp_path / "tbl")
    old = spark.createDataFrame([(1, "a")], "k long, v string")
    old.write.parquet(p + "/batch=1")
    new = spark.createDataFrame([(2, "b", 9.5)], "k long, v string, score double")
    new.write.parquet(p + "/batch=2")

    merged = spark.read.option("mergeSchema", True).parquet(p)
    assert set(merged.columns) == {"k", "v", "score", "batch"}
    rows = {r.k: (r.v, r.score) for r in merged.collect()}
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_write_clustered_yields_near_disjoint_file_ranges(spark, tmp_path):
    """Range clustering is only worth its shuffle if the layout it buys
    is real: each output file's (min, max) on the cluster key — read
    straight from the parquet footers, the same stats the row-group
    skip uses — must be disjoint from every other file's, so a pushed
    point/range predicate touches ~1 file instead of all of them."""
    import pyarrow.parquet as pq

    from eurovision_spark.sinks import write_clustered

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem").select(
        "l_orderkey", "l_extendedprice"
    )
    out = str(tmp_path / "clustered")
    write_clustered(li, out, ["l_orderkey"], files=8)
    ranges = []
    for f in sorted((tmp_path / "clustered").glob("*.parquet")):
        md = pq.ParquetFile(str(f)).metadata
        stats = [md.row_group(i).column(0).statistics for i in range(md.num_row_groups)]
        assert md.schema.column(0).name == "l_orderkey"
        ranges.append((min(s.min for s in stats), max(s.max for s in stats)))
    assert len(ranges) == 8
    ranges.sort()
    for (lo1, hi1), (lo2, hi2) in zip(ranges, ranges[1:]):
        # range partitioner: files cover consecutive key ranges; the
        # same orderkey may straddle a boundary but never interleave
        assert hi1 <= lo2
    # round-trip intact
    assert spark.read.parquet(out).count() == li.count()


def test_compact_parquet_restores_target_file_count(spark, tmp_path):
    from eurovision_spark.sinks import compact_parquet

    li = load_table(spark, "/root/testdata/sf0.01", "lineitem")
    frag = str(tmp_path / "frag")
    li.repartition(64).write.parquet(frag)  # the streaming-writer mess
    n_small = len(list((tmp_path / "frag").glob("*.parquet")))
    assert n_small == 64
    before = spark.read.parquet(frag).count()
    total = sum(f.stat().st_size for f in (tmp_path / "frag").glob("*.parquet"))
    n = compact_parquet(spark, frag, target_file_bytes=(total // 4) + 1)
    assert n == 4
    assert len(list((tmp_path / "frag").glob("*.parquet"))) == 4
    assert spark.read.parquet(frag).count() == before


def test_compact_parquet_reads_non_spark_parquet_with_inference(spark, tmp_path):
    """A parquet file written by another tool carries no Spark schema
    record in its footer; compaction reads it the way Spark infers it,
    unsigned ints and zone-less timestamps included."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    from eurovision_spark.sinks import compact_parquet

    frag = tmp_path / "foreign"
    frag.mkdir()
    stamp = datetime.datetime(2020, 1, 2, 3, 4, 5)
    for i in range(3):
        pq.write_table(
            pa.table({
                "k": pa.array([i], pa.uint32()),
                "ts": pa.array([stamp], pa.timestamp("us")),
            }),
            frag / f"part-{i}.parquet",
        )
    want = spark.read.parquet(str(frag))
    want_schema, want_rows = want.schema, sorted(want.collect())
    assert compact_parquet(spark, str(frag)) == 1
    got = spark.read.parquet(str(frag))
    assert got.schema == want_schema
    assert sorted(got.collect()) == want_rows


def test_csv_header_recognized_with_quotes_and_spacing(spark, tmp_path):
    """Headers that differ from the synthesized spelling — quoted cells,
    spacing after separators — must still be dropped as headers, not
    leak into the quarantine as bogus corrupt rows."""
    from pyspark.sql.types import LongType, StringType, StructField, StructType

    p = tmp_path / "quoted.csv"
    p.write_text('"doc_id","text"\n1,hello\ndoc_id, text\n2,world\n')
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    clean, quarantine = split_corrupt(read_csv(spark, str(p), schema))
    assert quarantine.count() == 0
    assert sorted((r.doc_id, r.text) for r in clean.collect()) == [
        (1, "hello"),
        (2, "world"),
    ]


def test_write_training_shards_orders_and_reproduces(spark, tmp_path):
    """The shard materializer (r10): kept manifest rows land under
    split=<s>/shard=<k>/ with rows in pos order inside each shard
    directory, pos dense 1..n, only keep=1 docs written — and a rerun
    reproduces identical per-shard content+order (shard/pos are
    md5-derived, the shard_plan audit property), which a random()
    shuffle writer cannot give."""
    from pyspark.sql import functions as F

    from eurovision_spark.sinks import write_training_shards

    # synthetic manifest: 40 kept + 10 dropped docs over 3 shards
    rows = []
    pos_per_shard = {}
    for i in range(50):
        keep = 1 if i < 40 else 0
        shard = i % 3 if keep else None
        pos = None
        if keep:
            pos = pos_per_shard.get(shard, 0) + 1
            pos_per_shard[shard] = pos
        rows.append(
            (i, "train" if i % 5 else "test", shard, pos, keep)
        )
    manifest = spark.createDataFrame(
        rows, "doc_id bigint, split string, shard int, pos int, keep int"
    )
    docs = spark.createDataFrame(
        [(i, f"text of document {i}") for i in range(50)],
        "doc_id bigint, text string",
    )

    def read_shards(d):
        out = {}
        import pathlib

        for splitdir in pathlib.Path(d).glob("split=*"):
            for sharddir in splitdir.glob("shard=*"):
                df = spark.read.parquet(str(sharddir))
                out[(splitdir.name, sharddir.name)] = [
                    (r.doc_id, r.pos, r.text) for r in df.collect()
                ]
        return out

    n = write_training_shards(manifest, docs, str(tmp_path / "shards"))
    assert n == 40
    first = read_shards(tmp_path / "shards")
    assert first  # directories exist
    all_ids = set()
    for (_s, _k), content in first.items():
        ps = [p for (_i, p, _t) in content]
        assert ps == sorted(ps), "rows not in pos order within the shard"
        all_ids.update(i for (i, _p, _t) in content)
        for i, _p, t in content:
            assert t == f"text of document {i}"
    assert all_ids == set(range(40))  # every kept doc, no dropped doc

    # reproducibility: content AND order identical per shard directory
    n2 = write_training_shards(manifest, docs, str(tmp_path / "shards2"))
    assert n2 == 40
    second = read_shards(tmp_path / "shards2")
    assert {k: v for k, v in first.items()} == second


def test_rewrite_dirty_shards_touches_only_dirty_dirs(spark, tmp_path):
    """The incremental shard writer (r10): after a manifest delta,
    only changed (split, shard) directories are rewritten — clean
    directories keep their exact files (name-identical, untouched),
    vanished directories are removed, and the incremental result is
    content-identical per directory to a from-scratch write of the new
    manifest (write_training_shards' reproducibility makes that
    comparable)."""
    import pathlib

    from eurovision_spark.sinks import rewrite_dirty_shards, write_training_shards

    def manifest(rows):
        return spark.createDataFrame(
            rows, "doc_id bigint, split string, shard int, pos int, keep int"
        )

    docs = spark.createDataFrame(
        [(i, f"text of document {i}") for i in range(100)],
        "doc_id bigint, text string",
    )
    # v1: shards 0/1/2 in train + shard 0 in test
    v1 = (
        [(i, "train", 0, i + 1, 1) for i in range(10)]
        + [(20 + i, "train", 1, i + 1, 1) for i in range(10)]
        + [(40 + i, "train", 2, i + 1, 1) for i in range(10)]
        + [(60 + i, "test", 0, i + 1, 1) for i in range(5)]
    )
    # v2: shard 0 drops doc 0 (repacked pos), shard 1 gains doc 90,
    # shard 2 unchanged, test shard 0 vanishes entirely
    v2 = (
        [(i, "train", 0, i, 1) for i in range(1, 10)]
        + [(20 + i, "train", 1, i + 1, 1) for i in range(10)]
        + [(90, "train", 1, 11, 1)]
        + [(40 + i, "train", 2, i + 1, 1) for i in range(10)]
    )

    out = tmp_path / "shards"
    n = write_training_shards(manifest(v1), docs, str(out))
    assert n == 35

    def listing(d):
        return {
            p.relative_to(d).as_posix(): p.stat().st_mtime_ns
            for p in pathlib.Path(d).rglob("*.parquet")
        }

    before = listing(out)
    n_dirty, n_rows = rewrite_dirty_shards(manifest(v1), manifest(v2), docs, str(out))
    assert n_dirty == 3  # train/0 changed, train/1 changed, test/0 gone
    assert n_rows == 9 + 11  # the two rewritten dirs' new row counts
    after = listing(out)

    clean = {k: v for k, v in before.items() if k.startswith("split=train/shard=2")}
    assert clean and all(after.get(k) == v for k, v in clean.items()), (
        "clean directory files were touched"
    )
    assert not any(k.startswith("split=test/shard=0") for k in after), (
        "vanished directory survives"
    )

    # content parity with a from-scratch v2 write, per directory
    fresh = tmp_path / "fresh"
    write_training_shards(manifest(v2), docs, str(fresh))

    def read_dirs(d):
        res = {}
        for sd in pathlib.Path(d).glob("split=*/shard=*"):
            key = sd.relative_to(d).as_posix()
            df = spark.read.parquet(str(sd))
            res[key] = sorted((r.doc_id, r.pos, r.text) for r in df.collect())
        return res

    assert read_dirs(out) == read_dirs(fresh)
