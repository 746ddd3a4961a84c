"""Edge sinks: parquet (native), CSV/Excel (export edge), JDBC (parity).

The engine's native store is parquet (SURVEY §7 guiding decisions);
xlsx/CSV are driver-side edges applied to already-small query RESULTS
(toexcel.py:124-162 semantics) — all heavy lifting stays in Spark.
The reference's SQLite sink (scan.py:121-132) maps to ``write_jdbc``;
its PK-duplicate swallow becomes an explicit dropDuplicates.

Keyed stores (the streaming intake tier: ``upsert_parquet``,
``delete_keys``, ``compact_parquet``) share one layout and one commit
primitive, :func:`commit_store`:

- Layout: a store is the flat directory ``path/`` whose committed data
  are the ``*.parquet`` files directly under it — no partition
  subdirectories, so Spark, a ``path/*.parquet`` glob and a footer scan
  all see the same rows.
- Append: the new rows are written as one file under ``path/_stage``
  (hidden: Spark and the glob skip ``_`` names) and renamed into
  ``path``. One rename commits; an empty delta commits nothing.
- Swap: a rewrite is written once to ``path_next``, then ``path`` moves
  to ``path_old``, ``path_next`` to ``path``, and ``path_old`` is
  deleted.
- Recovery: :func:`recover_store` runs before every store read and
  commit; it finishes a swap cut between its renames and rolls back
  anything else a crash left. After a commit returns, no ``_stage``,
  ``_next`` or ``_old`` entry remains.
- Concurrency: distinct stores may commit at the same time
  (:class:`_ConcurrentUpserts` overlaps a batch's independent commits);
  each store still has one writer, which the recovery above assumes.
"""

from __future__ import annotations

import os
import shutil
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eurovision_spark.session import scoped_conf

STAGE, NEXT, OLD = "_stage", "_next", "_old"


def write_parquet(df: DataFrame, path: str, partition_by: list[str] | None = None) -> None:
    """Native sink. At scale, pass partition_by for partition pruning on
    later reads; writers coalesce via AQE."""
    w = df.write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def write_orc(df: DataFrame, path: str) -> None:
    """ORC interchange sink — the other splittable columnar format a
    warehouse exchange meets; same pushdown/pruning properties as the
    parquet native store (Spark's ORC reader is vectorized too)."""
    df.write.mode("overwrite").orc(path)


def write_csv(df: DataFrame, path: str) -> None:
    """CSV export edge: header row + empty-string-for-missing, matching
    the reference's worksheet shape (toexcel.py:129-131)."""
    df.na.fill("").write.mode("overwrite").option("header", True).csv(path)


def write_excel(df: DataFrame, path: str, sheet: str = "Test Record") -> None:
    """xlsx sink for (small) result sets — the reference's Workbook
    append loop (toexcel.py:126-162). Gated on openpyxl; falls back to
    CSV when the engine is deployed without it."""
    pdf = df.toPandas()
    try:
        import openpyxl  # noqa: F401

        pdf.to_excel(path, sheet_name=sheet, index=False, engine="openpyxl")
    except ImportError:
        pdf.to_csv(path + ".csv", index=False)


def write_jdbc(
    df: DataFrame, url: str, table: str, mode: str = "append", **options: str
) -> None:
    """JDBC parity sink (reference SQLite INSERTs, scan.py:121-132,
    199-217). Duplicate-PK tolerance (scan.py:129-132) is made explicit:
    dedupe on the key BEFORE the write instead of swallowing conflicts.
    Requires the matching JDBC driver jar on the classpath."""
    df.write.mode(mode).format("jdbc").option("url", url).option("dbtable", table).options(
        **options
    ).save()


def write_bucketed(
    df: DataFrame, table: str, key: str, buckets: int = 64, path: str | None = None
) -> None:
    """Bucketed parquet table: pre-shuffled on the join/agg key at write
    time so every later equi-join or groupBy on ``key`` runs with NO
    exchange (the 100 TB replacement for the reference's B-tree indexes
    on eudract_id, scan.py:71-73 / SURVEY §4). Readers must come through
    ``spark.table`` for the catalog to expose the bucketing spec;
    tests/test_plans.py proves the join plan is exchange-free."""
    w = df.write.mode("overwrite").format("parquet").bucketBy(buckets, key).sortBy(key)
    if path:
        w = w.option("path", path)
    w.saveAsTable(table)


def recover_store(path: str) -> None:
    """Finish or roll back a commit on ``path`` that a crash cut short.

    ``path_old`` without ``path``: the crash fell between the swap's
    renames, and the complete ``path_next`` is renamed in. Otherwise
    every ``path_old``, ``path_next`` and ``path/_stage`` left behind is
    deleted: the commit either landed already or rolls back, and the
    replay of its batch redoes it. Assumes one writer per store.
    """
    nxt, old = path + NEXT, path + OLD
    if os.path.isdir(old) and not os.path.isdir(path):
        os.rename(nxt, path)
    for leftover in (old, nxt, os.path.join(path, STAGE)):
        if os.path.isdir(leftover):
            shutil.rmtree(leftover)


def commit_store(df: DataFrame, path: str, replace: bool = False) -> None:
    """Commit ``df`` to the store at ``path`` (layout: module docstring).

    Append (default): ``df`` lands as one file, renamed in from
    ``path/_stage``; a file without rows is dropped. The first commit to
    an absent store lands even an empty file, so the store carries its
    schema. Swap (``replace=True``): ``df`` is the whole new table,
    written to ``path_next`` and renamed in; ``df`` may read ``path``.
    """
    recover_store(path)
    if replace or not os.path.isdir(path):
        nxt, old = path + NEXT, path + OLD
        (df if replace else df.coalesce(1)).write.mode("overwrite").parquet(nxt)
        if os.path.isdir(path):
            os.rename(path, old)
            os.rename(nxt, path)
            shutil.rmtree(old)
        else:
            os.rename(nxt, path)
        return
    import pyarrow.parquet as pq

    stage = os.path.join(path, STAGE)
    df.coalesce(1).write.mode("overwrite").parquet(stage)
    for name in os.listdir(stage):
        f = os.path.join(stage, name)
        if name.endswith(".parquet") and pq.read_metadata(f).num_rows:
            os.rename(f, os.path.join(path, name))
    shutil.rmtree(stage)


def _read_committed(spark, path: str) -> DataFrame:
    """The store at ``path`` read with the Spark schema recorded in one
    committed file's footer, so the read launches no schema-inference
    job. A directory with no parquet file directly under it (a
    partitioned table) or a file with no Spark schema record (not
    written by Spark) is read with inference."""
    import json

    import pyarrow.parquet as pq

    files = sorted(f for f in os.listdir(path) if f.endswith(".parquet"))
    if not files:
        return spark.read.parquet(path)
    footer = pq.read_schema(os.path.join(path, files[0]))
    recorded = (footer.metadata or {}).get(b"org.apache.spark.sql.parquet.row.metadata")
    if not recorded:
        return spark.read.parquet(path)
    return spark.read.schema(T.StructType.fromJson(json.loads(recorded))).parquet(path)


def _anti(left: DataFrame, right: DataFrame, keys: list[str]) -> DataFrame:
    """``left`` rows whose key has no match in ``right``, NULL-SAFE: the
    plain ``left_anti`` on column names compares with ``=``, under which
    NULL never equals NULL, so a row with any null key (child tables key
    on the WHOLE row, and never-captured fields are null) would re-append
    on every replay and break the exactly-once idempotency the streaming
    ingest's at-least-once retries rely on."""
    l, r = left.alias("l"), right.select(*keys).alias("r")
    cond = None
    for k in keys:
        c = F.col(f"l.{k}").eqNullSafe(F.col(f"r.{k}"))
        cond = c if cond is None else cond & c
    return l.join(r, cond, "left_anti")


def upsert_parquet(
    df: DataFrame, path: str, keys: list[str], keep: str = "existing"
) -> None:
    """Keyed merge into a parquet store — the engine's MERGE edge.

    ``keep="existing"``: first writer wins per key; only rows whose key
    is absent are appended (the reference's swallowed duplicate-PK
    INSERT, scan.py:129-132, made explicit). ``keep="updates"``:
    last writer wins; incoming rows replace same-key rows. For
    ``"updates"`` keys must be unique within ``df`` (pre-aggregate
    upstream; this op does not pick among duplicate incoming rows); for
    ``"existing"`` the rows of ``df`` that share a key land or drop
    together (the intake gates append a whole histogram per batch key).

    Mechanics: ``keep="existing"`` reads only the key columns of the
    store, with their types taken from ``df`` (no schema-inference job),
    and appends the anti-join of ``df`` against them through
    :func:`commit_store`: work and output track the batch, not the
    store, and a replay finds every key present and commits nothing.
    ``keep="updates"`` must rewrite: the survivor set ``df`` ∪
    (store ⊖ ``df``) is written once and swapped in. An absent store
    takes ``df`` as its first append. Plain parquet has no
    transactional MERGE; a table format with a real MERGE (Delta,
    Iceberg) would take the same anti-join shape.
    """
    if keep not in ("existing", "updates"):
        raise ValueError(f"keep must be 'existing' or 'updates', got {keep!r}")
    spark = df.sparkSession
    recover_store(path)
    if not os.path.isdir(path):
        commit_store(df, path)
    elif keep == "existing":
        held = spark.read.schema(T.StructType([df.schema[k] for k in keys])).parquet(path)
        commit_store(_anti(df, held, keys), path)
    else:
        existing = spark.read.schema(df.schema).parquet(path)
        commit_store(df.unionByName(_anti(existing, df, keys)), path, replace=True)


class _ConcurrentUpserts:
    """Overlap independent keyed-store commits.

    A context manager whose ``commit(df, path, keys, keep)`` starts
    :func:`upsert_parquet` on a worker thread of its own (one per
    commit) and returns at once. The worker inherits the local
    properties (job group, tags) the caller holds at that call; a plain
    thread would run its jobs in no job group. On exit, it waits for
    every commit started, then re-raises the first failure (the body's
    own exception, if any, takes precedence), so a crash leaves a
    well-defined set of stores committed. The caller keeps the
    ordering: two commits to one store, or a commit whose ``df`` reads
    a store another commit writes, must not overlap. Nothing the
    workers run changes a session conf.
    """

    def __init__(self) -> None:
        self.threads: list[threading.Thread] = []
        self.errors: list[BaseException] = []

    def commit(
        self, df: DataFrame, path: str, keys: list[str], keep: str = "existing"
    ) -> None:
        from pyspark import inheritable_thread_target

        def run() -> None:
            try:
                upsert_parquet(df, path, keys, keep)
            except BaseException as e:  # noqa: BLE001 — re-raised on exit
                self.errors.append(e)

        t = threading.Thread(target=inheritable_thread_target(df.sparkSession)(run))
        t.start()
        self.threads.append(t)

    def __enter__(self) -> "_ConcurrentUpserts":
        return self

    def __exit__(self, exc_type, exc, tb) -> None:
        for t in self.threads:
            t.join()
        if exc_type is None and self.errors:
            raise self.errors[0]


def delete_keys(spark, path: str, key: str, victims: DataFrame) -> None:
    """Keyed DELETE from a parquet store — the retirement edge of the
    incremental stores (refresh_corpus): the store without the rows
    whose ``key`` appears in ``victims``, committed by the swap form of
    :func:`commit_store` (one left-anti join, written once). A missing
    store is a no-op."""
    recover_store(path)
    if not os.path.isdir(path):
        return
    existing = _read_committed(spark, path)
    # a USING-column join (anti included) moves the join key to the
    # front of the output — re-select the original order so repeated
    # deletes on different keys never reorder the store's columns
    kept = existing.join(victims.select(key), key, "left_anti").select(
        *existing.columns
    )
    commit_store(kept, path, replace=True)


def write_sqlite(tables: dict[str, DataFrame], db_path: str) -> None:
    """Reference-format SQLite sink — full S5 parity (scan.py:46-132).

    Emits the exact shape the reference produces: sorted column order,
    ``eudract_id`` primary key on trial, ``eudract_id`` indexes on the
    child tables, TEXT/INTEGER NOT NULL columns — and re-emits typed
    NULLs as ``''`` at this edge (SURVEY §7 hard item 5: the reference
    has no NULLs; '' means missing, and SQLite's type looseness lets
    INTEGER columns hold '' for never-captured flags). Driver-side
    write sized for the reference's data scale (tens of thousands of
    rows); at engine scale the native store is parquet and this is an
    export edge like xlsx.
    """
    import sqlite3

    con = sqlite3.connect(db_path)
    try:
        for name, df in tables.items():
            defs = []
            for f in df.schema.fields:
                sql_t = "INTEGER" if isinstance(f.dataType, (T.IntegerType, T.LongType)) else "TEXT"
                pk = " PRIMARY KEY" if name == "trial" and f.name == "eudract_id" else ""
                defs.append(f"{f.name} {sql_t} NOT NULL{pk}")
            con.execute(f"CREATE TABLE {name}(\n" + ",\n".join(defs) + "\n)")
            placeholders = ",".join("?" * len(df.columns))
            ins = f"INSERT INTO {name} VALUES({placeholders})"
            batch = []
            for row in df.toLocalIterator():
                batch.append(tuple("" if v is None else v for v in row))
                if len(batch) >= 10000:
                    con.executemany(ins, batch)
                    batch = []
            if batch:
                con.executemany(ins, batch)
            if name != "trial" and "eudract_id" in df.columns:
                con.execute(f"CREATE INDEX idx_{name} ON {name} (eudract_id)")
        con.commit()
    finally:
        con.close()


def write_clustered(
    df: DataFrame, path: str, cols: list[str], files: int | None = None
) -> None:
    """Range-clustered parquet: repartitionByRange + sortWithinPartitions
    on ``cols`` before writing, so each output file (and each row group
    inside it) covers a narrow, near-disjoint key range. Later reads
    with a pushed predicate on ``cols`` then skip whole row groups via
    parquet min/max stats — the poor-man's clustered index / Z-order
    for the single-dimension case, and the layout step that makes a
    100 TB table selectively readable without a table format.
    ``files`` bounds the output file count (range partitioner sampling
    picks balanced split points; skew lands in adjacent files, never
    one hot file)."""
    n = files or df.sparkSession.sparkContext.defaultParallelism
    (
        df.repartitionByRange(n, *cols)
        .sortWithinPartitions(*cols)
        .write.mode("overwrite")
        .parquet(path)
    )


def compact_parquet(
    spark, path: str, target_file_bytes: int = 128 * 1024 * 1024
) -> int:
    """Small-file compaction: rewrite a parquet directory into
    ceil(total_bytes / target) files and return the new file count.

    Streaming/incremental writers (micro-batches, per-task outputs)
    leave thousands of KB-sized files; at scale every later scan pays
    one task + one footer read per file, and the namenode pays the
    metadata. Compaction is the periodic maintenance pass that
    restores ~128 MB scan units. Round-robin repartition (not
    coalesce: coalesce merges by locality and can leave skewed
    outputs), committed by the swap form of :func:`commit_store` —
    parquet can't be read and overwritten in one job, and the rename
    swap is the local-FS stand-in for an object-store manifest flip
    (table formats make this step transactional)."""
    import math

    recover_store(path)
    total = 0
    for root, _dirs, names in os.walk(path):
        total += sum(
            os.path.getsize(os.path.join(root, f))
            for f in names
            if f.endswith(".parquet")
        )
    n = max(1, math.ceil(total / target_file_bytes))
    commit_store(_read_committed(spark, path).repartition(n), path, replace=True)
    return n


def write_training_shards(
    manifest: DataFrame, docs: DataFrame, out_dir: str
) -> int:
    """Materialize a ``corpus_build`` manifest as ORDERED training
    shard files — the last physical step of the pipeline, closing the
    loop from shard_plan's (shard, pos) assignment to the files a
    trainer actually streams: kept rows join back to their text (an
    id-keyed join — the manifest never carried text, so this is the
    single place the kept documents move), and land under
    ``out_dir/split=<s>/shard=<k>/`` with rows in ``pos`` order.

    Physical plan = exactly the price shard_plan's docstring promises:
    ONE exchange keyed on (split, shard) + an in-partition external
    sort on (split, shard, pos) — hash collisions may co-locate two
    shards in one task, which ``partitionBy`` then fans into their own
    directories with row order preserved per directory. Reproducible
    BY CONTENT: (shard, pos) come from shard_plan's two md5 hashes, so
    re-running the whole pipeline yields the same rows in the same
    order per shard directory (file NAMES carry fresh task uuids —
    content identity is the audit property, pinned in
    tests/test_file_sources.py along with per-shard pos density).

    Returns the number of kept documents written."""
    kept = manifest.filter(F.col("keep") == 1).select(
        "doc_id", "split", "shard", "pos"
    )
    rows = kept.join(docs.select("doc_id", "text"), "doc_id")
    (
        rows.repartition(F.col("split"), F.col("shard"))
        .sortWithinPartitions("split", "shard", "pos")
        .write.mode("overwrite")
        .partitionBy("split", "shard")
        .parquet(out_dir)
    )
    return rows.sparkSession.read.parquet(out_dir).count()


def rewrite_dirty_shards(
    manifest_old: DataFrame, manifest_new: DataFrame, docs: DataFrame, out_dir: str
) -> tuple[int, int]:
    """Incremental twin of :func:`write_training_shards` — the sink
    side of shard_invalidation's promise: when a recrawl produces a
    new corpus_build manifest, rewrite ONLY the (split, shard)
    directories whose kept membership/order changed and leave every
    clean directory's files physically untouched (name-identical, the
    byte-stability write_training_shards pins).

    Dirty detection is manifest-only: each side's kept rows fold to
    one 60-bit bit_xor digest per (split, shard) over md5(doc_id:pos)
    — order-insensitive by construction yet order-sensitive in effect
    (pos IS the order, and pos values are unique per directory) — then
    a tiny full-outer digest join names the dirty directories. Text
    moves only for dirty rows, through the same one-exchange sorted
    write, committed with Spark's DYNAMIC partition-overwrite mode so
    only the written directories are replaced. Directories whose
    entire membership vanished in the new manifest are deleted
    driver-side (the bounded dir list, not data).

    Returns (n_dirty_dirs, n_rows_written)."""
    def digests(m: DataFrame) -> DataFrame:
        h = F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.col("doc_id").cast("string"),
                        F.lit(":"),
                        F.col("pos").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("bigint")
        return (
            m.filter(F.col("keep") == 1)
            .select("split", "shard", h.alias("h"))
            .groupBy("split", "shard")
            .agg(F.expr("bit_xor(h)").alias("dig"))
        )

    old_d = digests(manifest_old).withColumnRenamed("dig", "old_dig")
    new_d = digests(manifest_new).withColumnRenamed("dig", "new_dig")
    delta = (
        old_d.join(new_d, ["split", "shard"], "full_outer")
        .filter(
            F.col("old_dig").isNull()
            | F.col("new_dig").isNull()
            | (F.col("old_dig") != F.col("new_dig"))
        )
        .select("split", "shard", F.col("new_dig").isNull().alias("gone"))
        .collect()  # bounded: one row per dirty directory
    )
    dirty = [(r.split, r.shard) for r in delta if not r.gone]
    for r in delta:
        if r.gone:
            shutil.rmtree(
                f"{out_dir}/split={r.split}/shard={r.shard}", ignore_errors=True
            )
    if not dirty:
        return len(delta), 0
    spark = manifest_new.sparkSession
    dirty_df = spark.createDataFrame(dirty, "split string, shard int")
    rows = (
        manifest_new.filter(F.col("keep") == 1)
        .select("doc_id", "split", "shard", "pos")
        .join(F.broadcast(dirty_df), ["split", "shard"], "left_semi")
        .join(docs.select("doc_id", "text"), "doc_id")
    )
    with scoped_conf(spark, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}):
        (
            rows.repartition(F.col("split"), F.col("shard"))
            .sortWithinPartitions("split", "shard", "pos")
            .write.mode("overwrite")
            .partitionBy("split", "shard")
            .parquet(out_dir)
        )
    n_rows = sum(
        spark.read.parquet(f"{out_dir}/split={s}/shard={k}").count() for s, k in dirty
    )
    return len(delta), n_rows
