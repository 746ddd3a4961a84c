"""The benchmark's workloads: interactive (registry + catalog) and intake.

Each workload is driven by one client in a closed loop (the next
operation starts when the previous one returns). It has three phases:

- ``warm_up``: every operation kind runs once, untimed as an operation
  but counted in ``setup_s``; catalog results are checked here against
  DuckDB or documented invariants.
- ``timed``: a fixed sequence of operations, its length derived from
  ``--seconds``, so every run of one seed does the same work.
- ``finish``: untimed correctness checks of what the timed operations
  produced (search hit sets, the intake store).

``timed`` can run twice in one process: once plain, and once with a
:class:`~spans.Tracer` installed on fresh state, for the per-layer run.
"""

from __future__ import annotations

import os
import random
import shutil
import sys
from contextlib import nullcontext
from pathlib import Path
from statistics import median
from time import perf_counter

import duckdb
import numpy as np

import inputs
from spans import dir_bytes_rows

# Spans, where the engine's callers look them up. Sinks also count what
# they wrote ("write": a table dir; "upsert": a keyed store merge).
PATCHES = [
    ("parse.parse_registry", "eurovision_spark.operators.parse", "parse_registry", None),
    ("parse.fill_down", "eurovision_spark.operators.filldown", "fill_down", None),
    ("parse.dedup_imps", "eurovision_spark.operators.imp_dedup", "dedup_imps", None),
    ("sinks.write_parquet", "eurovision_spark.sinks", "write_parquet", "write"),
    ("search.search_trials", "eurovision_spark.plans.search", "search_trials", None),
    ("search.denormalized_export", "eurovision_spark.plans.search", "denormalized_export", None),
    ("pipeline.corpus_build", "eurovision_spark.operators.pipeline", "corpus_build", None),
    ("dedup.dedup_decision_frames", "eurovision_spark.operators.dedup", "dedup_decision_frames", None),
    ("textstats.train_quality_model", "eurovision_spark.operators.textstats", "train_quality_model", None),
    ("textstats.ccnet_bucket_frame", "eurovision_spark.operators.textstats", "ccnet_bucket_frame", None),
    ("pipeline.shard_plan_frame", "eurovision_spark.operators.pipeline", "shard_plan_frame", None),
    ("sources.load_table", "eurovision_spark.sources.tables", "load_table", None),
    ("imp_dedup.cc_edge_list", "eurovision_spark.operators.imp_dedup", "cc_edge_list", None),
    ("ingest.intake_batch", "eurovision_spark.streaming.ingest", "intake_batch", None),
    ("dedup.doc_index", "eurovision_spark.operators.dedup", "doc_index", None),
    ("dedup.banded_signatures", "eurovision_spark.operators.dedup", "banded_signatures", None),
    ("dedup.incremental_probe", "eurovision_spark.operators.dedup", "incremental_probe", None),
    ("sinks.upsert_parquet", "eurovision_spark.sinks", "upsert_parquet", "upsert"),
]

# interactive's catalog part: a fixed cross-section of the driver-facing
# catalog, one query per operator family; the pipeline pick is the
# corpus-build capstone, which also runs the dedup and textstats layers
CATALOG_QUERIES = [
    "pricing_summary",
    "window_suite",
    "funnel_steps",
    "asof_join",
    "cosine_topk",
    "corpus_build",
]
CATALOG_FAMILIES = [
    "relational", "olap", "analytics", "temporal", "similarity", "pipeline",
]
# corpus_build takes about 6 s warm, as long as the rest of the loop
# together: it runs as a warm-up (its check; in setup_s) and in the traced
# pass, but not in the timed loop, so that a series of runs stays within
# its time budget
UNTIMED_QUERIES = {"corpus_build"}
SIZES = {
    # registry: trials in the dump, distinct predicate sets
    # catalog: the reference tables' scale factor (a data/ sub-directory)
    # interactive: timed passes over the loop per 10 s
    # intake: documents per micro-batch, timed batches per 10 s
    "full": {"trials": 500, "predicates": 7, "sf": "sf0.01", "passes": 2,
             "batch_docs": 100, "batches": 3},
    "tiny": {"trials": 200, "predicates": 7, "sf": "sf0.001", "passes": 1,
             "batch_docs": 40, "batches": 2},
}


class Ctx:
    """What a workload needs from the runner."""

    def __init__(self, spark, seed: int, seconds: int, size: str, work: Path) -> None:
        self.spark = spark
        self.seed = seed
        self.seconds = seconds
        self.size = SIZES[size]
        self.work = work
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.warm_up_s: dict[str, float] = {}  # engine time per warm-up op

    def timed(self, label: str, fn):
        """Call ``fn`` and add its wall time to ``warm_up_s[label]``; used
        around the engine calls of a warm-up, so that input generation
        and oracle time stay out of ``setup_s``."""
        t0 = perf_counter()
        try:
            return fn()
        finally:
            self.warm_up_s[label] = self.warm_up_s.get(label, 0.0) + perf_counter() - t0

    def check(self, what: str, ok: bool) -> None:
        """One correctness check: counts toward attempted and, when it
        fails, toward failed."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


def _fresh(path: Path) -> str:
    shutil.rmtree(path, ignore_errors=True)
    return str(path)


class Workload:
    """Common loop: ``ops`` yields (span name, callable, label) triples;
    the loop times each call with the tracer's op bookkeeping around it
    and keeps the labels of the timed calls, in order."""

    # share of the usable cores given to Spark as task slots
    core_share = 1.0

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx

    def run_ops(self, ops, tracer=None, floor_s: float = 0.0) -> list[float]:
        times, self.op_labels = [], []
        for span_name, fn, label in ops:
            if tracer:
                tracer.begin_op()
            t0 = perf_counter()
            try:
                if tracer:
                    with tracer.span(span_name):
                        fn()
                else:
                    fn()
            except Exception as e:  # noqa: BLE001 — one failed op is a counted failure, not a dead run
                self.ctx.check(f"{span_name}: {type(e).__name__}: {e}"[:300], False)
                continue
            finally:
                wall = perf_counter() - t0
                if tracer:
                    tracer.end_op(wall, floor_s)
            self.ctx.attempted += 1
            times.append(wall)
            self.op_labels.append(label)
        return times

    def finish(self) -> None:
        """End-of-run correctness checks."""

    def reset_for_trace(self) -> None:
        """Bring the state back to where the timed pass started."""

    def growth_ratio(self, times: list[float]) -> float | None:
        return None


class Interactive(Workload):
    """One interactive session. The reference's own workflow first:
    ingest a seeded registry dump as ``cli ingest`` does. Then a closed
    loop, in seeded order, over predicate searches on the written tables,
    each exported and collected to the driver as ``cli export`` does
    (minus the spreadsheet writer), and a fixed cross-section of the
    driver-facing catalog, each query written to the noop sink.

    Its operations are small and scheduling-bound: a stage waits on its
    slowest task, and on a shared host one descheduled core stalls the
    whole operation. So Spark gets half the cores as task slots, and the
    rest stay free for the driver JVM's own threads and the Python
    client. On a 4-core VM the loop's median and 90th percentile were
    10-20% lower with 2 slots than with 4, in runs made side by side."""

    core_share = 0.5

    def prepare(self) -> None:
        from eurovision_spark.catalog import registry

        c = self.ctx
        self.dump, self.lines = inputs.registry_dump(c.seed, c.size["trials"])
        self.passes = max(1, round(c.size["passes"] * c.seconds / 10))
        self.sf_dir = inputs.tables_dir(c.size["sf"])
        self.specs = registry()

    def warm_up(self) -> None:
        self.warm_up_registry()
        self.warm_up_catalog()

    # -- registry ----------------------------------------------------
    def ingest(self, out_dir: str) -> None:
        from eurovision_spark.operators.parse import parse_registry
        from eurovision_spark.sinks import write_parquet

        tables = parse_registry(self.ctx.spark, self.dump)
        for name, df in tables.items():
            write_parquet(df, os.path.join(out_dir, name))

    def warm_up_registry(self) -> None:
        """The ingest runs once, cold, as a user's one-shot ``cli ingest``
        would: it is timed on its own (``items_per_s``), not as set-up.
        Its tables then serve the search warm-ups (every predicate set
        once) and the timed loop. Every search's hit set is checked after
        the loop (``finish``)."""
        c = self.ctx
        self.tables_dir = _fresh(c.work / "registry-tables")
        t0 = perf_counter()
        self.ingest(self.tables_dir)
        self.ingest_s = perf_counter() - t0
        c.attempted += 1
        c.check(
            "trial rows == distinct generated ids",
            dir_bytes_rows(os.path.join(self.tables_dir, "trial"))[1] == c.size["trials"],
        )
        self.predicates = inputs.search_predicates(c.seed, self.tables_dir, c.size["predicates"])
        self.frames = c.timed(
            "open_tables",
            lambda: {
                n: c.spark.read.parquet(os.path.join(self.tables_dir, n))
                for n in ("trial", "imp", "sponsor", "location")
            }
        )
        self.results: dict[int, list] = {}
        for i in range(len(self.predicates)):
            c.timed(f"search{i}", lambda: self.search(i))

    def finish(self) -> None:
        """Each predicate set's last hit set (from the timed loop) against
        DuckDB evaluating the same predicates on the written parquet."""
        c = self.ctx
        con = duckdb.connect()
        try:
            for n in self.frames:
                con.execute(
                    f"CREATE VIEW {n} AS SELECT * FROM "
                    f"read_parquet('{self.tables_dir}/{n}/*.parquet')"
                )
            self.hits = []
            for i, p in enumerate(self.predicates):
                rows = self.results.get(i)  # None: the search failed in the loop
                got = sorted(r["eudract_id"] for r in rows or [])
                want = sorted({r[0] for r in con.execute(self.oracle_sql(p)).fetchall()})
                self.hits.append(len(want))
                c.check(f"search hit set == duckdb for {p}", rows is not None and got == want)
        finally:
            con.close()

    @staticmethod
    def oracle_sql(p: dict[str, str]) -> str:
        where = [f"({p['trial_where']})"] if "trial_where" in p else []
        for key, table in (
            ("imp_where", "imp"), ("location_where", "location"), ("sponsor_where", "sponsor")
        ):
            if key in p:
                where.append(f"eudract_id IN (SELECT eudract_id FROM {table} WHERE {p[key]})")
        return "SELECT eudract_id FROM trial" + (" WHERE " + " AND ".join(where) if where else "")

    def search(self, i: int, tracer=None) -> None:
        """Predicate set ``i``, exported and collected to the driver; the
        rows are kept for the hit-set check."""
        from eurovision_spark.plans.search import search_and_export

        df = search_and_export(self.frames, **self.predicates[i])
        with tracer.span("search.collect") if tracer else nullcontext():
            self.results[i] = df.collect()

    # -- catalog -----------------------------------------------------
    def run_query(self, name: str):
        spec = self.specs[name]
        # call through the defining module so a traced run sees its wrapper
        fn = getattr(sys.modules[spec.fn.__module__], spec.fn.__name__, spec.fn)
        return fn(self.ctx.spark, self.sf_dir)

    def warm_up_catalog(self) -> None:
        from eurovision_spark.catalog import resolve_oracle
        from eurovision_spark.sources.tables import TABLES
        from tools.verify_local import table_hash

        c = self.ctx
        con = duckdb.connect()
        try:
            for t in TABLES:
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.sf_dir}/{t}.parquet')"
                )
            for name in CATALOG_QUERIES:
                df = c.timed(name, lambda: self.run_query(name))
                cols, rows = df.columns, [tuple(r) for r in c.timed(name, df.collect)]
                if name in INVARIANT_CHECKED:
                    c.check(f"{name} manifest invariants", manifest_ok(cols, rows))
                    continue
                res = con.execute(resolve_oracle(self.specs[name], self.sf_dir))
                ocols = [d[0] for d in res.description]
                ok = sorted(cols) == sorted(ocols) and table_hash(cols, rows) == table_hash(
                    ocols, res.fetchall()
                )
                c.check(f"{name} hash == duckdb oracle", ok)
        finally:
            con.close()

    # -- the loop ----------------------------------------------------
    def query_op(self, name: str):
        """A catalog query to the noop sink, in a span named after the
        query's operator family."""
        family = self.specs[name].fn.__module__.rsplit(".", 1)[-1]
        return (
            f"catalog.{family}",
            lambda: self.run_query(name).write.format("noop").mode("overwrite").save(),
            name,
        )

    def ops(self, tracer=None):
        """Every predicate set and every timed catalog query, ``passes``
        times, shuffled with the seed. The traced pass makes one pass,
        which gives every count it reports, and starts with an ingest and
        a ``corpus_build`` of its own, so that the parse, write and
        pipeline layers are traced too."""
        passes = 1 if tracer else self.passes
        if tracer:
            out = _fresh(self.ctx.work / "registry-traced-tables")
            yield "op.ingest", lambda: self.ingest(out), "ingest"
            yield from (self.query_op(n) for n in sorted(UNTIMED_QUERIES))
        loop = [
            ("op.search", lambda i=i: self.search(i, tracer), f"search{i}")
            for _ in range(passes)
            for i in range(len(self.predicates))
        ] + [
            self.query_op(n)
            for _ in range(passes)
            for n in CATALOG_QUERIES
            if n not in UNTIMED_QUERIES
        ]
        self.n_loop = len(loop)
        yield from random.Random(self.ctx.seed).sample(loop, len(loop))

    def summarize(self, times: list[float]) -> tuple[list[float], float]:
        """Search and query latencies, and ingest throughput in lines/s."""
        return times[-self.n_loop :], self.lines / self.ingest_s

    def extra(self) -> dict:
        n_trials = self.ctx.size["trials"]
        return {
            "lines": self.lines,
            "hit_fractions": [round(h / n_trials, 5) for h in self.hits],
        }


# corpus_build's DuckDB oracle takes ~30 s at 500 documents (4 cores),
# longer than a whole run may spend on checks; its manifest is checked
# against the invariants its catalog entry documents instead
INVARIANT_CHECKED = {"corpus_build"}


def manifest_ok(cols: list[str], rows: list[tuple]) -> bool:
    """corpus_build's documented manifest invariants: one row per doc;
    decisions in {kept, exact_dup, near_dup}; a kept doc is its own
    survivor and every dropped doc points at a kept one; a duplicate
    group shares its survivor's split; keep = sel_keep AND quality_keep;
    shard and pos are set exactly on kept-for-training rows."""
    r = [dict(zip(cols, row)) for row in rows]
    kept = {x["doc_id"] for x in r if x["decision"] == "kept"}
    split_of = {x["doc_id"]: x["split"] for x in r if x["decision"] == "kept"}
    return (
        len(r) > 0
        and len({x["doc_id"] for x in r}) == len(r)
        and all(x["decision"] in ("kept", "exact_dup", "near_dup") for x in r)
        and all((x["survivor_id"] == x["doc_id"]) == (x["decision"] == "kept") for x in r)
        and all(x["survivor_id"] in kept for x in r)
        and all(x["split"] == split_of[x["survivor_id"]] for x in r)
        and all(x["keep"] == int(x["sel_keep"] == 1 and x["quality_keep"] == 1) for x in r)
        and all((x["shard"] is not None) == (x["keep"] == 1) for x in r)
        and all((x["pos"] is not None) == (x["keep"] == 1) for x in r)
    )


class Intake(Workload):
    """Seeded micro-batches of documents fed through ``intake_batch``
    into a fresh incremental-dedup store that grows several-fold."""

    def prepare(self) -> None:
        c = self.ctx
        self.n_timed = c.size["batches"] * max(1, round(c.seconds / 10))
        self.batches = inputs.intake_batches(c.seed, 1 + self.n_timed, c.size["batch_docs"])
        self.n_stores = 0

    def feed(self, store: str, path: str) -> None:
        from eurovision_spark.streaming.ingest import intake_batch

        intake_batch(self.ctx.spark, store, self.ctx.spark.read.parquet(path))

    def warm_up(self) -> None:
        """Batch 0 lands in the empty store the timed batches then grow."""
        self.store = self.new_store()
        self.ctx.timed("batch0", lambda: self.feed(self.store, self.batches[0]))

    def store_rows(self) -> dict[str, int]:
        return {
            d: dir_bytes_rows(os.path.join(self.store, d))[1]
            for d in sorted(os.listdir(self.store))
            if not d.endswith("_next")
        }

    def reset_for_trace(self) -> None:
        """The traced pass grows its own store from the same batches."""
        self.store = self.new_store()
        self.feed(self.store, self.batches[0])

    def new_store(self) -> str:
        self.n_stores += 1
        return _fresh(self.ctx.work / f"intake-store-{self.n_stores}")

    def ops(self, tracer=None):
        for k, path in enumerate(self.batches[1:], 1):
            yield "op.intake", lambda p=path: self.feed(self.store, p), f"batch{k}"

    def summarize(self, times: list[float]) -> tuple[list[float], float]:
        """Batch latencies, and documents taken in per second: with equal
        batches that is ``batch_docs`` times the batch rate."""
        return times, self.n_timed * self.ctx.size["batch_docs"] / sum(times)

    def growth_ratio(self, times: list[float]) -> float:
        """Median batch time of the last third of the timed batches over
        that of the first third (1.0: per-batch cost is flat)."""
        k = max(1, len(times) // 3)
        return median(times[-k:]) / median(times[:k])

    def finish(self) -> None:
        """Replay the last batch into the grown store, then check the
        store's decisions against the documents fed (all untimed)."""
        c = self.ctx
        before = self.store_rows()
        self.feed(self.store, self.batches[-1])
        c.check("replaying the last batch changes no store's row count",
                self.store_rows() == before)
        store = self.store
        con = duckdb.connect()
        try:

            def q(sql: str):
                return con.execute(sql).fetchall()

            def src(name: str) -> str:
                return f"read_parquet('{store}/{name}/*.parquet')"

            fed = "read_parquet([" + ",".join(f"'{p}'" for p in self.batches) + "])"
            c.check(
                "every input doc has exactly one decision",
                q(
                    f"SELECT count(*) FROM {fed} f FULL JOIN "
                    f"(SELECT doc_id, count(*) n FROM {src('decisions')} GROUP BY 1) d "
                    f"USING (doc_id) WHERE d.n IS DISTINCT FROM 1 OR f.doc_id IS NULL"
                )[0][0]
                == 0,
            )
            landed = {r[0] for r in q(f"SELECT doc_id FROM {src('landed')}")}
            new = {r[0] for r in q(f"SELECT doc_id FROM {src('decisions')} WHERE decision = 'new'")}
            c.check("landed ids == 'new' decisions", landed == new)
            c.check(
                "no two landed docs share md5(text)",
                q(f"SELECT count(*) - count(DISTINCT md5(text)) FROM {src('landed')}")[0][0] == 0,
            )
        finally:
            con.close()

    def extra(self) -> dict:
        return {"store_rows": self.store_rows(), "batch_docs": self.ctx.size["batch_docs"]}


WORKLOADS = {"interactive": Interactive, "intake": Intake}


def percentile(xs: list[float], q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``xs``."""
    return float(np.percentile(np.asarray(xs, dtype=float), q))
