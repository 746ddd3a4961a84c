"""Fuzzy any-key-equal dedup — the reference's IMP merge, generalized.

Reference semantics (scan.py:135-188, README.md:27): within one trial,
IMP entries merge when ANY of {trade, product, code} is non-empty and
exactly equal; merged entries keep the SHORTER non-empty trade/product
and fill remaining blanks. The pass structure makes merging effectively
transitive, so the order-insensitive formalization is **connected
components over the "shares a non-empty key value" graph** per group
(SURVEY §2.4 A7, §7 hard item 4 — fixtures pin the CC answer).

The IMP merge runs :func:`cc_bounded_groups_array`: IMP lists are
bounded (< 10 entries per trial, README.md:27), so each group packs
into one array and min-label propagation runs via higher-order
functions INSIDE the array — one shuffle, zero Python, zero iteration
jobs. Graphs whose components are not bounded by a group (near-dup
edge lists, the streaming cluster stores) go through the shared
edge-list engine :func:`cc_edge_list`, which picks its path by the
graph's size: up to ``LOCAL_CC_EDGES`` edges, one bounded Arrow
collect and a driver union-find (~1 job); above it, two-hop Spark
rounds with a fused fixpoint test and pointer doubling for O(log
diameter) convergence. No GraphFrames dependency.

Survivor policy (deterministic, order-insensitive):
- trade / product: shortest non-empty value, ties -> lexicographic min
  (scan.py:168-174 "take the shorter name");
- code: non-empty value of the lowest entry id (scan.py:176-179
  blank-fill keeps the earliest surviving value).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from eurovision_spark.functions import nullif_empty
from eurovision_spark.session import scoped_conf

# graphs of at most this many edges are labeled on the driver (see
# cc_edge_list). Measured on 4 cores, star-shaped 5-node clusters in a
# materialized leaf, labels counted once, warm medians: the driver path
# takes 0.31-0.45 s from 1k to 20k edges, 0.8-0.9 s at 30-50k and
# 1.35 s at 100k; the Spark rounds take 1.0-1.45 s warm at every size
# and 2.0-3.5 s cold. The warm crossover lies between 50k and 100k
# edges, and this bound keeps the driver path at under half the rounds'
# warm time.
LOCAL_CC_EDGES = 20_000

# the Spark rounds' budget: pointer doubling covers component diameters
# into the tens of thousands of hops within CC_MAX_ROUNDS, and the label
# frame's lineage is truncated every CC_CHECKPOINT_EVERY rounds
CC_MAX_ROUNDS = 15
CC_CHECKPOINT_EVERY = 3


def cc_edge_list(
    edges: DataFrame, src: str, dst: str, *, materialized: bool = False,
    leaf: bool = True, reliable: bool = False, n_edges_hint: int | None = None,
) -> DataFrame:
    """Connected components over a global (src, dst) edge list: label
    every endpoint with the min node id reachable through the graph.
    Returns (node, comp) — one row per distinct endpoint.

    Two paths, selected by the input's size. SMALL GRAPHS (at most
    ``LOCAL_CC_EDGES`` edges, e.g. a streaming batch's 5-10 dup edges)
    are labeled on the driver: one bounded Arrow collect
    (``limit(LOCAL_CC_EDGES + 1)``, one job whatever the partition
    count; skipped when ``n_edges_hint`` already exceeds the bound), a
    union-find whose roots are their set's min id, and a label frame
    built on the JVM from a ``pyarrow.Table`` — a plan leaf held by the
    driver, so it survives executor loss under either ``reliable``
    setting, and it changes no session conf. At these sizes a caller
    waits on per-job scheduling, not on data: each propagation round
    below is ~4 jobs plus its fixpoint collect, so the rounds cost
    1.0-1.45 s warm (2-3.5 s cold) where the driver path takes
    0.3-0.45 s up to 20k edges; the warm crossover lies between 50k and
    100k edges (4 cores; measurements beside the constant), and the
    bound sits well below it. The driver path serves only id types
    whose Python order equals Spark's ``least``/``min`` (integral ids
    and binary-collated strings) and graphs with no NULL id; everything
    else (struct ids included), and every graph above the bound, takes
    the Spark rounds — the only path that can serve a corpus-sized
    graph. A non-materialized input is persisted before the collect,
    so a fallback does not recompute it.

    The Spark rounds: min-label propagation, TWO hops per Spark action,
    with pointer doubling from round 2 on: each round applies the
    neighbor-min hop twice (the mid-hop label rides along as a column,
    so one O(1)-row aggregate reads both sums — labels only decrease, so
    equal sums == exact hop-fixpoint, detected INSIDE the same action
    that computed it). The common near-dup graph (shallow near-cliques, where the
    closed-neighborhood seed is 0–1 hops from the fixpoint) therefore
    converges in ONE action after the seed. Deeper graphs engage the
    ``comp := comp(comp)`` path-halving jump from round 2, so reach
    grows geometrically and convergence is O(log diameter) rounds, not
    O(diameter) — a 200-hop chain converges well inside
    ``CC_MAX_ROUNDS`` (pinned in tests/test_pipeline_ops.py). That
    holds when ids run monotone along a chain; with ids shuffled along
    it the jump buys little (measured: a 100-node path needs 31-60
    rounds, a 200-node path does not converge in 15; pinned as a known
    defect by an xfail test in tests/test_pipeline_ops.py).

    Every round shuffles ids only, never payloads — the formulation
    that survives a 100 TB corpus — and the label frame is
    ``localCheckpoint``-ed every ``CC_CHECKPOINT_EVERY`` rounds so logical-
    plan depth stays O(1) instead of nesting join levels per round.
    ``reliable=True`` is the 100 TB cluster path AS A FLAG (VERDICT r07
    item #7, not a code edit): lineage truncation (and the final label
    leaf) goes through durable ``checkpoint()`` instead — point
    ``spark.sparkContext.setCheckpointDir`` at reliable storage first
    (raises a clear ValueError when unset), and a lost executor replays
    from the checkpoint instead of recomputing every round; local mode's
    default keeps blocks on executors. CHECKPOINT LIFECYCLE: Spark does
    not reclaim durable checkpoints unless
    ``spark.cleaner.referenceTracking.cleanCheckpoints=true`` is set at
    session build (and the final label leaf is returned to the caller,
    so it outlives this function regardless) — a long-running service
    calling reliable=True per batch owns the checkpoint root's
    retention: enable the cleaner conf or prune the directory on its
    own schedule, or the reliable store grows without bound. Within
    ``CC_MAX_ROUNDS`` the doubling covers component diameters into the
    tens of thousands of hops; the residual non-convergence guard
    exists only for graphs beyond that.

    ``materialized``: callers that already hand over a stored leaf
    (e.g. :func:`~eurovision_spark.operators.dedup.verified_near_edges`
    localCheckpoints its edge list) set this to skip the redundant
    persist+count action here. The input must actually BE a plan leaf
    (LogicalRDD / LocalRelation / bare relation): a non-leaf plan would
    silently re-run its whole upstream pipeline inside every CC round's
    union fan-out — asserted below rather than trusted.

    ``leaf``: by default the returned label frame is localCheckpoint-ed
    into a plan leaf (consumers that reference it more than once would
    re-analyze the per-round join tree per action, and streaming
    callers mutate stores the persisted-only plan would silently
    re-read on recompute). A caller that consumes the labels EXACTLY
    once, immediately, against immutable inputs (minhash_cluster's
    single window pass) sets leaf=False to skip that one extra action —
    the labels are already materialized in the persist cache by the
    fixpoint-test action.

    The propagation rounds' exchanges are sized from the SYMMETRIZED
    row volume the loop actually shuffles (2x the directed edge count;
    ~250k id rows per partition, floored at 8 — the measured local
    sweet spot — and capped at the session's parallelism), so a
    billion-edge cluster graph gets thousands of partitions instead of
    a hardcoded constant. The parallelism read is Connect-tolerant
    (sparkContext raises on Spark Connect; falls back to
    spark.sql.shuffle.partitions there, consistent with the leaf fence
    above).

    ``n_edges_hint``: a caller that already knows the edge volume (or
    a ceiling on it — the LSH verify's candidate count, which
    :func:`~eurovision_spark.operators.dedup.verified_near_edges`
    returns beside its edges, bounds the verified edges) passes it to
    skip the sizing count action, and a hint above ``LOCAL_CC_EDGES``
    skips the driver path's collect.

    CONCURRENCY NOTE (Spark rounds only; the driver path sets no conf
    and takes no ``scoped_conf`` lock): the AQE toggle and
    shuffle-partition pin are SESSION-GLOBAL confs (Spark has no per-query scope for them);
    both are restored in a ``finally``, but a query planned
    CONCURRENTLY on the same SparkSession during the loop inherits
    the degraded settings. The engine's own call sites never overlap
    it with other work: foreachBatch batches and single-query batch ops
    run one at a time, and intake_batch labels its clusters on the
    batch's own thread BEFORE it starts its overlapped store commits
    (ingest._cluster_updates, sinks._ConcurrentUpserts).
    Callers embedding this in a multi-threaded session should serialize
    around it or use a dedicated session.
    """
    if materialized:
        # a leaf plan has no children; anything else re-runs upstream
        # work per round (the 2x-cost pathology the persist+count guard
        # below exists to prevent). Explicit raise, not assert (advice
        # r06: asserts vanish under python -O); plan introspection goes
        # through Py4J internals that Spark Connect does not expose —
        # skip the fence gracefully there rather than crash.
        try:
            analyzed = edges._jdf.queryExecution().analyzed()  # noqa: SLF001
            is_leaf = analyzed.children().isEmpty()
            node_name = analyzed.nodeName()
        except Exception:  # pragma: no cover - Connect/remote sessions
            is_leaf, node_name = True, "<unavailable>"
        if not is_leaf:
            raise ValueError(
                "cc_edge_list(materialized=True) requires a materialized "
                "plan LEAF (localCheckpoint()/cache the edge list first); "
                "got: " + node_name
            )
    if reliable:
        try:
            ck_dir = edges.sparkSession.sparkContext.getCheckpointDir()
        except Exception:  # pragma: no cover - Connect: cannot introspect
            ck_dir = "<unknown>"
        if not ck_dir:
            raise ValueError(
                "cc_edge_list(reliable=True) needs a durable checkpoint "
                "location: call spark.sparkContext.setCheckpointDir(...) "
                "on reliable storage first"
            )

    def _truncate(df: DataFrame) -> DataFrame:
        # reliable => durable checkpoint() (replayable after executor
        # loss); default => localCheckpoint() (executor-local blocks)
        return df.checkpoint() if reliable else df.localCheckpoint()

    # materialize the edge list ONCE before anything fans out over it:
    # the upstream pipeline is typically the expensive part (LSH +
    # verification), and both the symmetrizing union and every
    # propagation round scan it — without the forced cache the two
    # union branches would each recompute the whole pipeline inside one
    # job (measured 2x the verify cost), and each round would again.
    # The cached payload is ids-only, tiny at any corpus size.
    if not materialized:
        edges = edges.persist()
    if n_edges_hint is None or n_edges_hint <= LOCAL_CC_EDGES:
        labels = _driver_cc(edges, src, dst)
        if labels is not None:
            if not materialized:
                edges.unpersist()
            return labels
    if materialized and n_edges_hint is not None:
        # the caller already measured (or upper-bounded) the edge
        # volume — e.g. the adaptive verify's candidate count, returned
        # beside the verified edges — so the sizing count job is skipped
        # (each job costs ~0.2s of pure scheduling on the bench box)
        n_edges = n_edges_hint
    else:
        # one cheap job on the persisted (or materialized) edge list;
        # it sizes the loop's exchanges below
        n_edges = edges.count()
    # AQE off for the propagation rounds: adaptive execution
    # materializes EVERY exchange of every round as its own stage-job
    # to re-plan on runtime stats — on an iterative id-only graph the
    # stats never change anything, and the per-stage scheduling
    # round-trips dominate (measured 18 jobs / 1.3s for a 2-round
    # solve whose actual compute is <0.3s; the same reason GraphFrames
    # documents disabling AQE for iterative algorithms). Scoped to the
    # loop: restored on exit, and concurrent callers wait rather than
    # plan under it.
    spark = edges.sparkSession
    # the round frames are ids-only (8-16 bytes/row): with AQE's
    # coalescing off, pin the loop's exchanges to few partitions so
    # each of the ~4 shuffle stages per round launches that many tasks
    # instead of spark.sql.shuffle.partitions — per-task launch
    # overhead is the entire cost at this row width. Derived from the
    # edge count (~250k rows/partition), floored at 8 (the measured
    # local sweet spot), capped at defaultParallelism — a billion-edge
    # cluster graph gets thousands of partitions, not a literal 8.
    try:
        max_par = spark.sparkContext.defaultParallelism
    except Exception:  # pragma: no cover - Spark Connect sessions
        max_par = int(spark.conf.get("spark.sql.shuffle.partitions", "8"))
    # size from what the loop really shuffles: the 2x symmetrized
    # edge frame (plus same-order label frames)
    loop_partitions = max(8, min(max_par, (2 * n_edges) // 250_000))
    with scoped_conf(
        spark,
        {
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.shuffle.partitions": str(loop_partitions),
        },
    ):
        sym = edges.select(F.col(src).alias("node"), F.col(dst).alias("nbr")).unionByName(
            edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr"))
        )
        # seed with min(node, min neighbor): the first propagation round for
        # free inside the node-dedup aggregation (star-shaped dup clusters —
        # the common case — finish after the ONE confirming round)
        # the seed is referenced through several branches of the round-0
        # plan, but no eager materialization is needed: with edges a
        # materialized leaf, ReuseExchange collapses the identical seed
        # subtrees inside the round job (measured: an extra count() action
        # here costs more than the reuse saves)
        labels = (
            sym.groupBy("node")
            .agg(F.min("nbr").alias("_m"))
            .select("node", F.least(F.col("node"), F.col("_m")).alias("comp"))
            .persist()
        )

        def hop(lab: DataFrame) -> DataFrame:
            """One neighbor-min round: (node, ..., comp) -> same shape with
            comp := min(comp, min over neighbors' comp). Carries every
            non-comp column through."""
            nbr_min = (
                sym.join(
                    lab.select(
                        F.col("node").alias("nbr"), F.col("comp").alias("nbr_comp")
                    ),
                    "nbr",
                )
                .groupBy("node")
                .agg(F.min("nbr_comp").alias("_m"))
            )
            keep = [c for c in lab.columns if c != "comp"]
            return lab.join(nbr_min, "node", "left").select(
                *keep,
                F.least(F.col("comp"), F.coalesce(F.col("_m"), F.col("comp"))).alias(
                    "comp"
                ),
            )

        converged = False
        for i in range(CC_MAX_ROUNDS):
            # two hops per action; the mid-hop label rides along as _mid so
            # the fixpoint test costs nothing extra (measured: ONE-hop
            # first rounds lose — template-generated near-dup clusters have
            # diameter >= 2, so a single hop rarely converges and the
            # second round costs a whole extra action)
            h2 = hop(hop(labels).withColumnRenamed("comp", "_mid").withColumn(
                "comp", F.col("_mid")
            ))
            if i > 0:
                # pointer-doubling jump: every comp value is itself a node
                # id (labels are always reachable node ids), so one id-only
                # self-join halves remaining path lengths. Skipped in round
                # 1: shallow graphs converge there and the jump would spend
                # a shuffle buying nothing.
                parent = h2.select(F.col("node").alias("_pn"), F.col("comp").alias("_pc"))
                h2 = h2.join(parent, h2["comp"] == parent["_pn"], "left").select(
                    "node", "_mid", F.coalesce("_pc", "comp").alias("comp")
                )
            new_labels = h2.persist()
            if (i + 1) % CC_CHECKPOINT_EVERY == 0:
                # truncate lineage: without this each round nests more join
                # levels into the logical plan (O(rounds) plan depth,
                # O(rounds^2) analysis cost, ~10k-line explain output)
                new_labels = _truncate(new_labels)
            # ONE action: count rows this round's hop(s) (or the jump)
            # changed. Zero changes == hop fixpoint (at which point the
            # jump is the identity); type-agnostic, so node ids may be
            # any orderable type. NULL (empty edge list) counts as
            # converged.
            n_changed = new_labels.agg(
                F.sum(F.when(F.col("_mid") != F.col("comp"), 1).otherwise(0))
            ).collect()[0][0]
            labels.unpersist()
            labels = new_labels.select("node", "comp")
            if not n_changed:
                converged = True
                break
    if not materialized:
        edges.unpersist()
    if not converged:
        raise RuntimeError(
            f"cc_edge_list did not converge in {CC_MAX_ROUNDS} rounds "
            "(component diameter exceeds ~2^CC_MAX_ROUNDS hops); raise "
            "CC_MAX_ROUNDS"
        )
    # hand consumers a LEAF: the label frame is already materialized in
    # cache, but its logical plan still nests every round — consumers
    # that reference it more than once (cluster remaps, window sizes)
    # would re-analyze that tree per action (and an evictable
    # persisted-only frame could silently recompute against stores a
    # streaming caller mutates next — the leaf is a correctness fence
    # there, not just a speedup). leaf=False callers (see docstring)
    # read the persist cache directly.
    return _truncate(labels) if leaf else labels


def _driver_orderable(dt: T.DataType) -> bool:
    """True when Python orders ``dt``'s collected values exactly as
    Spark's ``least``/``min`` do: integral ids and binary-collated
    strings (UTF-8 byte order is code-point order, which is Python's)."""
    if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
        return True
    return isinstance(dt, T.StringType) and dt.collation == "UTF8_BINARY"


def _driver_cc(edges: DataFrame, src: str, dst: str) -> DataFrame | None:
    """The driver path of :func:`cc_edge_list`: the labels of a graph of
    at most ``LOCAL_CC_EDGES`` edges, or None when the graph is larger,
    its id type does not order the same in Python, or an id is NULL."""
    # the node type the Spark rounds would give (src/dst coerced as the
    # symmetrizing union coerces them) — plan analysis, no job
    node_t = (
        edges.select(F.col(src).alias("node"))
        .unionByName(edges.select(F.col(dst).alias("node")))
        .schema["node"].dataType
    )
    if not _driver_orderable(node_t):
        return None
    # ONE job whatever the partition count: the limit runs per partition
    # and then on one reducer (a limit collect() would scan partitions
    # in growing take() waves, one job per wave)
    pairs = (
        edges.select(
            F.col(src).cast(node_t).alias("a"), F.col(dst).cast(node_t).alias("b")
        )
        .limit(LOCAL_CC_EDGES + 1)
        .toArrow()
    )
    m = pairs.num_rows
    if m > LOCAL_CC_EDGES:
        return None
    nodes = pa.concat_arrays(
        [pairs.column(0).combine_chunks(), pairs.column(1).combine_chunks()]
    )
    if nodes.null_count:
        return None
    keys = nodes.to_pylist()
    # union-find whose roots are always their set's min id: a union
    # hangs the larger root under the smaller, compression keeps roots
    first: dict = {}
    for i, k in enumerate(keys):
        first.setdefault(k, i)
    parent = {k: k for k in first}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            nxt = parent[x]
            parent[x] = root
            x = nxt
        return root

    for i in range(m):
        ra, rb = find(keys[i]), find(keys[m + i])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # node and label columns are takes from the collected Arrow ids, so
    # every value keeps its exact type; the frame is built on the JVM
    # from Arrow batches (a list-built frame would be a Python RDD that
    # every downstream job deserializes again)
    table = pa.table({
        "node": nodes.take(pa.array(list(first.values()), pa.int64())),
        "comp": nodes.take(pa.array([first[find(k)] for k in first], pa.int64())),
    })
    schema = T.StructType([
        T.StructField("node", node_t), T.StructField("comp", node_t)
    ])
    return edges.sparkSession.createDataFrame(table, schema)


def cc_bounded_groups_array(
    entries: DataFrame,
    group_col: str,
    entry_col: str,
    key_cols: list[str],
) -> DataFrame:
    """Bounded-group connected components, 100% JVM-side.

    Packs each group into ONE array of structs (a single shuffle), then
    runs min-label propagation *inside the array* with higher-order
    functions: ``aggregate`` iterates n = group-size steps (>= graph
    diameter, so always a fixpoint), each step relabelling every entry
    with the min label among entries sharing a non-null key. No Python
    anywhere — an ``applyInPandas`` union-find pays an Arrow round-trip
    + a Python call per group (measured ~44 s on 20k single-digit-size
    groups vs ~1 s for this formulation).

    Work is O(n^3) per group — fine for the bounded-fanout entity lists
    this is for (IMP lists: < 10/trial, README.md:27); a graph whose
    components can span an unbounded number of rows belongs on
    :func:`cc_edge_list`.
    """
    packed = entries.groupBy(group_col).agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(entry_col).alias("e"), *[F.col(k).alias(k) for k in key_cols]
                )
            )
        ).alias("xs")
    )
    share = " OR ".join(
        f"(xi.{k} IS NOT NULL AND xi.{k} = xj.{k})" for k in key_cols
    )
    lab = F.expr(
        f"""
        aggregate(
          xs,
          transform(xs, x -> x.e),
          (lab, unused) ->
            transform(xs, (xi, i) ->
              array_min(
                filter(
                  transform(xs, (xj, j) ->
                    CASE WHEN i = j OR {share}
                         THEN element_at(lab, j + 1) END),
                  v -> v IS NOT NULL))))
        """
    )
    return packed.select(
        group_col, F.explode(F.arrays_zip(F.col("xs"), lab.alias("lab"))).alias("z")
    ).select(
        group_col,
        F.col("z.xs.e").alias(entry_col),
        *[F.col(f"z.xs.{k}").alias(k) for k in key_cols],
        F.col("z.lab").alias("comp"),
    )


def _shortest_non_empty(col: Column) -> Column:
    c = nullif_empty(col)
    return F.min(F.when(c.isNotNull(), F.struct(F.length(c).alias("l"), c.alias("v"))))["v"]


def _earliest_non_empty(col: Column, order: Column) -> Column:
    c = nullif_empty(col)
    return F.min(F.when(c.isNotNull(), F.struct(order.alias("o"), c.alias("v"))))["v"]


def dedup_imps(imps: DataFrame, entry_col: str = "entry_id") -> DataFrame:
    """Merge IMP entries per trial (reference scan.py:148-188).

    Input columns: eudract_id, ``entry_col``, trade, product, code
    ('' or NULL = missing). Output: one row per merged IMP with the
    survivor fields, reference's '' -for-missing convention restored.
    """
    norm = imps.select(
        "eudract_id",
        F.col(entry_col).alias("entry_id"),
        nullif_empty(F.col("trade")).alias("trade"),
        nullif_empty(F.col("product")).alias("product"),
        nullif_empty(F.col("code")).alias("code"),
    )
    # bounded groups by construction (IMP lists < 10 entries/trial) ->
    # the single-shuffle in-array propagation, not the iterative join loop
    labeled = cc_bounded_groups_array(
        norm, "eudract_id", "entry_id", ["trade", "product", "code"]
    )
    merged = labeled.groupBy("eudract_id", "comp").agg(
        _shortest_non_empty(F.col("trade")).alias("trade"),
        _shortest_non_empty(F.col("product")).alias("product"),
        _earliest_non_empty(F.col("code"), F.col("entry_id")).alias("code"),
    )
    return merged.select(
        "eudract_id",
        F.coalesce("trade", F.lit("")).alias("trade"),
        F.coalesce("product", F.lit("")).alias("product"),
        F.coalesce("code", F.lit("")).alias("code"),
    )


# ---------------------------------------------------------------------------
# Catalog registration: the generalized A7 on the star schema, with a
# recursive-CTE oracle (label propagation is expressible in DuckDB SQL,
# so even this "non-relational" operator gets a full correctness gate).
# ---------------------------------------------------------------------------

from pyspark.sql import SparkSession, Window as W  # noqa: E402

from eurovision_spark.catalog import register  # noqa: E402
from eurovision_spark.sources import load_table  # noqa: E402

FUZZY_CC_ORACLE = """
WITH RECURSIVE
base AS (
    SELECT l_orderkey, l_partkey, l_suppkey,
           row_number() OVER (
               PARTITION BY l_orderkey
               ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice)
               AS entry_id
    FROM lineitem),
edges AS (
    SELECT a.l_orderkey, a.entry_id AS src, b.entry_id AS dst
    FROM base a JOIN base b
      ON a.l_orderkey = b.l_orderkey AND a.l_partkey = b.l_partkey
         AND a.entry_id <> b.entry_id
    UNION
    SELECT a.l_orderkey, a.entry_id, b.entry_id
    FROM base a JOIN base b
      ON a.l_orderkey = b.l_orderkey AND a.l_suppkey = b.l_suppkey
         AND a.entry_id <> b.entry_id),
lbl AS (
    SELECT l_orderkey, entry_id AS node, entry_id AS comp FROM base
    UNION
    SELECT e.l_orderkey, e.dst, l.comp
    FROM lbl l JOIN edges e
      ON e.l_orderkey = l.l_orderkey AND e.src = l.node
    WHERE l.comp < e.dst)
SELECT l_orderkey, CAST(node AS BIGINT) AS entry_id, CAST(min(comp) AS BIGINT) AS comp
FROM lbl GROUP BY l_orderkey, node
"""


@register(
    "fuzzy_cc_dedup",
    FUZZY_CC_ORACLE,
    "scan.py:135-188 any-key-equal fuzzy merge generalized: connected "
    "components per group (keys: l_partkey, l_suppkey) via in-array "
    "min-label propagation (groups are bounded: <= 7 lineitems/order). "
    "Oracle: recursive-CTE label propagation in DuckDB — full hash gate "
    "even for the graph operator.",
)
def fuzzy_cc_dedup(spark: SparkSession, sf_dir: str):
    li = load_table(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy(
        "l_linenumber", "l_partkey", "l_suppkey", "l_extendedprice"
    )
    base = li.select(
        "l_orderkey",
        "l_partkey",
        "l_suppkey",
        F.row_number().over(w).cast("bigint").alias("entry_id"),
    )
    labeled = cc_bounded_groups_array(
        base, "l_orderkey", "entry_id", ["l_partkey", "l_suppkey"]
    )
    return labeled.select("l_orderkey", "entry_id", F.col("comp").cast("bigint").alias("comp"))
