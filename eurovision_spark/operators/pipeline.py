"""Training-pipeline preparation operators over ``documents``.

The last-mile ops an LLM data pipeline runs after filtering/dedup
(textstats.py, dedup.py): sliding-window chunking to training-sample
size, deterministic train/valid/test assignment, and benchmark
decontamination. The reference has no analog (it is a clinical-trials
parser); these generalize its per-record reshaping (scan.py:263-278's
record flush) to corpus-scale sample production.

All three are built from JVM-side expressions (no Python UDFs) and are
designed for the 100 TB shape:

- ``doc_chunk``          : per-row explode — embarrassingly parallel,
                           zero shuffles, output size ~ input/stride;
- ``hash_split``         : per-row md5 bucket — zero shuffles, stable
                           under reruns and corpus growth (assignment
                           depends only on doc_id, never on ordering);
- ``contamination_check``: the benchmark side of the gram join is tiny
                           (eval suites are MBs), so it broadcasts; the
                           corpus side streams through one per-row
                           gram explode + broadcast-hash probe. At
                           extreme benchmark sizes swap the broadcast
                           for a bloom-filter pre-probe + shuffle join.

Cross-engine determinism follows the catalog conventions: md5-derived
gram hashes (textstats.md5_long), whitespace tokenization identical to
DuckDB ``string_split_regex``.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from eurovision_spark.catalog import register
from eurovision_spark.operators.dedup import SH_SQL, shingles
from eurovision_spark.operators.textstats import md5_long, md5_long_sql, tokens
from eurovision_spark.sources import load_table

# Sliding-window chunking: CHUNK tokens per sample, STRIDE tokens
# between window starts (CHUNK - STRIDE = 8 tokens of overlap so no
# boundary context is lost). Sized to the synthetic docs (10-99
# tokens); production values (e.g. 2048/1920) change only these.
CHUNK = 32
STRIDE = 24

# hash_split percentages: [0,90) train, [90,95) valid, [95,100) test
SPLIT_SEED = ":splitseed"

# decontamination: a doc sharing >= this many distinct lowercased
# word-3-grams with the benchmark set is flagged (production pipelines
# use 8-13-gram windows, e.g. GPT-3's 13-gram rule; 3 keeps the gate
# non-trivial on the tiny-vocabulary synthetic corpus)
CONTAM_THRESHOLD = 3
BENCH_MOD = 20  # doc_id % 20 == 0 plays the held-out benchmark set


@register(
    "doc_chunk",
    f"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents WHERE n_chars > 0),
    c AS (
        SELECT doc_id, toks,
               unnest(generate_series(
                   0, CAST(ceil(greatest(len(toks) - {CHUNK}, 0) / {STRIDE}.0)
                           AS BIGINT))) AS chunk_idx
        FROM t)
    SELECT doc_id, chunk_idx,
           array_to_string(
               toks[1 + {STRIDE} * chunk_idx : {STRIDE} * chunk_idx + {CHUNK}],
               ' ') AS chunk_text,
           CAST(len(toks[1 + {STRIDE} * chunk_idx : {STRIDE} * chunk_idx + {CHUNK}])
                AS BIGINT) AS n_chunk_tokens
    FROM c
    """,
    "sliding-window chunking of each document into overlapping "
    f"{CHUNK}-token training samples ({STRIDE}-token stride): tokens -> "
    "per-row explode of window starts -> slice+join. Pure per-row map "
    "(sequence/slice/concat_ws inside whole-stage codegen), no shuffle; "
    "at 100 TB the output is written straight back to partitioned "
    "parquet with cost linear in corpus size.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def doc_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return chunk_documents(d)


def chunk_documents(d: DataFrame) -> DataFrame:
    """The chunking core over any (doc_id, text) DataFrame — batch or
    streaming (pure per-row expressions, so the same plan runs
    unchanged under readStream; tests/test_streaming.py proves
    stream/batch parity)."""
    t = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    n_windows = F.ceil(F.greatest(F.size("toks") - CHUNK, F.lit(0)) / F.lit(float(STRIDE)))
    c = t.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0).cast("bigint"), n_windows.cast("bigint"))).alias(
            "chunk_idx"
        ),
    )
    window = F.slice(F.col("toks"), (F.lit(1) + STRIDE * F.col("chunk_idx")).cast("int"), CHUNK)
    return c.select(
        "doc_id",
        "chunk_idx",
        F.concat_ws(" ", window).alias("chunk_text"),
        F.size(window).cast("bigint").alias("n_chunk_tokens"),
    )


@register(
    "hash_split",
    f"""
    SELECT doc_id,
           {md5_long_sql(f"concat(CAST(doc_id AS VARCHAR), '{SPLIT_SEED}')")} % 100
               AS bucket,
           CASE WHEN {md5_long_sql(f"concat(CAST(doc_id AS VARCHAR), '{SPLIT_SEED}')")} % 100 < 90
                THEN 'train'
                WHEN {md5_long_sql(f"concat(CAST(doc_id AS VARCHAR), '{SPLIT_SEED}')")} % 100 < 95
                THEN 'valid'
                ELSE 'test' END AS split
    FROM documents WHERE n_chars > 0
    """,
    "deterministic 90/5/5 train/valid/test assignment by md5 bucket of "
    "the doc key + seed. Per-row map, zero shuffles; assignment is "
    "stable under reruns, repartitioning, and corpus growth (a doc's "
    "split never depends on what else is in the corpus) — the property "
    "random() splits lose the moment data moves.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    bucket = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(SPLIT_SEED))) % 100
    return d.select(
        "doc_id",
        bucket.alias("bucket"),
        F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test").alias("split"),
    )


def _leak_split_oracle() -> str:
    """hash_split's bucket rule applied to the near-dup GROUP key: the
    recursive cluster CTE chain is shared verbatim with the
    minhash_cluster oracle (dedup.CLUSTER_CTES_SQL), so the groups this
    split certifies are the exact clusters that op certifies."""
    from eurovision_spark.operators.dedup import CLUSTER_CTES_SQL

    key = md5_long_sql(f"concat(CAST(group_id AS VARCHAR), '{SPLIT_SEED}')")
    return (
        CLUSTER_CTES_SQL
        + f"""
    , g AS (
        SELECT d.doc_id,
               CAST(coalesce(c.cluster_id, d.doc_id) AS BIGINT) AS group_id
        FROM docs d LEFT JOIN comp c ON c.doc_id = d.doc_id)
    SELECT doc_id, group_id,
           CAST(count(*) OVER (PARTITION BY group_id) AS BIGINT) AS group_size,
           {key} % 100 AS bucket,
           CASE WHEN {key} % 100 < 90 THEN 'train'
                WHEN {key} % 100 < 95 THEN 'valid'
                ELSE 'test' END AS split
    FROM g
    """
    )


@register(
    "leakage_safe_split",
    _leak_split_oracle(),
    "LEAKAGE-SAFE train/valid/test assignment — the split rule "
    "hash_split cannot give: near-duplicate documents must land in the "
    "SAME split (a test doc's near-copy in train is silent eval "
    "contamination that survives exact dedup and per-doc hash splits "
    "alike). Verified near-dup clusters form exactly as in "
    "minhash_cluster (LSH candidates -> exact Jaccard verify -> "
    "connected components, ids only), every doc's group key = its "
    "cluster id (min member) or itself when unclustered, and the split "
    "is hash_split's md5-bucket rule applied to the GROUP key — so "
    "members of a group agree by construction, singletons keep "
    "hash_split's exact assignment (same seed, same rule), and the "
    "assignment stays rerun/growth-stable as long as the group "
    "representative survives. Output: (doc_id, group_id, group_size, "
    "bucket, split) — group_size > 1 rows are the docs whose naive "
    "per-doc split WOULD have risked leakage. Scale shape: cluster "
    "formation is the certified minhash_cluster plan (banded "
    "signatures, density-tracking candidate join, id-only CC rounds); "
    "the split itself adds one id-only left join + one group-keyed "
    "window of (doc_id, group_id) rows + a per-row hash — document "
    "text never moves. Oracle: the shared recursive cluster CTE chain "
    "+ the same bucket arithmetic (CLUSTER_CTES_SQL — one cluster "
    "definition per engine, this op and minhash_cluster cannot "
    "diverge).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def leakage_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eurovision_spark.operators.dedup import (
        copies_shingle_sets,
        docs_with_copies,
        verified_near_edges,
    )
    from eurovision_spark.operators.imp_dedup import cc_edge_list

    edges, n_pairs = verified_near_edges(None, sets=copies_shingle_sets(spark, sf_dir))
    labels = cc_edge_list(
        edges,
        "doc_id_1",
        "doc_id_2",
        materialized=True,
        leaf=False,
        n_edges_hint=n_pairs,
    )
    g = (
        docs_with_copies(spark, sf_dir)
        .select("doc_id")
        .join(
            labels.select(
                F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
            ),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce("cluster_id", "doc_id").cast("bigint").alias("group_id"),
        )
    )
    bucket = (
        md5_long(F.concat(F.col("group_id").cast("string"), F.lit(SPLIT_SEED))) % 100
    )
    return g.select(
        "doc_id",
        "group_id",
        F.count("*").over(W.partitionBy("group_id")).cast("bigint").alias("group_size"),
        bucket.alias("bucket"),
        F.when(bucket < 90, "train")
        .when(bucket < 95, "valid")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "contamination_check",
    f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE n_chars > 0),
    g AS (SELECT doc_id, unnest(list_distinct({SH_SQL})) AS sh FROM d),
    h AS (SELECT doc_id, {md5_long_sql('sh')} AS gh FROM g),
    bg AS (SELECT DISTINCT gh FROM h WHERE doc_id % {BENCH_MOD} = 0),
    shared AS (
        SELECT h.doc_id, count(DISTINCT h.gh) AS n
        FROM h JOIN bg USING (gh)
        WHERE h.doc_id % {BENCH_MOD} <> 0
        GROUP BY h.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(s.n, 0) AS BIGINT) AS n_shared,
           CAST(coalesce(s.n, 0) >= {CONTAM_THRESHOLD} AS INT) AS contaminated
    FROM d LEFT JOIN shared s ON s.doc_id = d.doc_id
    WHERE d.doc_id % {BENCH_MOD} <> 0
    """,
    "benchmark decontamination: flag training docs sharing lowercased "
    "word-3-gram windows with the held-out benchmark slice (doc_id % "
    f"{BENCH_MOD} == 0 here; a real eval suite in production). Gram "
    "hashes are md5-derived 60-bit ints so only 8-byte keys move, never "
    "gram text; the benchmark gram set BROADCASTs (eval suites are "
    "MBs), so the corpus side is one per-row explode + broadcast-hash "
    "probe — no corpus shuffle at 100 TB.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def contamination_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    # two-step projection: split once, then shingle (codegen re-evaluates
    # an inline split at every element_at reference — see dedup.py)
    grams = (
        d.select("doc_id", tokens(F.lower(F.col("text"))).alias("_toks"))
        .select("doc_id", F.explode(F.array_distinct(shingles(F.col("_toks")))).alias("sh"))
        .select("doc_id", md5_long(F.col("sh")).alias("gh"))
    )
    # the bench gram set is eval-suite-sized (the op's own broadcast
    # premise) — checkpoint it so the probe/report legs don't re-derive
    # the gram scan behind it (6 parquet scans before this, 2 after)
    bench_grams = (
        grams.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("gh")
        .distinct()
        # lazy (r10): the probe leg's broadcast build materializes it
        .localCheckpoint(eager=False)
    )
    shared = (
        grams.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench_grams), "gh")
        .groupBy("doc_id")
        .agg(F.count_distinct("gh").alias("n"))
    )
    n_shared = F.coalesce(F.col("n"), F.lit(0))
    return (
        d.filter(F.col("doc_id") % BENCH_MOD != 0)
        .select("doc_id")
        .join(shared, "doc_id", "left")
        .select(
            "doc_id",
            n_shared.cast("bigint").alias("n_shared"),
            (n_shared >= CONTAM_THRESHOLD).cast("int").alias("contaminated"),
        )
    )


# Bloom-filter decontamination — the scale path contamination_check's
# docstring promises ("at extreme benchmark sizes swap the broadcast
# for a bloom-filter pre-probe"). BLOOM_BITS is sized for a FIXED eval
# suite (production suites are MBs and do not grow with the corpus);
# the synthetic bench slice here DOES grow with sf, so the top SCALING
# tiers deliberately exhibit rising false_pos — the op reports its own
# saturation, and the exact columns stay the ground truth.
BLOOM_BITS = 1 << 22  # 4M bits -> at most 65,536 occupied 64-bit words
BLOOM_K = 2  # hash positions per gram (j = 0, 1)


def _bloom_pos(x: str, j: int) -> str:
    """Spark-SQL expression: bloom bit position j of gram string x
    (md5_long of the '#j'-salted gram, mod BLOOM_BITS — identical
    arithmetic on both engines; md5_long is non-negative so % is
    already a floor-mod)."""
    return (
        f"cast(conv(substring(md5(concat({x}, '#{j}')), 1, 15), 16, 10) "
        f"as bigint) % {BLOOM_BITS}"
    )


def _bloom_pos_sql(x: str, j: int) -> str:
    """DuckDB twin of :func:`_bloom_pos`."""
    salted = f"concat({x}, '#{j}')"
    return f"({md5_long_sql(salted)} % {BLOOM_BITS})"


def _bloom_test(p: str) -> str:
    """Spark-SQL expression: is bit at position p set in the one-row
    broadcast DENSE word array `_bloom`? element_at on an ARRAY is an
    O(1) index — Spark's MapType element_at is a LINEAR SCAN over the
    map entries (ArrayBasedMapData has no hash index), which made the
    first formulation O(grams x occupied_words) per doc and
    pathological at the x10 tier. Arithmetic shiftright's sign-fill
    never reaches bit 0 of the result, so `& 1` extracts bit (p % 64)
    correctly even for words with bit 63 set."""
    return (
        f"(shiftright(element_at(_bloom, "
        f"cast(floor(({p}) / 64) as int) + 1), "
        f"cast(({p}) % 64 as int)) & 1) = 1"
    )


@register(
    "contamination_bloom",
    f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE n_chars > 0),
    g AS (SELECT doc_id, unnest(list_distinct({SH_SQL})) AS sh FROM d),
    bsh AS (SELECT DISTINCT sh FROM g WHERE doc_id % {BENCH_MOD} = 0),
    bpos AS (
        SELECT DISTINCT pos FROM (
            SELECT {_bloom_pos_sql('sh', 0)} AS pos FROM bsh
            UNION ALL
            SELECT {_bloom_pos_sql('sh', 1)} AS pos FROM bsh)),
    hp AS (
        SELECT doc_id, sh,
               ({_bloom_pos_sql('sh', 0)} IN (SELECT pos FROM bpos))
               AND ({_bloom_pos_sql('sh', 1)} IN (SELECT pos FROM bpos))
                   AS pass
        FROM g WHERE doc_id % {BENCH_MOD} <> 0),
    bl AS (SELECT doc_id, count(*) FILTER (WHERE pass) AS nb
           FROM hp GROUP BY doc_id),
    h AS (SELECT doc_id, {md5_long_sql('sh')} AS gh FROM g),
    bg AS (SELECT DISTINCT gh FROM h WHERE doc_id % {BENCH_MOD} = 0),
    shared AS (
        SELECT h.doc_id, count(DISTINCT h.gh) AS n
        FROM h JOIN bg USING (gh)
        WHERE h.doc_id % {BENCH_MOD} <> 0
        GROUP BY h.doc_id)
    SELECT d.doc_id,
           CAST(coalesce(s.n, 0) AS BIGINT) AS n_shared,
           CAST(coalesce(s.n, 0) >= {CONTAM_THRESHOLD} AS INT) AS contaminated,
           CAST(coalesce(bl.nb, 0) AS BIGINT) AS bloom_hits,
           CAST(coalesce(bl.nb, 0) >= {CONTAM_THRESHOLD} AS INT) AS bloom_flag,
           CAST(coalesce(bl.nb, 0) >= {CONTAM_THRESHOLD}
                AND coalesce(s.n, 0) < {CONTAM_THRESHOLD} AS INT) AS false_pos
    FROM d
    LEFT JOIN shared s ON s.doc_id = d.doc_id
    LEFT JOIN bl ON bl.doc_id = d.doc_id
    WHERE d.doc_id % {BENCH_MOD} <> 0
    """,
    "bloom-filter decontamination, the scale path contamination_check "
    "documents: benchmark grams fold into a bit_or-aggregated bitmap "
    f"of {BLOOM_BITS} bits stored as at most {BLOOM_BITS // 64} "
    "occupied 64-bit words — bounded by CONSTRUCTION at any corpus "
    "size, unlike the exact gram set — densified driver-side (<=512 "
    "KB) and broadcast as one single-row DENSE array (array "
    "element_at is an O(1) index; Spark's map element_at LINEAR-SCANS "
    "its entries, which was O(grams x words) per doc and pathological "
    "at the x10 tier); the corpus side probes it entirely IN-ROW "
    "(higher-order "
    f"transform/filter, {BLOOM_K} salted md5 positions per gram, "
    "shiftright bit test), so the bloom leg adds ZERO corpus-side "
    "shuffles and never moves gram text or gram hashes. The exact leg "
    "reuses contamination_check's certified plan and joins back on "
    "doc_id (8-byte keys) to report bloom false positives honestly — "
    "a bloom can only over-flag, never under-flag (bloom_hits >= "
    "n_shared row-by-row, pinned in tests/test_pipeline_ops.py).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def contamination_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    # two-step projection (the contamination_check codegen discipline)
    shs = (
        d.select("doc_id", tokens(F.lower(F.col("text"))).alias("_toks"))
        .select("doc_id", F.array_distinct(shingles(F.col("_toks"))).alias("_shs"))
    )
    bench_pos = (
        shs.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select(F.explode("_shs").alias("sh"))
        .distinct()
        .select(
            F.explode(
                F.array(F.expr(_bloom_pos("sh", 0)), F.expr(_bloom_pos("sh", 1)))
            ).alias("pos")
        )
    )
    # the word rows are bounded at BLOOM_BITS/64 by construction, so
    # the collect is a <= 512 KB driver transfer (the IVF_SAMPLE
    # precedent) — densified into one array<bigint> row because array
    # element_at is an O(1) index while map element_at linear-scans
    word_rows = (
        bench_pos.select(
            F.expr("cast(floor(pos / 64) as bigint)").alias("w"),
            F.expr("cast(pos % 64 as int)").alias("b"),
        )
        .groupBy("w")
        .agg(F.expr("bit_or(shiftleft(cast(1 as bigint), b))").alias("bits"))
        .collect()
    )
    words = [0] * (BLOOM_BITS // 64)
    for r in word_rows:
        words[int(r.w)] = int(r.bits)
    bloom_row = spark.createDataFrame([(words,)], "_bloom array<bigint>")
    probe = (
        shs.filter(F.col("doc_id") % BENCH_MOD != 0)
        .crossJoin(F.broadcast(bloom_row))
        .select(
            "doc_id",
            F.expr(
                "size(filter(transform(_shs, g -> struct("
                f"{_bloom_pos('g', 0)} as p0, {_bloom_pos('g', 1)} as p1)), "
                f"p -> {_bloom_test('p.p0')} AND {_bloom_test('p.p1')}))"
            )
            .cast("bigint")
            .alias("bloom_hits"),
        )
    )
    bh = F.col("bloom_hits")
    return (
        contamination_check(spark, sf_dir)
        .join(probe, "doc_id")
        .select(
            "doc_id",
            "n_shared",
            "contaminated",
            "bloom_hits",
            (bh >= CONTAM_THRESHOLD).cast("int").alias("bloom_flag"),
            ((bh >= CONTAM_THRESHOLD) & (F.col("contaminated") == 0))
            .cast("int")
            .alias("false_pos"),
        )
    )


@register(
    "decontaminate",
    f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE n_chars > 0),
    t AS (SELECT doc_id, text,
                 string_split_regex(trim(lower(text)), '\\s+') AS ltoks,
                 string_split_regex(trim(text), '\\s+') AS otoks
          FROM d),
    g AS (SELECT doc_id,
                 unnest(generate_series(1, len(ltoks) - 2)) AS i,
                 ltoks
          FROM t),
    h AS (SELECT doc_id, i,
                 {md5_long_sql("ltoks[i] || ' ' || ltoks[i+1] || ' ' || ltoks[i+2]")}
                     AS gh
          FROM g),
    bg AS (SELECT DISTINCT gh FROM h WHERE doc_id % {BENCH_MOD} = 0),
    hits AS (
        SELECT h.doc_id,
               list_sort(list_distinct(flatten(
                   list(ARRAY[h.i, h.i + 1, h.i + 2])))) AS covered
        FROM h JOIN bg USING (gh)
        WHERE h.doc_id % {BENCH_MOD} <> 0
        GROUP BY h.doc_id)
    SELECT t.doc_id,
           CAST(len(t.otoks) AS BIGINT) AS n_tokens,
           CAST(coalesce(len(hits.covered), 0) AS BIGINT) AS n_removed,
           coalesce(array_to_string(
               list_filter(
                   list_transform(generate_series(1, len(t.otoks)),
                                  j -> CASE WHEN hits.covered IS NULL
                                                 OR NOT list_contains(hits.covered, j)
                                            THEN t.otoks[j] END),
                   x -> x IS NOT NULL),
               ' '), '') AS clean_text
    FROM t LEFT JOIN hits ON hits.doc_id = t.doc_id
    WHERE t.doc_id % {BENCH_MOD} <> 0
    """,
    "benchmark-decontamination SURGERY (the GPT-3 n-gram rule applied "
    "as a rewrite, not a drop): every token covered by a word-3-gram "
    "the doc shares with the benchmark slice is cut and the document "
    "reassembled from the survivors — the production middle ground "
    "between shipping contaminated docs and discarding them whole. "
    "Matching runs on LOWERCASED grams (contamination_check's exact "
    "arithmetic); removal excises the ORIGINAL-case tokens at those "
    "positions (whitespace split is case-invariant, so positions "
    "line up). Scale shape: the gram explode moves only (doc_id, i, "
    "gh) rows into the broadcast bench probe; covered positions fold "
    "to one bounded-by-doc-length int array per flagged doc; the "
    "rebuild is an id-keyed join back to the text plus one in-row "
    "filter — full text never shuffles and clean docs pass through "
    "untouched. Planted-overlap fixture pins exact window excision in "
    "tests/test_pipeline_ops.py.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    t = d.select("doc_id", "text", tokens(F.lower(F.col("text"))).alias("_lt"))
    grams = t.select(
        "doc_id",
        F.posexplode(shingles(F.col("_lt"))).alias("pos0", "sh"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("i"),  # 1-based window start
        md5_long(F.col("sh")).alias("gh"),
    )
    bench = (
        grams.filter(F.col("doc_id") % BENCH_MOD == 0)
        .select("gh")
        .distinct()
        .localCheckpoint(eager=False)  # suite-sized (the contamination_check premise); lazy (r10)
    )
    hits = (
        grams.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(F.broadcast(bench), "gh")
        .groupBy("doc_id")
        .agg(
            F.array_sort(
                F.array_distinct(
                    F.flatten(
                        F.collect_list(
                            F.array(F.col("i"), F.col("i") + 1, F.col("i") + 2)
                        )
                    )
                )
            ).alias("covered")
        )
    )
    otoks = tokens(F.col("text"))
    survivors = F.transform(
        F.filter(
            F.zip_with(
                otoks,
                F.sequence(F.lit(1), F.size(otoks)),
                lambda tok, j: F.struct(tok.alias("tok"), j.alias("j")),
            ),
            lambda s: F.coalesce(
                ~F.array_contains(F.col("covered"), s.j), F.lit(True)
            ),
        ),
        lambda s: s.tok,
    )
    return (
        t.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.size(otoks).cast("bigint").alias("n_tokens"),
            F.coalesce(F.size("covered"), F.lit(0))
            .cast("bigint")
            .alias("n_removed"),
            F.concat_ws(" ", survivors).alias("clean_text"),
        )
    )


# mixture weighting: per-source sampling weights proportional to
# token_count^ALPHA (temperature/alpha smoothing, the standard way a
# pretraining mixture upweights small high-quality sources relative to
# their raw size — ALPHA=1 is proportional sampling, ALPHA=0 uniform)
MIX_ALPHA = 0.5


@register(
    "mixture_weights",
    f"""
    WITH s AS (
        SELECT source,
               CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
                   AS src_tokens
        FROM documents WHERE n_chars > 0 GROUP BY source)
    SELECT source, src_tokens,
           round(pow(CAST(src_tokens AS DOUBLE), {MIX_ALPHA})
                 / sum(pow(CAST(src_tokens AS DOUBLE), {MIX_ALPHA})) OVER (), 6)
               AS weight
    FROM s
    """,
    f"per-source sampling weights for a pretraining mixture: weight ∝ "
    f"token_count^{MIX_ALPHA} normalized over sources (alpha-smoothed "
    "sampling à la multilingual/data-mixture practice). The heavy pass "
    "is one partial+final token-count aggregate keyed by source; the "
    "normalization window runs over the per-source RESULT (rows = "
    "#sources, a bounded-cardinality table at any corpus size), so the "
    "unpartitioned window is safe by construction — it never sees raw "
    "documents.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    s = d.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias("src_tokens")
    )
    powed = F.pow(F.col("src_tokens").cast("double"), F.lit(MIX_ALPHA))
    # window over the per-source aggregate only: #sources rows total
    total = F.sum(powed).over(W.partitionBy())
    return s.select(
        "source",
        "src_tokens",
        F.round(powed / total, 6).alias("weight"),
    )


# data-constrained epoch allocation (Muennighoff et al. 2023: repeating
# data up to ~4 epochs is nearly as good as fresh data, beyond that the
# value decays fast): water-fill a token budget across sources
# proportionally to their mixture weight, but cap every source at
# EPOCH_CAP passes over its own tokens and redistribute the spill to
# the uncapped sources. The budget is EPOCH_BUDGET_X x the corpus'
# token count so both regimes appear at every sf (weights ∝ sqrt(n)
# give small sources the highest epochs-per-budget rate, so caps bind
# on the small end first).
EPOCH_CAP = 4.0
EPOCH_BUDGET_X = 2.0


@register(
    "epoch_plan",
    f"""
    WITH s AS (
        SELECT source,
               CAST(sum(len(string_split_regex(trim(text), '\\s+'))) AS BIGINT)
                   AS src_tokens
        FROM documents WHERE n_chars > 0 GROUP BY source),
    w AS (SELECT source, src_tokens,
                 pow(CAST(src_tokens AS DOUBLE), {MIX_ALPHA}) AS wt
          FROM s),
    t AS (SELECT source, src_tokens, wt,
                 sum(wt) OVER () AS w_tot,
                 sum(CAST(src_tokens AS DOUBLE)) OVER () AS n_tot,
                 {EPOCH_CAP} * src_tokens / wt AS ratio,
                 coalesce(sum(CAST(src_tokens AS DOUBLE)) OVER (
                     ORDER BY {EPOCH_CAP} * src_tokens / wt, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cum_n_prev,
                 coalesce(sum(wt) OVER (
                     ORDER BY {EPOCH_CAP} * src_tokens / wt, source
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                     AS cum_w_prev
          FROM w),
    c AS (SELECT *,
                 ({EPOCH_BUDGET_X} * n_tot - {EPOCH_CAP} * cum_n_prev)
                     / (w_tot - cum_w_prev) >= ratio AS is_capped
          FROM t),
    k AS (SELECT coalesce(sum(CAST(src_tokens AS DOUBLE))
                              FILTER (WHERE is_capped), 0) AS n_cap,
                 coalesce(sum(wt) FILTER (WHERE is_capped), 0) AS w_cap
          FROM c)
    SELECT c.source, c.src_tokens,
           round(c.wt / c.w_tot, 6) AS weight,
           CAST(c.is_capped AS INT) AS capped,
           round(CASE WHEN c.is_capped THEN {EPOCH_CAP}
                      ELSE ({EPOCH_BUDGET_X} * c.n_tot - {EPOCH_CAP} * k.n_cap)
                           / (c.w_tot - k.w_cap) * c.wt / c.src_tokens
                 END, 4) AS epochs,
           round(CASE WHEN c.is_capped THEN {EPOCH_CAP} * c.src_tokens
                      ELSE ({EPOCH_BUDGET_X} * c.n_tot - {EPOCH_CAP} * k.n_cap)
                           / (c.w_tot - k.w_cap) * c.wt
                 END, 2) AS alloc_tokens
    FROM c, k
    """,
    "data-constrained epoch allocation (the Muennighoff 2023 repeat "
    f"rule): water-fill a {EPOCH_BUDGET_X}x-corpus token budget across "
    f"sources ∝ mixture weight (tokens^{MIX_ALPHA}) with every source "
    f"capped at {EPOCH_CAP} epochs of its own tokens, spill "
    "redistributed to uncapped sources — the EXACT closed-form "
    "water-fill: sources sorted by the lambda at which their cap "
    "binds, the binding set identified by one prefix-sum window, the "
    "shared water level from one aggregate row. Everything past the "
    "per-source token count (one partial/final agg) runs on the "
    "#sources-row table — the mixture_weights bounded-window "
    "discipline, safe at any corpus size. sum(alloc_tokens) = budget "
    "by construction (pinned in tests/test_pipeline_ops.py).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    s = d.groupBy("source").agg(
        F.sum(F.size(tokens(F.col("text")))).cast("bigint").alias("src_tokens")
    )
    n_d = F.col("src_tokens").cast("double")
    # ONE tokenizing scan: the per-source table is #sources rows —
    # checkpoint it so the window/aggregate legs below don't re-derive
    # the corpus scan (Spark re-executes shared subtrees per reference)
    w = s.select(
        "source", "src_tokens", F.pow(n_d, F.lit(MIX_ALPHA)).alias("wt")
    ).localCheckpoint(eager=False)  # lazy (r10): first window leg materializes
    # every window below runs over the per-source aggregate: #sources rows
    ratio = (F.lit(EPOCH_CAP) * n_d / F.col("wt")).alias("ratio")
    ordered = W.orderBy(F.lit(EPOCH_CAP) * n_d / F.col("wt"), "source").rowsBetween(
        W.unboundedPreceding, -1
    )
    t = w.select(
        "source",
        "src_tokens",
        "wt",
        F.sum("wt").over(W.partitionBy()).alias("w_tot"),
        F.sum(n_d).over(W.partitionBy()).alias("n_tot"),
        ratio,
        F.coalesce(F.sum(n_d).over(ordered), F.lit(0.0)).alias("cum_n_prev"),
        F.coalesce(F.sum("wt").over(ordered), F.lit(0.0)).alias("cum_w_prev"),
    )
    c = t.withColumn(
        "is_capped",
        (F.lit(EPOCH_BUDGET_X) * F.col("n_tot") - F.lit(EPOCH_CAP) * F.col("cum_n_prev"))
        / (F.col("w_tot") - F.col("cum_w_prev"))
        >= F.col("ratio"),
    )
    k = c.groupBy().agg(
        F.coalesce(F.sum(F.when(F.col("is_capped"), n_d)), F.lit(0.0)).alias("n_cap"),
        F.coalesce(F.sum(F.when(F.col("is_capped"), F.col("wt"))), F.lit(0.0)).alias(
            "w_cap"
        ),
    )
    lam = (
        F.lit(EPOCH_BUDGET_X) * F.col("n_tot") - F.lit(EPOCH_CAP) * F.col("n_cap")
    ) / (F.col("w_tot") - F.col("w_cap"))
    return c.crossJoin(F.broadcast(k)).select(
        "source",
        "src_tokens",
        F.round(F.col("wt") / F.col("w_tot"), 6).alias("weight"),
        F.col("is_capped").cast("int").alias("capped"),
        F.round(
            F.when(F.col("is_capped"), F.lit(EPOCH_CAP)).otherwise(
                lam * F.col("wt") / n_d
            ),
            4,
        ).alias("epochs"),
        F.round(
            F.when(F.col("is_capped"), F.lit(EPOCH_CAP) * n_d).otherwise(
                lam * F.col("wt")
            ),
            2,
        ).alias("alloc_tokens"),
    )


# sequence packing: chunks are packed into CAPACITY-token training
# sequences. Packing is inherently order-dependent, so it runs per
# SHARD (doc_id mod N_SHARDS): each shard packs its own chunk stream
# with a cumulative-sum window — N_SHARDS independent sorts of
# 1/N_SHARDS of the data each, never one global sort. A pack's total
# can overflow CAPACITY by at most one chunk (the streaming first-fit
# bound); fill reports the utilization.
CAPACITY = 256
N_SHARDS = 32


@register(
    "token_pack",
    f"""
    WITH t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM documents WHERE n_chars > 0),
    c AS (
        SELECT doc_id, toks,
               unnest(generate_series(
                   0, CAST(ceil(greatest(len(toks) - {CHUNK}, 0) / {STRIDE}.0)
                           AS BIGINT))) AS chunk_idx
        FROM t),
    chunks AS (
        SELECT doc_id, chunk_idx,
               CAST(len(toks[1 + {STRIDE} * chunk_idx : {STRIDE} * chunk_idx + {CHUNK}])
                    AS BIGINT) AS n,
               doc_id % {N_SHARDS} AS shard
        FROM c),
    packed AS (
        SELECT shard,
               CAST(ceil(CAST(sum(n) OVER (PARTITION BY shard
                                           ORDER BY doc_id, chunk_idx) AS DOUBLE)
                         / {CAPACITY}) AS BIGINT) AS pack_seq,
               n
        FROM chunks)
    SELECT shard * 1000000 + pack_seq AS pack_id,
           CAST(count(*) AS BIGINT) AS n_chunks,
           CAST(sum(n) AS BIGINT) AS total_tokens,
           round(CAST(sum(n) AS DOUBLE) / {CAPACITY}, 4) AS fill
    FROM packed GROUP BY shard, pack_seq
    """,
    f"sequence packing: doc_chunk's chunks packed into ~{CAPACITY}-token "
    "training sequences by a per-shard cumulative-token window (pack = "
    "ceil(running_total / capacity)). Sharding by doc_id keeps every "
    "sort local to 1/N of the data — the formulation that avoids the "
    "global-order trap at 100 TB; packs overflow capacity by at most "
    "one chunk (streaming first-fit bound).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def token_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r10 (guide §2.3 — shuffle fewer bytes / narrower per-row work):
    # packing only needs each chunk's TOKEN COUNT, which is pure
    # arithmetic over (n_toks, chunk_idx) — the doc_chunk plan carried
    # the full token array into every exploded chunk row just to take
    # size(slice(toks, start, CHUNK)) (one array copy per chunk, the
    # op's entire measured compute excess). Collapse the array to one
    # scalar per document BEFORE the explode; the count identity
    # n = max(0, min(CHUNK, n_toks - start + 1)) is exactly slice's
    # length semantics (pinned against chunk_documents in
    # tests/test_pipeline_ops.py::test_token_pack_counts_match_doc_chunk).
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    t = d.select("doc_id", F.size(tokens(F.col("text"))).alias("_nt"))
    n_windows = F.ceil(
        F.greatest(F.col("_nt") - CHUNK, F.lit(0)) / F.lit(float(STRIDE))
    )
    c = t.select(
        "doc_id",
        "_nt",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), n_windows.cast("bigint"))
        ).alias("chunk_idx"),
    )
    start = F.lit(1) + STRIDE * F.col("chunk_idx")
    n_chunk = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.lit(CHUNK).cast("bigint"), (F.col("_nt") - start + 1).cast("bigint")),
    )
    chunks = c.select(
        "doc_id",
        "chunk_idx",
        n_chunk.alias("n"),
        (F.col("doc_id") % N_SHARDS).alias("shard"),
    )
    w = W.partitionBy("shard").orderBy("doc_id", "chunk_idx")
    packed = chunks.withColumn(
        "pack_seq", F.ceil(F.sum("n").over(w) / F.lit(float(CAPACITY))).cast("bigint")
    )
    return packed.groupBy("shard", "pack_seq").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.sum("n").cast("bigint").alias("total_tokens"),
        F.round(F.sum("n").cast("double") / CAPACITY, 4).alias("fill"),
    ).select(
        (F.col("shard") * 1000000 + F.col("pack_seq")).alias("pack_id"),
        "n_chunks",
        "total_tokens",
        "fill",
    )


# quality-binned curation: decile documents by lexical diversity, then
# report each bin's doc/token mass — the shape a curriculum or
# quality-weighted sampling pass consumes ("how much of the corpus sits
# in each quality band, and how many tokens does keeping bins >= k buy")
N_QUALITY_BINS = 10


@register(
    "quality_bins",
    f"""
    WITH t AS (
        SELECT doc_id,
               string_split_regex(trim(lower(text)), '\\s+') AS toks
        FROM documents WHERE n_chars > 0),
    q AS (
        SELECT doc_id,
               CAST(len(toks) AS BIGINT) AS n_tokens,
               CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS diversity
        FROM t),
    b AS (
        SELECT n_tokens, diversity,
               ntile({N_QUALITY_BINS}) OVER (ORDER BY diversity, doc_id) AS bin
        FROM q)
    SELECT CAST(bin AS INT) AS bin,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS bin_tokens,
           round(min(diversity), 4) AS div_lo,
           round(max(diversity), 4) AS div_hi
    FROM b GROUP BY bin
    """,
    "quality-binned curation: decile the corpus by lexical diversity "
    "(deterministic doc_id tiebreak) and report each bin's doc count, "
    "token mass, and diversity range — what a curriculum schedule or "
    "quality-threshold decision consumes. The ntile runs over (score, "
    "id) pairs only — documents collapse to two numbers before the "
    "single ordered pass, and that pass is the ONE global-order step "
    "(rank-based binning is inherently global; at 100 TB swap ntile "
    "for approx-quantile cutpoints computed map-side, same output "
    "contract).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    t = d.select("doc_id", tokens(F.lower(F.col("text"))).alias("toks"))
    q = t.select(
        "doc_id",
        F.size("toks").cast("bigint").alias("n_tokens"),
        (F.size(F.array_distinct(F.col("toks"))).cast("double") / F.size("toks")).alias(
            "diversity"
        ),
    )
    wq = W.orderBy("diversity", "doc_id")
    b = q.select(
        "n_tokens", "diversity", F.ntile(N_QUALITY_BINS).over(wq).alias("bin")
    )
    return b.groupBy("bin").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("bin_tokens"),
        F.round(F.min("diversity"), 4).alias("div_lo"),
        F.round(F.max("diversity"), 4).alias("div_hi"),
    ).select(F.col("bin").cast("int").alias("bin"), "n_docs", "bin_tokens", "div_lo", "div_hi")


# deterministic text featurizer: the embed step of an embed+search
# pipeline with the MODEL stubbed (as with the multimodal codecs, the
# container has no inference stack): dimension j of a doc's vector is
# an md5-derived value in [-1, 1], L2-normalized per doc. The Spark
# plumbing — per-row array generation, in-array normalization, explode
# to (doc, dim, val) — is exactly what a real encoder UDF would feed.
EMBED_DIM = 16


@register(
    "text_embed",
    f"""
    WITH d AS (SELECT doc_id, text FROM documents WHERE n_chars > 0),
    r AS (
        SELECT doc_id,
               dim,
               ({md5_long_sql("concat(text, ':', CAST(dim AS VARCHAR))")} % 2001 - 1000)
                   / 1000.0 AS v
        FROM d CROSS JOIN (SELECT unnest(generate_series(0, {EMBED_DIM - 1})) AS dim)),
    n AS (
        SELECT doc_id, dim, v,
               sqrt(sum(v * v) OVER (PARTITION BY doc_id)) AS nrm
        FROM r)
    SELECT doc_id, CAST(dim AS INT) AS dim, round(v / nrm, 6) AS val
    FROM n
    """,
    f"text featurization (embed step, model stubbed): {EMBED_DIM} "
    "md5-derived dimensions in [-1, 1], L2-normalized per document, "
    "emitted as (doc_id, dim, val) rows. The Spark side builds the "
    "vector per-row with a higher-order transform and normalizes "
    "inside the array — zero shuffles, no UDF; a real encoder swaps "
    "the hash formula for an Arrow-batched model call with the same "
    "schema. The oracle mirrors the formula row-wise with a window "
    "norm (same doubles, rounded).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def text_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    dims = F.sequence(F.lit(0), F.lit(EMBED_DIM - 1))
    raw = F.transform(
        dims,
        lambda j: (
            md5_long(F.concat(F.col("text"), F.lit(":"), j.cast("string"))) % 2001 - 1000
        )
        / 1000.0,
    )
    withv = d.select("doc_id", raw.alias("vraw"))
    nrm = F.sqrt(F.aggregate(F.col("vraw"), F.lit(0.0), lambda a, x: a + x * x))
    return (
        withv.select("doc_id", "vraw", nrm.alias("nrm"))
        .select("doc_id", F.posexplode("vraw").alias("dim", "v"), "nrm")
        .select("doc_id", F.col("dim").cast("int").alias("dim"), F.round(F.col("v") / F.col("nrm"), 6).alias("val"))
    )


# --- PII redaction -----------------------------------------------------
# The synthetic corpus is PII-free word soup, so (dedup_exact idiom:
# plant, then prove the collapse) a deterministic subset of docs gets
# identical PII planted by BOTH engines before redaction — the gate
# certifies real matches being found and masked, not a no-op scan.
# Patterns are written in the Java-regex/RE2 common subset (no
# backrefs, no lookaround) so Spark and DuckDB agree byte-for-byte.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_PHONE = r"\b[0-9]{3}-[0-9]{4}\b"
PII_IPV4 = r"\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b"

# The planted-text CTE and the staged-mask CTEs, shared verbatim by the
# pii_redact and prep_pipeline oracles (one definition of what
# "planted" and "redacted" mean — editing one query can't silently
# un-sync the other). Masking is STAGED (email -> ip -> phone) and each
# class's count is taken on the text AS THAT STAGE SEES IT, so counts
# always equal the masks actually emitted — a class swallowed by an
# earlier mask (an IPv4-looking fragment inside an email) is not
# phantom-counted.
_PLANT_SQL = """
    planted AS (
        SELECT doc_id,
               concat(text,
                      CASE WHEN doc_id % 7 = 0
                           THEN concat(' contact user', CAST(doc_id AS VARCHAR),
                                       '@example.com')
                           ELSE '' END,
                      CASE WHEN doc_id % 5 = 0
                           THEN concat(' call 555-',
                                       lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'))
                           ELSE '' END,
                      CASE WHEN doc_id % 3 = 0
                           THEN concat(' from 10.', CAST(doc_id % 256 AS VARCHAR),
                                       '.0.', CAST(doc_id % 100 AS VARCHAR))
                           ELSE '' END) AS text
        FROM documents WHERE n_chars > 0)"""

_MASK_SQL = f"""
    m1 AS (SELECT doc_id, text,
                  regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g') AS t1
           FROM planted),
    m2 AS (SELECT doc_id, text, t1,
                  regexp_replace(t1, '{PII_IPV4}', '<IP>', 'g') AS t2
           FROM m1)"""

_REDACTED_SQL = f"regexp_replace(t2, '{PII_PHONE}', '<PHONE>', 'g')"


@register(
    "pii_redact",
    f"""
    WITH {_PLANT_SQL},
    {_MASK_SQL}
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{PII_EMAIL}')) AS BIGINT) AS n_emails,
           CAST(len(regexp_extract_all(t2, '{PII_PHONE}')) AS BIGINT) AS n_phones,
           CAST(len(regexp_extract_all(t1, '{PII_IPV4}')) AS BIGINT) AS n_ips,
           {_REDACTED_SQL} AS redacted
    FROM m2
    """,
    "PII scrub (email / phone / IPv4): per-class match counts + masked "
    "text via staged regexp_replace — the standard pre-training "
    "compliance pass. Pure per-row JVM regex inside whole-stage codegen "
    "(no UDF, no shuffle); cost is linear in bytes scanned, identical "
    "at 100 TB. Email masks before IPv4/phone so dotted/hyphenated "
    "fragments inside an address can't double-match, and each class is "
    "COUNTED on the text its masking stage sees, so counts equal the "
    "masks actually emitted — the downstream audit can reconcile "
    "redaction rates against the masked text exactly.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return redact_documents(d)


def redact_documents(d: DataFrame) -> DataFrame:
    """The plant+scrub core over any (doc_id, text) DataFrame — batch
    or streaming (pure per-row regex expressions, so the same plan
    runs unchanged under readStream; tests/test_streaming.py proves
    stream/batch parity)."""
    did = F.col("doc_id")
    planted = d.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                did % 7 == 0,
                F.concat(F.lit(" contact user"), did.cast("string"), F.lit("@example.com")),
            ).otherwise(""),
            F.when(
                did % 5 == 0,
                F.concat(F.lit(" call 555-"), F.lpad((did % 10000).cast("string"), 4, "0")),
            ).otherwise(""),
            F.when(
                did % 3 == 0,
                F.concat(
                    F.lit(" from 10."),
                    (did % 256).cast("string"),
                    F.lit(".0."),
                    (did % 100).cast("string"),
                ),
            ).otherwise(""),
        ).alias("text"),
    )
    # staged masking, each class counted on the text its stage sees
    # (mirrors _MASK_SQL): counts == emitted masks by construction
    staged = planted.select(
        "doc_id",
        "text",
        F.regexp_replace(F.col("text"), PII_EMAIL, "<EMAIL>").alias("t1"),
    ).select(
        "doc_id",
        "text",
        "t1",
        F.regexp_replace(F.col("t1"), PII_IPV4, "<IP>").alias("t2"),
    )
    return staged.select(
        "doc_id",
        F.regexp_count(F.col("text"), F.lit(PII_EMAIL)).cast("bigint").alias("n_emails"),
        F.regexp_count(F.col("t2"), F.lit(PII_PHONE)).cast("bigint").alias("n_phones"),
        F.regexp_count(F.col("t1"), F.lit(PII_IPV4)).cast("bigint").alias("n_ips"),
        F.regexp_replace(F.col("t2"), PII_PHONE, "<PHONE>").alias("redacted"),
    )


_SPLIT_BUCKET_SQL = md5_long_sql(f"concat(CAST(doc_id AS VARCHAR), '{SPLIT_SEED}')") + " % 100"


@register(
    "prep_pipeline",
    f"""
    WITH {_PLANT_SQL},
    {_MASK_SQL},
    redacted AS (
        SELECT doc_id, {_REDACTED_SQL} AS text
        FROM m2),
    t AS (
        SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
        FROM redacted),
    c AS (
        SELECT doc_id, toks,
               unnest(generate_series(
                   0, CAST(ceil(greatest(len(toks) - {CHUNK}, 0) / {STRIDE}.0)
                           AS BIGINT))) AS chunk_idx
        FROM t)
    SELECT doc_id, chunk_idx,
           CASE WHEN {_SPLIT_BUCKET_SQL} < 90 THEN 'train'
                WHEN {_SPLIT_BUCKET_SQL} < 95 THEN 'valid'
                ELSE 'test' END AS split,
           CAST(len(toks[1 + {STRIDE} * chunk_idx : {STRIDE} * chunk_idx + {CHUNK}])
                AS BIGINT) AS n_chunk_tokens,
           md5(array_to_string(
               toks[1 + {STRIDE} * chunk_idx : {STRIDE} * chunk_idx + {CHUNK}],
               ' ')) AS chunk_md5
    FROM c
    """,
    "the training-prep pipeline END-TO-END as one composed query: "
    "filter -> PII scrub (redact_documents) -> sliding-window chunking "
    "(chunk_documents) -> train/valid/test assignment (hash_split's "
    "bucket expression) -> per-chunk content digest. Every stage is a "
    "per-row map, so the WHOLE pipeline is a single shuffle-free scan "
    "(plan-asserted): at 100 TB this runs as one embarrassingly-"
    "parallel pass writing straight to partitioned parquet — the "
    "composition story the individual operator gates can't show.",
)
def prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return prep_documents(d)


def prep_documents(d: DataFrame) -> DataFrame:
    """The composed prep core over any (doc_id, text) DataFrame — batch
    or streaming (every stage is a stateless per-row map, so the one
    definition serves prep_pipeline AND streaming/ingest.py's
    stream_prep_pipeline; the parity test certifies one body, not two
    copies that could drift)."""
    red = redact_documents(d).select("doc_id", F.col("redacted").alias("text"))
    chunks = chunk_documents(red)
    bucket = md5_long(F.concat(F.col("doc_id").cast("string"), F.lit(SPLIT_SEED))) % 100
    return chunks.select(
        "doc_id",
        "chunk_idx",
        F.when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test").alias("split"),
        "n_chunk_tokens",
        F.md5(F.col("chunk_text")).alias("chunk_md5"),
    )


# ---------------------------------------------------------------------------
# HTML-to-text cleaning: the web-ingest stage before any text analysis
# ---------------------------------------------------------------------------

# planted markup (the corpus is markup-free word soup, so the planted
# tags/entities are the only possible matches — same idiom as the PII
# scrub): every doc wraps in a div carrying its id, even ids add a
# paragraph pair, %5 == 0 ids carry two HTML entities.
_TAG_RE = "<[^>]+>"
_ENT_RE = "&(amp|lt|gt|quot|#39);"


@register(
    "html_strip",
    f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE n_chars > 0),
    markup AS (
        SELECT doc_id,
               '<div id="d' || CAST(doc_id AS VARCHAR) || '">'
               || CASE WHEN doc_id % 2 = 0 THEN '<p>' || text || '</p>'
                       ELSE text END
               || CASE WHEN doc_id % 5 = 0 THEN ' &amp; friends &lt;3'
                       ELSE '' END
               || '</div>' AS html
        FROM base),
    stripped AS (
        SELECT doc_id,
               CAST(len(regexp_extract_all(html, '{_TAG_RE}')) AS BIGINT)
                   AS n_tags,
               CAST(len(regexp_extract_all(html, '{_ENT_RE}')) AS BIGINT)
                   AS n_entities,
               regexp_replace(html, '{_TAG_RE}', ' ', 'g') AS detagged
        FROM markup)
    SELECT doc_id, n_tags, n_entities,
           trim(regexp_replace(
               replace(replace(replace(replace(replace(detagged,
                   '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                   '&#39;', ''''), '&amp;', '&'),
               '\\s+', ' ', 'g')) AS clean_text
    FROM stripped
    """,
    "HTML-to-text cleaning — the web-ingest stage every crawled corpus "
    "runs before tokenization/dedup/quality scoring: tag strip (tags "
    "become whitespace so adjacent text never fuses), entity decode "
    "(amp LAST, the standard order that never double-decodes "
    "'&amp;lt;'), whitespace renormalize, plus per-doc removal counts "
    "for pipeline monitoring. Planted-markup idiom: the corpus is "
    "markup-free, so the deterministic planted tags and entities are "
    "the only matches and the gate certifies real markup being "
    "removed (clean_text round-trips to the original text — pinned in "
    "tests/test_pipeline_ops.py). Pure per-row JVM regex/replace "
    "expressions in the Java-regex/RE2 common subset: shuffle-free, "
    "composes with readStream unchanged like the other prep stages.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01/0.1 (verify)
)
def html_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", "text")
    )
    html = F.concat(
        F.lit('<div id="d'),
        F.col("doc_id").cast("string"),
        F.lit('">'),
        F.when(
            F.col("doc_id") % 2 == 0,
            F.concat(F.lit("<p>"), F.col("text"), F.lit("</p>")),
        ).otherwise(F.col("text")),
        F.when(F.col("doc_id") % 5 == 0, F.lit(" &amp; friends &lt;3")).otherwise(
            F.lit("")
        ),
        F.lit("</div>"),
    )
    marked = base.select("doc_id", html.alias("html"))
    detagged = F.regexp_replace("html", _TAG_RE, " ")
    decoded = F.replace(
        F.replace(
            F.replace(
                F.replace(
                    F.replace(detagged, F.lit("&lt;"), F.lit("<")),
                    F.lit("&gt;"),
                    F.lit(">"),
                ),
                F.lit("&quot;"),
                F.lit('"'),
            ),
            F.lit("&#39;"),
            F.lit("'"),
        ),
        F.lit("&amp;"),
        F.lit("&"),
    )
    return marked.select(
        "doc_id",
        F.size(F.regexp_extract_all("html", F.lit(_TAG_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_tags"),
        F.size(F.regexp_extract_all("html", F.lit(_ENT_RE), F.lit(0)))
        .cast("bigint")
        .alias("n_entities"),
        F.trim(F.regexp_replace(decoded, r"\s+", " ")).alias("clean_text"),
    )


# ---------------------------------------------------------------------------
# Corpus snapshot diff — the data-versioning primitive (Delta/lakeFS
# table-diff shape): compare two corpus snapshots by content digest and
# emit ONLY the delta rows. At 100 TB this is how incremental pipeline
# runs (recrawls, refreshed dumps) avoid reprocessing the unchanged
# bulk: downstream dedup/quality/packing stages consume the 'added' +
# 'changed' slice and retire the 'removed' slice. The v2 snapshot is
# synthesized deterministically from v1 so both engines diff identical
# inputs (a removed / a changed / an added stripe by doc_id residue).
# ---------------------------------------------------------------------------

DIFF_MOD = 11
DIFF_REMOVED_RES = 3  # doc_id % 11 == 3: dropped in v2
DIFF_CHANGED_RES = 5  # doc_id % 11 == 5: text revised in v2
DIFF_ADDED_RES = 7  # doc_id % 11 == 7: a NEW doc derived from it in v2
DIFF_ADDED_OFFSET = 5 * 10**15  # new-doc ids (other plant tiers use 1-4e15)


@register(
    "corpus_diff",
    f"""
    WITH v1 AS (SELECT doc_id, text FROM documents WHERE n_chars > 0),
    v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % {DIFF_MOD} = {DIFF_CHANGED_RES}
                    THEN concat(text, ' rev-', CAST(doc_id AS VARCHAR))
                    ELSE text END AS text
        FROM v1 WHERE doc_id % {DIFF_MOD} != {DIFF_REMOVED_RES}
        UNION ALL
        SELECT doc_id + {DIFF_ADDED_OFFSET} AS doc_id,
               concat('new-', CAST(doc_id AS VARCHAR), ' ', text) AS text
        FROM v1 WHERE doc_id % {DIFF_MOD} = {DIFF_ADDED_RES}),
    d1 AS (SELECT doc_id, {md5_long_sql('text')} AS old_digest FROM v1),
    d2 AS (SELECT doc_id, {md5_long_sql('text')} AS new_digest FROM v2)
    SELECT coalesce(d1.doc_id, d2.doc_id) AS doc_id,
           CASE WHEN d1.doc_id IS NULL THEN 'added'
                WHEN d2.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status,
           d1.old_digest, d2.new_digest
    FROM d1 FULL OUTER JOIN d2 ON d1.doc_id = d2.doc_id
    WHERE d1.doc_id IS NULL OR d2.doc_id IS NULL
       OR d1.old_digest != d2.new_digest
    """,
    "corpus snapshot diff (Delta/lakeFS table-diff shape): two corpus "
    "versions compared by 60-bit content digest, emitting ONE row per "
    "added / removed / changed doc and NOTHING for the unchanged bulk "
    "— the primitive that lets an incremental pipeline run (recrawl, "
    "refreshed dump) feed only its delta into downstream dedup/quality/"
    "packing stages. Scale shape: each side collapses to (doc_id, "
    "digest) IN-ROW before the full outer join, so the only exchange "
    "moves 16-byte rows — text never shuffles and the unchanged bulk "
    "is filtered before leaving the join. The v2 snapshot is a "
    "deterministic transform of v1 (one removed, one changed, one "
    "added doc_id stripe), so the expected delta is exactly pinned in "
    "tests/test_pipeline_ops.py.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    v1, v2 = diff_versions(spark, sf_dir)
    # digest IN-ROW on each side: the join moves (doc_id, digest) only
    return digest_delta(
        v1.select("doc_id", md5_long(F.col("text")).alias("old_digest")),
        v2.select("doc_id", md5_long(F.col("text")).alias("new_digest")),
    )


def diff_versions(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """The (v1, v2) snapshot pair corpus_diff certifies: v2 is v1's
    deterministic recrawl transform (one removed, one changed, one
    added doc_id stripe) — split out so shard_invalidation composes
    the SAME two versions the diff op's oracle pins."""
    v1 = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", "text")
    )
    changed = F.when(
        F.col("doc_id") % DIFF_MOD == DIFF_CHANGED_RES,
        F.concat(F.col("text"), F.lit(" rev-"), F.col("doc_id").cast("string")),
    ).otherwise(F.col("text"))
    v2 = (
        v1.filter(F.col("doc_id") % DIFF_MOD != DIFF_REMOVED_RES)
        .select("doc_id", changed.alias("text"))
        .unionByName(
            v1.filter(F.col("doc_id") % DIFF_MOD == DIFF_ADDED_RES).select(
                (F.col("doc_id") + DIFF_ADDED_OFFSET).alias("doc_id"),
                F.concat(
                    F.lit("new-"), F.col("doc_id").cast("string"), F.lit(" "), F.col("text")
                ).alias("text"),
            )
        )
    )
    return v1, v2


def digest_delta(d1: DataFrame, d2: DataFrame) -> DataFrame:
    """The snapshot-diff CORE, digest-type-agnostic: (doc_id,
    old_digest) vs (doc_id, new_digest) -> one (doc_id, status,
    old_digest, new_digest) row per added / removed / changed doc,
    nothing for the unchanged bulk. Shared by the ``corpus_diff``
    catalog query (60-bit md5_long digests) and the incremental-store
    refresh (streaming/ingest.refresh_corpus, full-md5 strings — the
    digest the landed index already keys on). The only exchange moves
    (id, digest) rows."""
    j = d1.withColumnRenamed("doc_id", "_id1").join(
        d2.withColumnRenamed("doc_id", "_id2"),
        F.col("_id1") == F.col("_id2"),
        "full_outer",
    )
    return j.filter(
        F.col("_id1").isNull()
        | F.col("_id2").isNull()
        | (F.col("old_digest") != F.col("new_digest"))
    ).select(
        F.coalesce(F.col("_id1"), F.col("_id2")).alias("doc_id"),
        F.when(F.col("_id1").isNull(), "added")
        .when(F.col("_id2").isNull(), "removed")
        .otherwise("changed")
        .alias("status"),
        "old_digest",
        "new_digest",
    )


# Reproducible training-order sharding: the LAST step of corpus prep —
# every selected document gets a (shard, position) so the written shard
# files, and therefore the training data ORDER, are bit-identical
# across re-runs (the audit property random shuffles lose). Shard count
# is the parallelism/size knob: pick it so one shard ≈ one target file
# group (corpus_bytes / target_shard_bytes at production scale).
SHARD_N = 64


@register(
    "shard_plan",
    f"""
    WITH d AS (SELECT doc_id FROM documents WHERE n_chars > 0),
    keyed AS (SELECT doc_id,
                     {md5_long_sql("concat('shard-', CAST(doc_id AS VARCHAR))")}
                         % {SHARD_N} AS shard,
                     {md5_long_sql("concat('ord-', CAST(doc_id AS VARCHAR))")}
                         AS ord_key
              FROM d)
    SELECT doc_id, CAST(shard AS BIGINT) AS shard,
           CAST(row_number() OVER (PARTITION BY shard
                                   ORDER BY ord_key, doc_id) AS BIGINT) AS pos
    FROM keyed
    """,
    "REPRODUCIBLE training-order sharding — the step between selection "
    "and the shard writer: every document gets a (shard, position) "
    f"from two independent md5 keys (shard = hash % {SHARD_N}, "
    "position = rank of a second hash within the shard), so the "
    "training order is a deterministic pseudo-random shuffle — "
    "re-running the pipeline reproduces byte-identical shard files "
    "(the audit property a random() shuffle loses), documents from "
    "the same source are scattered (no ordering bias), and adding a "
    "document moves only its own shard's tail, not the whole corpus "
    "order. Scale shape: ONE exchange keyed on shard, then an "
    "in-partition sort per shard — exactly the physical price of "
    "writing ordered shard files (repartition + sortWithinPartitions; "
    "Spark's window sort is an external, spill-safe sort). The shard "
    "count is the explicit parallelism/size knob: one shard = one "
    "sort task, so production picks corpus_bytes / target_shard_bytes "
    f"(the registered {SHARD_N} suits the test scales). Cross-engine "
    "exact: integer hashes, integer ranks, doc_id tie-break.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    return shard_plan_frame(d.select("doc_id"))


def shard_plan_frame(d: DataFrame, n_shards: int = SHARD_N) -> DataFrame:
    """(doc_id, shard, pos) over any (doc_id) frame — split out so the
    determinism/rebalance tests feed planted id sets and shard counts."""
    shard = (
        md5_long(F.concat(F.lit("shard-"), F.col("doc_id").cast("string")))
        % n_shards
    )
    ord_key = md5_long(F.concat(F.lit("ord-"), F.col("doc_id").cast("string")))
    keyed = d.select(
        "doc_id", shard.cast("bigint").alias("shard"), ord_key.alias("ord_key")
    )
    pos = F.row_number().over(
        W.partitionBy("shard").orderBy(F.asc("ord_key"), F.asc("doc_id"))
    )
    return keyed.select("doc_id", "shard", pos.cast("bigint").alias("pos"))


# DuckDB twin of shard_plan's shard key (md5 of the salted doc_id)
_SHARD_OF_SQL = (
    md5_long_sql("concat('shard-', CAST(doc_id AS VARCHAR))") + f" % {SHARD_N}"
)


@register(
    "shard_invalidation",
    f"""
    WITH v1 AS (SELECT doc_id, text FROM documents WHERE n_chars > 0),
    v2 AS (
        SELECT doc_id,
               CASE WHEN doc_id % {DIFF_MOD} = {DIFF_CHANGED_RES}
                    THEN concat(text, ' rev-', CAST(doc_id AS VARCHAR))
                    ELSE text END AS text
        FROM v1 WHERE doc_id % {DIFF_MOD} != {DIFF_REMOVED_RES}
        UNION ALL
        SELECT doc_id + {DIFF_ADDED_OFFSET} AS doc_id,
               concat('new-', CAST(doc_id AS VARCHAR), ' ', text) AS text
        FROM v1 WHERE doc_id % {DIFF_MOD} = {DIFF_ADDED_RES}),
    d1 AS (SELECT doc_id, {md5_long_sql('text')} AS old_digest FROM v1),
    d2 AS (SELECT doc_id, {md5_long_sql('text')} AS new_digest FROM v2),
    delta AS (
        SELECT coalesce(d1.doc_id, d2.doc_id) AS doc_id,
               CASE WHEN d1.doc_id IS NULL THEN 'added'
                    WHEN d2.doc_id IS NULL THEN 'removed'
                    ELSE 'changed' END AS status
        FROM d1 FULL OUTER JOIN d2 ON d1.doc_id = d2.doc_id
        WHERE d1.doc_id IS NULL OR d2.doc_id IS NULL
           OR d1.old_digest != d2.new_digest),
    dcnt AS (
        SELECT {_SHARD_OF_SQL} AS shard,
               CAST(count(*) FILTER (WHERE status = 'added') AS BIGINT) AS n_added,
               CAST(count(*) FILTER (WHERE status = 'removed') AS BIGINT) AS n_removed,
               CAST(count(*) FILTER (WHERE status = 'changed') AS BIGINT) AS n_changed
        FROM delta GROUP BY 1),
    r1 AS (SELECT {_SHARD_OF_SQL} AS shard, CAST(count(*) AS BIGINT) AS v1_rows
           FROM v1 GROUP BY 1),
    r2 AS (SELECT {_SHARD_OF_SQL} AS shard, CAST(count(*) AS BIGINT) AS v2_rows
           FROM v2 GROUP BY 1),
    spine AS (SELECT unnest(generate_series(0, {SHARD_N - 1})) AS shard)
    SELECT CAST(spine.shard AS BIGINT) AS shard,
           coalesce(r1.v1_rows, 0) AS v1_rows,
           coalesce(r2.v2_rows, 0) AS v2_rows,
           coalesce(dcnt.n_added, 0) AS n_added,
           coalesce(dcnt.n_removed, 0) AS n_removed,
           coalesce(dcnt.n_changed, 0) AS n_changed,
           CAST(coalesce(dcnt.n_added, 0) + coalesce(dcnt.n_removed, 0)
                + coalesce(dcnt.n_changed, 0) > 0 AS INT) AS dirty
    FROM spine
    LEFT JOIN r1 ON r1.shard = spine.shard
    LEFT JOIN r2 ON r2.shard = spine.shard
    LEFT JOIN dcnt ON dcnt.shard = spine.shard
    """,
    "incremental shard maintenance: which of shard_plan's "
    f"{SHARD_N} shard files does a recrawl delta dirty, and how much "
    "of each version lands there — corpus_diff's certified delta "
    "(added / removed / changed, nothing for the unchanged bulk) keyed "
    "by shard_plan's exact md5 shard arithmetic, so a pipeline owner "
    "rewrites ONLY the dirty shard files instead of re-materializing "
    "the corpus (write_training_shards' per-directory content identity "
    "makes the clean shards provably byte-stable). Scale shape: both "
    "versions collapse to in-row (doc_id, digest) before the one "
    "id-keyed delta join (corpus_diff's plan); everything after is "
    f"bounded — (shard, status) counts over delta rows and two "
    f"{SHARD_N}-row per-shard tallies joined on a generated spine. "
    "Dirty-set size vs stripe arithmetic pinned in "
    "tests/test_pipeline_ops.py.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def shard_invalidation(spark: SparkSession, sf_dir: str) -> DataFrame:
    v1, v2 = diff_versions(spark, sf_dir)
    shard_of = (
        md5_long(F.concat(F.lit("shard-"), F.col("doc_id").cast("string"))) % SHARD_N
    ).cast("bigint")

    # ONE text pass per version: collapse to (doc_id, digest, shard)
    # in-row and checkpoint the narrow triple (the dedup digest-index
    # discipline) — the delta join and both per-shard tallies read it,
    # never the corpus again (12 parquet scans before this; the plan
    # test pins the returned plan parquet-scan-free)
    def aug(v: DataFrame, dig: str) -> DataFrame:
        return v.select(
            "doc_id", md5_long(F.col("text")).alias(dig), shard_of.alias("shard")
        ).localCheckpoint(eager=False)  # lazy (r10): the delta join materializes it

    v1a = aug(v1, "old_digest")
    v2a = aug(v2, "new_digest")
    delta = digest_delta(
        v1a.select("doc_id", "old_digest"), v2a.select("doc_id", "new_digest")
    ).select("doc_id", "status")

    def tally(status: str) -> Column:
        return (
            F.sum(F.when(F.col("status") == status, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_{status}")
        )

    dcnt = (
        delta.select(shard_of.alias("shard"), "status")
        .groupBy("shard")
        .agg(tally("added"), tally("removed"), tally("changed"))
    )
    r1 = v1a.groupBy("shard").agg(F.count("*").cast("bigint").alias("v1_rows"))
    r2 = v2a.groupBy("shard").agg(F.count("*").cast("bigint").alias("v2_rows"))
    spine = spark.range(SHARD_N).select(F.col("id").cast("bigint").alias("shard"))
    z = F.lit(0).cast("bigint")
    n_a, n_r, n_c = (F.coalesce(F.col(c), z) for c in ("n_added", "n_removed", "n_changed"))
    return (
        spine.join(F.broadcast(r1), "shard", "left")
        .join(F.broadcast(r2), "shard", "left")
        .join(F.broadcast(dcnt), "shard", "left")
        .select(
            "shard",
            F.coalesce("v1_rows", z).alias("v1_rows"),
            F.coalesce("v2_rows", z).alias("v2_rows"),
            n_a.alias("n_added"),
            n_r.alias("n_removed"),
            n_c.alias("n_changed"),
            ((n_a + n_r + n_c) > 0).cast("int").alias("dirty"),
        )
    )


SEL_TAIL_PCT = 10  # CCNet-style keep policy: head+middle fully, tail sampled


def _selection_oracle() -> str:
    from eurovision_spark.operators.dedup import (
        MINHASH_SIG_SQL,
        NEAR_COPY_OFFSET,
        SURVIVOR_RANK_SQL,
    )
    from eurovision_spark.operators.textstats import ccnet_score_sql

    return (
        MINHASH_SIG_SQL
        + SURVIVOR_RANK_SQL
        + f""",
    dropped AS (SELECT doc_id FROM ranked WHERE rn > 1),
    sv AS (SELECT * FROM docs
           WHERE doc_id NOT IN (SELECT doc_id FROM dropped)),
    src AS (SELECT doc_id AS orig_id, source FROM documents WHERE n_chars > 0),
    svs AS (SELECT sv.doc_id, src.source, sv.text
            FROM sv JOIN src
              ON src.orig_id = CASE WHEN sv.doc_id >= {NEAR_COPY_OFFSET}
                                    THEN sv.doc_id - {NEAR_COPY_OFFSET}
                                    ELSE sv.doc_id END),
    {ccnet_score_sql("svs").strip().rstrip()}
    SELECT CAST(doc_id AS BIGINT) AS doc_id, source, n_tokens, avg_logprob, bucket
    FROM bucketed
    WHERE bucket <> 'tail'
       OR {md5_long_sql("concat('sel-', CAST(doc_id AS VARCHAR))")} % 100 < {SEL_TAIL_PCT}
    """
    )


@register(
    "selection_pipeline",
    _selection_oracle(),
    "the curation stages COMPOSED end-to-end — the 'build the training "
    "corpus' pass a pipeline actually ships, mirroring dedup_pipeline's "
    "composition role for the selection tier: (1) near-dup SURVIVORSHIP "
    "over the planted-copies corpus (the dedup_survivors decision — "
    "highest-diversity member per LSH bucket survives, the shared "
    "SURVIVOR_RANK_SQL keeps both engines' drop list aligned by "
    "construction), (2) survivors mapped back to their source (copies "
    "inherit the original's), (3) unigram-LM scoring trained on the "
    "DEDUPED corpus (dedup-before-stats: duplicate mass would bias the "
    "model toward its own copies), (4) CCNet head/middle/tail terciles "
    "per source, (5) the keep policy: head+middle fully, tail sampled "
    f"at {SEL_TAIL_PCT}% by the bit-reproducible md5 threshold "
    "(mixture_sample's rule). Output is the training-corpus MANIFEST: "
    "selected (doc_id, source, n_tokens, avg_logprob, bucket) rows, "
    "re-derivable bit-for-bit from the raw corpus for an audit. Scale "
    "shape: each stage keeps its certified standalone plan (banded "
    "signatures, id-only anti join, narrow source map join, one-scan "
    "tokenize via a checkpointed leaf, bounded vocab broadcast, "
    "per-source tercile window of narrow rows, per-row hash gate); the "
    "approx_terciles knob swaps stage 4 for ccnet_buckets_approx's "
    "bounded-sample cut points — the 100 TB form, no corpus window "
    "sort — with every other stage unchanged. "
    "Driver history: took anti_join's slot in r08; ceded it to "
    "corpus_build in r10 (the capstone exercises this op's entire "
    "gate arithmetic — ccnet scoring, md5 tail sampling, source remap "
    "— plus the three tiers it doesn't, so the driver row strictly "
    "gained coverage); stays registry-gated (pytest sf0.001 + verify "
    "sf0.01).",
    driver=False,
)
def selection_pipeline(
    spark: SparkSession, sf_dir: str, approx_terciles: bool = False
) -> DataFrame:
    """``approx_terciles`` forwards to ccnet_bucket_frame: False (the
    registered, hash-gated form) keeps the exact per-source ntile;
    True swaps in the scale-safe bounded-sample cut points
    (ccnet_buckets_approx) — the knob a 100 TB run flips, with every
    other stage unchanged."""
    from eurovision_spark.operators.dedup import (
        NEAR_COPY_OFFSET,
        dedup_survivors,
        docs_with_copies,
    )

    docs = docs_with_copies(spark, sf_dir)
    dropped = dedup_survivors(spark, sf_dir).select(
        F.col("dropped_id").alias("doc_id")
    )
    sv = docs.join(dropped, "doc_id", "left_anti")
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("orig_id"), "source"
    )
    orig = F.when(
        F.col("doc_id") >= NEAR_COPY_OFFSET, F.col("doc_id") - NEAR_COPY_OFFSET
    ).otherwise(F.col("doc_id"))
    svs = sv.select("doc_id", orig.alias("orig_id"), "text").join(src, "orig_id")
    # LM stats + terciles over SURVIVORS: the SHARED ccnet machinery
    # (ccnet_bucket_frame — one refactored implementation, so the
    # scoring cannot diverge between the standalone op and this
    # composition; its oracle twin is ccnet_score_sql)
    from eurovision_spark.operators.textstats import ccnet_bucket_frame

    bucketed = ccnet_bucket_frame(svs, approx=approx_terciles)
    keep = (F.col("bucket") != "tail") | (
        md5_long(F.concat(F.lit("sel-"), F.col("doc_id").cast("string"))) % 100
        < SEL_TAIL_PCT
    )
    return bucketed.filter(keep)


# ---------------------------------------------------------------------------
# Corpus build: the END-TO-END composition — dedup decisions -> quality
# verdicts on survivors -> selection keep policy -> leakage-safe split
# -> shard plan, ONE auditable manifest row per document
# ---------------------------------------------------------------------------


def _corpus_build_oracle(sf_dir: str) -> str:
    """The corpus_build oracle COMPOSES the certified parent CTE chains
    verbatim (one definition per engine, the CLUSTER_CTES_SQL /
    SURVIVOR_RANK_SQL discipline): DEDUP_PIPELINE_CTES +
    DEDUP_DECISION_SELECT (dedup_pipeline's exact chain), _GOPHER_SQL /
    _REPETITION_SQL / _qc_score_ctes re-pointed at the survivor CTE
    (the only edit is the source-table substring; the qc fragment's CTE
    names are prefixed to avoid colliding with the dedup chain's
    ``base``/``scored``), ccnet_score_sql over the quality-kept
    survivors, selection_pipeline's md5 tail gate, leakage_safe_split's
    bucket rule on the survivor (= cluster) key, and shard_plan's
    two-hash rank over the kept set."""
    from eurovision_spark.operators.dedup import (
        DEDUP_DECISION_SELECT,
        DEDUP_PIPELINE_CTES,
        NEAR_COPY_OFFSET,
    )
    from eurovision_spark.operators.textstats import (
        _GOPHER_SQL,
        _REPETITION_SQL,
        _qc_fit,
        _qc_sample_texts,
        _qc_score_ctes,
        ccnet_score_sql,
    )

    w, b = _qc_fit(_qc_sample_texts(sf_dir))
    doc_src = "FROM documents WHERE n_chars > 0"
    qc = (
        _qc_score_ctes(w, b)
        .replace(doc_src, "FROM sv")
        .replace("base AS (", "qcb AS (", 1)
        .replace("FROM base)", "FROM qcb)")
        .replace("scored AS (", "qcs AS (", 1)
    )
    split_key = md5_long_sql(
        f"concat(CAST(m.survivor_id AS VARCHAR), '{SPLIT_SEED}')"
    )
    sel_gate = md5_long_sql("concat('sel-', CAST(doc_id AS VARCHAR))")
    # MATERIALIZED hints on the multi-consumer CTEs are semantics-free
    # execution pins (DuckDB otherwise INLINES a CTE per reference, so
    # the recursive cluster chain would re-run once per quality gate —
    # measured ~4x the oracle wall time); the parent chains stay
    # byte-identical in their own oracles
    dedup_ctes = DEDUP_PIPELINE_CTES.replace(
        "lab AS (", "lab AS MATERIALIZED ("
    ).replace("mapc AS (", "mapc AS MATERIALIZED (")
    return (
        dedup_ctes
        + f""",
    man0 AS MATERIALIZED ({DEDUP_DECISION_SELECT}),
    sv AS MATERIALIZED (
           SELECT d.doc_id, d.text FROM docs d
           JOIN man0 ON man0.doc_id = d.doc_id AND man0.decision = 'kept'),
    qg AS ({_GOPHER_SQL.replace(doc_src, "FROM sv")}),
    qr AS ({_REPETITION_SQL.replace(doc_src, "FROM sv")}),
    {qc},
    qual AS MATERIALIZED (
        SELECT qg.doc_id, qg.pass_gopher, qr.pass_repetition,
               CAST(qcs.z >= 0 AS INT) AS qc_label,
               CAST(qg.pass_gopher = 1 AND qr.pass_repetition = 1
                    AND qcs.z >= 0 AS INT) AS quality_keep
        FROM qg JOIN qr USING (doc_id) JOIN qcs USING (doc_id)),
    svq AS (
        SELECT sv.doc_id, src.source, sv.text
        FROM sv
        JOIN (SELECT doc_id AS orig_id, source {doc_src}) src
          ON src.orig_id = CASE WHEN sv.doc_id >= {NEAR_COPY_OFFSET}
                                THEN sv.doc_id - {NEAR_COPY_OFFSET}
                                ELSE sv.doc_id END),
    {ccnet_score_sql("svq").strip().rstrip()},
    sel AS MATERIALIZED (
        SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, avg_logprob,
               bucket,
               CAST(bucket <> 'tail' OR {sel_gate} % 100 < {SEL_TAIL_PCT}
                    AS INT) AS sel_keep
        FROM bucketed),
    sharded AS (
        SELECT doc_id,
               {md5_long_sql("concat('shard-', CAST(doc_id AS VARCHAR))")}
                   % {SHARD_N} AS shard,
               {md5_long_sql("concat('ord-', CAST(doc_id AS VARCHAR))")}
                   AS ord_key
        FROM sel JOIN qual USING (doc_id)
        WHERE sel.sel_keep = 1 AND qual.quality_keep = 1),
    shardpos AS (
        SELECT doc_id, CAST(shard AS BIGINT) AS shard,
               CAST(row_number() OVER (PARTITION BY shard
                                       ORDER BY ord_key, doc_id) AS BIGINT)
                   AS pos
        FROM sharded)
    SELECT m.doc_id, m.decision, m.survivor_id,
           qual.pass_gopher, qual.pass_repetition, qual.qc_label,
           qual.quality_keep,
           sel.bucket, sel.n_tokens, sel.avg_logprob, sel.sel_keep,
           CAST(coalesce(sel.sel_keep, 0) = 1
                AND coalesce(qual.quality_keep, 0) = 1 AS INT) AS keep,
           CASE WHEN {split_key} % 100 < 90 THEN 'train'
                WHEN {split_key} % 100 < 95 THEN 'valid'
                ELSE 'test' END AS split,
           sp.shard, sp.pos
    FROM man0 m
    LEFT JOIN qual ON qual.doc_id = m.doc_id
    LEFT JOIN sel ON sel.doc_id = m.doc_id
    LEFT JOIN shardpos sp ON sp.doc_id = m.doc_id
    """
    )


@register(
    "corpus_build",
    _corpus_build_oracle,
    "the CAPSTONE composition — the one-call corpus build a training "
    "run actually executes, chaining the certified tiers in production "
    "order and emitting ONE auditable manifest row per document of the "
    "planted 3-way corpus: (1) dedup_pipeline's decision pass verbatim "
    "(digest collapse -> LSH+verify over exact survivors -> id-only CC "
    "-> decision in {kept, exact_dup, near_dup} + survivor_id), "
    "(2) quality_pipeline's verdict stack on the SURVIVORS (Gopher "
    "rules + repetition gate + learned classifier, conjunction = "
    "quality_keep — dropped dups are never re-scored), (3) the "
    "selection tier on the SAME survivors: CCNet terciles (LM trained "
    "on the DEDUPED corpus — the dedup-before-stats discipline; "
    "quality verdicts stay parallel manifest columns rather than "
    "gating the LM, so every gate's verdict is attributable per doc; "
    "the approx_terciles knob swaps in ccnet_buckets_approx's bounded-"
    "sample cut points — the 100 TB form) + selection_pipeline's "
    "head+middle-full / 10%-tail md5 keep gate, (4) leakage_safe_"
    "split's bucket rule applied to the SURVIVOR key (= the cluster "
    "id), so every member of a duplicate group — dropped copies "
    "included — carries the split its survivor carries, and an "
    "eval-set sampler reading the manifest can never pull a near-copy "
    "of a train doc, (5) shard_plan's two-hash (shard, pos) over the "
    "kept set (keep = kept AND quality_keep AND sel_keep); split is "
    "defined for EVERY row; shard/pos only for keep = 1. Every stage "
    "is the SHARED machinery of its standalone op on BOTH engines "
    "(dedup_decision_frames / quality_verdict_frame — the fused "
    "per-row quality stack shared with quality_pipeline — / "
    "ccnet_bucket_frame / shard_plan_frame Spark-side; the verbatim "
    "parent CTE chains oracle-side), and row-for-row equality with "
    "each standalone parent is pinned in tests/test_pipeline_ops.py — "
    "the composition cannot diverge from the parts. Scale shape: each "
    "tier keeps its certified plan (digest groupBy, banded equi-joins, "
    "id-only CC, the quality stack as ONE fused per-row pass — r10: "
    "the repetition statistics fold in-row, so the stack has zero "
    "joins and zero aggregates — bounded vocab broadcast, per-source "
    "tercile — or the sample-cut sibling, one shard-keyed exchange); "
    "the composition itself adds ONLY narrow (id, verdict) joins — "
    "document text crosses a stage boundary exactly twice, at the "
    "digest-collapse exchange (the min-over-window canonical-id pass) "
    "and at the survivor checkpoint (each the parquet materialization "
    "a real pipeline writes anyway — pinned in tests/test_plans.py). "
    "DRIVER-facing (r10): took "
    "selection_pipeline's slot — "
    "this op exercises that op's entire gate arithmetic (ccnet + md5 "
    "tail sampling + source remap) plus the three tiers it didn't, "
    "and the standalone stays registry-gated.",
)
def corpus_build(
    spark: SparkSession, sf_dir: str, approx_terciles: bool = False
) -> DataFrame:
    """``approx_terciles`` forwards to ccnet_bucket_frame exactly as in
    selection_pipeline: False = the registered, hash-gated exact ntile;
    True = the scale-safe bounded-sample cut points, every other stage
    unchanged."""
    from eurovision_spark.operators.dedup import (
        NEAR_COPY_OFFSET,
        dedup_decision_frames,
    )
    from eurovision_spark.operators.textstats import (
        ccnet_bucket_frame,
        gopher_rules_frame,
        repetition_stats_frame,
        score_documents,
        tokens,
        train_quality_model,
    )

    decisions, kept = dedup_decision_frames(spark, sf_dir)
    # the dedup->quality stage boundary, materialized: the quality
    # stack and ccnet both read the survivor corpus — at 100 TB this is
    # the parquet checkpoint a real pipeline writes between the dedup
    # pass and the quality stack. Lazy: the first consumer's job
    # materializes it (an eager checkpoint here paid one extra
    # scheduling round-trip for nothing — r10).
    kept = kept.localCheckpoint(eager=False)
    w, b = train_quality_model(spark, sf_dir)
    src = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("orig_id"), "source"
    )
    # kept ids are base ids or near-copy ids (exact copies always
    # collapse); copies inherit the original's source. NOTE (r11,
    # ADVICE r10): verdict coverage depends on this orig_id->documents
    # INNER join — every kept id maps back to a documents row by
    # construction (kept ids are base ids or +NEAR_COPY_OFFSET of base
    # ids, both present in documents), so no verdict rows are lost; a
    # dirty input whose kept id had no documents row would drop that
    # doc's verdicts to NULL in the manifest. The FK holds on every
    # suite corpus and the oracle pins it.
    orig = F.when(
        F.col("doc_id") >= NEAR_COPY_OFFSET, F.col("doc_id") - NEAR_COPY_OFFSET
    ).otherwise(F.col("doc_id"))
    svq = (
        kept.select("doc_id", orig.alias("orig_id"), "text")
        .join(src, "orig_id")
        .select("doc_id", "source", "text")
    )
    # ONE tokenize pass over the survivor corpus for BOTH downstream
    # tiers (r10, guide §2.4): the quality verdict chain (gopher ->
    # repetition -> classifier, each the standalone op's expression set
    # via the shared frame helpers — the quality_verdict_frame layers
    # verbatim, with ``source`` riding along) runs as per-row
    # projections over the SAME tokens(lower(text)) array that ccnet's
    # vocabulary/scoring explode consumes. The old form tokenized the
    # survivors twice (quality_verdict_frame's scan + ccnet_bucket_
    # frame's scan) and checkpointed each separately; the fused leaf
    # carries (doc_id, source, _toks, 4 verdict ints) once.
    base = svq.repartition(spark.sparkContext.defaultParallelism).select(
        "doc_id", "source", "text", tokens(F.lower(F.col("text"))).alias("_lt")
    )
    g = gopher_rules_frame(base, keep=("source", "text", "_lt"), ltoks_col="_lt").select(
        "doc_id", "source", "_lt", "pass_gopher"
    )
    r = repetition_stats_frame(
        g, keep=("source", "_lt", "pass_gopher"), repartition=False, toks_col="_lt"
    ).select("doc_id", "source", "_lt", "pass_gopher", "pass_repetition")
    q = score_documents(
        r, w, b, keep=("source", "_lt", "pass_gopher", "pass_repetition"),
        toks_col="_lt",
    )
    toked = q.select(
        "doc_id",
        "source",
        F.col("_lt").alias("_toks"),
        "pass_gopher",
        "pass_repetition",
        "qc_label",
        (
            (F.col("pass_gopher") == 1)
            & (F.col("pass_repetition") == 1)
            & (F.col("qc_label") == 1)
        )
        .cast("int")
        .alias("quality_keep"),
    ).localCheckpoint(eager=False)
    # verdicts read the fused leaf per-row (every kept doc, including
    # token-less ones); ccnet's explode path reads the same leaf
    verd = toked.select(
        "doc_id", "pass_gopher", "pass_repetition", "qc_label", "quality_keep"
    )
    bucketed = ccnet_bucket_frame(None, approx=approx_terciles, toked=toked)
    sel_keep = (
        (F.col("bucket") != "tail")
        | (
            md5_long(F.concat(F.lit("sel-"), F.col("doc_id").cast("string")))
            % 100
            < SEL_TAIL_PCT
        )
    ).cast("int")
    sel = bucketed.select(
        "doc_id",
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        "avg_logprob",
        "bucket",
        sel_keep.alias("sel_keep"),
    )
    # quality verdicts + selection scores merge into ONE narrow
    # survivor-keyed frame before the manifest assembly: the shard pass
    # and the manifest both read it, and the old separate qual/sel
    # joins (plus the sel-semi-join-qual shard input) collapse — two
    # fewer doc_id joins in the assembly (r10, guide §2.4).
    comb = verd.join(sel, "doc_id", "left").localCheckpoint(eager=False)
    sharded = shard_plan_frame(
        comb.filter((F.col("sel_keep") == 1) & (F.col("quality_keep") == 1))
        .select("doc_id")
    )
    skey = (
        md5_long(F.concat(F.col("survivor_id").cast("string"), F.lit(SPLIT_SEED)))
        % 100
    )
    return (
        decisions.join(comb, "doc_id", "left")
        .join(sharded, "doc_id", "left")
        .select(
            "doc_id",
            "decision",
            "survivor_id",
            "pass_gopher",
            "pass_repetition",
            "qc_label",
            "quality_keep",
            "bucket",
            "n_tokens",
            "avg_logprob",
            "sel_keep",
            (
                (F.coalesce("sel_keep", F.lit(0)) == 1)
                & (F.coalesce("quality_keep", F.lit(0)) == 1)
            )
            .cast("int")
            .alias("keep"),
            F.when(skey < 90, "train")
            .when(skey < 95, "valid")
            .otherwise("test")
            .alias("split"),
            "shard",
            "pos",
        )
    )


def _build_report_oracle(sf_dir: str) -> str:
    """One aggregation over the corpus_build oracle AS A SUBQUERY — the
    manifest definition exists once per engine (the composition
    discipline), and every report number is an integer count off it."""
    return f"""
    SELECT
        CAST(count(*) AS BIGINT) AS n_docs,
        CAST(sum(CASE WHEN decision = 'exact_dup' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_exact_dup,
        CAST(sum(CASE WHEN decision = 'near_dup' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_near_dup,
        CAST(sum(CASE WHEN decision = 'kept' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_survivors,
        CAST(sum(CASE WHEN pass_gopher = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_gopher_fail,
        CAST(sum(CASE WHEN pass_repetition = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_repetition_fail,
        CAST(sum(CASE WHEN qc_label = 0 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_classifier_fail,
        CAST(sum(CASE WHEN quality_keep = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_quality_kept,
        CAST(sum(CASE WHEN bucket = 'head' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_head,
        CAST(sum(CASE WHEN bucket = 'middle' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_middle,
        CAST(sum(CASE WHEN bucket = 'tail' THEN 1 ELSE 0 END) AS BIGINT)
            AS n_tail,
        CAST(sum(CASE WHEN bucket = 'tail' AND sel_keep = 1 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_tail_sampled,
        CAST(sum(keep) AS BIGINT) AS n_kept,
        CAST(sum(CASE WHEN keep = 1 AND split = 'train' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_train_kept,
        CAST(sum(CASE WHEN keep = 1 AND split = 'valid' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_valid_kept,
        CAST(sum(CASE WHEN keep = 1 AND split = 'test' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_test_kept,
        CAST(count(DISTINCT shard) AS BIGINT) AS n_shards,
        CAST(max(pos) AS BIGINT) AS max_shard_docs
    FROM ({_corpus_build_oracle(sf_dir)}) man
    """


@register(
    "build_report",
    _build_report_oracle,
    "the ATTRITION FUNNEL over corpus_build's manifest — the one-row "
    "audit a pipeline owner reads before shipping the corpus: how many "
    "documents entered, how many each dedup decision removed, how many "
    "survivors each quality gate failed (independently attributable — "
    "the quality_pipeline posture), the tercile distribution and how "
    "many tail docs the sampler admitted, the final kept count, its "
    "train/valid/test composition, and the shard-plan shape (shard "
    "count + largest shard via max(pos) — pos is dense 1..n per shard, "
    "so the corpus-wide max IS the biggest shard's size, no second "
    "group-by pass). Every number is an integer count in ONE "
    "aggregation pass over the manifest (the manifest definition is "
    "corpus_build's, once per engine: the Spark side aggregates "
    "corpus_build's frame, the oracle aggregates the composed CTE "
    "chain as a subquery), so the report can never disagree with the "
    "manifest it summarizes. Scale shape: corpus_build's certified "
    "plan + one partial/final aggregate of narrow verdict rows.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def build_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    man = corpus_build(spark, sf_dir)
    c = F.count("*").cast("bigint")

    def n(cond):
        return F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")

    return man.agg(
        c.alias("n_docs"),
        n(F.col("decision") == "exact_dup").alias("n_exact_dup"),
        n(F.col("decision") == "near_dup").alias("n_near_dup"),
        n(F.col("decision") == "kept").alias("n_survivors"),
        n(F.col("pass_gopher") == 0).alias("n_gopher_fail"),
        n(F.col("pass_repetition") == 0).alias("n_repetition_fail"),
        n(F.col("qc_label") == 0).alias("n_classifier_fail"),
        n(F.col("quality_keep") == 1).alias("n_quality_kept"),
        n(F.col("bucket") == "head").alias("n_head"),
        n(F.col("bucket") == "middle").alias("n_middle"),
        n(F.col("bucket") == "tail").alias("n_tail"),
        n((F.col("bucket") == "tail") & (F.col("sel_keep") == 1)).alias(
            "n_tail_sampled"
        ),
        F.sum("keep").cast("bigint").alias("n_kept"),
        n((F.col("keep") == 1) & (F.col("split") == "train")).alias("n_train_kept"),
        n((F.col("keep") == 1) & (F.col("split") == "valid")).alias("n_valid_kept"),
        n((F.col("keep") == 1) & (F.col("split") == "test")).alias("n_test_kept"),
        F.countDistinct("shard").cast("bigint").alias("n_shards"),
        F.max("pos").cast("bigint").alias("max_shard_docs"),
    )


# ---------------------------------------------------------------------------
# Corpus card: the per-source datasheet ("Datasheets for Datasets",
# Gebru et al. 2021) a data owner publishes next to a training corpus
# ---------------------------------------------------------------------------


_CARD_SQL = """
    WITH d AS (
        SELECT source, lang, md5(text) AS digest,
               CAST(len(string_split_regex(trim(lower(text)), '\\s+'))
                    AS BIGINT) AS n_toks,
               n_chars
        FROM documents WHERE n_chars > 0),
    g AS (
        SELECT source, lang, digest,
               CAST(count(*) AS BIGINT) AS n_copies,
               CAST(sum(n_toks) AS BIGINT) AS toks,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM d GROUP BY source, lang, digest),
    s AS (
        SELECT source,
               CAST(sum(n_copies) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT digest) AS BIGINT) AS n_distinct,
               CAST(sum(toks) AS BIGINT) AS n_tokens,
               CAST(sum(chars) AS BIGINT) AS total_chars
        FROM g GROUP BY source),
    l AS (SELECT source, lang, CAST(sum(n_copies) AS BIGINT) AS n
          FROM g GROUP BY source, lang),
    e AS (
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_langs,
               CAST(sum(n) AS DOUBLE) AS tot,
               list_sort(list(CAST(n AS DOUBLE))) AS ns
        FROM l GROUP BY source),
    ent AS (
        SELECT source, n_langs,
               list_reduce(
                   list_prepend(0.0::DOUBLE,
                       list_transform(ns, x -> -(x / tot) * ln(x / tot))),
                   (a, b) -> a + b) AS h
        FROM e),
    t AS (SELECT source, lang AS top_lang,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY n DESC, lang) AS rn
          FROM l),
    tot AS (SELECT CAST(sum(n_docs) AS DOUBLE) AS all_docs FROM s)
    SELECT s.source, s.n_docs,
           round(s.n_docs / tot.all_docs, 6) AS pct_docs,
           s.n_tokens,
           round(CAST(s.n_tokens AS DOUBLE) / s.n_docs, 4) AS mean_tokens,
           s.total_chars,
           ent.n_langs, t.top_lang,
           round(ent.h, 6) AS lang_entropy,
           round(CAST(s.n_docs - s.n_distinct AS DOUBLE) / s.n_docs, 6)
               AS dup_doc_frac
    FROM s JOIN ent USING (source)
    JOIN t ON t.source = s.source AND t.rn = 1
    CROSS JOIN tot
    """


@register(
    "corpus_card",
    _CARD_SQL,
    "the per-source corpus DATASHEET (Gebru et al. 2021's 'Datasheets "
    "for Datasets' made a query): one row per source with doc count "
    "and corpus share, token mass and mean doc length, char volume, "
    "language spread (count, dominant language with a deterministic "
    "count-then-name tie-break, Shannon entropy of the mix), and the "
    "within-source exact-duplicate fraction — the summary a mixture "
    "owner reads BEFORE pointing temperature_mixture/dsir/ccnet at a "
    "source, and the audit row published next to the training "
    "manifest. Scale shape: ONE tokenizing scan folds to the finest "
    "(source, lang, digest) grouping — the digest index an exact-dedup "
    "pass persists anyway, counts partial-aggregate map-side — "
    "materialized once (localCheckpoint) so the per-source, per-"
    "language, and distinct-digest aggregates all derive from it "
    "without re-reading the corpus; everything downstream is bounded "
    "(#sources x #langs rows), the corpus-total is a one-row broadcast "
    "join. Cross-engine exact: counts are integers, every ratio "
    "divides integers and rounds (4/6dp), the entropy is a left fold "
    "over the VALUE-SORTED per-language counts so both engines add "
    "identical doubles in identical order (the _TMIX_RATES_SQL "
    "normalizer discipline).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def corpus_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    g = (
        d.select(
            "source",
            "lang",
            F.md5("text").alias("digest"),
            F.size(tokens(F.lower(F.col("text")))).cast("bigint").alias("n_toks"),
            "n_chars",
        )
        .groupBy("source", "lang", "digest")
        .agg(
            F.count("*").cast("bigint").alias("n_copies"),
            F.sum("n_toks").cast("bigint").alias("toks"),
            F.sum("n_chars").cast("bigint").alias("chars"),
        )
        # one tokenizing scan: the per-source, per-language, and
        # distinct-digest aggregates below all read this leaf; lazy
        # (r10): the first rollup materializes it
        .localCheckpoint(eager=False)
    )
    s = g.groupBy("source").agg(
        F.sum("n_copies").cast("bigint").alias("n_docs"),
        F.countDistinct("digest").cast("bigint").alias("n_distinct"),
        F.sum("toks").cast("bigint").alias("n_tokens"),
        F.sum("chars").cast("bigint").alias("total_chars"),
    )
    l = g.groupBy("source", "lang").agg(
        F.sum("n_copies").cast("bigint").alias("n")
    )
    ent = l.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_langs"),
        F.sum("n").cast("double").alias("tot"),
        F.array_sort(F.collect_list(F.col("n").cast("double"))).alias("ns"),
    ).select(
        "source",
        "n_langs",
        F.aggregate(
            F.transform(
                F.col("ns"), lambda x: -(x / F.col("tot")) * F.log(x / F.col("tot"))
            ),
            F.lit(0.0),
            lambda a, b: a + b,
        ).alias("h"),
    )
    rn = F.row_number().over(W.partitionBy("source").orderBy(F.desc("n"), F.asc("lang")))
    top = (
        l.select("source", "lang", "n", rn.alias("rn"))
        .filter(F.col("rn") == 1)
        .select("source", F.col("lang").alias("top_lang"))
    )
    tot = s.agg(F.sum("n_docs").cast("double").alias("all_docs"))
    return (
        s.join(ent, "source")
        .join(top, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.round(F.col("n_docs") / F.col("all_docs"), 6).alias("pct_docs"),
            "n_tokens",
            F.round(F.col("n_tokens").cast("double") / F.col("n_docs"), 4).alias(
                "mean_tokens"
            ),
            "total_chars",
            "n_langs",
            "top_lang",
            F.round("h", 6).alias("lang_entropy"),
            F.round(
                (F.col("n_docs") - F.col("n_distinct")).cast("double")
                / F.col("n_docs"),
                6,
            ).alias("dup_doc_frac"),
        )
    )
