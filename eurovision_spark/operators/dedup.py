"""Deduplication operators — exact and near-dup, designed for 100 TB.

The reference's only dedup ops are exact set-dedup (sponsor,
scan.py:243-248) and the fuzzy any-key-equal IMP merge (scan.py:135-188,
generalized in ``imp_dedup.py``). This module adds the corpus-scale
family a training-data pipeline needs (BASELINE.json north star):

- exact dedup        : hash-groupBy on content — one shuffle on a short
                       digest, never on the full text;
- n-gram Jaccard     : shingle-set similarity for chosen candidate pairs;
- MinHash + LSH      : shingles -> minhash signature -> banded bucket
                       join. THE scalable near-dup path: candidate
                       generation is an equi-join on (band, signature),
                       so cost is proportional to true collisions, not
                       n² — this is what survives 100 TB;
- SimHash            : 16-bit majority-vote signature per document.

Every hash derives from md5 so the DuckDB oracles compute bit-identical
values. The testdata has no natural duplicates (TESTDATA.md seed data),
so the queries plant their own: the near-dup operators synthesize a
PERTURBED copy of each document (doc_id + NEAR_COPY_OFFSET, one
appended token) and must surface those pairs (recall pinned in
tests/test_pipeline_ops.py); dedup_exact plants byte-IDENTICAL copies
(doc_id + EXACT_COPY_OFFSET) that must collapse under the content
digest. Offsets live at 10^15 — far above any realistic doc count; the
old +1e6/+2e6 offsets collided with REAL ids past a million rows,
corrupting pair generation identically in both engines, invisibly to
the hash gate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from eurovision_spark.catalog import register
from eurovision_spark.operators.textstats import md5_long, md5_long_sql, tokens
from eurovision_spark.session import scoped_conf
from eurovision_spark.sources import load_table

P31 = 2147483647  # 2^31 - 1, Mersenne prime for the minhash universe
NEAR_COPY_OFFSET = 10**15  # planted perturbed copies (see module docstring)
EXACT_COPY_OFFSET = 2 * 10**15  # planted byte-identical copies
N_PERM = 16
N_BANDS = 4  # 4 bands x 4 rows


def shingles(toks: Column) -> Column:
    """Word 3-gram shingles (1-indexed element_at to mirror DuckDB lists).

    ``toks`` is referenced 3x per element, and codegen re-evaluates an
    inline split() at every reference — O(tokens) regex splits per doc
    instead of one (measured 4x slower at sf0.1). Pass a materialized
    token column (a projection boundary), never an inline expression."""
    return F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ", F.element_at(toks, i), F.element_at(toks, i + 1), F.element_at(toks, i + 2)
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))


SHINGLES_SQL = (
    "list_transform(generate_series(1, len({t}) - 2), "
    "i -> {t}[i] || ' ' || {t}[i+1] || ' ' || {t}[i+2])"
)

TOKS_SQL = "string_split_regex(trim(lower(text)), '\\s+')"
SH_SQL = SHINGLES_SQL.format(t=TOKS_SQL)

# planted near-duplicates: every doc gets a copy with one appended token
DOCS_WITH_COPIES_SQL = f"""
    SELECT doc_id, text FROM documents WHERE n_chars > 0
    UNION ALL
    SELECT doc_id + {NEAR_COPY_OFFSET} AS doc_id, text || ' perturbed' AS text
    FROM documents WHERE n_chars > 0
"""


def docs_with_copies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    orig = d.select("doc_id", "text")
    copy = d.select(
        (F.col("doc_id") + NEAR_COPY_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" perturbed")).alias("text"),
    )
    return orig.unionByName(copy)


# ---------------------------------------------------------------------------
# Exact dedup: group by content digest
# ---------------------------------------------------------------------------


# dedup_exact plants IDENTICAL copies (same bytes, + EXACT_COPY_OFFSET) so
# the collapse path is genuinely exercised: every group must reach
# n_copies >= 2 with the ORIGINAL doc_id as canonical. (The perturbed
# copies in DOCS_WITH_COPIES_SQL deliberately do NOT collapse under an
# exact digest — they exist for the near-dup operators.)
DOCS_WITH_EXACT_COPIES_SQL = f"""
    SELECT doc_id, text FROM documents WHERE n_chars > 0
    UNION ALL
    SELECT doc_id + {EXACT_COPY_OFFSET} AS doc_id, text
    FROM documents WHERE n_chars > 0
"""


@register(
    "dedup_exact",
    f"""
    WITH docs AS ({DOCS_WITH_EXACT_COPIES_SQL}),
    canon AS (
        SELECT md5(text) AS content_md5,
               CAST(min(doc_id) AS BIGINT) AS canonical_id,
               CAST(count(*) AS BIGINT) AS n_copies
        FROM docs GROUP BY md5(text))
    SELECT canonical_id, n_copies FROM canon
    """,
    "exact dedup at scale: group on a 128-bit content digest (never "
    "shuffle full documents), keep min doc_id as canonical — the Spark "
    "rebuild of scan.py:243-248 set-dedup for corpus-size data. Every "
    "planted byte-identical copy must collapse onto its original "
    "(n_copies >= 2, canonical = original id — pinned in "
    "tests/test_pipeline_ops.py).",
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    docs = d.select("doc_id", "text").unionByName(
        d.select((F.col("doc_id") + EXACT_COPY_OFFSET).alias("doc_id"), "text")
    )
    return (
        docs.select("doc_id", F.md5("text").alias("content_md5"))
        .groupBy("content_md5")
        .agg(
            F.min("doc_id").cast("bigint").alias("canonical_id"),
            F.count("*").cast("bigint").alias("n_copies"),
        )
        .select("canonical_id", "n_copies")
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard similarity on candidate pairs
# ---------------------------------------------------------------------------


@register(
    "ngram_jaccard",
    f"""
    WITH t AS (
        SELECT doc_id, lang,
               list_distinct({SH_SQL}) AS sh
        FROM documents WHERE n_chars > 0),
    pairs AS (
        SELECT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2, a.sh AS sh1, b.sh AS sh2
        FROM t a JOIN t b ON b.doc_id = a.doc_id + 1)
    SELECT doc_id_1, doc_id_2,
           round(CAST(len(list_intersect(sh1, sh2)) AS DOUBLE)
                 / len(list_distinct(list_concat(sh1, sh2))), 6) AS jaccard
    FROM pairs WHERE len(list_distinct(list_concat(sh1, sh2))) > 0
    """,
    "word-3-gram Jaccard similarity between candidate pairs (here: "
    "adjacent doc_ids; in production the candidates come from the LSH "
    "bucket join below). array_intersect/array_union are JVM-side set "
    "ops; no UDFs.",
    driver=False,  # driver gate: certified via minhash_lsh_jaccard
)
def ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    # two-step projection: split once, then shingle (see shingles)
    t = d.select("doc_id", tokens(F.lower(F.col("text"))).alias("_toks")).select(
        "doc_id", F.array_distinct(shingles(F.col("_toks"))).alias("sh")
    )
    a = t.alias("a")
    b = t.alias("b")
    pairs = a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 1).select(
        F.col("a.doc_id").alias("doc_id_1"),
        F.col("b.doc_id").alias("doc_id_2"),
        F.col("a.sh").alias("sh1"),
        F.col("b.sh").alias("sh2"),
    )
    union_size = F.size(F.array_distinct(F.concat("sh1", "sh2")))
    return pairs.filter(union_size > 0).select(
        "doc_id_1",
        "doc_id_2",
        F.round(F.size(F.array_intersect("sh1", "sh2")).cast("double") / union_size, 6).alias(
            "jaccard"
        ),
    )


# ---------------------------------------------------------------------------
# MinHash + LSH banded candidate generation
# ---------------------------------------------------------------------------


MINHASH_SIG_SQL = f"""
    WITH docs AS ({DOCS_WITH_COPIES_SQL}),
    sh AS (
        SELECT DISTINCT doc_id, unnest({SH_SQL}) AS shingle
        FROM docs),
    hashed AS (
        SELECT doc_id, {md5_long_sql('shingle')} % {P31} AS h FROM sh),
    sig AS (
        SELECT doc_id, perm, min(((2*perm+1)*h + 17*perm+1) % {P31}) AS minhash
        FROM hashed CROSS JOIN (SELECT unnest(generate_series(0, {N_PERM - 1})) AS perm)
        GROUP BY doc_id, perm),
    bands AS (
        SELECT doc_id, perm // {N_PERM // N_BANDS} AS band_id,
               md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm)) AS band_sig
        FROM sig GROUP BY doc_id, perm // {N_PERM // N_BANDS})
"""


@register(
    "minhash_lsh_pairs",
    MINHASH_SIG_SQL
    + """
    SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
    FROM bands a JOIN bands b
      ON a.band_id = b.band_id AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
    """,
    "MinHash+LSH near-dup candidates: shingle -> 16-perm minhash "
    "signature -> 4 bands of 4 -> equi-join on (band, band_sig). The "
    "planted perturbed copies (jaccard ~ (n-3)/n) must surface as "
    "(d, d+NEAR_COPY_OFFSET) pairs. At 100 TB this is the only formulation whose "
    "join cost tracks true-duplicate density instead of n².",
    driver=False,  # driver gate: certified via minhash_lsh_jaccard
)
def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # single-scan consumer: the shared one-tokenize copies frame feeds
    # the pre-hashed signature fold directly (no persist — the bucket
    # stage reads it exactly once)
    sets = copies_shingle_sets(spark, sf_dir, persist=False)
    sig = sets.select("doc_id", minhash_from_hashes(F.col("hs")).alias("minhashes"))
    return _lsh_candidate_pairs(sig)


def pairs_in_buckets(
    banded: DataFrame, id_col: str, dedup_pairs: bool = True
) -> DataFrame:
    """({id}_1 < {id}_2) candidate pairs from (id, band_id, band_sig)
    rows — THE shared pair generator for every banded-LSH family
    (minhash here, sign-hyperplane bands in similarity.py).

    ONE shuffle groups ids into LSH buckets; pairs are generated inside
    each sorted bucket array with a 1-indexed slice (bucket sizes track
    true-duplicate density, so the generated-pair count is linear in
    real dups, never n²; a skewed mega-bucket would mean a degenerate
    band — widen the signature, don't add shuffles). ``dedup_pairs``:
    with >1 band a pair can collide in several bands and needs the
    distinct; with one band the buckets partition the corpus and the
    distinct shuffle is pure cost.
    """
    buckets = (
        banded.groupBy("band_id", "band_sig")
        .agg(F.array_sort(F.collect_set(id_col)).alias("ids"))
        .filter(F.size("ids") > 1)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias(f"{id_col}_1"), y.alias(f"{id_col}_2")),
            ),
        )
    )
    out = buckets.select(F.explode(pairs).alias("p")).select(
        f"p.{id_col}_1", f"p.{id_col}_2"
    )
    return out.distinct() if dedup_pairs else out


def banded_signatures(sig: DataFrame) -> DataFrame:
    """(doc_id, band_id, band_sig) band rows from per-row minhash
    signature arrays: 4 bands of 4 rows, each band's signature an md5
    over its minhash slice. This is the LSH *index* representation —
    what a signature store persists for incremental dedup, and what
    the bucket pair generator consumes."""
    rows_per_band = N_PERM // N_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col("minhashes")[b * rows_per_band + r].cast("string")
                            for r in range(rows_per_band)
                        ],
                    )
                ).alias("band_sig"),
            )
            for b in range(N_BANDS)
        ]
    )
    return sig.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", "b.band_id", "b.band_sig"
    )


def _lsh_candidate_pairs(sig: DataFrame) -> DataFrame:
    """(doc_id_1 < doc_id_2) candidate pairs from banded minhash
    signatures: 4 (band_id, band_sig) rows per doc, banded from the
    per-row signature array, then the shared bucket pair generator."""
    return pairs_in_buckets(banded_signatures(sig), "doc_id", dedup_pairs=True)


# ---------------------------------------------------------------------------
# LSH-bucket survivorship: the decision step after candidate generation
# ---------------------------------------------------------------------------


# the survivorship ranking CTEs, shared verbatim by the dedup_survivors
# oracle and the composed selection_pipeline oracle (operators/pipeline.py)
# so both stay aligned with the Spark decision by construction
SURVIVOR_RANK_SQL = """,
    q AS (
        SELECT doc_id,
               CAST(len(list_distinct(string_split_regex(trim(lower(text)), '\\s+')))
                    AS DOUBLE)
               / len(string_split_regex(trim(lower(text)), '\\s+')) AS diversity
        FROM docs),
    b0 AS (
        SELECT bands.doc_id, band_sig, diversity
        FROM bands JOIN q ON q.doc_id = bands.doc_id
        WHERE band_id = 0),
    ranked AS (
        SELECT doc_id, band_sig, diversity,
               row_number() OVER (PARTITION BY band_sig
                                  ORDER BY diversity DESC, doc_id) AS rn,
               first_value(doc_id) OVER (PARTITION BY band_sig
                                         ORDER BY diversity DESC, doc_id) AS survivor_id,
               count(*) OVER (PARTITION BY band_sig) AS n_members
        FROM b0)
"""


@register(
    "dedup_survivors",
    MINHASH_SIG_SQL
    + SURVIVOR_RANK_SQL
    + """
    SELECT CAST(doc_id AS BIGINT) AS dropped_id,
           CAST(survivor_id AS BIGINT) AS survivor_id,
           CAST(n_members AS BIGINT) AS n_members
    FROM ranked WHERE rn > 1
    """,
    "near-dedup survivorship (the decision step a dedup pass actually "
    "ships): documents sharing an LSH band signature are one near-dup "
    "bucket; the highest-lexical-diversity member survives (ties: min "
    "doc_id) and every other member is emitted as a (dropped_id, "
    "survivor_id) decision row. One shuffle of (band_sig, doc_id, "
    "diversity) — ids and one double, never document text; survivor "
    "selection and the dropped-list explode are bucket-local. diversity "
    "is a single integer division, so the cross-engine ordering is "
    "deterministic.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    # ONE per-row pass (r10): diversity and the band-0 signature are
    # both per-row values of the same token array — the old form
    # tokenized the corpus twice (once for diversity, once for the
    # signatures) and then JOINED the two frames back on doc_id to
    # reassemble values that never left the row. Also: only band 0's
    # rows_per_band permutations are consumed here, so the fold
    # maintains 4 running minima instead of minhash_from_shingles' 16
    # (4x less per-shingle arithmetic, identical values — the
    # permutation formulas are independent).
    docs = docs_with_copies(spark, sf_dir).repartition(
        spark.sparkContext.defaultParallelism
    )
    toked = docs.select(
        "doc_id", tokens(F.lower(F.col("text"))).alias("_toks")
    ).filter(F.size("_toks") >= 3)
    rows_per_band = N_PERM // N_BANDS
    h_arr = F.transform(shingles(F.col("_toks")), lambda s: md5_long(s) % P31)
    sigs = F.aggregate(
        h_arr,
        F.array_repeat(F.lit(P31).cast("bigint"), rows_per_band),
        lambda acc, h: F.transform(
            acc, lambda m, i: F.least(m, ((2 * i + 1) * h + (17 * i + 1)) % P31)
        ),
    )
    b0 = toked.select(
        "doc_id",
        (
            F.size(F.array_distinct(F.col("_toks"))).cast("double")
            / F.size("_toks")
        ).alias("diversity"),
        sigs.alias("_b0"),
    ).select(
        "doc_id",
        "diversity",
        F.md5(
            F.concat_ws(
                ",", *[F.col("_b0")[r].cast("string") for r in range(rows_per_band)]
            )
        ).alias("band_sig"),
    )
    grouped = b0.groupBy("band_sig").agg(
        F.max_by("doc_id", F.struct(F.col("diversity"), -F.col("doc_id"))).alias(
            "survivor_id"
        ),
        F.collect_list(F.struct("doc_id", "diversity")).alias("members"),
    )
    return (
        grouped.select(
            "survivor_id",
            F.size("members").cast("bigint").alias("n_members"),
            F.explode("members").alias("m"),
        )
        .filter(F.col("m.doc_id") != F.col("survivor_id"))
        .select(
            F.col("m.doc_id").cast("bigint").alias("dropped_id"),
            F.col("survivor_id").cast("bigint").alias("survivor_id"),
            "n_members",
        )
    )


# ---------------------------------------------------------------------------
# SimHash signatures
# ---------------------------------------------------------------------------


@register(
    "simhash",
    f"""
    WITH t AS (
        SELECT doc_id, unnest(list_distinct(string_split_regex(trim(lower(text)), '\\s+'))) AS tok
        FROM documents WHERE n_chars > 0),
    th AS (SELECT doc_id, {md5_long_sql('tok')} AS h FROM t),
    bits AS (
        SELECT doc_id, bit,
               sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        FROM th CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bit)
        GROUP BY doc_id, bit)
    SELECT doc_id,
           CAST(sum(CASE WHEN vote >= 0 THEN 1 << bit ELSE 0 END) AS BIGINT) AS simhash16
    FROM bits GROUP BY doc_id
    """,
    "SimHash: per-bit majority vote over token hashes -> 16-bit document "
    "signature; near-dups share signatures (hamming-ball lookups become "
    "equi-joins on signature rotations). Pure per-row fold over the "
    "hashed-token array (the minhash_from_shingles shape) — ZERO shuffles, "
    "so the scan is linear at any corpus size; the oracle states the "
    "same votes relationally.",
)
def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    # materialize the hashed-token array behind a projection boundary:
    # the 16 per-bit folds below each reference it, and an inline md5
    # transform would be re-evaluated once PER BIT by projection
    # collapse (the minhash_from_shingles lesson)
    hashed = d.select(
        "doc_id",
        F.transform(
            F.array_distinct(tokens(F.lower(F.col("text")))), lambda t: md5_long(t)
        ).alias("_hs"),
    )
    # one vote counter per bit: sum of +/-1 over the array — shiftright
    # needs a literal bit index, so 16 fold expressions over the SAME
    # materialized array (cheap: 16 x tokens integer adds, in codegen)
    def vote(bit: int):
        # closure, not a default-arg lambda: F.aggregate inspects the
        # merge lambda's arity and a third parameter breaks it
        return F.aggregate(
            F.col("_hs"),
            F.lit(0).cast("bigint"),
            lambda acc, h: acc
            + F.when(F.shiftright(h, bit).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1),
        )

    votes = [vote(bit) for bit in range(16)]
    sig = sum(
        [F.when(votes[bit] >= 0, F.lit(1 << bit)).otherwise(F.lit(0)) for bit in range(16)],
        F.lit(0),
    )
    return hashed.select("doc_id", sig.cast("bigint").alias("simhash16"))


# Broadcast-safety bound for LSH candidate-pair lists: pairs are two
# 8-byte ids, so 2M rows is ~32 MB serialized — comfortably under
# executor broadcast budgets, far above any observed candidate count
# at the tested scales (thousands). A 40-60%-duplicate crawl corpus at
# 100 TB materializes BILLIONS of candidates; broadcasting that kills
# the driver, so the verify joins flip to shuffled-hash past the bound.
PAIR_BROADCAST_LIMIT = 2_000_000

# Tighter bound for broadcasting candidates WITH their s1 verify
# payload (the shingle-hash array rides along): the payload is
# per-pair a whole set (~hundreds of bytes to tens of KB for huge
# docs), so this tier is entered only when pairs x payload stays
# trivially inside broadcast budgets (50k pairs x ~1 KB avg = ~50 MB
# worst-typical). Below it the verify runs with ZERO exchanges: the
# enriched candidate list broadcasts and the corpus side streams from
# its cache/scan — the corpus genuinely never reshuffles for
# verification (above it, the bare id-pair broadcast keeps the s1 side
# exchange-free and only the s2 equi-join shuffles).
PAIR_PAYLOAD_BROADCAST_LIMIT = 50_000

# Byte-level guard on the payload tier (r08 review finding): the pair
# COUNT alone cannot bound the broadcast when each s1 row carries a
# whole shingle set — 50k pairs of tens-of-KB sets is a ~1 GB driver
# collect the count valve would wave through. The tier therefore also
# caps pairs x payload_row_bytes at a fixed budget; callers that know
# their payload width (short name strings, bounded signatures) pass a
# smaller hint to re-widen the tier, and the default assumes the
# shingle-set shape this module actually broadcasts.
PAYLOAD_BROADCAST_BYTES = 64 << 20
PAYLOAD_ROW_BYTES_HINT = 4_096


def adaptive_verify_join(
    s1: DataFrame,
    pairs: DataFrame,
    s2: DataFrame,
    limit: int | None = None,
    k1: str = "doc_id_1",
    k2: str = "doc_id_2",
    payload_row_bytes: int = PAYLOAD_ROW_BYTES_HINT,
) -> tuple[DataFrame, int]:
    """Join the per-doc verify sides onto a candidate pair list with a
    DENSITY-ADAPTIVE strategy: the pair list is materialized once
    (localCheckpoint — callers were already paying this to truncate
    lineage) and counted; below the broadcast-safe bound the (small)
    candidate set broadcasts so the corpus never reshuffles for
    verification, above it BOTH joins run shuffled-hash with the
    per-doc side as build (bounded rows per partition; candidate rows
    stream as probes). ``s1`` must carry ``k1`` (default doc_id_1),
    ``s2`` ``k2``, ``pairs`` both — the incremental probe passes its
    inc_id/ex_id keys. The sparse branch is the common case at any
    realistic dup density over distinct candidates; the dense branch
    is the 40-60%-dup crawl case where the broadcast would die at
    corpus scale.

    Three density tiers (r08): below PAIR_PAYLOAD_BROADCAST_LIMIT the
    s1-enriched candidate list broadcasts — ZERO exchanges, the corpus/
    store side streams from its own scan (the r07 two-join form still
    shuffled the whole s2 side through the second join's shuffle-hash
    even when candidates were tiny — measured as the single biggest
    fixed cost of the minhash_cluster warm path); between the payload
    and the bare-pair bound only the 16-byte id pairs broadcast and the
    s2 equi-join shuffles; above both, everything shuffled-hash.

    The count is NEVER skipped, even for per-micro-batch probes whose
    batch side is small: candidate volume is batch x matching STORE
    bucket sizes, and a hot landed band bucket (boilerplate that keeps
    landing as 'new' below the Jaccard threshold) makes that product
    unbounded — an uncounted broadcast there is a driver OOM waiting
    for the wrong corpus. The per-call cost of the valve is ONE Spark
    job (see below), which is what hot callers actually pay.

    Returns ``(joined, n_pairs)``: the measured candidate count bounds
    the verified edges, so CC callers pass it on as ``cc_edge_list``'s
    ``n_edges_hint`` instead of paying their own count job."""
    enriched = lambda p: F.broadcast(s1.join(F.broadcast(p), k1))  # noqa: E731
    # LAZY checkpoint + count = ONE Spark job (the count materializes
    # the truncated leaf); the old eager-checkpoint-then-count shape
    # paid two job round-trips per call — on this box each job costs
    # ~0.2s of pure scheduling (SCALING.md floor measurement), which
    # dominated the warm dedup queries at bench sf. This fusion is also
    # the r07-advice fix for per-micro-batch probe overhead: the count
    # stays (it is the density safety valve) but costs half what it did
    pairs = pairs.localCheckpoint(eager=False)
    bound = PAIR_BROADCAST_LIMIT if limit is None else limit
    n = pairs.count()
    payload_cap = max(1, PAYLOAD_BROADCAST_BYTES // max(payload_row_bytes, 1))
    if n <= min(bound, PAIR_PAYLOAD_BROADCAST_LIMIT, payload_cap):
        out = s2.join(enriched(pairs), k2).select(
            *pairs.columns, *[c for c in s1.columns if c != k1],
            *[c for c in s2.columns if c != k2],
        )
    elif n <= bound:
        out = s1.join(F.broadcast(pairs), k1).join(s2.hint("shuffle_hash"), k2)
    else:
        out = pairs.join(s1.hint("shuffle_hash"), k1).join(
            s2.hint("shuffle_hash"), k2
        )
    return out, n


# ---------------------------------------------------------------------------
# SimHash Hamming-neighborhood join: the signature op APPLIED — the
# Charikar/Manku-Jain-Sarma web-dedup formulation (pairs within Hamming
# distance k via exact-match band blocking)
# ---------------------------------------------------------------------------

SIM_BITS = 60  # signature width (md5_long supplies 60 hash bits per token)
SIM_BANDS = 4  # 4 bands x 15 bits; <= 3 flipped bits leave >= 1 band intact
SIM_HAM_K = SIM_BANDS - 1  # Hamming acceptance radius (pigeonhole-lossless)
_SIM_BAND_W = SIM_BITS // SIM_BANDS
_SIM_BAND_MASK = (1 << _SIM_BAND_W) - 1

# Spark-side 60-bit simhash over the materialized hashed-SHINGLE array
# column (the copies_shingle_sets frame): ONE fold maintains all 60
# vote counters (a per-bit-expression form, as the 16-bit `simhash` op
# uses, would emit 60 independent folds — codegen blow-up risk), then
# one pass turns votes into bits. Shift amounts are lambda-bound
# columns, which the SQL `>>`/shiftleft operators accept (the pyspark
# functions API restricts to literal ints — hence F.expr).
#
# SHINGLE features, not unigram tokens, on a measurement: this corpus
# draws every doc's tokens from one shared vocabulary, so token-level
# majority votes converge to near-identical signatures — the top
# 15-bit band bucket held 2,452 of 10,000 docs at sf0.1 and the
# "pairs within Hamming<=3" relation exploded to ~700k genuinely-
# close signatures (11s). Word-3-gram shingles are near-unique per
# doc (the same reason the MinHash tier shingles), signatures spread,
# and buckets track true near-dups — also exactly Manku-Jain-Sarma's
# feature choice.
def _simhash_vote_expr(bits: int) -> str:
    """The single-fold per-bit-majority vote kernel over a hashed-
    feature array column ``hs``, parameterized on signature width —
    ``simhash_pairs`` instantiates it at {SIM_BITS}; the twin-parity
    gate (tests/test_twin_parity.py) instantiates it at 16 over the
    driver-certified ``simhash`` op's own token-hash features and pins
    bit-identical signatures, certifying the kernel through the
    driver surface."""
    return f"""
    aggregate(
      transform(
        aggregate(hs,
                  array_repeat(CAST(0 AS BIGINT), {bits}),
                  (acc, h) -> transform(acc, (v, i) ->
                      v + CASE WHEN (h >> i) & 1 = 1 THEN 1 ELSE -1 END)),
        (v, i) -> CASE WHEN v >= 0 THEN shiftleft(CAST(1 AS BIGINT), i)
                       ELSE CAST(0 AS BIGINT) END),
      CAST(0 AS BIGINT), (a, x) -> a + x)
"""


_SIMHASH60_EXPR = _simhash_vote_expr(SIM_BITS)


def simhash60_from_hashes(sets: DataFrame) -> DataFrame:
    """(doc_id, sig) — 60-bit per-bit-majority simhash over a
    (doc_id, hs) hashed-shingle frame (:func:`copies_shingle_sets`):
    the md5_long shingle hashes supply the bits directly, so the
    signature costs one arithmetic fold over an already-materialized
    column — zero additional hashing, zero shuffles."""
    return sets.select("doc_id", F.expr(_SIMHASH60_EXPR).alias("sig"))


@register(
    "simhash_pairs",
    f"""
    WITH docs AS ({DOCS_WITH_COPIES_SQL}),
    sh AS (SELECT DISTINCT doc_id, unnest({SH_SQL}) AS shingle FROM docs),
    th AS (SELECT doc_id, {md5_long_sql('shingle')} AS h FROM sh),
    bits AS (
        SELECT doc_id, bit,
               sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS vote
        FROM th CROSS JOIN (SELECT unnest(generate_series(0, {SIM_BITS - 1})) AS bit)
        GROUP BY doc_id, bit),
    sig AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN vote >= 0 THEN CAST(1 AS BIGINT) << bit
                             ELSE 0 END) AS BIGINT) AS sig
        FROM bits GROUP BY doc_id),
    bands AS (
        SELECT doc_id, b AS band_id,
               (sig >> (b * {_SIM_BAND_W})) & {_SIM_BAND_MASK} AS band_sig
        FROM sig CROSS JOIN (SELECT unnest(generate_series(0, {SIM_BANDS - 1})) AS b)),
    cand AS (
        SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id)
    SELECT c.doc_id_1, c.doc_id_2,
           CAST(bit_count(xor(s1.sig, s2.sig)) AS INT) AS hamming
    FROM cand c
    JOIN sig s1 ON s1.doc_id = c.doc_id_1
    JOIN sig s2 ON s2.doc_id = c.doc_id_2
    WHERE bit_count(xor(s1.sig, s2.sig)) <= {SIM_HAM_K}
    """,
    f"SimHash Hamming-neighborhood join (Charikar signatures applied "
    f"the Manku-Jain-Sarma web-dedup way): {SIM_BITS}-bit per-bit-"
    f"majority signatures over word-3-gram shingle hashes (the shared "
    f"copies_shingle_sets frame — unigram-token features measured "
    f"degenerate on this shared-vocab corpus: 25%-of-corpus buckets), "
    f"pairs within Hamming distance {SIM_HAM_K}. "
    f"Blocking is exact-match on {SIM_BANDS} disjoint {_SIM_BAND_W}-bit "
    f"bands — <= {SIM_HAM_K} flipped bits leave at least one band "
    "intact (pigeonhole, lossless), so candidates come from the SAME "
    "bucket equi-join machinery as the MinHash tier (pairs_in_buckets) "
    "and cost tracks collision density, never n². Verification is one "
    "xor + bit_count per candidate over the 8-byte signatures, joined "
    "density-adaptively (adaptive_verify_join: broadcast below the "
    "safe bound, shuffled-hash above it) — the cheapest verify of any "
    "dedup family here, the reason web-scale systems keep simhash "
    "alongside minhash. "
    "Signatures shuffle as single longs; the complement (Jaccard "
    "granularity) is minhash_lsh_jaccard. Planted perturbed copies "
    "flip only bits whose token-vote margin is <= 1, so a measured "
    "fraction lands inside the radius — pinned as a recall floor in "
    "tests/test_pipeline_ops.py.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    sets = copies_shingle_sets(spark, sf_dir)
    # materialize the 8-byte signatures as a leaf: the band explode and
    # BOTH verify sides read them, and re-running the vote fold (60 x
    # shingles arithmetic) per scan would triple the op's real work
    # (fn-eager, inside bench's timed window — the jaccard twin's
    # pattern)
    sigs = simhash60_from_hashes(sets).localCheckpoint()
    sets.unpersist()
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.shiftright(F.col("sig"), b * _SIM_BAND_W)
                .bitwiseAND(F.lit(_SIM_BAND_MASK))
                .alias("band_sig"),
            )
            for b in range(SIM_BANDS)
        ]
    )
    bands = sigs.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", "b.band_id", "b.band_sig"
    )
    pairs = pairs_in_buckets(bands, "doc_id", dedup_pairs=True)
    s1 = sigs.select(F.col("doc_id").alias("doc_id_1"), F.col("sig").alias("sig1"))
    s2 = sigs.select(F.col("doc_id").alias("doc_id_2"), F.col("sig").alias("sig2"))
    ham = F.bit_count(F.col("sig1").bitwiseXOR(F.col("sig2")))
    # payload hint (r08 advice): the verify payload here is ONE 8-byte
    # signature per row — the default 4096-byte shingle-set assumption
    # would shrink the zero-exchange broadcast tier from 50k to 16k
    # pairs for no reason. ~16 bytes/row (id + sig) keeps the tier at
    # its full candidate bound while the byte cap still guards it.
    joined, _ = adaptive_verify_join(s1, pairs, s2, payload_row_bytes=16)
    return joined.filter(ham <= SIM_HAM_K).select(
        "doc_id_1", "doc_id_2", ham.cast("int").alias("hamming")
    )


# ---------------------------------------------------------------------------
# MinHash-LSH candidates + Jaccard verification — the production near-dup
# composition (driver-facing twin of minhash_lsh_pairs + ngram_jaccard)
# ---------------------------------------------------------------------------


@register(
    "minhash_lsh_jaccard",
    MINHASH_SIG_SQL
    + f"""
    , pairs AS (
        SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id),
    sets AS (
        SELECT doc_id, list_distinct(list_transform({SH_SQL}, s -> {md5_long_sql('s')})) AS sh FROM docs)
    SELECT p.doc_id_1, p.doc_id_2,
           round(CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
                 / len(list_distinct(list_concat(s1.sh, s2.sh))), 6) AS jaccard
    FROM pairs p
    JOIN sets s1 ON s1.doc_id = p.doc_id_1
    JOIN sets s2 ON s2.doc_id = p.doc_id_2
    WHERE len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
    """,
    "the full production near-dup pipeline: MinHash-LSH banded candidate "
    "generation (minhash_lsh_pairs) + exact word-3-gram Jaccard "
    "verification of each candidate (ngram_jaccard) — the driver-facing "
    "certification twin of both. Verification is DENSITY-ADAPTIVE "
    "(adaptive_verify_join): the materialized candidate count picks the "
    "strategy — small sets broadcast so the corpus never reshuffles, "
    "past the broadcast-safe bound (the 40-60%-dup crawl case, where "
    "candidates are billions of rows at 100 TB) both verify joins flip "
    "to shuffled-hash. Total cost stays proportional to true-duplicate "
    "density either way.",
)
def minhash_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the shared one-tokenize edge machinery via the certified
    # verified_near_edges path (threshold off, jaccard emitted): the
    # candidates/signatures/verify sides all derive from ONE cached
    # distinct-shingle frame, the bounded candidate build runs inside
    # the AQE-off scope (its exchanges are aggregations over bounded
    # row shapes — the verified_near_edges rationale), and the ONE
    # edge-leaf checkpoint releases the shingle cache before return
    # (r10: the direct near_edges_plan call paid AQE stage-jobs plus
    # its own second checkpoint of the same rows).
    return verified_near_edges(
        None,
        sets=copies_shingle_sets(spark, sf_dir),
        threshold=None,
        with_jaccard=True,
    )[0]


# ---------------------------------------------------------------------------
# Duplicate-cluster formation: verified LSH pairs -> connected components
# ---------------------------------------------------------------------------

# exact-Jaccard acceptance threshold for an LSH candidate edge. The
# planted perturbed copy of a doc with s shingles scores s/(s+1), so
# every original/copy pair with >= 4 shingles (>= 6 tokens) forms an
# edge; shorter docs fall below the bar in BOTH engines identically.
CLUSTER_JACCARD_T = 0.8

# candidate generation + exact-Jaccard verification CTEs (docs -> cand
# -> sets -> verified) — the shared edge definition of every
# cluster-consuming oracle (minhash_cluster / leakage_safe_split /
# source_overlap): one edge definition per engine, the consumers
# cannot diverge on what counts as a near-duplicate
VERIFIED_EDGES_CTES_SQL = MINHASH_SIG_SQL + f"""
    , cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id),
    sets AS (SELECT doc_id, list_distinct(list_transform({SH_SQL}, s -> {md5_long_sql('s')})) AS sh FROM docs),
    verified AS (
        SELECT d1, d2
        FROM cand
        JOIN sets s1 ON s1.doc_id = cand.d1
        JOIN sets s2 ON s2.doc_id = cand.d2
        WHERE len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
          AND CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(s1.sh, s2.sh)))
              >= {CLUSTER_JACCARD_T})
"""

# + the recursive label propagation (edges -> lbl -> comp), shared by
# the minhash_cluster and leakage_safe_split oracles
CLUSTER_CTES_SQL = VERIFIED_EDGES_CTES_SQL.replace(
    "WITH docs", "WITH RECURSIVE docs", 1
) + """
    , edges AS (SELECT d1 AS src, d2 AS dst FROM verified
              UNION SELECT d2 AS src, d1 AS dst FROM verified),
    lbl AS (
        SELECT src AS node, src AS comp FROM edges
        UNION
        SELECT e.dst, l.comp
        FROM lbl l JOIN edges e ON e.src = l.node
        WHERE l.comp < e.dst),
    comp AS (SELECT node AS doc_id, min(comp) AS cluster_id
             FROM lbl GROUP BY node)
"""

MINHASH_CLUSTER_ORACLE = CLUSTER_CTES_SQL + """
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(cluster_id AS BIGINT) AS cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT)
               AS cluster_size
    FROM comp
"""


def minhash_from_hashes(hs: Column) -> Column:
    """array<bigint> pre-hashed shingles (60-bit md5_long values) ->
    array<bigint>[N_PERM] minhash signature, as 16 independent
    array_min passes, each reducing mod P31 inline ((2i+1)*(h % P31)
    stays well under 2^63). ``hs`` MUST be a materialized column (the shared
    shingle-set frame below), never an inline expression: each of the
    16 array_min terms references it once, so an embedded md5
    transform would be re-evaluated 16x (the reason
    :func:`minhash_from_shingles` uses the single-fold form instead).
    Over a stored column the 16 passes are pure long arithmetic and
    beat the fold's per-element 16-array allocation ~1.3x (measured
    0.92s vs 1.28s at sf0.1, bit-identical output)."""
    def perm_min(i: int) -> Column:
        a, b = 2 * i + 1, 17 * i + 1
        return F.array_min(F.transform(hs, lambda h: (a * (h % P31) + b) % P31))

    return F.array(*[perm_min(i) for i in range(N_PERM)])


def minhash_from_shingles(sh: Column) -> Column:
    """array<string> shingles -> array<bigint>[N_PERM] minhash signature,
    per-row and shuffle-FREE: the engine's one MinHash fold.

    Permutation i hashes h -> ((2i+1)*h + 17i+1) mod (2^31-1); the base
    shingle hash is the cross-engine md5-derived 60-bit int mod p,
    computed ONCE per shingle. ONE fold over the shingle hashes
    maintains all 16 running minima (acc[i], i the accumulator index of
    the two-arg transform lambda) — no explode, no per-permutation row
    blowup, and min over a set equals min over the multiset, so
    distinct or repeated shingle arrays give identical signatures.
    Single-fold form because the md5 hashing is inline here: naming it
    in 16 separate array_min terms lets projection collapse duplicate
    the md5 transform 16x (measured ~3x slower at sf0.1;
    :func:`minhash_from_hashes` is the 16-pass form over stored
    hashes)."""
    h_arr = F.transform(sh, lambda s: md5_long(s) % P31)
    return F.aggregate(
        h_arr,
        F.array_repeat(F.lit(P31).cast("bigint"), N_PERM),
        lambda acc, h: F.transform(
            acc, lambda m, i: F.least(m, ((2 * i + 1) * h + (17 * i + 1)) % P31)
        ),
    )


def copies_shingle_sets(
    spark: SparkSession, sf_dir: str, persist: bool = True
) -> DataFrame:
    """(doc_id, hs) hashed-shingle-set frame for the docs_with_copies
    corpus — the shared input of the minhash family — computed with ONE
    tokenize/shingle/md5 pass per ORIGINAL document. ``hs`` holds the
    DISTINCT 60-bit md5_long of each word-3-gram: signatures reduce it
    mod P31 (identical values to hashing strings directly), and the
    Jaccard verify intersects the hash sets — set identity is preserved
    exactly up to a 60-bit collision (~2^-61 per pair, and BOTH engines
    hash identically, so even a collision cannot split the gate).

    The planted perturbed copy appends exactly one token, so its
    word-3-gram set is the original's plus ONE new cross-boundary gram
    (t[n-1], t[n], 'perturbed'): both rows are derived IN-ROW from the
    original's materialized arrays (array_union adds the new gram's
    hash), instead of re-tokenizing and re-hashing the copy's full
    text. Halves the two dominant costs of the LSH pipeline (tokenize+
    shingle and md5-per-shingle — measured ~0.8s + ~0.9s of the 2.9s
    edge materialization at sf0.1): the hashed sets are equal to
    hashing the copy's own text by construction, so candidate pairs,
    Jaccard values, and the oracle agree bit-for-bit.

    At 100 TB this frame IS the persisted shingle index a dedup pass
    materializes to parquet (incremental_dedup's doc_index adds the
    content digest to the same shape); storing the hash array alongside
    the strings trades ~8 bytes/shingle for skipping the md5 pass on
    every downstream consumer."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    par = spark.sparkContext.defaultParallelism
    # originals with >= 2 tokens: the copy then has >= 3 tokens (one
    # shingle) even when the original itself is too short to shingle —
    # matching docs_with_copies + size(_toks) >= 3 exactly
    toked = (
        d.select("doc_id", "text")
        .repartition(par)
        .select("doc_id", tokens(F.lower(F.col("text"))).alias("_toks"))
        .filter(F.size("_toks") >= 2)
    )
    n = F.size(F.col("_toks"))
    base = toked.select(
        "doc_id",
        F.array_distinct(shingles(F.col("_toks"))).alias("sh"),
        # the copy's single new shingle: last two tokens + 'perturbed'
        F.concat_ws(
            " ", F.get(F.col("_toks"), n - 2), F.get(F.col("_toks"), n - 1),
            F.lit("perturbed"),
        ).alias("_ng"),
    )
    withh = base.select(
        "doc_id",
        F.transform(F.col("sh"), md5_long).alias("hs"),
        (md5_long(F.col("_ng"))).alias("_ngh"),
    )
    pair = F.array(
        F.struct(F.col("doc_id").alias("doc_id"), F.col("hs").alias("hs")),
        F.struct(
            (F.col("doc_id") + NEAR_COPY_OFFSET).alias("doc_id"),
            F.array_union(F.col("hs"), F.array(F.col("_ngh"))).alias("hs"),
        ),
    )
    out = (
        withh.select(F.explode(pair).alias("r"))
        .select("r.doc_id", "r.hs")
        .filter(F.size("hs") >= 1)
    )
    return out.persist() if persist else out


def near_edges_plan(
    docs: DataFrame | None,
    threshold: float | None = None,
    with_jaccard: bool = False,
    sets: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, int]:
    """The UNMATERIALIZED verified-near-edge plan (edges, sets,
    n_pairs — the candidate count the verify measured): LSH
    banded candidates over a shared cached distinct-shingle frame, then
    exact word-3-gram Jaccard — filtered to ``>= threshold`` when one
    is given, with the jaccard value emitted when ``with_jaccard``.
    Split out so the plan-shape tests can assert on the pipeline itself
    — the public :func:`verified_near_edges` checkpoints it into a
    leaf, which hides the joins from the end-query explain — and so
    ``minhash_lsh_jaccard`` (no threshold, value emitted) shares the
    one-tokenize machinery.

    Shingle sets live as DISTINCT 60-bit md5_long arrays (``hs``):
    signatures reduce them mod P31 (same values as hashing strings),
    and the Jaccard verify intersects hash sets. Locally the long-vs-
    string intersect is a wash (shuffle/task overhead dominates at
    sf0.1 — measured A/B); the reason to ship hashes is the SHUFFLE
    payload: 8 bytes/shingle instead of ~25-char strings through the
    verify exchange and the persisted frame, which is what matters at
    corpus scale. Exact up to a 2^-61-per-pair collision that BOTH
    engines share (the oracles hash with the identical md5_long).
    ``sets``: a prebuilt persisted (doc_id, hs) frame
    (:func:`copies_shingle_sets`) — when given, ``docs`` is
    ignored."""
    if sets is None:
        spark = docs.sparkSession
        sets = (
            docs.repartition(spark.sparkContext.defaultParallelism)
            .select("doc_id", tokens(F.lower(F.col("text"))).alias("_toks"))
            # docs with < 3 tokens have no shingles, hence no signature
            # and no candidate membership — dropping them is semantics-free
            .filter(F.size("_toks") >= 3)
            .select(
                "doc_id",
                F.array_distinct(
                    F.transform(shingles(F.col("_toks")), md5_long)
                ).alias("hs"),
            )
            .persist()
        )
    # the candidate list materializes inside adaptive_verify_join (its
    # count picks broadcast vs shuffled-hash verification); the sets
    # cache fills during that same candidate job, so the verify-side
    # scans still read it warm
    sig = sets.select("doc_id", minhash_from_hashes(F.col("hs")).alias("minhashes"))
    pairs = _lsh_candidate_pairs(sig)
    s1 = sets.select(F.col("doc_id").alias("doc_id_1"), F.col("hs").alias("hs1"))
    s2 = sets.select(F.col("doc_id").alias("doc_id_2"), F.col("hs").alias("hs2"))
    # both sides are DISTINCT sets, so |union| = n1 + n2 - |intersect|:
    # one hash-set build per pair instead of two (the old
    # array_distinct(concat(...)) recomputed the union explicitly —
    # measured ~2x the verify-stage arithmetic for identical values)
    isect = F.size(F.array_intersect("hs1", "hs2"))
    union_size = F.size("hs1") + F.size("hs2") - isect
    jaccard = isect.cast("double") / union_size
    joined, n_pairs = adaptive_verify_join(s1, pairs, s2)
    verified = joined.filter(
        (union_size > 0) & (jaccard >= threshold)
        if threshold is not None
        else (union_size > 0)
    )
    cols = ["doc_id_1", "doc_id_2"]
    if with_jaccard:
        cols.append(F.round(jaccard, 6).alias("jaccard"))
    return verified.select(*cols), sets, n_pairs


def verified_near_edges(
    docs: DataFrame | None,
    sets: DataFrame | None = None,
    threshold: float | None = CLUSTER_JACCARD_T,
    with_jaccard: bool = False,
) -> tuple[DataFrame, int]:
    """(doc_id_1 < doc_id_2) VERIFIED near-dup edges for a
    (doc_id, text) corpus, materialized as a plan LEAF. The verification
    joins mirror minhash_lsh_jaccard: broadcast the (small) candidate
    set against the corpus shingle sets so the corpus never reshuffles
    for verification. Shared by minhash_cluster and dedup_pipeline.

    The distinct-shingle frame is computed ONCE and cached — signatures
    and both verification sides all derive from it, so tokenize+shingle
    runs one time per doc instead of three (signatures over DISTINCT
    shingles are identical: min over a set == min over its multiset).
    At 100 TB this cache is the in-flight shingle index a dedup pass
    would materialize to parquet anyway (incremental_dedup persists
    exactly this shape across batches); MEMORY_AND_DISK persist is the
    single-pass stand-in. The (id-only, tiny) edge list materializes
    via localCheckpoint — storing AND truncating lineage, so every
    downstream CC-round and assembly action plans against a leaf
    instead of re-analyzing the whole LSH+verify tree (driver-side
    analysis of that tree was costing more than some of the actions
    themselves) — and the shingle cache is released before returning.

    Returns ``(edges, n_pairs)``, ``n_pairs`` being the verify's
    candidate count (see :func:`adaptive_verify_join`)."""
    # AQE off for the edge derivation's two actions (the candidate
    # count and the edge checkpoint) — the cc_edge_list trade, scoped
    # the same way (concurrent callers wait, never inherit it): the
    # build's exchanges are AGGREGATIONS over bounded row shapes
    # (band-bucket groupBy, pair distinct — AQE's skew handling applies
    # to joins, not aggs, and a skewed band bucket means a degenerate
    # band one fixes by widening the signature, not re-planning), so
    # per-exchange stage materialization buys nothing while costing one
    # ~0.2s scheduling round-trip per exchange on the bench box
    # (SCALING.md floor measurement; 13 -> 9 jobs, consistent
    # interleaved A/B win). The
    # DENSE verify tier is the exception — its shuffled-hash joins do
    # want AQE's runtime re-plan — so adaptivity is restored before the
    # checkpoint action when the measured count lands past the
    # payload-broadcast bound.
    spark = (docs if sets is None else sets).sparkSession
    aqe = "spark.sql.adaptive.enabled"
    with scoped_conf(spark, {aqe: "false"}) as prev:
        plan_edges, sets, n_pairs = near_edges_plan(
            docs, threshold=threshold, with_jaccard=with_jaccard, sets=sets
        )
        if n_pairs > PAIR_PAYLOAD_BROADCAST_LIMIT:
            spark.conf.set(aqe, prev[aqe] or "true")
        edges = plan_edges.localCheckpoint()
    sets.unpersist()
    return edges, n_pairs


@register(
    "minhash_cluster",
    MINHASH_CLUSTER_ORACLE,
    "duplicate-CLUSTER formation — the step that turns near-dup PAIRS "
    "into an actionable dedup decision: MinHash-LSH candidates "
    "(minhash_lsh_pairs) -> exact word-3-gram Jaccard verification at "
    f">= {CLUSTER_JACCARD_T} (minhash_lsh_jaccard) -> connected "
    "components over the verified-edge graph (imp_dedup.cc_edge_list, "
    "iterative min-label propagation shuffling ids only) -> one "
    "(doc_id, cluster_id = min member id, cluster_size) row per "
    "clustered doc. Keeping min-id-per-component is the canonical "
    "'keep one representative per duplicate group' rule; transitivity "
    "is what pairwise output cannot give (A~B, B~C => one cluster "
    "{A,B,C} even when A and C never collide in a band). Oracle: the "
    "full pipeline in DuckDB with a recursive-CTE label propagation — "
    "the graph step stays hash-gated. Each planted perturbed copy "
    "with >= 4 shingles must land in its original's 2-cluster "
    "(pinned in tests/test_pipeline_ops.py).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01/0.1 (verify)
)
def minhash_cluster(spark: SparkSession, sf_dir: str) -> DataFrame:
    from eurovision_spark.operators.imp_dedup import cc_edge_list

    edges, n_pairs = verified_near_edges(None, sets=copies_shingle_sets(spark, sf_dir))
    labels = cc_edge_list(
        edges,
        "doc_id_1",
        "doc_id_2",
        materialized=True,
        # consumed exactly once by the window below against immutable
        # parquet inputs: the fixpoint action already materialized the
        # labels in cache, so the extra leaf action buys nothing here
        leaf=False,
        # the verify's candidate count bounds the edge volume: sizes
        # the loop without cc paying its own count action
        n_edges_hint=n_pairs,
    )
    return labels.select(
        F.col("node").cast("bigint").alias("doc_id"),
        F.col("comp").cast("bigint").alias("cluster_id"),
        F.count("*")
        .over(W.partitionBy("comp"))
        .cast("bigint")
        .alias("cluster_size"),
    )


# ---------------------------------------------------------------------------
# Threshold-tuning curve: the jaccard distribution over LSH candidates
# ---------------------------------------------------------------------------

JACC_NBINS = 20  # 0.05-wide jaccard bins over [0, 1]


@register(
    "near_dup_thresholds",
    MINHASH_SIG_SQL
    + f"""
    , pairs AS (
        SELECT DISTINCT a.doc_id AS doc_id_1, b.doc_id AS doc_id_2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id),
    sets AS (
        SELECT doc_id, list_distinct(list_transform({SH_SQL}, s -> {md5_long_sql('s')})) AS sh FROM docs),
    j AS (
        SELECT round(CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
                     / len(list_distinct(list_concat(s1.sh, s2.sh))), 6) AS jac
        FROM pairs p
        JOIN sets s1 ON s1.doc_id = p.doc_id_1
        JOIN sets s2 ON s2.doc_id = p.doc_id_2
        WHERE len(list_distinct(list_concat(s1.sh, s2.sh))) > 0),
    binned AS (
        SELECT CAST(least(floor(jac * {JACC_NBINS}), {JACC_NBINS - 1}) AS BIGINT)
                   AS bin
        FROM j),
    counts AS (SELECT bin, CAST(count(*) AS BIGINT) AS n FROM binned GROUP BY bin),
    grid AS (SELECT unnest(generate_series(0, {JACC_NBINS - 1})) AS bin)
    SELECT CAST(g.bin AS BIGINT) AS bin,
           round(g.bin / {JACC_NBINS}.0, 6) AS bin_lo,
           CAST(coalesce(c.n, 0) AS BIGINT) AS n_pairs,
           CAST(sum(coalesce(c.n, 0)) OVER (
               ORDER BY g.bin DESC ROWS BETWEEN UNBOUNDED PRECEDING
               AND CURRENT ROW) AS BIGINT) AS n_pairs_ge
    FROM grid g LEFT JOIN counts c USING (bin)
    """,
    "the THRESHOLD-TUNING curve for the near-dup family — the other "
    "measure-don't-guess report beside near_dup_eval: the exact-"
    f"jaccard distribution of ALL LSH candidate pairs in {JACC_NBINS} "
    "fixed 0.05 bins, each with the pair count and the cumulative "
    "count at-or-above that bin's lower edge. An operator reads this "
    "BEFORE fixing CLUSTER_JACCARD_T: the cumulative column is "
    "exactly 'how many pairs would a threshold of bin_lo accept', and "
    "a valley between the true-dup mass at the top and the chance-"
    "collision mass at the bottom is where the threshold belongs. "
    "Scale shape: candidates come from the certified banded equi-join "
    "(cost tracks duplicate density), each pair's verify is the same "
    "hash-set intersection the production op pays anyway, and "
    "everything after is a 20-row grid — the descending cumulative "
    "window runs over those 20 rows, never the pairs. Cross-engine: "
    "binning floors the 6dp-ROUNDED jaccard times 20 in both engines "
    "(identical doubles in, identical bins out); counts are exact "
    "integers.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def near_dup_thresholds(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the certified edge-derivation path (verified_near_edges) with the
    # threshold gate off and the jaccard value emitted: inherits the
    # AQE-off bounded-build scope and the ONE edge-leaf checkpoint —
    # the old direct near_edges_plan call paid AQE stage-jobs for the
    # candidate build plus its own second eager checkpoint of the same
    # rows (r10: 15 Spark jobs -> 11 for a warm run, identical output)
    jac = verified_near_edges(
        None,
        sets=copies_shingle_sets(spark, sf_dir),
        threshold=None,
        with_jaccard=True,
    )[0].select("jaccard")
    binned = jac.select(
        F.least(
            F.floor(F.col("jaccard") * JACC_NBINS), F.lit(JACC_NBINS - 1)
        )
        .cast("bigint")
        .alias("bin")
    )
    counts = binned.groupBy("bin").agg(F.count("*").cast("bigint").alias("n"))
    grid = (
        jac.sparkSession.range(JACC_NBINS)
        .select(F.col("id").cast("bigint").alias("bin"))
    )
    g = grid.join(counts, "bin", "left").select(
        "bin", F.coalesce("n", F.lit(0)).cast("bigint").alias("n_pairs")
    )
    w = W.orderBy(F.desc("bin")).rowsBetween(W.unboundedPreceding, W.currentRow)
    return g.select(
        "bin",
        F.round(F.col("bin") / float(JACC_NBINS), 6).alias("bin_lo"),
        "n_pairs",
        F.sum("n_pairs").over(w).cast("bigint").alias("n_pairs_ge"),
    ).select("bin", "bin_lo", "n_pairs", "n_pairs_ge")


# ---------------------------------------------------------------------------
# Source-overlap matrix: WHERE the near-duplication flows between sources
# ---------------------------------------------------------------------------


SOURCE_OVERLAP_ORACLE = VERIFIED_EDGES_CTES_SQL + f"""
    , src AS (SELECT doc_id AS orig_id, source
              FROM documents WHERE n_chars > 0),
    es AS (
        SELECT least(sa.source, sb.source) AS source_1,
               greatest(sa.source, sb.source) AS source_2
        FROM verified v
        JOIN src sa ON sa.orig_id = CASE WHEN v.d1 >= {NEAR_COPY_OFFSET}
                                         THEN v.d1 - {NEAR_COPY_OFFSET}
                                         ELSE v.d1 END
        JOIN src sb ON sb.orig_id = CASE WHEN v.d2 >= {NEAR_COPY_OFFSET}
                                         THEN v.d2 - {NEAR_COPY_OFFSET}
                                         ELSE v.d2 END)
    SELECT source_1, source_2, CAST(count(*) AS BIGINT) AS n_edges
    FROM es GROUP BY source_1, source_2
"""


@register(
    "source_overlap",
    SOURCE_OVERLAP_ORACLE,
    "the inter-source near-duplication FLOW MATRIX — the audit that "
    "tells a mixture owner WHERE the duplicate mass comes from (mirror "
    "sites, re-crawled hosts, licensed re-publication), the question "
    "per-doc dedup decisions can't answer: every verified near-dup "
    "edge (minhash_cluster's exact edge definition, shared via "
    "VERIFIED_EDGES_CTES_SQL — one edge definition per engine) is "
    "mapped to its endpoints' sources (planted copies inherit their "
    "original's) and counted per unordered source pair. A heavy "
    "off-diagonal cell means two sources substantially mirror each "
    "other — dedup ONE of them, or drop the lower-quality twin from "
    "the mixture; the diagonal is within-source boilerplate. Scale "
    "shape: the edge list is the certified LSH+verify plan (id pairs "
    "only); the source map join is two edges-driven id-keyed "
    "equi-joins of narrow (id, source) rows, and the output is a "
    "bounded #sources^2/2 grid — document text never moves.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges, _ = verified_near_edges(None, sets=copies_shingle_sets(spark, sf_dir))
    src = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)

    def orig(c: str) -> Column:
        return F.when(
            F.col(c) >= NEAR_COPY_OFFSET, F.col(c) - NEAR_COPY_OFFSET
        ).otherwise(F.col(c))

    e = edges.select(orig("doc_id_1").alias("o1"), orig("doc_id_2").alias("o2"))
    j = e.join(
        src.select(F.col("doc_id").alias("o1"), F.col("source").alias("s1")), "o1"
    ).join(
        src.select(F.col("doc_id").alias("o2"), F.col("source").alias("s2")), "o2"
    )
    return (
        j.select(
            F.least("s1", "s2").alias("source_1"),
            F.greatest("s1", "s2").alias("source_2"),
        )
        .groupBy("source_1", "source_2")
        .agg(F.count("*").cast("bigint").alias("n_edges"))
    )


# ---------------------------------------------------------------------------
# Incremental dedup: new arrivals vs the already-landed corpus
# ---------------------------------------------------------------------------

# deterministic md5-bucket split: ~1/5 of docs play the "incoming
# batch", the rest the landed corpus; planted copies of landed docs are
# added to the batch so both dup paths genuinely fire.
_INC_SEL = "concat('inc-', CAST(doc_id AS VARCHAR))"
_NEAR_SEL = "concat('plant-near-', CAST(doc_id AS VARCHAR))"
_EXACT_SEL = "concat('plant-ex-', CAST(doc_id AS VARCHAR))"

INCREMENTAL_DEDUP_ORACLE = f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE n_chars > 0),
    inc0 AS (SELECT doc_id, text FROM base
             WHERE {md5_long_sql(_INC_SEL)} % 5 = 0),
    ex AS (SELECT doc_id, text FROM base
           WHERE {md5_long_sql(_INC_SEL)} % 5 <> 0),
    inc AS (
        SELECT doc_id, text FROM inc0
        UNION ALL
        SELECT doc_id + {NEAR_COPY_OFFSET} AS doc_id,
               text || ' perturbed' AS text
        FROM ex WHERE {md5_long_sql(_NEAR_SEL)} % 7 = 0
        UNION ALL
        SELECT doc_id + {EXACT_COPY_OFFSET} AS doc_id, text
        FROM ex WHERE {md5_long_sql(_EXACT_SEL)} % 11 = 0),
    allu AS (SELECT 'inc' AS side, doc_id, text FROM inc
             UNION ALL SELECT 'ex' AS side, doc_id, text FROM ex),
    sh AS (SELECT DISTINCT side, doc_id, unnest({SH_SQL}) AS shingle
           FROM allu),
    hashed AS (SELECT side, doc_id, {md5_long_sql('shingle')} % {P31} AS h
               FROM sh),
    sig AS (
        SELECT side, doc_id, perm,
               min(((2*perm+1)*h + 17*perm+1) % {P31}) AS minhash
        FROM hashed
        CROSS JOIN (SELECT unnest(generate_series(0, {N_PERM - 1})) AS perm)
        GROUP BY side, doc_id, perm),
    bands AS (
        SELECT side, doc_id, perm // {N_PERM // N_BANDS} AS band_id,
               md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm))
                   AS band_sig
        FROM sig GROUP BY side, doc_id, perm // {N_PERM // N_BANDS}),
    cand AS (
        SELECT DISTINCT i.doc_id AS inc_id, e.doc_id AS ex_id
        FROM bands i JOIN bands e
          ON i.band_id = e.band_id AND i.band_sig = e.band_sig
        WHERE i.side = 'inc' AND e.side = 'ex'),
    sets AS (SELECT side, doc_id, list_distinct({SH_SQL}) AS sh FROM allu),
    near AS (
        SELECT inc_id, min(ex_id) AS near_id
        FROM cand
        JOIN sets si ON si.side = 'inc' AND si.doc_id = cand.inc_id
        JOIN sets se ON se.side = 'ex' AND se.doc_id = cand.ex_id
        WHERE len(list_distinct(list_concat(si.sh, se.sh))) > 0
          AND CAST(len(list_intersect(si.sh, se.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(si.sh, se.sh)))
              >= {CLUSTER_JACCARD_T}
        GROUP BY inc_id),
    exact AS (
        SELECT i.doc_id AS inc_id, min(e.doc_id) AS exact_id
        FROM inc i JOIN ex e ON md5(i.text) = md5(e.text)
        GROUP BY i.doc_id)
    SELECT i.doc_id,
           CASE WHEN x.exact_id IS NOT NULL THEN 'exact_dup'
                WHEN n.near_id IS NOT NULL THEN 'near_dup'
                ELSE 'new' END AS decision,
           CAST(coalesce(x.exact_id, n.near_id) AS BIGINT) AS matched_id
    FROM inc i
    LEFT JOIN exact x ON x.inc_id = i.doc_id
    LEFT JOIN near n ON n.inc_id = i.doc_id
"""


@register(
    "incremental_dedup",
    INCREMENTAL_DEDUP_ORACLE,
    "INCREMENTAL dedup — the production shape where new arrivals check "
    "against the already-landed corpus instead of re-deduping the "
    "world: an md5-bucket split plays ~20% of documents as the "
    "incoming batch (plus planted exact and perturbed copies of landed "
    "docs so both paths fire), then each incoming doc is decided "
    "'exact_dup' (content-digest match, the cheap first gate), "
    "'near_dup' (arriving band signatures equi-join the landed "
    "signature index — at scale a persisted parquet store, here "
    "derived — verified by exact Jaccard), or 'new'. matched_id = min "
    "matching landed id, exact beats near. Cost per batch is "
    "O(batch x bands) probe work against an index keyed exactly like "
    "the batch — never a corpus rescan; the streaming twin "
    "(streaming/ingest.stream_incremental_dedup) persists the index "
    "and landed store across micro-batches.",
)
def incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", "text")
    )
    inc_key = md5_long(F.concat(F.lit("inc-"), F.col("doc_id").cast("string"))) % 5
    inc0 = base.filter(inc_key == 0)
    ex = base.filter(inc_key != 0)
    near_plant = ex.filter(
        md5_long(F.concat(F.lit("plant-near-"), F.col("doc_id").cast("string"))) % 7
        == 0
    ).select(
        (F.col("doc_id") + NEAR_COPY_OFFSET).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" perturbed")).alias("text"),
    )
    exact_plant = ex.filter(
        md5_long(F.concat(F.lit("plant-ex-"), F.col("doc_id").cast("string"))) % 11
        == 0
    ).select((F.col("doc_id") + EXACT_COPY_OFFSET).alias("doc_id"), "text")
    inc = inc0.unionByName(near_plant).unionByName(exact_plant)
    decisions = incremental_dedup_decisions(inc, ex)
    return decisions


def doc_index(docs: DataFrame) -> DataFrame:
    """(doc_id, _d, sh) — the per-document probe index a landed store
    persists: content digest (the exact gate's key) and the distinct
    word-3-gram shingle set (the verify side of the near gate). At
    100 TB this is a parquet table updated per intake batch, so the
    probe work per batch tracks BATCH size — the landed corpus is
    never re-tokenized."""
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(par)
        .select(
            "doc_id",
            F.md5("text").alias("_d"),
            tokens(F.lower(F.col("text"))).alias("_toks"),
        )
        .select(
            "doc_id", "_d", F.array_distinct(shingles(F.col("_toks"))).alias("sh")
        )
    )


def index_signatures(idx: DataFrame) -> DataFrame:
    """(doc_id, minhashes) derived from a :func:`doc_index` frame's
    DISTINCT shingle sets instead of a second tokenize+shingle pass
    over the text (r10, guide §2.4): min over a set equals min over
    the multiset, so the signatures equal a fold over each document's
    full shingle list. The size >= 1 filter is exactly a
    ``size(tokens) >= 3`` gate (a doc has >= 1 word-3-gram iff it has
    >= 3 tokens) — without it, every
    shingle-less doc would share the degenerate all-P31 signature and
    band into one mega-bucket."""
    return idx.filter(F.size("sh") >= 1).select(
        "doc_id", minhash_from_shingles(F.col("sh")).alias("minhashes")
    )


def incremental_probe(
    inc_idx: DataFrame,
    inc_bands: DataFrame,
    ex_idx: DataFrame,
    ex_bands: DataFrame,
) -> tuple[DataFrame, DataFrame]:
    """Probe a landed index with an incoming batch: returns
    ``(exact, near_pairs)`` where ``exact`` is (doc_id, exact_id = min
    digest-matching landed id) and ``near_pairs`` is EVERY verified
    near-dup (inc_id, ex_id) pair — callers aggregate min for the
    decision and keep the full pair set for cluster maintenance.

    Both sides arrive as prebuilt index frames (:func:`doc_index` +
    :func:`banded_signatures` shapes), so the landed side can be a
    PERSISTED store probed on equi-keys — never re-derived from text.
    """
    exact = (
        inc_idx.select("doc_id", "_d")
        .join(ex_idx.select(F.col("doc_id").alias("ex_id"), "_d"), "_d")
        .groupBy("doc_id")
        .agg(F.min("ex_id").alias("exact_id"))
    )
    cand = (
        inc_bands.select(F.col("doc_id").alias("inc_id"), "band_id", "band_sig")
        .join(
            ex_bands.select(F.col("doc_id").alias("ex_id"), "band_id", "band_sig"),
            ["band_id", "band_sig"],
        )
        .select("inc_id", "ex_id")
        .distinct()
    )
    si = inc_idx.select(F.col("doc_id").alias("inc_id"), F.col("sh").alias("sh_inc_id"))
    se = ex_idx.select(F.col("doc_id").alias("ex_id"), F.col("sh").alias("sh_ex_id"))
    # doc_index emits DISTINCT sets, so |union| = n1 + n2 - |intersect|
    # (one hash-set build per candidate instead of two; same values)
    isect = F.size(F.array_intersect("sh_inc_id", "sh_ex_id"))
    union_size = F.size("sh_inc_id") + F.size("sh_ex_id") - isect
    jac = isect.cast("double") / union_size
    # density-adaptive like the batch LSH tier — the count valve is
    # NOT skippable here: candidate volume is batch x matching STORE
    # bucket sizes (a hot landed band bucket makes it unbounded even
    # for a tiny batch), and refresh_corpus additionally routes whole
    # recrawl DELTAS through this probe. The valve costs one fused
    # checkpoint+count job per call (adaptive_verify_join).
    joined, _ = adaptive_verify_join(si, cand, se, k1="inc_id", k2="ex_id")
    near_pairs = joined.filter(
        (union_size > 0) & (jac >= CLUSTER_JACCARD_T)
    ).select("inc_id", "ex_id")
    return exact, near_pairs


def assemble_decisions(
    inc: DataFrame, exact: DataFrame, near_pairs: DataFrame
) -> DataFrame:
    """(doc_id, decision, matched_id): exact beats near, matched_id =
    min matching landed id, everything else 'new'."""
    near = near_pairs.groupBy("inc_id").agg(F.min("ex_id").alias("near_id"))
    return (
        inc.select("doc_id")
        .join(exact, "doc_id", "left")
        .join(near.withColumnRenamed("inc_id", "doc_id"), "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_id").isNotNull(), F.lit("exact_dup"))
            .when(F.col("near_id").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("new"))
            .alias("decision"),
            F.coalesce("exact_id", "near_id").cast("bigint").alias("matched_id"),
        )
    )


def incremental_dedup_decisions(inc: DataFrame, ex: DataFrame) -> DataFrame:
    """(doc_id, decision, matched_id) for every (doc_id, text) row of
    ``inc`` checked against the landed corpus ``ex`` — the shared core
    of the batch catalog query and the streaming micro-batch step.

    exact gate: content-digest equi-join (digests only shuffle);
    near gate: banded minhash signatures of the batch equi-join the
    corpus signature index, candidates verified by exact word-3-gram
    Jaccard >= CLUSTER_JACCARD_T. Here both indexes are derived in the
    plan (the batch catalog query's one-shot shape); the streaming twin
    derives the BATCH side only and probes its persisted landed index.
    """
    # ONE tokenize/shingle pass per side (r10): each side's index frame
    # — the shape a landed store persists — checkpoints once, and the
    # band signatures derive from its distinct shingle sets
    # (index_signatures) instead of re-tokenizing the text. The old
    # form ran tokenize+shingle TWICE per side (doc_index AND the
    # signature fold).
    inc_idx = doc_index(inc).localCheckpoint(eager=False)
    ex_idx = doc_index(ex).localCheckpoint(eager=False)
    exact, near_pairs = incremental_probe(
        inc_idx,
        banded_signatures(index_signatures(inc_idx)),
        ex_idx,
        banded_signatures(index_signatures(ex_idx)),
    )
    return assemble_decisions(inc, exact, near_pairs)


# ---------------------------------------------------------------------------
# Composed dedup pass: exact collapse -> near-dup clustering, one decision
# ---------------------------------------------------------------------------


def minhash_chain_sql(src: str, p: str) -> str:
    """The sh -> hashed -> sig -> bands CTE chain over a (doc_id, text)
    CTE named ``src``, every CTE name prefixed ``p`` — the parameterized
    form of MINHASH_SIG_SQL's fixed chain, for oracles that band a
    derived document set (dedup_pipeline's exact-canonical survivors)."""
    return f"""
    {p}sh AS (SELECT DISTINCT doc_id, unnest({SH_SQL}) AS shingle FROM {src}),
    {p}hashed AS (SELECT doc_id, {md5_long_sql('shingle')} % {P31} AS h
                  FROM {p}sh),
    {p}sig AS (
        SELECT doc_id, perm,
               min(((2*perm+1)*h + 17*perm+1) % {P31}) AS minhash
        FROM {p}hashed
        CROSS JOIN (SELECT unnest(generate_series(0, {N_PERM - 1})) AS perm)
        GROUP BY doc_id, perm),
    {p}bands AS (
        SELECT doc_id, perm // {N_PERM // N_BANDS} AS band_id,
               md5(string_agg(CAST(minhash AS VARCHAR), ',' ORDER BY perm))
                   AS band_sig
        FROM {p}sig GROUP BY doc_id, perm // {N_PERM // N_BANDS})"""


# the full dedup-pass CTE chain (3-way planted corpus -> digest
# collapse -> LSH+verify over exact survivors -> recursive CC labels),
# split from the final decision SELECT so composed oracles
# (corpus_build, operators/pipeline.py) can extend the SAME chain —
# one dedup definition per engine, the CLUSTER_CTES_SQL discipline
DEDUP_PIPELINE_CTES = f"""
    WITH RECURSIVE base AS (
        SELECT doc_id, text FROM documents WHERE n_chars > 0),
    docs AS (
        SELECT doc_id, text FROM base
        UNION ALL
        SELECT doc_id + {NEAR_COPY_OFFSET} AS doc_id,
               text || ' perturbed' AS text FROM base
        UNION ALL
        SELECT doc_id + {EXACT_COPY_OFFSET} AS doc_id, text FROM base),
    dig AS (SELECT doc_id, md5(text) AS d FROM docs),
    canon AS (SELECT d, min(doc_id) AS c FROM dig GROUP BY d),
    mapc AS (SELECT dig.doc_id, canon.c FROM dig JOIN canon USING (d)),
    surv AS (SELECT docs.doc_id, docs.text FROM docs
             JOIN canon ON canon.c = docs.doc_id),
    {minhash_chain_sql('surv', 's_')},
    cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM s_bands a JOIN s_bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id),
    sets AS (SELECT doc_id, list_distinct(list_transform({SH_SQL}, s -> {md5_long_sql('s')})) AS sh FROM surv),
    verified AS (
        SELECT d1, d2
        FROM cand
        JOIN sets s1 ON s1.doc_id = cand.d1
        JOIN sets s2 ON s2.doc_id = cand.d2
        WHERE len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
          AND CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
              / len(list_distinct(list_concat(s1.sh, s2.sh)))
              >= {CLUSTER_JACCARD_T}),
    edges AS (SELECT d1 AS src, d2 AS dst FROM verified
              UNION SELECT d2 AS src, d1 AS dst FROM verified),
    lbl AS (
        SELECT src AS node, src AS comp FROM edges
        UNION
        SELECT e.dst, l.comp
        FROM lbl l JOIN edges e ON e.src = l.node
        WHERE l.comp < e.dst),
    lab AS (SELECT node AS doc_id, min(comp) AS cluster_id
            FROM lbl GROUP BY node)
"""

# the decision projection over the chain — also spliced as a CTE body
# by the corpus_build oracle
DEDUP_DECISION_SELECT = """
    SELECT m.doc_id,
           CASE WHEN m.doc_id <> m.c THEN 'exact_dup'
                WHEN l.cluster_id IS NOT NULL AND l.cluster_id <> m.doc_id
                     THEN 'near_dup'
                ELSE 'kept' END AS decision,
           CAST(CASE WHEN m.doc_id <> m.c THEN coalesce(lc.cluster_id, m.c)
                     ELSE coalesce(l.cluster_id, m.doc_id) END AS BIGINT)
               AS survivor_id
    FROM mapc m
    LEFT JOIN lab l ON l.doc_id = m.doc_id
    LEFT JOIN lab lc ON lc.doc_id = m.c
"""

DEDUP_PIPELINE_ORACLE = DEDUP_PIPELINE_CTES + DEDUP_DECISION_SELECT


@register(
    "dedup_pipeline",
    DEDUP_PIPELINE_ORACLE,
    "the COMPOSED corpus dedup pass — one operator, one decision per "
    "document with full provenance: (1) exact collapse on the content "
    "digest (byte-identical planted copies fold onto their originals; "
    "only digests shuffle), (2) near-dup clustering of the exact-"
    "canonical survivors (shared verified-LSH-edge generator + "
    "min-label connected components — minhash_cluster's machinery on "
    "the collapsed set, so near verification never re-scores exact "
    "copies), (3) survivor remapping: an exact_dup follows its "
    "canonical INTO that doc's near cluster, so every dropped doc "
    "points at the one doc that actually survives the whole pass — "
    "decision in {{kept, exact_dup, near_dup}}, survivor_id = self for "
    "kept. This is the one-call corpus dedup a pipeline user runs; the "
    "stages are the already-certified tier ops composed with their "
    "costs intact (digest groupBy + banded equi-join + id-only CC "
    "rounds; the full text never shuffles anywhere).",
)
def dedup_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    decisions, _ = dedup_decision_frames(spark, sf_dir)
    return decisions


def dedup_decision_frames(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """(decisions, kept_docs) — dedup_pipeline's machinery split out so
    corpus_build (operators/pipeline.py) can run the downstream tiers
    on the SAME pass: ``decisions`` is the registered (doc_id,
    decision, survivor_id) frame, ``kept_docs`` the (doc_id, text) of
    the docs whose decision is 'kept' (exact canonicals that are their
    own near-cluster representative) — both reading the one persisted
    digest-collapse stage and the one checkpointed CC-label frame, so
    the composition cannot diverge from the standalone op (its oracle
    twin is DEDUP_PIPELINE_CTES + DEDUP_DECISION_SELECT)."""
    from eurovision_spark.operators.imp_dedup import cc_edge_list

    base = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", "text")
    )
    docs = (
        base.unionByName(
            base.select(
                (F.col("doc_id") + NEAR_COPY_OFFSET).alias("doc_id"),
                F.concat(F.col("text"), F.lit(" perturbed")).alias("text"),
            )
        )
        .unionByName(
            base.select(
                (F.col("doc_id") + EXACT_COPY_OFFSET).alias("doc_id"), "text"
            )
        )
    )
    # digest collapse, computed ONCE and cached: the survivor set feeds
    # the LSH stage and the (doc_id, c) map feeds the final assembly —
    # without the persist the md5 collapse re-runs per consumer. At
    # 100 TB a real pipeline materializes this stage boundary to parquet
    # (the digest collapse is a natural checkpoint); the persist is the
    # single-pass stand-in. The canonical id is a min-over-window on
    # the digest (r10, guide §2.4/§8): the old groupBy+join form ran
    # the scan AND the per-doc md5 TWICE (once into the narrow canon
    # aggregate, once into the join's streamed side) — the window
    # computes identical values (min doc_id per digest group) from ONE
    # scan and one md5 pass, trading the join for a single digest-keyed
    # exchange of rows that must land in the cache anyway (measured
    # sf0.1 interleaved A/B on the full decision pass: 4.36s -> 4.16s).
    mapc = (
        docs.select("doc_id", "text", F.md5("text").alias("_d"))
        .select(
            "doc_id",
            "text",
            F.min("doc_id").over(W.partitionBy("_d")).alias("c"),
        )
        .persist()
    )
    surv = mapc.filter(F.col("doc_id") == F.col("c")).select("doc_id", "text")
    ne, n_pairs = verified_near_edges(surv)
    labels = cc_edge_list(
        ne, "doc_id_1", "doc_id_2", materialized=True, n_edges_hint=n_pairs
    )
    # ONE labels lookup keyed on the canonical id (r11, guide §2.4 —
    # VERDICT r10 item #2): the old assembly joined the CC labels twice
    # (lab on doc_id, lab_c on c) and kept_docs paid a third. But CC
    # nodes come from edges over `surv`, where doc_id == c by
    # construction, so lab[doc_id] is NULL on every exact_dup row and
    # equals lab[c] on every surviving row — both outputs depend on
    # lab[c] alone:
    #   survivor_id = coalesce(lab[c], c)                  (all rows)
    #   decision    = exact_dup  when doc_id != c
    #                 near_dup   when lab[c] not null and lab[c] != doc_id
    #                 kept       otherwise
    # and kept = surviving rows whose lab[c] is null-or-self. One
    # bounded-labels join shared by decisions AND kept_docs instead of
    # three label joins across the two consumers; equivalence is pinned
    # doc-for-doc against the two-join form in tests/test_pipeline_ops
    # and by the unchanged dedup_pipeline/corpus_build oracle hashes.
    lab_c = labels.select(F.col("node").alias("c"), F.col("comp").alias("c_cluster"))
    j = mapc.join(lab_c, "c", "left")
    decisions = j.select(
        "doc_id",
        F.when(F.col("doc_id") != F.col("c"), F.lit("exact_dup"))
        .when(
            F.col("c_cluster").isNotNull() & (F.col("c_cluster") != F.col("doc_id")),
            F.lit("near_dup"),
        )
        .otherwise(F.lit("kept"))
        .alias("decision"),
        F.coalesce("c_cluster", F.col("c")).cast("bigint").alias("survivor_id"),
    )
    kept_docs = j.filter(
        (F.col("doc_id") == F.col("c"))
        & (F.col("c_cluster").isNull() | (F.col("c_cluster") == F.col("doc_id")))
    ).select("doc_id", "text")
    return decisions, kept_docs


# ---------------------------------------------------------------------------
# LSH quality evaluation: measure banding recall/precision, don't guess
# ---------------------------------------------------------------------------


@register(
    "near_dup_eval",
    MINHASH_SIG_SQL
    + f"""
    , cand AS (
        SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
        FROM bands a JOIN bands b
          ON a.band_id = b.band_id AND a.band_sig = b.band_sig
             AND a.doc_id < b.doc_id),
    sets AS (SELECT doc_id, list_distinct({SH_SQL}) AS sh FROM docs),
    scored AS (
        SELECT d1, d2,
               CASE WHEN d2 = d1 + {NEAR_COPY_OFFSET} THEN 1 ELSE 0 END
                   AS is_planted,
               CASE WHEN len(list_distinct(list_concat(s1.sh, s2.sh))) > 0
                         AND CAST(len(list_intersect(s1.sh, s2.sh)) AS DOUBLE)
                             / len(list_distinct(list_concat(s1.sh, s2.sh)))
                             >= {CLUSTER_JACCARD_T}
                    THEN 1 ELSE 0 END AS is_verified
        FROM cand
        JOIN sets s1 ON s1.doc_id = cand.d1
        JOIN sets s2 ON s2.doc_id = cand.d2),
    pair_stats AS (
        SELECT CAST(count(*) AS BIGINT) AS n_candidates,
               CAST(sum(is_planted) AS BIGINT) AS n_planted_found,
               CAST(sum(is_verified) AS BIGINT) AS n_verified
        FROM scored),
    eligible AS (
        SELECT CAST(count(*) AS BIGINT) AS n_eligible
        FROM documents
        WHERE n_chars > 0
          AND len({TOKS_SQL}) >= 3)
    SELECT n_eligible, n_candidates, n_planted_found, n_verified,
           round(CAST(n_planted_found AS DOUBLE) / n_eligible, 6)
               AS recall_planted,
           round(CAST(n_verified AS DOUBLE) / n_candidates, 6)
               AS precision_verified
    FROM pair_stats CROSS JOIN eligible
    """,
    "LSH banding quality report — 'measure, don't guess' for the b x r "
    "choice: over the planted-copy corpus, how many of the eligible "
    "true near-dup pairs the 4x4 banding actually surfaces (recall vs "
    "the planted ground truth) and what fraction of surfaced "
    "candidates survive exact-Jaccard verification (precision — wasted "
    "verification work when low). One aggregate row from one pass over "
    "the candidate set; the per-pair scoring joins are the same "
    "broadcast-candidates shape as verification itself. This is the "
    "eval a production pipeline runs when tuning bands/rows per band "
    "or the verify threshold; the pytest gate pins recall >= 0.95 "
    "(tests/test_pipeline_ops.py, same bar the operators are held to).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01/0.1 (verify)
)
def near_dup_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    # one tokenize pass: the candidates' signatures fold the same
    # distinct shingle sets the verify joins read
    sets = doc_index(docs_with_copies(spark, sf_dir)).select("doc_id", "sh")
    pairs = _lsh_candidate_pairs(index_signatures(sets))
    s1 = sets.select(F.col("doc_id").alias("doc_id_1"), F.col("sh").alias("sh1"))
    s2 = sets.select(F.col("doc_id").alias("doc_id_2"), F.col("sh").alias("sh2"))
    union_size = F.size(F.array_distinct(F.concat("sh1", "sh2")))
    jac = F.size(F.array_intersect("sh1", "sh2")).cast("double") / union_size
    scored = (
        s1.join(F.broadcast(pairs), "doc_id_1")
        .join(s2.hint("shuffle_hash"), "doc_id_2")
        .select(
            F.when(
                F.col("doc_id_2") == F.col("doc_id_1") + NEAR_COPY_OFFSET, 1
            )
            .otherwise(0)
            .alias("is_planted"),
            F.when((union_size > 0) & (jac >= CLUSTER_JACCARD_T), 1)
            .otherwise(0)
            .alias("is_verified"),
        )
    )
    pair_stats = scored.agg(
        F.count("*").cast("bigint").alias("n_candidates"),
        F.sum("is_planted").cast("bigint").alias("n_planted_found"),
        F.sum("is_verified").cast("bigint").alias("n_verified"),
    )
    eligible = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("n_chars") > 0)
        .filter(F.size(tokens(F.lower(F.col("text")))) >= 3)
        .agg(F.count("*").cast("bigint").alias("n_eligible"))
    )
    return pair_stats.crossJoin(eligible).select(
        "n_eligible",
        "n_candidates",
        "n_planted_found",
        "n_verified",
        F.round(
            F.col("n_planted_found").cast("double") / F.col("n_eligible"), 6
        ).alias("recall_planted"),
        F.round(
            F.col("n_verified").cast("double") / F.col("n_candidates"), 6
        ).alias("precision_verified"),
    )


# ---------------------------------------------------------------------------
# Exact-substring dedup at word-k-gram granularity (Lee et al. 2022,
# "Deduplicating Training Data Makes Language Models Better": their
# EXACTSUBSTR method finds byte spans shared verbatim across documents;
# here the unit is a word k-gram, the granularity that composes with the
# whitespace tokenizer the rest of the text tier uses)
# ---------------------------------------------------------------------------

SUB_K = 8  # span unit: 8 consecutive tokens shared verbatim
SUB_PLANT_MOD = 7  # doc_id % 7 == 0 sources get a planted chimera
SUB_SPAN_START = 6  # 1-based token where the copied span starts ...
SUB_SPAN = 16  # ... and its length (>= SUB_K so it must be found)
CHIMERA_OFFSET = 3 * 10**15  # planted chimera ids (near=1e15, exact=2e15)
SUB_DROP_FRAC = 0.8
SUB_TRIM_FRAC = 0.2

# chimera docs: a 16-token verbatim span lifted from every 7th document,
# wrapped in tokens unique to the chimera — so source and chimera share
# EXACTLY the span's k-grams and nothing else, exercising the partial-
# coverage path (not just all-or-nothing duplication)
_SUB_TOKS = "string_split_regex(trim(text), '\\s+')"
DOCS_WITH_CHIMERAS_SQL = f"""
    SELECT doc_id, text FROM documents WHERE n_chars > 0
    UNION ALL
    SELECT doc_id + {CHIMERA_OFFSET} AS doc_id,
           concat('pre-', CAST(doc_id AS VARCHAR), ' ',
                  array_to_string({_SUB_TOKS}[{SUB_SPAN_START}:{SUB_SPAN_START + SUB_SPAN - 1}], ' '),
                  ' post-', CAST(doc_id AS VARCHAR)) AS text
    FROM documents
    WHERE n_chars > 0 AND doc_id % {SUB_PLANT_MOD} = 0
      AND len({_SUB_TOKS}) >= {SUB_SPAN_START + SUB_SPAN - 1}
"""


@register(
    "substring_dedup",
    f"""
    WITH docs AS ({DOCS_WITH_CHIMERAS_SQL}),
    t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
          FROM docs),
    g AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
               list_transform(
                   generate_series(1, len(toks) - {SUB_K} + 1),
                   i -> {md5_long_sql(f"array_to_string(toks[i:i+{SUB_K}-1], ' ')")})
                   AS ghs
        FROM t),
    pos AS (
        SELECT doc_id,
               unnest(generate_series(1, len(ghs))) AS pos,
               unnest(ghs) AS gh
        FROM g),
    shared AS (
        SELECT gh FROM pos GROUP BY gh
        HAVING count(DISTINCT doc_id) >= 2),
    hits AS (SELECT p.doc_id, p.pos FROM pos p JOIN shared s USING (gh)),
    cover AS (
        SELECT doc_id,
               CAST(count(DISTINCT pos) AS BIGINT) AS shared_grams,
               CAST(count(DISTINCT cp) AS BIGINT) AS covered
        FROM (SELECT doc_id, pos,
                     unnest(generate_series(pos, pos + {SUB_K} - 1)) AS cp
              FROM hits)
        GROUP BY doc_id)
    SELECT g.doc_id, g.n_tokens,
           CAST(coalesce(c.shared_grams, 0) AS BIGINT) AS shared_grams,
           round(CAST(coalesce(c.covered, 0) AS DOUBLE) / g.n_tokens, 4)
               AS dup_frac,
           CASE WHEN coalesce(c.covered, 0) >= {SUB_DROP_FRAC} * g.n_tokens
                THEN 'drop'
                WHEN coalesce(c.covered, 0) >= {SUB_TRIM_FRAC} * g.n_tokens
                THEN 'trim'
                ELSE 'keep' END AS action
    FROM g LEFT JOIN cover c ON c.doc_id = g.doc_id
    """,
    f"exact-substring dedup (Lee et al. 2022 EXACTSUBSTR, word-{SUB_K}-"
    "gram granularity): a k-gram is SHARED when it occurs verbatim in "
    ">= 2 distinct docs; each doc reports how many of its gram positions "
    "are shared and the fraction of its token positions covered by the "
    "union of shared spans (overlapping spans merged by counting "
    "DISTINCT covered positions), then a keep/trim/drop decision. "
    "Scale shape: docs explode to (doc_id, pos, 60-bit gram hash) rows — "
    "8-byte keys, never gram text — one groupBy on the hash finds shared "
    "grams, hits join back id-to-id, coverage is a per-doc distinct-"
    "count; every shuffle moves ids+hashes only, so the operator is "
    "linear in corpus token count at any scale. Planted chimeras (a 16-"
    "token span lifted from every 7th doc into an otherwise-unique doc) "
    "pin the partial-coverage path: the source flags exactly the span "
    "(~0.3 coverage -> 'trim') while the chimera — mostly copied text "
    "by construction — crosses the 0.8 line into 'drop'; untouched "
    "word-soup docs stay 'keep' (tests/test_pipeline_ops.py).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    toks = tokens(F.col("text"))
    span = F.concat_ws(" ", F.slice(toks, SUB_SPAN_START, SUB_SPAN))
    chimeras = (
        d.filter(
            (F.col("doc_id") % SUB_PLANT_MOD == 0)
            & (F.size(toks) >= SUB_SPAN_START + SUB_SPAN - 1)
        )
        .select(
            (F.col("doc_id") + CHIMERA_OFFSET).alias("doc_id"),
            F.concat(
                F.lit("pre-"), F.col("doc_id").cast("string"), F.lit(" "),
                span,
                F.lit(" post-"), F.col("doc_id").cast("string"),
            ).alias("text"),
        )
    )
    docs = (
        d.select("doc_id", "text")
        .unionByName(chimeras)
        # the sf-scale corpus arrives as one small parquet split; gram
        # hashing is the op's CPU (md5 per position), so spread it over
        # the executors before any of the three consumers branch off
        # (measured 5x at sf0.1: the whole op was single-task without it)
        .repartition(spark.sparkContext.defaultParallelism)
    )
    # same staging as contamination_check (the fast path): project the
    # token array once, explode the gram STRINGS, then hash the flat
    # exploded column — md5 runs exactly once per (doc, pos) row inside
    # whole-stage codegen. (Two rejected shapes, both measured at sf0.1:
    # md5 inside the transform lambda re-evaluates the upstream split
    # per element reference after projection collapse — 37s; and
    # F.slice(toks, i, k) with a Column start knocks the projection out
    # of codegen entirely — 8s. This shape: ~2s.)
    grams = F.when(
        F.size(F.col("_toks")) >= SUB_K,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("_toks")) - SUB_K + 1),
            lambda i: F.concat_ws(
                " ", *[F.element_at(F.col("_toks"), i + j) for j in range(SUB_K)]
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    toked = docs.select("doc_id", tokens(F.col("text")).alias("_toks"))
    meta = toked.select(
        "doc_id", F.size(F.col("_toks")).cast("bigint").alias("n_tokens")
    ).localCheckpoint(eager=False)  # lazy (r10): the final join materializes
    # materialize the exploded (doc_id, pos, gh) frame ONCE: three
    # consumers read it (shared-gram agg, hits probe, coverage) and
    # would otherwise each re-run the gram hashing — the op's entire
    # CPU. localCheckpoint stores AND truncates: ids + 8-byte hashes
    # only, tiny at any corpus size relative to the text it summarizes
    # (same discipline as minhash_lsh's pair frame).
    pos = (
        toked.select("doc_id", F.posexplode(grams).alias("pos0", "g"))
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), md5_long(F.col("g")).alias("gh"))
        # lazy (r10): the shared-gram aggregate's job materializes it;
        # both the probe and coverage legs then read the stored leaf
        .localCheckpoint(eager=False)
    )
    # shared grams: 8-byte hash keys only through the shuffle
    shared = (
        pos.groupBy("gh")
        .agg(F.count_distinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("gh")
    )
    hits = pos.join(shared, "gh").select("doc_id", "pos")
    cover = (
        hits.select(
            "doc_id",
            "pos",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + SUB_K - 1)).alias("cp"),
        )
        .groupBy("doc_id")
        .agg(
            F.count_distinct("pos").cast("bigint").alias("shared_grams"),
            F.count_distinct("cp").cast("bigint").alias("covered"),
        )
    )
    covered = F.coalesce(F.col("covered"), F.lit(0))
    return (
        meta
        .join(cover, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.coalesce(F.col("shared_grams"), F.lit(0)).cast("bigint").alias(
                "shared_grams"
            ),
            F.round(covered.cast("double") / F.col("n_tokens"), 4).alias("dup_frac"),
            F.when(covered >= SUB_DROP_FRAC * F.col("n_tokens"), "drop")
            .when(covered >= SUB_TRIM_FRAC * F.col("n_tokens"), "trim")
            .otherwise("keep")
            .alias("action"),
        )
    )


# ---------------------------------------------------------------------------
# Duplicated-block REMOVAL (the rewrite step substring_dedup stops short
# of): C4 (Raffel et al. 2020) removes repeated three-sentence spans and
# RefinedWeb/Dolma run exact line-dedup — the corpus keeps ONE copy of a
# repeated block and every other occurrence is cut out of the text.  The
# block unit here is a fixed window of BLK_W consecutive tokens (the
# corpus has no newlines, so the word-block is the line surrogate), which
# keeps occurrences alignment-comparable without overlapping-gram span
# merging.
# ---------------------------------------------------------------------------

BLK_W = 8  # block unit: 8 consecutive tokens (last block of a doc may be short)
SPAN_PLANT_MOD = 5  # doc_id % 5 == 0 sources get a planted block-copy doc
SPAN_COPY_OFFSET = 4 * 10**15  # planted ids (1e15 near, 2e15 exact, 3e15 chimera)

_SPAN_TOKS = "string_split_regex(trim(text), '\\s+')"


@register(
    "span_dedup",
    f"""
    WITH base AS (SELECT doc_id, text FROM documents WHERE n_chars > 0),
    plants AS (
        SELECT doc_id + {SPAN_COPY_OFFSET} AS doc_id,
               concat(array_to_string({_SPAN_TOKS}[1:{3 * BLK_W}], ' '),
                      ' post-', CAST(doc_id AS VARCHAR),
                      ' tail-', CAST(doc_id AS VARCHAR),
                      ' end-', CAST(doc_id AS VARCHAR)) AS text
        FROM documents
        WHERE n_chars > 0 AND doc_id % {SPAN_PLANT_MOD} = 0
          AND len({_SPAN_TOKS}) >= {3 * BLK_W}),
    docs AS (SELECT * FROM base UNION ALL SELECT * FROM plants),
    t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks
          FROM docs),
    b AS (
        SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
               list_transform(
                   generate_series(0, CAST(ceil(len(toks) / {BLK_W}.0) AS INT) - 1),
                   i -> array_to_string(
                            toks[i * {BLK_W} + 1 : least((i + 1) * {BLK_W}, len(toks))],
                            ' ')) AS blks
        FROM t),
    pos AS (
        SELECT doc_id,
               unnest(generate_series(0, len(blks) - 1)) AS bi,
               unnest(blks) AS bt
        FROM b),
    h AS (SELECT doc_id, bi, {md5_long_sql('bt')} AS bh FROM pos),
    r AS (SELECT doc_id, bi,
                 row_number() OVER (PARTITION BY bh ORDER BY doc_id, bi) AS rn
          FROM h),
    rem AS (SELECT doc_id, list_sort(list(bi)) AS rl
            FROM r WHERE rn > 1 GROUP BY doc_id)
    SELECT b.doc_id, b.n_tokens,
           CAST(coalesce(len(rem.rl), 0) AS BIGINT) AS removed_blocks,
           CAST(b.n_tokens - coalesce(list_sum(list_transform(rem.rl,
                    i -> least({BLK_W}, b.n_tokens - i * {BLK_W}))), 0) AS BIGINT)
               AS kept_tokens,
           coalesce(array_to_string(
               list_filter(blks,
                           (x, i) -> NOT coalesce(list_contains(rem.rl, i - 1),
                                                  FALSE)),
               ' '), '') AS clean_text
    FROM b LEFT JOIN rem ON rem.doc_id = b.doc_id
    """,
    f"duplicated-block removal (the REWRITE dedup: C4's repeated-span "
    "cut / RefinedWeb-Dolma exact line-dedup, at word-"
    f"{BLK_W}-block granularity): docs split into consecutive non-"
    "overlapping token blocks; the globally FIRST occurrence of each "
    "distinct block text (min (doc_id, block_idx)) survives and every "
    "other occurrence is removed from its document's text; each doc "
    "reports its removed-block count, surviving token count, and the "
    "reassembled clean text. Complements substring_dedup, which only "
    "DECIDES keep/trim/drop — this op performs the trim. Scale shape: "
    "block text lives in-row as an array column; only (doc_id, "
    "block_idx, 60-bit block hash) rows ever explode, the survivor "
    "choice is a partial-aggregatable groupBy-min on the hash (a hot "
    "boilerplate block collapses map-side instead of sorting on one "
    "task, as a row_number window would), the removal probe is an "
    "AQE-skew-splittable equi-join, removal lists group back to one "
    "short array<int> per affected doc, and the rewrite is ONE doc_id-keyed "
    "hash join (shuffle_hash hint: no sort of the text side) feeding an "
    "index-aware array filter — the corpus text crosses exactly one "
    "exchange, and only for docs that appear in the removal list... "
    "every planted copy doc (first 3 blocks lifted verbatim from a "
    "source doc, block-aligned by construction) loses exactly those 3 "
    "blocks and keeps its unique tail (tests/test_pipeline_ops.py).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def span_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    toks0 = tokens(F.col("text"))
    plants = d.filter(
        (F.col("doc_id") % SPAN_PLANT_MOD == 0) & (F.size(toks0) >= 3 * BLK_W)
    ).select(
        (F.col("doc_id") + SPAN_COPY_OFFSET).alias("doc_id"),
        F.concat_ws(
            " ",
            F.concat_ws(" ", F.slice(toks0, 1, 3 * BLK_W)),
            F.concat(F.lit("post-"), F.col("doc_id").cast("string")),
            F.concat(F.lit("tail-"), F.col("doc_id").cast("string")),
            F.concat(F.lit("end-"), F.col("doc_id").cast("string")),
        ).alias("text"),
    )
    docs = (
        d.select("doc_id", "text")
        .unionByName(plants)
        # spread block hashing (the op's CPU) before the branches fork,
        # same rationale as substring_dedup's repartition
        .repartition(spark.sparkContext.defaultParallelism)
    )
    blk = doc_blocks(docs)
    # survivor choice: ids + 60-bit hashes only through the exchange,
    # and SKEW-SAFE — see block_survivors (a groupBy-min that partial-
    # aggregates map-side, where the old row_number window sorted every
    # occurrence of a hash on one task: a pathological boilerplate
    # block appearing in most docs — the C4 motivating case — became a
    # single hot partition). The occurrence frame is persisted because
    # both the survivor aggregate and the removal probe scan it; the
    # cache holds (id, int, long) rows only, and is RELEASED before
    # returning: the (small) removal list checkpoints into a leaf and
    # the rewrite join reads that leaf, not the cache (the
    # minhash_lsh_jaccard cache discipline — r06 advice closed the
    # per-invocation persist leak here).
    br = block_rows(docs).persist()
    removed = block_removals(br, block_survivors(br)).localCheckpoint()
    br.unpersist()
    return apply_block_removals(blk, removed)


def _block_expr():
    """The block-array expression over a ``_toks`` column: block i
    covers tokens i*W+1 .. min((i+1)*W, n); try_element_at returns NULL
    past the end (ANSI-safe) and concat_ws skips NULLs, so the last
    short block assembles without a Column-start slice (which would
    knock the projection out of codegen — see the substring_dedup note
    above). One definition consumed by BOTH doc_blocks (the in-row
    rewrite side) and block_rows (the hash-explode side), so the two
    necessarily derive identical blocks."""
    n = F.size(F.col("_toks"))
    return F.transform(
        F.sequence(F.lit(0), F.ceil(n / F.lit(float(BLK_W))).cast("int") - 1),
        lambda i: F.concat_ws(
            " ",
            *[
                F.try_element_at(F.col("_toks"), (i * BLK_W + j).cast("int"))
                for j in range(1, BLK_W + 1)
            ],
        ),
    )


def _toked(docs: DataFrame) -> DataFrame:
    return docs.select("doc_id", tokens(F.col("text")).alias("_toks"))


def doc_blocks(docs: DataFrame) -> DataFrame:
    """(doc_id, n_tokens, _blks) — each doc's consecutive BLK_W-token
    block texts as an IN-ROW array (the span_dedup working shape: block
    text never needs to leave its row except through :func:`block_rows`'
    hash projection)."""
    return (
        _toked(docs)
        .withColumn("n_tokens", F.size(F.col("_toks")).cast("bigint"))
        .withColumn("_blks", _block_expr())
        .select("doc_id", "n_tokens", "_blks")
    )


def block_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, bi, bh) — one id+hash row per block occurrence; the only
    shape the dedup decision ever shuffles. Takes the DOCS frame (not
    doc_blocks' output) and explodes the block expression inline:
    generating from the expression keeps the higher-order block build
    on the fast evaluation path, where exploding the materialized
    ``_blks`` column measured ~35x slower at the x10 tier (360k blocks:
    0.7s vs 25s) — the lazily-evaluated array column re-enters the
    interpreted projection path per occurrence."""
    return (
        _toked(docs)
        .select("doc_id", F.posexplode(_block_expr()).alias("bi", "bt"))
        .select("doc_id", "bi", md5_long(F.col("bt")).alias("bh"))
    )


def block_survivors(rows: DataFrame) -> DataFrame:
    """(bh, doc_id, bi) — the ONE surviving occurrence (global min
    (doc_id, block_idx)) per distinct block hash, from a (doc_id, bi,
    bh) occurrence frame. A groupBy-min, NOT a row_number window, on
    purpose: min(struct) partial-aggregates map-side, so a pathological
    boilerplate block occurring in most documents (the C4 motivating
    case) collapses to one candidate row per map task BEFORE the
    exchange — where a window partitioned on bh would sort every
    occurrence of the hot hash on a single task. Pinned in
    tests/test_plans.py (partial+final aggregate) and exercised by the
    planted >50%-of-docs boilerplate fixture in
    tests/test_pipeline_ops.py."""
    return (
        rows.groupBy("bh")
        .agg(F.min(F.struct("doc_id", "bi")).alias("_s"))
        .select("bh", F.col("_s.doc_id").alias("doc_id"), F.col("_s.bi").alias("bi"))
    )


def block_removals(rows: DataFrame, surv: DataFrame) -> DataFrame:
    """(doc_id, bi) occurrences to cut: everything in ``rows`` except
    its hash's survivor. One equi-join on the hash — the skewed side is
    a JOIN probe (AQE skew handling can split a hot hash's partitions),
    never a window sort."""
    return (
        rows.join(
            surv.select(
                "bh", F.col("doc_id").alias("_sd"), F.col("bi").alias("_sb")
            ),
            "bh",
        )
        .filter((F.col("doc_id") != F.col("_sd")) | (F.col("bi") != F.col("_sb")))
        .select("doc_id", "bi")
    )


def apply_block_removals(blk: DataFrame, removed: DataFrame) -> DataFrame:
    """Rewrite ``blk`` docs with the ``removed`` (doc_id, bi)
    occurrences cut out: ONE doc_id-keyed hash join (shuffle_hash hint:
    no sort of the text side) feeding an index-aware array filter —
    the honest single corpus exchange of emitting rewritten text."""
    rem_lists = removed.groupBy("doc_id").agg(
        F.array_sort(F.collect_list("bi")).alias("_rl")
    )
    joined = blk.join(rem_lists.hint("shuffle_hash"), "doc_id", "left")
    rl = F.coalesce(F.col("_rl"), F.array().cast("array<int>"))
    removed_tok = F.aggregate(
        rl,
        F.lit(0).cast("bigint"),
        lambda acc, i: acc
        + F.least(F.lit(BLK_W).cast("bigint"), F.col("n_tokens") - i.cast("bigint") * BLK_W),
    )
    clean_blocks = F.filter(F.col("_blks"), lambda b, i: ~F.array_contains(rl, i))
    return joined.select(
        "doc_id",
        "n_tokens",
        F.size(rl).cast("bigint").alias("removed_blocks"),
        (F.col("n_tokens") - removed_tok).cast("bigint").alias("kept_tokens"),
        F.concat_ws(" ", clean_blocks).alias("clean_text"),
    )
