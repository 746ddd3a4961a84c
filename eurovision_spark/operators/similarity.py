"""Similarity search over the ``embeddings`` table (array<float> column).

Three tiers (BASELINE.json north star):

- brute-force cosine top-k: the exactness baseline. Probe set joined
  against the full corpus; dot products via ``F.aggregate``/``zip_with``
  — JVM-side higher-order functions, no Python. At cluster scale the
  corpus side stays partitioned and the (small) probe side broadcasts,
  so cost is one pass over the corpus per batch of probes — the right
  shape for 100 TB (probes batch; corpus never re-shuffles).

- LSH-bucketed cosine (random hyperplanes) with MULTI-PROBE: signs of
  dot(v, plane_j) build a bucket id; neighbor search becomes an
  equi-join on bucket, cutting the candidate set by ~2^n_planes. Each
  probe also probes its 8 Hamming-1 neighbor buckets (probe-side
  explode keeps it an equi-join), recovering the recall a single
  bucket loses at bit boundaries.

- IVF (inverted file): a SIZE-BOUNDED k-means codebook (deterministic
  spherical Lloyd over an md5-ordered ≤4096-vector sample, driver-side
  numpy) broadcast as ONE array column; cell assignment is a per-row
  higher-order argmax over that array — no shuffle, no inlined literal
  blowup, no corpus-sized driver transfer. Search joins each probe's
  top-nprobe cells only.

Hyperplane components and the codebook-sample ordering derive from md5
so the DuckDB oracle builds bit-identical planes/codebooks (the IVF
oracle is built at check time with the centroids inlined as literals —
see catalog.resolve_oracle).

Floats: embeddings are float32, cast to double before any arithmetic in
BOTH engines; similarity values are rounded to 6 decimals for the
cross-engine hash, ordering uses the raw double (distinct neighbors'
gaps are astronomically larger than 1-ulp reassociation noise).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from eurovision_spark.catalog import register
from eurovision_spark.operators.textstats import md5_long, md5_long_sql
from eurovision_spark.sources import load_table

TOP_K = 5
PROBE_MOD = 50  # vec_id % 50 == 0 -> probe set
N_PLANES = 8


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def seq_norm(v) -> float:
    """Driver-side L2 norm by the SAME sequential fold as the in-plan
    ``l2norm`` and DuckDB's sqrt(list_dot_product): one IEEE-double
    multiply-add per element in array order, so the result is
    bit-identical across all three (pinned in
    tests/test_similarity_recall.py). Used when a codebook ships as a
    pre-built LocalRelation row instead of carrying norm expressions."""
    import math

    acc = 0.0
    for x in v:
        acc += float(x) * float(x)
    return math.sqrt(acc)


def book_rows(rows) -> list:
    """[(id, vec, seq_norm(vec))] struct data for a codebook
    LocalRelation, ids ascending — the zero-job way to ship a
    driver-held codebook into the plan. createDataFrame over this
    nested data is a driver-local operation and the broadcast of the
    one-row relation is the only (tiny) job; the groupBy/collect_list/
    join chain it replaces re-aggregated plan-time-constant data
    through ~3 Spark jobs per query (~1s of pure overhead), and
    inlining the book as literal expressions instead blows the
    Catalyst tree to ~20k nodes (measured 2x slower than either)."""
    return [(int(i), [float(x) for x in v], seq_norm(v)) for i, v in rows]


COSINE_SQL = (
    "list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b})))"
)


# the exact brute-force top-k oracle — shared verbatim by cosine_topk
# and the ann_recall_report ground-truth side, so the recall report's
# truth set IS the registered exact query by construction
TOPK_SQL = f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM e WHERE vec_id % {PROBE_MOD} = 0),
    scored AS (
        SELECT p.probe_id, e.vec_id AS neighbor_id,
               {COSINE_SQL.format(a='p.pv', b='e.v')} AS cos,
               row_number() OVER (
                   PARTITION BY p.probe_id
                   ORDER BY {COSINE_SQL.format(a='p.pv', b='e.v')} DESC, e.vec_id) AS rn
        FROM probes p CROSS JOIN e
        WHERE e.vec_id <> p.probe_id)
    SELECT probe_id, neighbor_id, round(cos, 6) AS cosine_sim
    FROM scored WHERE rn <= {TOP_K}
    """


@register(
    "cosine_topk",
    TOPK_SQL,
    "brute-force cosine top-k (exact ANN baseline): broadcast probe set x "
    "partitioned corpus, JVM higher-order-function dot products, "
    "row_number top-k per probe.",
)
def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Norms are per-VECTOR, not per-pair: materialize them once on each
    # side before the join so the pair loop does one dot + one divide
    # (the naive formulation recomputes both norms per candidate — 3x
    # the flops). Same expression tree dot/(np*nv) -> bit-identical
    # doubles vs the oracle. Repartition spreads the corpus across
    # cores when the source arrives as one coarse split.
    e = (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
        .withColumn("nv", l2norm(F.col("v")))
        # zero-norm exclusion (mirrored in every oracle): a zero vector
        # has no direction; its cosine is 0/0 = NaN, and both engines
        # rank NaN ABOVE every number, so one padding/failed-encode row
        # would silently become the rank-1 "neighbor" of every probe
        .filter(F.col("nv") > 0)
    )
    probes = e.filter(F.col("vec_id") % PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("v").alias("pv"),
        F.col("nv").alias("np"),
    )
    scored = (
        e.join(F.broadcast(probes), F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("pv"), F.col("v")) / (F.col("np") * F.col("nv"))).alias("cos"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("probe_id", "neighbor_id", F.round("cos", 6).alias("cosine_sim"))
    )


# --- LSH-bucketed variant ---------------------------------------------------
# plane[j][d] = (md5int(concat('plane-', j, '-', d)) % 2001 - 1000) / 1000.0

PLANE_SQL_TMPL = """
    SELECT j, list_transform(
        generate_series(1, 64),
        d -> (CAST(CAST(concat('0x', substr(md5(concat('plane-', j, '-', d)), 1, 15))
                   AS UBIGINT) AS BIGINT) % 2001 - 1000) / 1000.0) AS plane
    FROM (SELECT unnest(generate_series(0, {max_j})) AS j)
"""

PLANE_SQL = PLANE_SQL_TMPL.format(max_j=N_PLANES - 1)


def _plane_expr(j: Column | int, dim: int) -> Column:
    """One hyperplane as an inline array<double> expression (same md5
    formula as PLANE_SQL) — all-literal, so Catalyst constant-folds it
    to a value once at plan time."""
    return F.transform(
        F.sequence(F.lit(1), F.lit(dim)),
        lambda d: (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("plane-"), F.lit(j).cast("int"), F.lit("-"), d)),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("bigint")
            % 2001
            - 1000
        )
        / 1000.0,
    )


def _sign_bucket(vcol: Column, planes: range, dim: int = 64) -> Column:
    """Pack sign(dot(v, plane_j)) into bit position (j - planes.start)."""
    return sum(
        [
            F.when(
                dot(vcol, _plane_expr(j, dim)) >= 0, F.lit(1 << (j - planes.start))
            ).otherwise(F.lit(0))
            for j in planes
        ],
        F.lit(0),
    ).cast("bigint")


@register(
    "cosine_lsh_bucketed",
    f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    planes AS ({PLANE_SQL}),
    sigs AS (
        SELECT e.vec_id, e.v,
               CAST(sum(CASE WHEN list_dot_product(e.v, p.plane) >= 0
                        THEN 1 << p.j ELSE 0 END) AS BIGINT) AS bucket
        FROM e CROSS JOIN planes p GROUP BY e.vec_id, e.v),
    probes AS (SELECT vec_id AS probe_id, v AS pv, bucket FROM sigs
               WHERE vec_id % {PROBE_MOD} = 0),
    cand AS (
        SELECT p.probe_id, s.vec_id AS neighbor_id,
               {COSINE_SQL.format(a='p.pv', b='s.v')} AS cos,
               row_number() OVER (
                   PARTITION BY p.probe_id
                   ORDER BY {COSINE_SQL.format(a='p.pv', b='s.v')} DESC, s.vec_id) AS rn
        FROM probes p JOIN sigs s
          ON bit_count(xor(s.bucket, p.bucket)) <= 1 AND s.vec_id <> p.probe_id)
    SELECT probe_id, neighbor_id, round(cos, 6) AS cosine_sim
    FROM cand WHERE rn <= {TOP_K}
    """,
    "multi-probe LSH cosine search: 8 deterministic random hyperplanes "
    "-> sign-bit bucket; each probe searches its own bucket PLUS the 8 "
    "Hamming-1 neighbor buckets (probe-side explode keeps the corpus "
    "join a pure equi-join on bucket), recovering the recall a single "
    "bucket loses at bit boundaries while still cutting candidates "
    "~2^8/9. The oracle states the same candidate set as a Hamming "
    "predicate; tests/test_similarity_recall.py pins recall@5 vs the "
    "exact cosine_topk.",
)
def cosine_lsh_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "embeddings")
        .repartition(spark.sparkContext.defaultParallelism)
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
    )
    # Bucket id is a pure per-row map: sign(dot(v, plane_j)) packed into
    # bit j, with the 8 planes inlined as constant-foldable literals —
    # no plane join, no groupBy-on-vector shuffle.
    sigs = e.select(
        "vec_id",
        "v",
        _sign_bucket(F.col("v"), range(N_PLANES)).alias("bucket"),
        l2norm(F.col("v")).alias("nv"),
    ).filter(F.col("nv") > 0)  # zero-norm exclusion: see cosine_topk
    # Multi-probe: the probe side (2% of rows) fans out to its bucket +
    # the 8 Hamming-1 buckets, so the corpus side joins on plain bucket
    # equality — candidates grow 9x on a 2%-side explode, the corpus is
    # never re-hashed, and the join stays broadcast-able.
    probe_buckets = F.array(
        F.col("bucket"),
        *[F.col("bucket").bitwiseXOR(F.lit(1 << j)) for j in range(N_PLANES)],
    )
    probes = (
        sigs.filter(F.col("vec_id") % PROBE_MOD == 0)
        .select(
            F.col("vec_id").alias("probe_id"),
            F.col("v").alias("pv"),
            F.col("nv").alias("np"),
            F.explode(probe_buckets).alias("pbucket"),
        )
    )
    cand = (
        sigs.join(
            F.broadcast(probes),
            (sigs.bucket == probes.pbucket) & (F.col("vec_id") != F.col("probe_id")),
        )
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("pv"), F.col("v")) / (F.col("np") * F.col("nv"))).alias("cos"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("probe_id", "neighbor_id", F.round("cos", 6).alias("cosine_sim"))
    )


# --- embedding-cosine near-duplicate pairs ----------------------------------


NEAR_DUP_THRESHOLD = 0.999
NEAR_DUP_BANDS = 2
TARGET_BUCKET_SIZE = 64  # expected vectors per band-bucket at any corpus size
# Below this corpus size one band already yields per-bucket populations
# small enough that the second OR-band (recall insurance for boundary
# bit flips at billions of rows) costs more than it buys locally. The
# branch is size-driven and IDENTICAL in both engines, so the candidate
# sets — and hence the verified output — still match exactly.
NEAR_DUP_SMALL_N = 100_000
# Per-side budget for broadcasting the FULL vector table into the
# verify joins (n x dim x 8 bytes): past it the id-only candidate pair
# list is the cheaper broadcast (r11; measured at x10 — see
# embedding_near_dup). Engine-side plan choice only, never semantics.
VEC_BCAST_BYTES = 8 << 20

# Planted-copy ids live at +10^15 — far above any realistic doc/vec
# count (the +1e6 offset collided with REAL ids past a million rows,
# corrupting pair generation identically in both engines, invisibly to
# the hash gate). Zero vectors are excluded before planting: a zero's
# scaled copy is still zero and 0/0 cosine is NaN (see cosine_topk).
PLANT_OFFSET = 10**15

VECS_WITH_COPIES_SQL = f"""
    SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
    WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
    UNION ALL
    SELECT vec_id + {PLANT_OFFSET} AS vec_id,
           list_transform(embedding::DOUBLE[], x -> x * 2.0) AS v
    FROM embeddings
    WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
"""


@register(
    "embedding_near_dup",
    f"""
    WITH e AS ({VECS_WITH_COPIES_SQL}),
    nb AS (SELECT greatest({N_PLANES},
                  CAST(ceil(log2(count(*) / {TARGET_BUCKET_SIZE}.0)) AS INT)) AS b,
                  CASE WHEN count(*) < {NEAR_DUP_SMALL_N} THEN 1
                       ELSE {NEAR_DUP_BANDS} END AS nbands
           FROM e),
    planes AS ({PLANE_SQL_TMPL.format(max_j="(SELECT nbands * b - 1 FROM nb)")}),
    sigs AS (
        SELECT e.vec_id,
               CAST(p.j // (SELECT b FROM nb) AS INT) AS band_id,
               CAST(sum(CASE WHEN list_dot_product(e.v, p.plane) >= 0
                        THEN 1 << (p.j % (SELECT b FROM nb)) ELSE 0 END) AS BIGINT)
                   AS band_sig
        FROM e CROSS JOIN planes p
        GROUP BY e.vec_id, p.j // (SELECT b FROM nb)),
    pairs AS (
        SELECT DISTINCT a.vec_id AS vec_id_1, b2.vec_id AS vec_id_2
        FROM sigs a JOIN sigs b2
          ON a.band_id = b2.band_id AND a.band_sig = b2.band_sig
             AND a.vec_id < b2.vec_id),
    vecs AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM e)
    SELECT p.vec_id_1, p.vec_id_2,
           round(list_dot_product(a.v, b2.v) / (a.nv * b2.nv), 6) AS cosine_sim
    FROM pairs p
    JOIN vecs a ON a.vec_id = p.vec_id_1
    JOIN vecs b2 ON b2.vec_id = p.vec_id_2
    WHERE list_dot_product(a.v, b2.v) / (a.nv * b2.nv) >= {NEAR_DUP_THRESHOLD}
    """,
    "embedding-cosine near-dup detection, scale-safe: every vector gets "
    "a planted scaled copy (same direction -> cosine 1.0, same sign "
    "signature -> guaranteed same bucket in every band). Bits per band "
    "GROW with corpus size (b = log2(n/64), floor 8), so band-bucket "
    "population — and with it the in-bucket pair count — stays ~constant "
    "instead of n²/2^const; two bands (OR semantics, like "
    "minhash_lsh_pairs) keep recall for genuine near-dups that flip a "
    "boundary bit — engaged only above 100k vectors, where boundary "
    "flips become likely (below that, one band finds the same pairs "
    "at half the plane work; the branch is mirrored in the oracle). "
    "Buckets carry only vec_ids; candidate pairs join "
    "BACK to the vectors for exact cosine verification, so full vectors "
    "never flow through the bucket shuffle. The corpus-dedup twin of "
    "minhash_lsh_jaccard for the modality where 'text' is a vector.",
)
def embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings").repartition(
        spark.sparkContext.defaultParallelism
    )
    e = e.filter(l2norm(as_double(F.col("embedding"))) > 0)
    orig = e.select("vec_id", as_double(F.col("embedding")).alias("v"))
    copy = e.select(
        (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
        F.transform(as_double(F.col("embedding")), lambda x: x * 2.0).alias("v"),
    )
    vecs = orig.unionByName(copy)
    # bits per band from the corpus size: one tiny agg action (at real
    # scale this would come from table stats) — the same action also
    # reads the vector dimension, which sizes the verify-path choice
    # below (r11) without a second job. Plane expressions are then
    # plan-time literals, as in the single-band variant.
    import math

    stats_row = vecs.agg(
        F.count("*").alias("n"), F.first(F.size("v")).alias("dim")
    ).head()
    n, dim = stats_row["n"], stats_row["dim"] or 0
    b = max(N_PLANES, math.ceil(math.log2(max(n, 1) / TARGET_BUCKET_SIZE)))
    nbands = 1 if n < NEAR_DUP_SMALL_N else NEAR_DUP_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_id"),
                _sign_bucket(F.col("v"), range(band * b, (band + 1) * b)).alias(
                    "band_sig"
                ),
            )
            for band in range(nbands)
        ]
    )
    bands = vecs.select("vec_id", F.explode(band_structs).alias("bs")).select(
        "vec_id", "bs.band_id", "bs.band_sig"
    )
    # shared banded-LSH pair generator (dedup.pairs_in_buckets): one
    # bucket shuffle, in-array pair slice; distinct only when >1 band
    # can make the same pair collide twice
    from eurovision_spark.operators.dedup import adaptive_verify_join, pairs_in_buckets

    pairs = pairs_in_buckets(bands, "vec_id", dedup_pairs=nbands > 1)
    withnorm = vecs.withColumn("nv", l2norm(F.col("v")))
    a = withnorm.select(
        F.col("vec_id").alias("vec_id_1"), F.col("v").alias("v1"), F.col("nv").alias("n1")
    )
    c = withnorm.select(
        F.col("vec_id").alias("vec_id_2"), F.col("v").alias("v2"), F.col("nv").alias("n2")
    )
    cos = dot(F.col("v1"), F.col("v2")) / (F.col("n1") * F.col("n2"))
    # verify-path choice is BYTES-driven (r11, measured at the x10
    # tier): the old n < NEAR_DUP_SMALL_N branch routed 80k x 64-dim
    # vectors (two ~41 MB broadcast builds) down the double-broadcast
    # path — interleaved A/B at x10: 8.5s double-broadcast vs 6.1s
    # pairs-broadcast. Broadcasting BOTH vector sides only pays while
    # the built relation is genuinely small; past the budget the
    # id-only pair list (16 B/pair) is the cheaper broadcast and the
    # vectors make one vec_id_2 hash exchange. Join strategy only —
    # candidates, verification and output are identical either way
    # (NEAR_DUP_SMALL_N keeps governing nbands, mirrored in the
    # oracle; this branch is engine-side plan choice).
    if n * dim * 8 <= VEC_BCAST_BYTES:
        # small vector table: candidate pairs stay distributed and
        # BOTH vector lookups are map-side — zero verify shuffles
        verified = pairs.join(F.broadcast(a), "vec_id_1").join(
            F.broadcast(c), "vec_id_2"
        )
    else:
        # at scale: the candidate list grows with n, so it goes through
        # the counted density valve (dedup.adaptive_verify_join) — the
        # pair list broadcasts only while the measured count is
        # broadcast-safe (with or without the vector payload), past it
        # both verify joins run shuffled-hash. Vectors never flow
        # through the bucket stage either way
        verified, _ = adaptive_verify_join(
            a, pairs, c, k1="vec_id_1", k2="vec_id_2", payload_row_bytes=dim * 8 + 16
        )
    return (
        verified.filter(cos >= NEAR_DUP_THRESHOLD)
        .select("vec_id_1", "vec_id_2", F.round(cos, 6).alias("cosine_sim"))
    )


# --- IVF (inverted-file) ANN --------------------------------------------------

K_CENTROIDS = 64
N_PROBE = 8  # cells searched per probe (the IVF recall lever)
IVF_SAMPLE = 4096  # k-means training sample size (bounded, not corpus-sized)
IVF_ITERS = 8  # Lloyd iterations


def _maxmin_seed(x, k: int):
    """Deterministic k-means++-style seeding: farthest-first traversal
    (each next centroid maximizes its squared distance to the nearest
    already-chosen one — the D² criterion with the argmax taken
    deterministically instead of D²-weighted sampling, so both engines
    derive the identical seed from the identical sample). Ties break to
    the lowest index; distances round to 9 decimals before the argmax
    so last-ulp noise can't flip a pick. Elementwise numpy only — no
    BLAS reduction variance. Lifts cell quality over the old first-k
    seed for every codebook consumer (cosine_ivf, semantic_dedup,
    cosine_pq, cosine_ivfpq) at zero plan change."""
    import numpy as np

    idx = [0]
    d2 = ((x - x[0]) ** 2).sum(axis=1)
    for _ in range(1, k):
        j = int(np.argmax(np.round(d2, 9)))
        idx.append(j)
        d2 = np.minimum(d2, ((x - x[j]) ** 2).sum(axis=1))
    return x[idx].copy()


def _lloyd(mat, k: int | None = None) -> list[list[float]]:
    """Deterministic spherical k-means on the (≤4096-row) training
    sample: float64, farthest-first (k-means++-style) seeding, fixed
    iteration count, fixed argmax tie-break (lowest index), per-step
    rounding so the result is bit-stable across processes/BLAS thread
    counts. Returns ≤k (default K_CENTROIDS) unit-norm centroids
    rounded to 9 decimals — the codebook BOTH engines consume (Spark as
    a broadcast row, DuckDB as literals)."""
    import numpy as np

    def _unit(m):
        # zero-norm guard: a single all-zero vector in the sample (or an
        # emptied cluster's zero mean) would otherwise divide to NaN and
        # poison every assignment downstream; dividing by 1 leaves the
        # zero vector harmlessly at the origin instead
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        return m / np.where(nrm == 0.0, 1.0, nrm)

    x = np.asarray(mat, dtype=np.float64)
    x = _unit(x)
    k = min(k or K_CENTROIDS, len(x))
    # on the unit sphere euclidean d² = 2 - 2cos, so the maxmin seed is
    # equivalently the farthest-in-angle traversal
    c = _maxmin_seed(x, k)
    for _ in range(IVF_ITERS):
        cn = _unit(c)
        # rounding kills last-ulp reduction noise before the argmax so
        # assignments can't flip between invocations
        assign = np.argmax(np.round(x @ cn.T, 9), axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                c[j] = np.round(members.mean(axis=0), 12)
    c = _unit(c)
    return [[float(v) for v in row] for row in np.round(c, 9)]


_SAMPLE_ORDER_SQL = (
    md5_long_sql("concat('cent-', CAST(vec_id AS VARCHAR))") + ", vec_id"
)


def ivf_sample(sf_dir: str) -> list[list[float]]:
    """The deterministic md5-ordered ≤4096-vector training sample, read
    driver-side with DuckDB — the oracle builders' path; Spark queries
    collect the SAME rows via TakeOrdered."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT embedding::DOUBLE[] AS v
        FROM read_parquet('{sf_dir}/embeddings.parquet')
        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
        ORDER BY {_SAMPLE_ORDER_SQL}
        LIMIT {IVF_SAMPLE}
        """
    ).fetchall()
    con.close()
    return [r[0] for r in rows]


def ivf_codebook(sf_dir: str) -> list[list[float]]:
    """The k-means codebook for ``sf_dir``'s embeddings, computed from a
    deterministic md5-ordered sample. This path (DuckDB scan + numpy
    Lloyd) is the oracle-side builder; the Spark query collects the
    SAME sample via TakeOrdered (bounded ≤4096-row driver transfer) and
    runs the same ``_lloyd`` — identical floats by construction."""
    return _lloyd(ivf_sample(sf_dir))


def _ivf_oracle(sf_dir: str) -> str:
    """Dynamic oracle: the codebook is data-derived, so the SQL inlines
    the centroid literals (repr round-trips float64 exactly)."""
    cents = ivf_codebook(sf_dir)
    values = ",\n          ".join(
        f"({i}, [{', '.join(repr(v) for v in row)}]::DOUBLE[])"
        for i, row in enumerate(cents)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
               FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    cent_vals(cent_id, cv) AS (
        VALUES {values}),
    cents AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS ncv
              FROM cent_vals),
    assigned AS (
        SELECT e.vec_id, e.v, e.nv, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv) / (e.nv * c.ncv) DESC,
                            c.cent_id) AS rn
        FROM e CROSS JOIN cents c),
    cells AS (SELECT vec_id, v, nv, cent_id FROM assigned WHERE rn = 1),
    probe_cells AS (
        SELECT vec_id AS probe_id, v AS pv, nv AS np, cent_id
        FROM assigned WHERE vec_id % {PROBE_MOD} = 0 AND rn <= {N_PROBE}),
    cand AS (
        SELECT p.probe_id, s.vec_id AS neighbor_id,
               list_dot_product(p.pv, s.v) / (p.np * s.nv) AS cos,
               row_number() OVER (
                   PARTITION BY p.probe_id
                   ORDER BY list_dot_product(p.pv, s.v) / (p.np * s.nv) DESC,
                            s.vec_id) AS rn
        FROM probe_cells p JOIN cells s
          ON s.cent_id = p.cent_id AND s.vec_id <> p.probe_id)
    SELECT probe_id, neighbor_id, round(cos, 6) AS cosine_sim
    FROM cand WHERE rn <= {TOP_K}
    """


@register(
    "cosine_ivf",
    _ivf_oracle,
    "IVF (inverted-file) approximate nearest neighbor with a k-means "
    "codebook: spherical Lloyd (8 iterations, float64, deterministic "
    "tie-breaks) over a md5-ordered sample of ≤4096 vectors — the "
    "sample is a bounded TakeOrdered collect, NEVER a fraction of the "
    "corpus, and the resulting k=64 unit centroids broadcast as ONE "
    "array row. Cell assignment is a per-row higher-order argmax over "
    "that array — no shuffle, no per-centroid inlined literals (codegen "
    "size is independent of k), no corpus-sized driver transfer. Corpus "
    "vectors live in their ONE best cell (the inverted lists / "
    "partition keys at 100 TB); each probe searches its top-8 cells — "
    "a probe-side explode that keeps the search a pure equi-join at "
    "~nprobe/k of the corpus per probe (recall@5 = 0.68 at sf0.01 with "
    "deterministic maxmin/k-means++ seeding, vs 0.64 first-k-seeded and "
    "0.18 for the r03 hash-selected codebook; gated in "
    "tests/test_similarity_recall.py). The oracle is built at check "
    "time with the same codebook inlined as literals.",
)
def cosine_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    topk = ivf_topk_candidates(spark, sf_dir, with_labels=False)
    return topk.select(
        "probe_id", "neighbor_id", F.round("cos", 6).alias("cosine_sim")
    )


def _recall_oracle(sf_dir: str) -> str:
    """Dynamic oracle composing the two registered sides verbatim: the
    exact ground truth is TOPK_SQL (cosine_topk's oracle), the approx
    side is _ivf_oracle's codebook-inlined SQL — so the report's
    recall is measured against exactly what those queries certify."""
    return f"""
    WITH exact AS ({TOPK_SQL}),
    approx AS ({_ivf_oracle(sf_dir)}),
    hits AS (
        SELECT e.probe_id, CAST(count(*) AS BIGINT) AS n
        FROM exact e JOIN approx a
          ON a.probe_id = e.probe_id AND a.neighbor_id = e.neighbor_id
        GROUP BY e.probe_id),
    probes AS (SELECT DISTINCT probe_id FROM exact)
    SELECT p.probe_id,
           CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n, 0) / {TOP_K}.0, 6) AS recall
    FROM probes p LEFT JOIN hits h USING (probe_id)
    """


@register(
    "ann_recall_report",
    _recall_oracle,
    "per-probe RECALL@k report for the IVF index against the exact "
    "brute-force truth — the measure-don't-guess eval for the ANN "
    "family, the similarity-search twin of near_dup_eval: for every "
    f"probe, how many of cosine_ivf's top-{TOP_K} survive in "
    f"cosine_topk's exact top-{TOP_K} (n_hits) and the recall "
    "fraction. This is the number an index owner reads before turning "
    "nprobe/k knobs or shipping the index — aggregate recall gates "
    "live in tests/test_similarity_recall.py, this op makes the "
    "PER-PROBE distribution a first-class query (one collapsed probe "
    "in a skewed cell is invisible in the mean). Scale shape: both "
    "sides are their certified registered plans; the comparison is "
    "one (probe_id, neighbor_id) equi-join of id pairs + a "
    "probe-keyed count — at 100 TB you run it on a probe SAMPLE, "
    "which is exactly what the probe-set predicate already is. "
    "Cross-engine: the oracle composes the two registered oracles "
    "verbatim (TOPK_SQL + the codebook-inlined IVF SQL), so all three "
    "result sets — exact, approx, and this report — are certified "
    "against one definition.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def ann_recall_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    exact = cosine_topk(spark, sf_dir).select("probe_id", "neighbor_id")
    approx = cosine_ivf(spark, sf_dir).select("probe_id", "neighbor_id")
    hits = (
        exact.join(approx, ["probe_id", "neighbor_id"])
        .groupBy("probe_id")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    probes = exact.select("probe_id").distinct()
    return probes.join(hits, "probe_id", "left").select(
        "probe_id",
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_hits"),
        F.round(F.coalesce("n", F.lit(0)) / F.lit(float(TOP_K)), 6).alias("recall"),
    )


def ivf_topk_candidates(
    spark: SparkSession, sf_dir: str, with_labels: bool = False,
    all_cands: bool = False,
) -> DataFrame:
    """The IVF candidate generator, shared verbatim by ``cosine_ivf``
    and ``knn_classify_ivf``: sample-trained k-means codebook as a
    one-row broadcast LocalRelation, per-row argmax cell assignment,
    nprobe probe-side explode, exact-cosine scoring within probed
    cells, top-TOP_K per probe. Returns (probe_id, neighbor_id, cos)
    plus (true_label, nbr_label) when ``with_labels`` — the label
    columns ride the existing rows, so composing the kNN vote tail
    adds zero extra shuffles to the ANN stage.

    ``all_cands=True`` (ivf_nprobe_curve's path) returns EVERY scored
    candidate with the 1-based rank of the probed cell it came from
    (cell_rank 1 = the probe's best cell) and no top-K cut, so one
    candidate pass prices every nprobe <= N_PROBE setting at once."""
    cols = ["vec_id", "label"] if with_labels else ["vec_id"]
    raw = (
        load_table(spark, sf_dir, "embeddings")
        .select(*cols, as_double(F.col("embedding")).alias("v"))
        # zero-norm exclusion before sampling AND search: see cosine_topk
        .filter(l2norm(F.col("v")) > 0)
    )
    # k-means training sample: TakeOrderedAndProject by the md5 key
    # (bounded ≤4096-row driver transfer at ANY corpus size), Lloyd on
    # the driver in numpy — same helper the oracle builder runs, so the
    # centroid doubles are bit-identical across engines.
    cent_key = md5_long(F.concat(F.lit("cent-"), F.col("vec_id").cast("string")))
    sample = (
        raw.orderBy(cent_key.asc(), F.col("vec_id").asc())
        .limit(IVF_SAMPLE)
        .select("v")
        .collect()
    )
    codebook = _lloyd([r.v for r in sample])
    # the codebook ships as a pre-built one-row LocalRelation
    # (book_rows: norms pre-folded driver-side, bit-identical to the
    # l2norm fold) — the collect_list-to-one-row aggregation chain this
    # replaces burned ~1s of job overhead per query re-aggregating
    # plan-time-constant data
    cent_row = spark.createDataFrame(
        [(book_rows(enumerate(codebook)),)],
        "cents array<struct<cent_id:bigint,cv:array<double>,ncv:double>>",
    )
    e = (
        raw.repartition(spark.sparkContext.defaultParallelism)
        .withColumn("nv", l2norm(F.col("v")))
        .crossJoin(F.broadcast(cent_row))
    )
    # per-row argmax over the codebook array: one dot per centroid,
    # array_max on struct(sim, -cent_id) == row_number()=1 under
    # (sim DESC, cent_id ASC).
    sims = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (dot(F.col("v"), c.cv) / (F.col("nv") * c.ncv)).alias("sim"),
            (-c.cent_id).alias("neg_cent"),
        ),
    )
    best = F.array_max(sims)
    cells = e.select(
        *cols, "v", "nv", (-best.neg_cent).cast("bigint").alias("cent_id")
    )
    # nprobe: each probe explodes to its top-N_PROBE cells (slice of the
    # SORTED sims array — ascending (sim, -cent_id) reversed is exactly
    # the oracle's (sim DESC, cent_id ASC), so the picked cell SET is
    # identical). The probe side is 2% of rows, so the fan-out is cheap
    # and the corpus join stays a pure equi-join on cent_id. start is
    # clamped so a codebook smaller than N_PROBE (tiny corpus) degrades
    # to exhaustive rather than erroring.
    top_cells = F.slice(
        F.array_sort(sims),
        -F.least(F.lit(N_PROBE), F.size(sims)),
        F.lit(N_PROBE),
    )
    if all_cands:
        # posexplode the ASCENDING-sorted slice: 0-based pos i in a
        # slice of length L is the (L - i)-th best cell, so cell_rank
        # = L - pos (1 = best) — the oracle's `rn` per (vec, cent).
        slice_len = F.least(F.lit(N_PROBE), F.size(sims))
        rank_probes = (
            e.filter(F.col("vec_id") % PROBE_MOD == 0)
            .select(
                F.col("vec_id").alias("probe_id"),
                F.col("v").alias("pv"),
                F.col("nv").alias("np"),
                slice_len.alias("_len"),
                F.posexplode(top_cells).alias("pos", "pc"),
            )
            .select(
                "probe_id",
                "pv",
                "np",
                (F.col("_len") - F.col("pos")).cast("int").alias("cell_rank"),
                (-F.col("pc.neg_cent")).cast("bigint").alias("cent_id"),
            )
        )
        return cells.join(
            F.broadcast(rank_probes),
            (cells.cent_id == rank_probes.cent_id)
            & (F.col("vec_id") != F.col("probe_id")),
        ).select(
            "probe_id",
            "cell_rank",
            F.col("vec_id").alias("neighbor_id"),
            (dot(F.col("pv"), F.col("v")) / (F.col("np") * F.col("nv"))).alias("cos"),
        )
    probe_cols = (
        [F.col("label").alias("true_label")] if with_labels else []
    )
    probes = (
        e.filter(F.col("vec_id") % PROBE_MOD == 0)
        .select(
            F.col("vec_id").alias("probe_id"),
            *probe_cols,
            F.col("v").alias("pv"),
            F.col("nv").alias("np"),
            F.explode(top_cells).alias("pc"),
        )
        .select(
            "probe_id",
            *(["true_label"] if with_labels else []),
            "pv",
            "np",
            (-F.col("pc.neg_cent")).cast("bigint").alias("cent_id"),
        )
    )
    nbr_cols = (
        [F.col("label").alias("nbr_label")] if with_labels else []
    )
    cand = (
        cells.join(
            F.broadcast(probes),
            (cells.cent_id == probes.cent_id) & (F.col("vec_id") != F.col("probe_id")),
        )
        .select(
            "probe_id",
            *(["true_label"] if with_labels else []),
            F.col("vec_id").alias("neighbor_id"),
            *nbr_cols,
            (dot(F.col("pv"), F.col("v")) / (F.col("np") * F.col("nv"))).alias("cos"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    return cand.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= TOP_K
    ).drop("rn")


# nprobe tuning curve: the settings priced by one candidate pass
NPROBE_POINTS = [1, 2, 4, 8]


def _nprobe_curve_oracle(sf_dir: str) -> str:
    """Dynamic oracle: the IVF side re-derives _ivf_oracle's CTE chain
    with the probe's cell RANK kept (rn in `assigned`), the exact side
    is TOPK_SQL verbatim — so every curve point is measured against
    exactly what cosine_ivf and cosine_topk certify."""
    cents = ivf_codebook(sf_dir)
    values = ",\n          ".join(
        f"({i}, [{', '.join(repr(v) for v in row)}]::DOUBLE[])"
        for i, row in enumerate(cents)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
               FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    cent_vals(cent_id, cv) AS (
        VALUES {values}),
    cents AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS ncv
              FROM cent_vals),
    assigned AS (
        SELECT e.vec_id, e.v, e.nv, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv) / (e.nv * c.ncv) DESC,
                            c.cent_id) AS rn
        FROM e CROSS JOIN cents c),
    cells AS (SELECT vec_id, v, nv, cent_id FROM assigned WHERE rn = 1),
    probe_cells AS (
        SELECT vec_id AS probe_id, v AS pv, nv AS pn, cent_id,
               CAST(rn AS INT) AS cell_rank
        FROM assigned WHERE vec_id % {PROBE_MOD} = 0 AND rn <= {N_PROBE}),
    cand AS (
        SELECT p.probe_id, p.cell_rank, s.vec_id AS neighbor_id,
               list_dot_product(p.pv, s.v) / (p.pn * s.nv) AS cos
        FROM probe_cells p JOIN cells s
          ON s.cent_id = p.cent_id AND s.vec_id <> p.probe_id),
    pts(nprobe) AS (VALUES {', '.join(f'({p})' for p in NPROBE_POINTS)}),
    curve AS (
        SELECT pts.nprobe, c.probe_id, c.neighbor_id,
               row_number() OVER (
                   PARTITION BY pts.nprobe, c.probe_id
                   ORDER BY c.cos DESC, c.neighbor_id) AS rn
        FROM cand c JOIN pts ON c.cell_rank <= pts.nprobe),
    ncand AS (SELECT pts.nprobe, count(*) AS nc
              FROM cand c JOIN pts ON c.cell_rank <= pts.nprobe
              GROUP BY pts.nprobe),
    exact AS ({TOPK_SQL}),
    hits AS (SELECT cv.nprobe, count(*) AS h
             FROM curve cv JOIN exact x
               ON x.probe_id = cv.probe_id AND x.neighbor_id = cv.neighbor_id
             WHERE cv.rn <= {TOP_K}
             GROUP BY cv.nprobe),
    np_tot AS (SELECT CAST(count(DISTINCT probe_id) AS BIGINT) AS n_probes
               FROM exact)
    SELECT CAST(pts.nprobe AS INT) AS nprobe,
           np_tot.n_probes,
           round(coalesce(ncand.nc, 0) / CAST(np_tot.n_probes AS DOUBLE), 2)
               AS avg_cands,
           round(coalesce(hits.h, 0)
                 / ({TOP_K}.0 * np_tot.n_probes), 6) AS mean_recall
    FROM pts
    CROSS JOIN np_tot
    LEFT JOIN ncand ON ncand.nprobe = pts.nprobe
    LEFT JOIN hits ON hits.nprobe = pts.nprobe
    """


@register(
    "ivf_nprobe_curve",
    _nprobe_curve_oracle,
    "the nprobe TUNING CURVE for the IVF index — near_dup_thresholds' "
    "similarity-search twin: mean recall@k against the exact "
    "brute-force truth AND the average candidates scanned per probe "
    f"at every nprobe in {NPROBE_POINTS}, from ONE candidate pass "
    "(candidates tagged with the 1-based rank of the probed cell they "
    "came from; a setting's candidate set is just cell_rank <= "
    "nprobe). This is THE recall-vs-compute trade an index owner "
    "reads before pinning nprobe at 100 TB — avg_cands IS the "
    "per-probe scan cost the recall is bought with. Scale shape: the "
    "only corpus-sized work is the certified IVF candidate join and "
    "exact-truth plan (both registered ops); the curve explode "
    f"multiplies only the bounded candidate set (x{len(NPROBE_POINTS)}), "
    "and everything aggregates to len(points) rows. Cross-engine: "
    "integer hit/candidate counts aggregated exactly, divided once.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def ivf_nprobe_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    # the candidate set and exact truth are bounded (probes x cells /
    # probes x k) — checkpoint both so the two aggregate legs and the
    # hits join don't re-run the IVF/brute-force corpus passes
    cand = ivf_topk_candidates(spark, sf_dir, all_cands=True).localCheckpoint(
        eager=False  # lazy (r10): the curve explode's first job materializes
    )
    pts = spark.createDataFrame([(p,) for p in NPROBE_POINTS], "nprobe int")
    c = cand.join(F.broadcast(pts), F.col("cell_rank") <= F.col("nprobe"))
    w = W.partitionBy("nprobe", "probe_id").orderBy(
        F.col("cos").desc(), "neighbor_id"
    )
    topk = c.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= TOP_K)
    exact = cosine_topk(spark, sf_dir).select(
        "probe_id", "neighbor_id"
    ).localCheckpoint(eager=False)  # lazy (r10)
    hits = topk.join(exact, ["probe_id", "neighbor_id"]).groupBy("nprobe").agg(
        F.count("*").alias("h")
    )
    ncand = c.groupBy("nprobe").agg(F.count("*").alias("nc"))
    np_tot = exact.select("probe_id").distinct().agg(
        F.count("*").cast("bigint").alias("n_probes")
    )
    return (
        pts.join(ncand, "nprobe", "left")
        .join(hits, "nprobe", "left")
        .crossJoin(F.broadcast(np_tot))
        .select(
            F.col("nprobe").cast("int").alias("nprobe"),
            "n_probes",
            F.round(
                F.coalesce("nc", F.lit(0)) / F.col("n_probes").cast("double"), 2
            ).alias("avg_cands"),
            F.round(
                F.coalesce("h", F.lit(0))
                / (F.lit(float(TOP_K)) * F.col("n_probes")),
                6,
            ).alias("mean_recall"),
        )
    )


# ---------------------------------------------------------------------------
# Semantic dedup: k-means cells + within-cell cosine pruning (SemDeDup)
# ---------------------------------------------------------------------------

# cosine threshold for "semantically identical" — the planted ×2-scaled
# copies score exactly cos(v, 2v) = dot(v,v)/nv² ≈ 1.0 (scaling by a
# power of two is exact in IEEE, so cell assignment and the pair cosine
# are bit-identical across engines); random 64-dim corpus vectors never
# approach it.
SEM_DUP_T = 0.99
# semantic_dedup cell-population target: k adapts so within-cell pair
# work stays ~O(n * SEM_TARGET_CELL) instead of O(n²/k_fixed). The
# formula is shared by both engines and floors at K_CENTROIDS, so at
# every verify scale (≤ 4,000 planted vectors) k is still exactly 64
# and the oracle hashes are unchanged; the x10 scaling tier (40,000
# planted) is where the fixed k measured a 78x blow-up before this.
SEM_TARGET_CELL = 64


def sem_k(n_planted: int) -> int:
    """Adaptive cell count for semantic_dedup: ~SEM_TARGET_CELL vectors
    per cell, floored at K_CENTROIDS, capped at the training-sample
    size (a codebook can't have more centroids than sample rows)."""
    return min(IVF_SAMPLE, max(K_CENTROIDS, n_planted // SEM_TARGET_CELL))


def sem_coarse(codebook: list[list[float]]):
    """Two-level assignment support: since sem_k grows ~linearly with
    the corpus, a FLAT per-row argmax over k fine centroids is
    O(n·k·dim) = O(n²·dim/64) — quadratic (the x10 scaling tier
    measured it 15.7x over 10x data). The faiss-style fix is a coarse
    quantizer: group the fine centroids themselves with spherical
    k-means into k1 = ceil(sqrt(k)) coarse cells; a row then argmaxes
    over k1 coarse centroids and over only the fine members of its
    winning coarse cell — O(n·sqrt(k)·dim) total, and the hierarchy is
    plan-time data so the per-row expression stays pure JVM codegen.

    Returns (coarse_centroids, fine_to_coarse): the coarse book (unit,
    9-decimal rounded — _lloyd's contract) and, per fine centroid, the
    id of its coarse cell (deterministic argmax, ties to the lowest
    index). Driver-side numpy over ≤4096×64 floats; BOTH engines call
    this same helper on the same fine codebook, so the hierarchy is
    identical by construction and only the per-ROW assignment needs
    cross-engine SQL mirroring."""
    import math

    import numpy as np

    k1 = max(1, math.ceil(math.sqrt(len(codebook))))
    coarse = _lloyd(codebook, k1)
    fine = np.asarray(codebook, dtype=np.float64)
    cn = np.asarray(coarse, dtype=np.float64)

    def _unit(m):
        nrm = np.linalg.norm(m, axis=1, keepdims=True)
        return m / np.where(nrm == 0.0, 1.0, nrm)

    # same determinism discipline as _lloyd: unit-normalize, round the
    # similarity matrix before the argmax so BLAS reduction noise can't
    # flip a pick, ties resolve to the lowest coarse index
    sims = np.round(_unit(fine) @ _unit(cn).T, 9)
    fine_to_coarse = [int(j) for j in np.argmax(sims, axis=1)]
    return coarse, fine_to_coarse


def _sem_oracle(sf_dir: str) -> str:
    """Dynamic oracle: same codebook literals as the Spark side (same
    sample, same adaptive k), with the planted scaled copies added
    before assignment."""
    import duckdb

    con = duckdb.connect()
    n_raw = con.execute(
        f"""
        SELECT count(*) FROM read_parquet('{sf_dir}/embeddings.parquet')
        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
        """
    ).fetchone()[0]
    con.close()
    cents = _lloyd(ivf_sample(sf_dir), sem_k(2 * n_raw))
    coarse, fine_to_coarse = sem_coarse(cents)
    live = sorted(set(fine_to_coarse))  # only coarse cells with members
    coarse_values = ",\n          ".join(
        f"({j}, [{', '.join(repr(v) for v in coarse[j])}]::DOUBLE[])" for j in live
    )
    values = ",\n          ".join(
        f"({i}, {fine_to_coarse[i]}, [{', '.join(repr(v) for v in row)}]::DOUBLE[])"
        for i, row in enumerate(cents)
    )
    return f"""
    WITH base AS (SELECT vec_id, embedding::DOUBLE[] AS v
                  FROM embeddings
                  WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    planted AS (
        SELECT vec_id, v FROM base
        UNION ALL
        SELECT vec_id + {PLANT_OFFSET} AS vec_id,
               list_transform(v, x -> x * 2.0) AS v
        FROM base),
    e AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM planted),
    coarse_vals(coarse_id, ccv) AS (
        VALUES {coarse_values}),
    coarse AS (SELECT coarse_id, ccv, sqrt(list_dot_product(ccv, ccv)) AS nccv
               FROM coarse_vals),
    cent_vals(cent_id, coarse_id, cv) AS (
        VALUES {values}),
    cents AS (SELECT cent_id, coarse_id, cv,
                     sqrt(list_dot_product(cv, cv)) AS ncv
              FROM cent_vals),
    coarse_assigned AS (
        SELECT e.vec_id, e.v, e.nv, c.coarse_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.ccv) / (e.nv * c.nccv) DESC,
                            c.coarse_id) AS rn
        FROM e CROSS JOIN coarse c),
    picked AS (SELECT vec_id, v, nv, coarse_id FROM coarse_assigned WHERE rn = 1),
    assigned AS (
        SELECT p.vec_id, p.v, p.nv, f.cent_id,
               row_number() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY list_dot_product(p.v, f.cv) / (p.nv * f.ncv) DESC,
                            f.cent_id) AS rn
        FROM picked p JOIN cents f ON f.coarse_id = p.coarse_id),
    cells AS (SELECT vec_id, v, nv, cent_id FROM assigned WHERE rn = 1),
    dup AS (
        SELECT a.vec_id AS d1, b.vec_id AS d2,
               list_dot_product(a.v, b.v) / (a.nv * b.nv) AS cos
        FROM cells a JOIN cells b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.v, b.v) / (a.nv * b.nv) >= {SEM_DUP_T})
    SELECT CAST(d2 AS BIGINT) AS dropped_id,
           CAST(min(d1) AS BIGINT) AS keeper_id,
           round(arg_min(cos, d1), 6) AS cos_sim
    FROM dup GROUP BY d2
    """


@register(
    "semantic_dedup",
    _sem_oracle,
    "semantic deduplication (SemDeDup-shaped): vectors partition into "
    "k-means cells (the cosine_ivf codebook — deterministic Lloyd on a "
    "bounded md5-ordered sample, broadcast as ONE array row), candidate "
    "pairs form ONLY within a cell (vectors carried through ONE cell "
    "groupBy, pairs + cosines generated inside the sorted member array "
    "— cost tracks cell occupancy, never n², and no join-back shuffle), "
    "each pair's exact cosine is verified JVM-side, and a vector is "
    "DROPPED when a near-identical (cos >= 0.99) cell-mate with a "
    "smaller id exists — keeper = that smallest cell-mate, the "
    "deterministic 'keep one representative' rule. k GROWS with the "
    "corpus (sem_k: ~64 vectors/cell, floored at 64 cells — the x10 "
    "scaling tier measured the fixed-k variant blowing up 78x before "
    "this) so per-cell work stays bounded, and assignment is TWO-LEVEL "
    "(sem_coarse: argmax over sqrt(k) coarse cells, then over the "
    "winning cell's fine members — O(n*sqrt(k)*dim), the faiss coarse-"
    "quantizer shape; the flat argmax was O(n*k*dim), quadratic in n); "
    "cells are the IVF inverted "
    "lists, so this shares its partitioning with the ANN index. Planted ×2-scaled copies (exact "
    "direction match) must each drop against their original (pinned in "
    "tests/test_pipeline_ops.py). Oracle: same codebook inlined as "
    "literals, built at check time.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01/0.1 (verify)
)
def semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
        .filter(l2norm(F.col("v")) > 0)
    )
    # codebook from the ORIGINAL corpus only (the oracle builder reads
    # the parquet directly), trained as in cosine_ivf but with the
    # ADAPTIVE cell count: k tracks corpus size so per-cell population
    # — and with it the within-cell pair verification — stays bounded
    # (one tiny count action; at real scale this comes from table stats)
    n_raw = raw.count()
    cent_key = md5_long(F.concat(F.lit("cent-"), F.col("vec_id").cast("string")))
    sample = (
        raw.orderBy(cent_key.asc(), F.col("vec_id").asc())
        .limit(IVF_SAMPLE)
        .select("v")
        .collect()
    )
    codebook = _lloyd([r.v for r in sample], sem_k(2 * n_raw))
    # two-level assignment (sem_coarse): a flat argmax over k fine
    # centroids is O(n·k·dim) with k ∝ n — quadratic. The coarse book
    # over the fine centroids makes each row scan k1=√k coarse cells
    # plus its winning cell's fine members only.
    coarse, fine_to_coarse = sem_coarse(codebook)
    live = sorted(set(fine_to_coarse))
    # the two-level book ships as ONE pre-built LocalRelation row
    # (book_rows: norms pre-folded driver-side, bit-identical to the
    # l2norm fold): the members-only coarse array plus a coarse_id ->
    # fine-member map — zero aggregation jobs over plan-time-constant
    # data (the old createDataFrame + join + collect-to-one-row chain
    # burned ~1s of job overhead per query)
    book_row = spark.createDataFrame(
        [
            (
                book_rows([(j, coarse[j]) for j in live]),
                {
                    j: book_rows(
                        [
                            (i, codebook[i])
                            for i in range(len(codebook))
                            if fine_to_coarse[i] == j
                        ]
                    )
                    for j in live
                },
            )
        ],
        "coarse array<struct<coarse_id:bigint,ccv:array<double>,nccv:double>>, "
        "gm map<bigint,array<struct<cent_id:bigint,cv:array<double>,ncv:double>>>",
    )
    planted = raw.unionByName(
        raw.select(
            (F.col("vec_id") + PLANT_OFFSET).alias("vec_id"),
            F.transform(F.col("v"), lambda x: x * 2.0).alias("v"),
        )
    )
    e = (
        planted.repartition(spark.sparkContext.defaultParallelism)
        .withColumn("nv", l2norm(F.col("v")))
        .crossJoin(F.broadcast(book_row))
    )
    # per-row coarse argmax (k1 cells), then fine argmax over the
    # winning cell's members — same (sim DESC, id ASC) tie rule both
    # levels, mirrored in the oracle's two row_number windows
    coarse_sims = F.transform(
        F.col("coarse"),
        lambda c: F.struct(
            (dot(F.col("v"), c.ccv) / (F.col("nv") * c.nccv)).alias("sim"),
            (-c.coarse_id).alias("neg_cent"),
        ),
    )
    best_coarse = (-F.array_max(coarse_sims).neg_cent).cast("bigint")
    members = F.element_at(F.col("gm"), best_coarse)
    fine_sims = F.transform(
        members,
        lambda m: F.struct(
            (dot(F.col("v"), m.cv) / (F.col("nv") * m.ncv)).alias("sim"),
            (-m.cent_id).alias("neg_cent"),
        ),
    )
    best = F.array_max(fine_sims)
    cells = e.select(
        "vec_id", "v", "nv", (-best.neg_cent).cast("bigint").alias("cent_id")
    )
    # within-cell pair verification with the vectors CARRIED THROUGH the
    # cell groupBy: each cell collects its (id, v, norm) members into a
    # sorted array and pairs + exact cosines are generated inside the
    # array (same 1-indexed slice as dedup.pairs_in_buckets) — the whole
    # verify is ONE shuffle of the vectors, where the id-only bucket
    # variant paid two MORE shuffles joining the vectors back by id (and
    # re-derived the assignment expression for each join branch).
    # Per-cell state is bounded by the adaptive k (~SEM_TARGET_CELL
    # members/cell); a mega-cell would mean a degenerate codebook —
    # raise k, don't add shuffles.
    grouped = (
        cells.groupBy("cent_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("vec_id", "v", "nv"))
            ).alias("ms")
        )
        .filter(F.size("ms") > 1)
    )
    pair_structs = F.flatten(
        F.transform(
            F.col("ms"),
            lambda x, i: F.transform(
                F.slice(F.col("ms"), i + 2, F.size(F.col("ms"))),
                lambda y: F.struct(
                    x.vec_id.alias("vec_id_1"),
                    y.vec_id.alias("vec_id_2"),
                    (dot(x.v, y.v) / (x.nv * y.nv)).alias("cos"),
                ),
            ),
        )
    )
    dup = (
        grouped.select(F.explode(pair_structs).alias("p"))
        .select("p.vec_id_1", "p.vec_id_2", "p.cos")
        .filter(F.col("cos") >= SEM_DUP_T)
    )
    return dup.groupBy(F.col("vec_id_2").alias("dropped_id")).agg(
        F.min("vec_id_1").cast("bigint").alias("keeper_id"),
        F.round(F.min_by("cos", "vec_id_1"), 6).alias("cos_sim"),
    )


# ---------------------------------------------------------------------------
# Product quantization: 8-byte codes instead of 512-byte vectors
# ---------------------------------------------------------------------------

PQ_SUBSPACES = 8  # 64 dims -> 8 subvectors of 8
PQ_K = 16  # centroids per subspace codebook -> one code fits 4 bits
PQ_DIM = 64


def _lloyd_plain(mat, k: int, iters: int = 8) -> list[list[float]]:
    """Deterministic PLAIN k-means (euclidean, no normalization — PQ
    quantizes magnitudes too, unlike the spherical IVF codebook): fixed
    iteration count, argmin ties to the lowest index, per-step rounding
    for bit-stability. Returns <= k centroids rounded to 9 decimals.

    Seeding is first-k from the md5-ordered sample — i.e. a uniform
    random draw. The maxmin (k-means++-style) seed was measured WORSE
    here: with k=16 codes per low-dim subspace on near-isotropic data it
    captures outliers as centroids and ADC recall@5 dropped 0.30 → 0.24,
    while the spherical coarse codebook (_lloyd) gained from it — the
    two quantizers genuinely want different seeds."""
    import numpy as np

    x = np.asarray(mat, dtype=np.float64)
    k = min(k, len(x))
    c = x[:k].copy()
    for _ in range(iters):
        d2 = np.round(((x[:, None, :] - c[None, :, :]) ** 2).sum(axis=2), 9)
        assign = np.argmin(d2, axis=1)
        for j in range(k):
            members = x[assign == j]
            if len(members):
                c[j] = np.round(members.mean(axis=0), 12)
    return [[float(v) for v in row] for row in np.round(c, 9)]


def pq_codebooks(sf_dir: str) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks from the SAME deterministic md5-ordered
    sample as the IVF codebook (bounded driver transfer): codebook[j] is
    the PQ_K x (PQ_DIM/PQ_SUBSPACES) centroid list for subspace j."""
    rows = ivf_sample(sf_dir)
    sub = PQ_DIM // PQ_SUBSPACES
    mats = [[r[j * sub : (j + 1) * sub] for r in rows] for j in range(PQ_SUBSPACES)]
    return [_lloyd_plain(m, PQ_K) for m in mats]


def _pq_oracle(sf_dir: str) -> str:
    books = pq_codebooks(sf_dir)
    sub = PQ_DIM // PQ_SUBSPACES
    values = ",\n          ".join(
        f"({j}, {c}, [{', '.join(repr(v) for v in row)}]::DOUBLE[])"
        for j, book in enumerate(books)
        for c, row in enumerate(book)
    )
    subv = f"v[{{lo}}:{{hi}}]"  # noqa: F541 — template, formatted below
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    cents(sub_id, code, cv) AS (VALUES {values}),
    subvecs AS (
        SELECT vec_id, s.sub_id,
               v[s.sub_id * {sub} + 1 : s.sub_id * {sub} + {sub}] AS sv
        FROM e CROSS JOIN (SELECT unnest(generate_series(0, {PQ_SUBSPACES - 1}))
                           AS sub_id) s),
    -- round(d2, 9) mirrors the Spark side's F.round(sq_dist, 9) argmin
    -- key exactly, so a near-tie (two centroids within 1e-9) resolves
    -- to the same lowest code in both engines
    assigned AS (
        SELECT vec_id, subvecs.sub_id AS sub_id, code,
               row_number() OVER (
                   PARTITION BY vec_id, subvecs.sub_id
                   ORDER BY round(list_sum(list_transform(
                       list_zip(sv, cv),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))), 9) ASC,
                   code) AS rn
        FROM subvecs JOIN cents ON cents.sub_id = subvecs.sub_id),
    codes AS (SELECT vec_id, sub_id, code FROM assigned WHERE rn = 1),
    probes AS (SELECT vec_id AS probe_id, v AS pv FROM e
               WHERE vec_id % {PROBE_MOD} = 0),
    -- ADC tables: probe-subvector . centroid, per (probe, sub, code)
    adc AS (
        SELECT p.probe_id, c.sub_id, c.code,
               list_dot_product(
                   pv[c.sub_id * {sub} + 1 : c.sub_id * {sub} + {sub}], c.cv)
                   AS part
        FROM probes p CROSS JOIN cents c),
    scored AS (
        SELECT a.probe_id, s.vec_id AS neighbor_id, sum(a.part) AS adc_dot
        FROM codes s
        JOIN adc a ON a.sub_id = s.sub_id AND a.code = s.code
        WHERE s.vec_id <> a.probe_id
        GROUP BY a.probe_id, s.vec_id),
    ranked AS (
        SELECT probe_id, neighbor_id, adc_dot,
               row_number() OVER (
                   PARTITION BY probe_id
                   ORDER BY round(adc_dot, 6) DESC, neighbor_id) AS rn
        FROM scored)
    SELECT probe_id, neighbor_id, round(adc_dot, 6) AS adc_dot
    FROM ranked WHERE rn <= {TOP_K}
    """


@register(
    "cosine_pq",
    _pq_oracle,
    "product-quantization ANN — the MEMORY axis of vector search at "
    "100 TB: each 64-dim float vector compresses to 8 four-bit codes "
    "(one per 8-dim subspace, 16-centroid plain-k-means codebook "
    "trained on the same bounded md5-ordered sample as the IVF "
    "codebook), so the searchable index is ~64x smaller than the raw "
    "vectors and a 'full scan' touches codes, never vectors. Encoding "
    "is a per-row higher-order argmin over the broadcast codebook "
    "(one array row, no shuffle); search is asymmetric distance "
    "computation: each probe precomputes its 8x16 dot table once, "
    "every candidate scores as 8 table lookups summed in subspace "
    "order (deterministic float fold), top-5 per probe via "
    "row_number. Ranking is on the ROUNDED score with a neighbor-id "
    "tie-break so quantization-identical candidates order identically "
    "in both engines. Recall vs exact cosine gated in "
    "tests/test_similarity_recall.py.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01/0.1 (verify)
)
def cosine_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    sub = PQ_DIM // PQ_SUBSPACES
    raw = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
        .filter(l2norm(F.col("v")) > 0)
    )
    cent_key = md5_long(F.concat(F.lit("cent-"), F.col("vec_id").cast("string")))
    sample = (
        raw.orderBy(cent_key.asc(), F.col("vec_id").asc())
        .limit(IVF_SAMPLE)
        .select("v")
        .collect()
    )
    mats = [
        [r.v[j * sub : (j + 1) * sub] for r in sample] for j in range(PQ_SUBSPACES)
    ]
    books = [_lloyd_plain(m, PQ_K) for m in mats]
    # ONE broadcast row: books as array<array<array<double>>> (sub->code->dims)
    books_df = spark.createDataFrame(
        [(books,)], "books array<array<array<double>>>"
    )
    e = (
        raw.repartition(spark.sparkContext.defaultParallelism)
        .crossJoin(F.broadcast(books_df))
    )
    # encode: codes[j] = argmin_c sum((v_sub - cent)^2), ties -> lowest code
    def sq_dist(j, c):
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("v"), j * sub + 1, sub),
                c,
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    codes_arr = F.transform(
        F.col("books"),
        lambda book, j: (
            -F.array_max(
                F.transform(
                    book,
                    lambda c, ci: F.struct(
                        (-F.round(sq_dist(j, c), 9)).alias("neg_d"),
                        (-ci).alias("neg_code"),
                    ),
                )
            ).neg_code
        ).cast("int"),
    )
    encoded = e.select("vec_id", "v", codes_arr.alias("codes"))
    # probes: per-probe ADC table as array[sub][code] of partial dots
    table_arr = F.transform(
        F.col("books"),
        lambda book, j: F.transform(
            book,
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(F.col("v"), j * sub + 1, sub), c, lambda x, y: x * y
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    probes = e.filter(F.col("vec_id") % PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"), table_arr.alias("tbl")
    )
    # ADC score: sum over subspaces of tbl[j][codes[j]] in subspace order
    pair = encoded.select("vec_id", "codes").crossJoin(F.broadcast(probes))
    adc = F.aggregate(
        F.zip_with(
            F.col("tbl"),
            F.col("codes"),
            lambda t, c: F.element_at(t, c + 1),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = pair.filter(F.col("vec_id") != F.col("probe_id")).select(
        "probe_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(adc, 6).alias("adc_dot"),
    )
    w = W.partitionBy("probe_id").orderBy(F.col("adc_dot").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("probe_id", "neighbor_id", "adc_dot")
    )


# ---------------------------------------------------------------------------
# IVF + PQ: coarse cells restrict candidates, RESIDUAL codes score them
# ---------------------------------------------------------------------------


def residual_pq_books(sample_vecs, codebook) -> list[list[list[float]]]:
    """Per-subspace PQ codebooks trained on RESIDUALS ``v − centroid``:
    each sample vector is assigned to its coarse cell by the same
    cosine-argmax rule the distributed query uses (round-9 similarity,
    ties to the lowest cent_id), its residual against that (unit,
    round-9) centroid is taken on the RAW vector, and the plain
    subspace k-means trains on the residual slices. Residual encoding
    is the standard IVF-PQ recall lift at identical index layout: the
    codes only have to cover the within-cell spread, not the whole
    space. Shared by the Spark query and the DuckDB oracle builder, so
    both derive identical books from the identical sample."""
    import numpy as np

    x = np.asarray(sample_vecs, dtype=np.float64)
    c = np.asarray(codebook, dtype=np.float64)
    nx = np.linalg.norm(x, axis=1, keepdims=True)
    nx = np.where(nx == 0.0, 1.0, nx)
    nc = np.linalg.norm(c, axis=1)
    nc = np.where(nc == 0.0, 1.0, nc)
    # round-9 before argmax: same bit-stability convention as _lloyd
    sims = np.round((x / nx) @ (c / nc[:, None]).T, 9)
    assign = np.argmax(sims, axis=1)
    resid = x - c[assign]
    sub = PQ_DIM // PQ_SUBSPACES
    return [
        _lloyd_plain(resid[:, j * sub : (j + 1) * sub].tolist(), PQ_K)
        for j in range(PQ_SUBSPACES)
    ]


def _ivfpq_oracle(sf_dir: str) -> str:
    sample = ivf_sample(sf_dir)
    cents = _lloyd(sample)
    books = residual_pq_books(sample, cents)
    sub = PQ_DIM // PQ_SUBSPACES
    ivf_values = ",\n          ".join(
        f"({i}, [{', '.join(repr(v) for v in row)}]::DOUBLE[])"
        for i, row in enumerate(cents)
    )
    pq_values = ",\n          ".join(
        f"({j}, {c}, [{', '.join(repr(v) for v in row)}]::DOUBLE[])"
        for j, book in enumerate(books)
        for c, row in enumerate(book)
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
               FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    cent_vals(cent_id, cv) AS (VALUES {ivf_values}),
    cents AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS ncv
              FROM cent_vals),
    assigned AS (
        SELECT e.vec_id, e.v, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv) / (e.nv * c.ncv) DESC,
                            c.cent_id) AS rn
        FROM e CROSS JOIN cents c),
    -- RESIDUAL encoding: codes quantize v - centroid(cell), so the
    -- subspace books only cover within-cell spread
    cells AS (SELECT a.vec_id,
                     list_transform(list_zip(a.v, c.cv), p -> p[1] - p[2]) AS rv,
                     a.cent_id
              FROM assigned a JOIN cent_vals c ON c.cent_id = a.cent_id
              WHERE rn = 1),
    pq_cents(sub_id, code, pcv) AS (VALUES {pq_values}),
    subvecs AS (
        SELECT vec_id, s.sub_id,
               rv[s.sub_id * {sub} + 1 : s.sub_id * {sub} + {sub}] AS sv
        FROM cells CROSS JOIN (SELECT unnest(generate_series(0, {PQ_SUBSPACES - 1}))
                               AS sub_id) s),
    code_assigned AS (
        SELECT vec_id, subvecs.sub_id AS sub_id, code,
               row_number() OVER (
                   PARTITION BY vec_id, subvecs.sub_id
                   ORDER BY round(list_sum(list_transform(
                       list_zip(sv, pcv),
                       p -> (p[1] - p[2]) * (p[1] - p[2]))), 9) ASC,
                   code) AS rn
        FROM subvecs JOIN pq_cents ON pq_cents.sub_id = subvecs.sub_id),
    codes AS (SELECT vec_id, sub_id, code FROM code_assigned WHERE rn = 1),
    -- per probed cell: dot(probe, centroid) is the coarse term of the
    -- reconstructed score dot(p, centroid + residual_hat)
    probe_cells AS (
        SELECT a.vec_id AS probe_id, a.v AS pv, a.cent_id,
               list_dot_product(a.v, c.cv) AS cent_dot
        FROM assigned a JOIN cent_vals c ON c.cent_id = a.cent_id
        WHERE a.vec_id % {PROBE_MOD} = 0 AND rn <= {N_PROBE}),
    adc AS (
        SELECT p.probe_id, c.sub_id, c.code,
               list_dot_product(
                   pv[c.sub_id * {sub} + 1 : c.sub_id * {sub} + {sub}], c.pcv)
                   AS part
        FROM (SELECT DISTINCT probe_id, pv FROM probe_cells) p
        CROSS JOIN pq_cents c),
    cand AS (
        SELECT p.probe_id, s.vec_id AS neighbor_id, p.cent_dot
        FROM probe_cells p JOIN cells s
          ON s.cent_id = p.cent_id AND s.vec_id <> p.probe_id),
    scored AS (
        SELECT c.probe_id, c.neighbor_id, c.cent_dot + sum(a.part) AS adc_dot
        FROM cand c
        JOIN codes k ON k.vec_id = c.neighbor_id
        JOIN adc a ON a.probe_id = c.probe_id
               AND a.sub_id = k.sub_id AND a.code = k.code
        GROUP BY c.probe_id, c.neighbor_id, c.cent_dot),
    ranked AS (
        SELECT probe_id, neighbor_id, adc_dot,
               row_number() OVER (
                   PARTITION BY probe_id
                   ORDER BY round(adc_dot, 6) DESC, neighbor_id) AS rn
        FROM scored)
    SELECT probe_id, neighbor_id, round(adc_dot, 6) AS adc_dot
    FROM ranked WHERE rn <= {TOP_K}
    """


@register(
    "cosine_ivfpq",
    _ivfpq_oracle,
    "IVF+PQ with RESIDUAL encoding — the production ANN pairing: the "
    "spherical IVF codebook restricts each probe's candidates to its "
    "top-8 cells (cosine_ivf's coarse stage — an equi-join on cent_id, "
    "~nprobe/k of the corpus per probe), and PQ asymmetric-distance "
    "tables score those candidates from 8 four-bit codes that quantize "
    "the RESIDUAL v - centroid(cell) (the books only cover within-cell "
    "spread, the standard recall lift at identical index layout; "
    "r04 verdict item 1). The score is the reconstructed "
    "dot(p, centroid + residual_hat) = dot(p, centroid) [one extra "
    "double per probed cell] + sum of 8 ADC table lookups. Compute "
    "cost tracks the IVF candidate count; memory cost tracks the PQ "
    "code size: at 100 TB the inverted lists hold codes, vectors exist "
    "only at the encode edge. Both codebooks and the residual books "
    "come from the same bounded md5-ordered sample (shared Python "
    "helpers, so the oracle inlines bit-identical literal sets); "
    "recall@5 gated strictly above the non-residual variant in "
    "tests/test_similarity_recall.py.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01/0.1 (verify)
)
def cosine_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    sub = PQ_DIM // PQ_SUBSPACES
    raw = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
        .filter(l2norm(F.col("v")) > 0)
    )
    cent_key = md5_long(F.concat(F.lit("cent-"), F.col("vec_id").cast("string")))
    sample = (
        raw.orderBy(cent_key.asc(), F.col("vec_id").asc())
        .limit(IVF_SAMPLE)
        .select("v")
        .collect()
    )
    codebook = _lloyd([r.v for r in sample])
    # subspace books trained on RESIDUALS of the same sample (shared
    # helper with the oracle builder — identical floats by construction)
    books = residual_pq_books([r.v for r in sample], codebook)
    # one-row LocalRelation book (see book_rows): no aggregation jobs
    # over plan-time-constant data
    cent_row = spark.createDataFrame(
        [(book_rows(enumerate(codebook)),)],
        "cents array<struct<cent_id:bigint,cv:array<double>,ncv:double>>",
    )
    books_df = spark.createDataFrame([(books,)], "books array<array<array<double>>>")
    e = (
        raw.repartition(spark.sparkContext.defaultParallelism)
        .withColumn("nv", l2norm(F.col("v")))
        .crossJoin(F.broadcast(cent_row))
        .crossJoin(F.broadcast(books_df))
    )
    sims = F.transform(
        F.col("cents"),
        lambda c: F.struct(
            (dot(F.col("v"), c.cv) / (F.col("nv") * c.ncv)).alias("sim"),
            (-c.cent_id).alias("neg_cent"),
        ),
    )
    best = F.array_max(sims)

    def cell_cv(cid: Column) -> Column:
        # cents is array_sort-ed by cent_id, so position cid+1 IS cell cid
        return F.element_at(F.col("cents"), cid.cast("int") + 1)["cv"]

    # residual against the assigned cell's (unit, round-9) centroid —
    # materialized as a column so the 8 subspace argmins slice one array
    assigned = e.withColumn("cid", (-best.neg_cent).cast("int")).withColumn(
        "rv", F.zip_with(F.col("v"), cell_cv(F.col("cid")), lambda a, b: a - b)
    )

    def sq_dist(j, c):
        return F.aggregate(
            F.zip_with(
                F.slice(F.col("rv"), j * sub + 1, sub),
                c,
                lambda x, y: (x - y) * (x - y),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    codes_arr = F.transform(
        F.col("books"),
        lambda book, j: (
            -F.array_max(
                F.transform(
                    book,
                    lambda c, ci: F.struct(
                        (-F.round(sq_dist(j, c), 9)).alias("neg_d"),
                        (-ci).alias("neg_code"),
                    ),
                )
            ).neg_code
        ).cast("int"),
    )
    cells = assigned.select(
        "vec_id",
        F.col("cid").cast("bigint").alias("cent_id"),
        codes_arr.alias("codes"),
    )
    table_arr = F.transform(
        F.col("books"),
        lambda book, j: F.transform(
            book,
            lambda c: F.aggregate(
                F.zip_with(
                    F.slice(F.col("v"), j * sub + 1, sub), c, lambda x, y: x * y
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ),
        ),
    )
    top_cells = F.slice(
        F.array_sort(sims),
        -F.least(F.lit(N_PROBE), F.size(sims)),
        F.lit(N_PROBE),
    )
    probes = (
        e.filter(F.col("vec_id") % PROBE_MOD == 0)
        .select(
            F.col("vec_id").alias("probe_id"),
            "v",
            "cents",
            table_arr.alias("tbl"),
            F.explode(top_cells).alias("pc"),
        )
        .select(
            "probe_id",
            "tbl",
            (-F.col("pc.neg_cent")).cast("bigint").alias("cent_id"),
            # coarse term of the reconstructed score
            # dot(p, centroid + residual_hat), per probed cell
            dot(F.col("v"), cell_cv((-F.col("pc.neg_cent")).cast("int"))).alias(
                "cent_dot"
            ),
        )
    )
    adc = F.aggregate(
        F.zip_with(F.col("tbl"), F.col("codes"), lambda t, c: F.element_at(t, c + 1)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        cells.join(
            F.broadcast(probes),
            (cells.cent_id == probes.cent_id) & (F.col("vec_id") != F.col("probe_id")),
        )
        .select(
            "probe_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(F.col("cent_dot") + adc, 6).alias("adc_dot"),
        )
        # no dedup needed: every vector lives in exactly ONE cell
        # (rn = 1 assignment), so a (probe, neighbor) pair matches at
        # most once even with nprobe cells exploded on the probe side
    )
    w = W.partitionBy("probe_id").orderBy(F.col("adc_dot").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOP_K)
        .select("probe_id", "neighbor_id", "adc_dot")
    )


# ---------------------------------------------------------------------------
# kNN classification: the "similarity search applied" op — predict a
# probe's label by majority vote of its cosine top-k neighbors
# ---------------------------------------------------------------------------


@register(
    "knn_classify",
    f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    probes AS (SELECT vec_id AS probe_id, label AS true_label, v AS pv
               FROM e WHERE vec_id % {PROBE_MOD} = 0),
    scored AS (
        SELECT p.probe_id, p.true_label, e.label AS nbr_label,
               row_number() OVER (
                   PARTITION BY p.probe_id
                   ORDER BY {COSINE_SQL.format(a='p.pv', b='e.v')} DESC, e.vec_id) AS rn
        FROM probes p CROSS JOIN e
        WHERE e.vec_id <> p.probe_id),
    votes AS (
        SELECT probe_id, true_label, nbr_label,
               CAST(count(*) AS BIGINT) AS n_votes
        FROM scored WHERE rn <= {TOP_K}
        GROUP BY probe_id, true_label, nbr_label),
    ranked AS (
        SELECT probe_id, true_label, nbr_label AS pred_label, n_votes,
               row_number() OVER (
                   PARTITION BY probe_id
                   ORDER BY n_votes DESC, nbr_label) AS vr
        FROM votes)
    SELECT probe_id, CAST(true_label AS INT) AS true_label,
           CAST(pred_label AS INT) AS pred_label, n_votes,
           CAST(true_label = pred_label AS INT) AS correct
    FROM ranked WHERE vr = 1
    """,
    f"kNN classification over the embedding column: each probe (vec_id % "
    f"{PROBE_MOD} == 0) takes the majority label of its {TOP_K} nearest "
    "cosine neighbors (self excluded; ties -> most votes then smallest "
    "label — deterministic). The candidate stage here is the exact "
    "brute-force top-k (broadcast probes x partitioned corpus, one "
    "corpus pass); at index scale the same vote/rank tail composes "
    "unchanged over cosine_ivf/cosine_ivfpq candidates — the vote is "
    "id+label-only aggregation, so everything after the similarity "
    "stage shuffles bytes, not vectors. Accuracy vs the stored labels "
    "is reported per probe (correct column); the synthetic corpus "
    "carries geometry-free random labels, so it sits at chance THERE "
    "by construction — the behavioral gate runs on a planted 3-cluster "
    "fixture where every probe's whole neighborhood shares its label "
    "and accuracy must be exactly 1.0 "
    "(tests/test_similarity_recall.py).",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
        .filter(l2norm(F.col("v")) > 0)
        .withColumn("nv", l2norm(F.col("v")))
    )
    probes = e.filter(F.col("vec_id") % PROBE_MOD == 0).select(
        F.col("vec_id").alias("probe_id"),
        F.col("label").alias("true_label"),
        F.col("v").alias("pv"),
        F.col("nv").alias("npv"),
    )
    cos = dot(F.col("pv"), F.col("v")) / (F.col("npv") * F.col("nv"))
    scored = (
        e.crossJoin(F.broadcast(probes))
        .filter(F.col("vec_id") != F.col("probe_id"))
        .select(
            "probe_id",
            "true_label",
            F.col("label").alias("nbr_label"),
            F.col("vec_id").alias("neighbor_id"),
            cos.alias("cos"),
        )
    )
    w = W.partitionBy("probe_id").orderBy(F.col("cos").desc(), F.col("neighbor_id"))
    topk = scored.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") <= TOP_K)
    return knn_vote(topk)


def knn_vote(topk: DataFrame) -> DataFrame:
    """The kNN majority-vote tail over a (probe_id, true_label,
    nbr_label, ...) top-k candidate frame: most votes wins, ties break
    to the smallest label — deterministic. Composes UNCHANGED over any
    candidate generator (brute-force in ``knn_classify``, the IVF
    index in ``knn_classify_ivf``): everything here is id+label-only
    aggregation, so the tail shuffles bytes, not vectors."""
    votes = topk.groupBy("probe_id", "true_label", "nbr_label").agg(
        F.count("*").cast("bigint").alias("n_votes")
    )
    vw = W.partitionBy("probe_id").orderBy(F.col("n_votes").desc(), F.col("nbr_label"))
    return (
        votes.withColumn("vr", F.row_number().over(vw))
        .filter(F.col("vr") == 1)
        .select(
            "probe_id",
            F.col("true_label").cast("int").alias("true_label"),
            F.col("nbr_label").cast("int").alias("pred_label"),
            "n_votes",
            (F.col("true_label") == F.col("nbr_label")).cast("int").alias("correct"),
        )
    )


_KNN_VOTE_TAIL_SQL = f"""
    votes AS (
        SELECT probe_id, true_label, nbr_label,
               CAST(count(*) AS BIGINT) AS n_votes
        FROM scored WHERE rn <= {TOP_K}
        GROUP BY probe_id, true_label, nbr_label),
    ranked AS (
        SELECT probe_id, true_label, nbr_label AS pred_label, n_votes,
               row_number() OVER (
                   PARTITION BY probe_id
                   ORDER BY n_votes DESC, nbr_label) AS vr
        FROM votes)
    SELECT probe_id, CAST(true_label AS INT) AS true_label,
           CAST(pred_label AS INT) AS pred_label, n_votes,
           CAST(true_label = pred_label AS INT) AS correct
    FROM ranked WHERE vr = 1
"""


def _knn_ivf_oracle(sf_dir: str) -> str:
    """Dynamic oracle: the IVF assignment/probe stages of
    :func:`_ivf_oracle` (same inlined centroid literals) with labels
    carried through, then the shared vote tail."""
    cents = ivf_codebook(sf_dir)
    values = ",\n          ".join(
        f"({i}, [{', '.join(repr(v) for v in row)}]::DOUBLE[])"
        for i, row in enumerate(cents)
    )
    return f"""
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v,
                      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
               FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    cent_vals(cent_id, cv) AS (
        VALUES {values}),
    cents AS (SELECT cent_id, cv, sqrt(list_dot_product(cv, cv)) AS ncv
              FROM cent_vals),
    assigned AS (
        SELECT e.vec_id, e.label, e.v, e.nv, c.cent_id,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, c.cv) / (e.nv * c.ncv) DESC,
                            c.cent_id) AS rn
        FROM e CROSS JOIN cents c),
    cells AS (SELECT vec_id, label, v, nv, cent_id FROM assigned WHERE rn = 1),
    probe_cells AS (
        SELECT vec_id AS probe_id, label AS true_label, v AS pv, nv AS np, cent_id
        FROM assigned WHERE vec_id % {PROBE_MOD} = 0 AND rn <= {N_PROBE}),
    scored AS (
        SELECT p.probe_id, p.true_label, s.label AS nbr_label,
               row_number() OVER (
                   PARTITION BY p.probe_id
                   ORDER BY list_dot_product(p.pv, s.v) / (p.np * s.nv) DESC,
                            s.vec_id) AS rn
        FROM probe_cells p JOIN cells s
          ON s.cent_id = p.cent_id AND s.vec_id <> p.probe_id),
    {_KNN_VOTE_TAIL_SQL}
    """


@register(
    "knn_classify_ivf",
    _knn_ivf_oracle,
    "kNN classification over the IVF index — the scale path the "
    "brute-force knn_classify documents: the SAME vote/rank tail "
    "(knn_vote) composed over cosine_ivf's candidate generator "
    "(ivf_topk_candidates, labels riding the existing rows), proving "
    "the r05-claimed composition in the catalog instead of asserting "
    "it. Per probe: nprobe-cell candidate search (~nprobe/k of the "
    "corpus), exact cosine within probed cells, majority label of the "
    f"top {TOP_K} (ties -> most votes then smallest label). The "
    "prediction can differ from brute-force exactly where IVF recall "
    "loses a neighbor — agreement on clustered data is gated in "
    "tests/test_similarity_recall.py (planted 3-cluster fixture: "
    "accuracy 1.0 AND per-probe agreement with knn_classify). Oracle "
    "inlines the identical codebook literals, as cosine_ivf.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def knn_classify_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    return knn_vote(ivf_topk_candidates(spark, sf_dir, with_labels=True))


# ---------------------------------------------------------------------------
# PCA projection: bounded-sample-trained linear dimension reduction
# ---------------------------------------------------------------------------

PCA_DIM = 8  # output components
PCA_ITERS = 60  # power-iteration steps per component


def pca_model(sample_vecs, d_out: int = PCA_DIM):
    """Deterministic PCA on the (≤4096-row) training sample: mean +
    top-``d_out`` principal axes by power iteration with deflation.
    Mirrors ``_lloyd``'s determinism discipline — float64 throughout,
    fixed unit-basis seeds, per-step rounding (kills last-ulp BLAS
    reduction noise so results are bit-stable across processes and
    thread counts), sign fixed so the largest-|coordinate| entry is
    positive. Returns (mean, components) with every float rounded to 9
    decimals — the literals BOTH engines consume."""
    import numpy as np

    x = np.asarray(sample_vecs, dtype=np.float64)
    mean = np.round(x.mean(axis=0), 9)
    xc = np.round(x - mean, 9)
    dim = xc.shape[1]
    comps: list = []
    for j in range(min(d_out, dim)):
        v = np.zeros(dim)
        v[j % dim] = 1.0
        for _ in range(PCA_ITERS):
            w = xc.T @ (xc @ v)
            for c in comps:
                w = w - np.dot(w, c) * c
            n = np.linalg.norm(w)
            v = np.round(w / (n if n else 1.0), 12)
        i = int(np.argmax(np.abs(np.round(v, 9))))
        if v[i] < 0:
            v = -v
        comps.append(np.round(v, 9))
    return (
        [float(m) for m in mean],
        [[float(c) for c in row] for row in comps],
    )


def _pca_oracle(sf_dir: str) -> str:
    """Dynamic oracle: inline the sample-trained axes as literals (repr
    round-trips float64 exactly); (v - mean) . w == v . w - mean . w, so
    the mean folds into one scalar offset per component."""
    mean, comps = pca_model(ivf_sample(sf_dir))
    import numpy as np

    cols = []
    for j, w in enumerate(comps):
        b = float(np.dot(np.asarray(mean), np.asarray(w)))
        lit = f"[{', '.join(repr(x) for x in w)}]::DOUBLE[]"
        cols.append(
            f"round(list_dot_product(embedding::DOUBLE[], {lit}) - {b!r}, 6)"
            f" AS pc{j + 1}"
        )
    sel = ",\n           ".join(cols)
    return f"""
    SELECT vec_id, label,
           {sel}
    FROM embeddings
    """


@register(
    "embed_pca",
    _pca_oracle,
    "PCA dimension reduction over the embedding column (the standard "
    "pre-pass before ANN indexing / clustering when 64 raw dims carry "
    "redundant variance): top-8 principal axes trained by deterministic "
    "power iteration on the SAME bounded md5-ordered ≤4096-vector "
    "sample as the IVF codebook (one TakeOrdered collect, never a "
    "corpus-sized transfer), then applied corpus-wide as EIGHT literal "
    "dot products inside whole-stage codegen — a zero-shuffle per-row "
    "map, embarrassingly parallel at any corpus size. (v - mean) . w "
    "folds the centering into a scalar offset per component, so the hot "
    "path is pure multiply-add over the array column; the oracle "
    "inlines the identical axis literals and DuckDB's sequential "
    "list_dot_product matches Spark's aggregate fold bit-for-bit.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01/0.1 (verify)
)
def embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    raw = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", as_double(F.col("embedding")).alias("v")
    )
    # the SAME deterministic sample as the IVF/PQ codebooks (md5-ordered
    # TakeOrdered, zero-norm rows excluded from TRAINING only — the
    # projection itself applies to every row)
    cent_key = md5_long(F.concat(F.lit("cent-"), F.col("vec_id").cast("string")))
    sample = (
        raw.filter(l2norm(F.col("v")) > 0)
        .orderBy(cent_key.asc(), F.col("vec_id").asc())
        .limit(IVF_SAMPLE)
        .select("v")
        .collect()
    )
    mean, comps = pca_model([r.v for r in sample])
    out = [F.col("vec_id"), F.col("label")]
    for j, wvec in enumerate(comps):
        b = float(np.dot(np.asarray(mean), np.asarray(wvec)))
        lit = F.array(*[F.lit(x) for x in wvec])
        out.append(
            F.round(dot(F.col("v"), lit) - F.lit(b), 6).alias(f"pc{j + 1}")
        )
    return raw.select(*out)


# ---------------------------------------------------------------------------
# k-center diversity coreset: greedy farthest-point prototypes + coverage
# ---------------------------------------------------------------------------

KC_K = 16  # prototype count
KC_SAMPLE = 1024  # bounded greedy sample (driver transfer cap, like IVF_SAMPLE)
_KC_ORDER_SQL = md5_long_sql("concat('kc-', CAST(vec_id AS VARCHAR))") + ", vec_id"


def kc_sample(sf_dir: str) -> list[tuple[int, list[float]]]:
    """The deterministic md5-ordered ≤1024-vector greedy sample with ids,
    read driver-side with DuckDB — the oracle builder's path; the Spark
    query collects the SAME rows via TakeOrdered."""
    import duckdb

    con = duckdb.connect()
    rows = con.execute(
        f"""
        SELECT vec_id, embedding::DOUBLE[] AS v
        FROM read_parquet('{sf_dir}/embeddings.parquet')
        WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0
        ORDER BY {_KC_ORDER_SQL}
        LIMIT {KC_SAMPLE}
        """
    ).fetchall()
    con.close()
    return [(int(r[0]), r[1]) for r in rows]


def kcenter_greedy(
    rows: list[tuple[int, list[float]]], k: int = KC_K
) -> list[tuple[int, int, list[float]]]:
    """Greedy farthest-point (2-approximation of the k-center optimum,
    Gonzalez 1985) over cosine distance: start from the first sample
    row (deterministic md5 order), then repeatedly add the point least
    similar to its nearest already-chosen prototype. Ties resolve to
    the earliest sample index (numpy argmin is first-occurrence), so
    the selection is fully deterministic — the Spark query and the
    oracle builder run this SAME helper on the SAME sample and get
    identical float literals. Returns [(rank, vec_id, raw_vector)] — fewer than k entries when the sample degenerates to duplicates of the chosen prototypes (added prototypes would cover nothing)."""
    import numpy as np

    ids = [r[0] for r in rows]
    m = np.asarray([r[1] for r in rows], dtype=np.float64)
    u = m / np.sqrt((m * m).sum(axis=1))[:, None]
    sel = [0]
    best = u @ u[0]
    for _ in range(1, min(k, len(rows))):
        nxt = int(np.argmin(best))
        if nxt in sel:
            # argmin landed on a chosen prototype: every remaining
            # point coincides with one (best == 1 everywhere) — more
            # prototypes add no coverage, stop early rather than pick
            # a duplicate (hypothesis-found degenerate input)
            break
        sel.append(nxt)
        best = np.maximum(best, u @ u[nxt])
    return [(rank, ids[s], [float(x) for x in m[s]]) for rank, s in enumerate(sel)]


def _kc_oracle(sf_dir: str) -> str:
    """Dynamic oracle: prototypes are data-derived, so the SQL inlines
    them as literals (repr round-trips float64 exactly — the _ivf_oracle
    pattern)."""
    protos = kcenter_greedy(kc_sample(sf_dir))
    values = ",\n          ".join(
        f"({rank}, {pid}, [{', '.join(repr(x) for x in v)}]::DOUBLE[])"
        for rank, pid, v in protos
    )
    return f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
                      sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nv
               FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    proto_vals(proto_id, proto_vec_id, pv) AS (
        VALUES {values}),
    p AS (SELECT proto_id, proto_vec_id, pv,
                 sqrt(list_dot_product(pv, pv)) AS np
          FROM proto_vals),
    assigned AS (
        SELECT e.vec_id, p.proto_id, p.proto_vec_id,
               list_dot_product(e.v, p.pv) / (e.nv * p.np) AS cos,
               row_number() OVER (
                   PARTITION BY e.vec_id
                   ORDER BY list_dot_product(e.v, p.pv) / (e.nv * p.np) DESC,
                            p.proto_id) AS rn
        FROM e CROSS JOIN p)
    SELECT CAST(proto_id AS BIGINT) AS proto_id,
           CAST(proto_vec_id AS BIGINT) AS proto_vec_id,
           CAST(count(*) AS BIGINT) AS n_assigned,
           round(avg(cos), 6) AS mean_cos,
           round(min(cos), 6) AS min_cos
    FROM assigned WHERE rn = 1
    GROUP BY proto_id, proto_vec_id
    """


@register(
    "kcenter_prototypes",
    _kc_oracle,
    "diversity coreset selection (greedy k-center / farthest-point, "
    "Gonzalez 1985 — the geometric coverage objective coreset-based "
    "active learning and data-pruning use, Sener & Savarese 2018): "
    f"{KC_K} prototypes chosen greedily so every embedding is close "
    "to SOME prototype, then the whole corpus assigned to its nearest "
    "prototype with per-prototype coverage stats (n_assigned, mean "
    "cosine, min cosine = the cell's worst-covered point). Completes "
    "the selection family along the third axis: temperature_mixture "
    "rebalances SOURCES, dsir_weights matches a target DISTRIBUTION, "
    "this maximizes geometric DIVERSITY. Scale shape: the greedy runs "
    f"driver-side on a bounded md5-ordered {KC_SAMPLE}-row TakeOrdered "
    "sample (the IVF-codebook discipline — never a corpus collect), "
    "prototypes ship as ONE broadcast LocalRelation row, and the "
    "assignment is a per-row argmax over that array — one corpus pass, "
    f"no shuffle beyond the {KC_K}-group final aggregate. Cross-engine "
    "exact: both engines assign against the same inlined float64 "
    "literals (repr round-trip), argmax ties break to the smaller "
    "proto_id on both (array_max struct == row_number desc), stats "
    "round at 6dp.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def kcenter_prototypes(spark: SparkSession, sf_dir: str) -> DataFrame:
    raw = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", as_double(F.col("embedding")).alias("v"))
        .filter(l2norm(F.col("v")) > 0)
    )
    key = md5_long(F.concat(F.lit("kc-"), F.col("vec_id").cast("string")))
    sample = (
        raw.orderBy(key.asc(), F.col("vec_id").asc())
        .limit(KC_SAMPLE)
        .select("vec_id", "v")
        .collect()
    )
    protos = kcenter_greedy([(r.vec_id, r.v) for r in sample])
    proto_row = spark.createDataFrame(
        [(book_rows((rank, v) for rank, _, v in protos),)],
        "protos array<struct<cent_id:bigint,cv:array<double>,ncv:double>>",
    )
    e = (
        raw.repartition(spark.sparkContext.defaultParallelism)
        .withColumn("nv", l2norm(F.col("v")))
        .crossJoin(F.broadcast(proto_row))
    )
    # per-row argmax over the prototype array: array_max on
    # struct(sim, -proto_id) == row_number()=1 under (sim DESC, id ASC)
    sims = F.transform(
        F.col("protos"),
        lambda c: F.struct(
            (dot(F.col("v"), c.cv) / (F.col("nv") * c.ncv)).alias("sim"),
            (-c.cent_id).alias("neg_id"),
        ),
    )
    best = F.array_max(sims)
    assigned = e.select(
        (-best["neg_id"]).cast("bigint").alias("proto_id"),
        best["sim"].alias("cos"),
    )
    agg = assigned.groupBy("proto_id").agg(
        F.count("*").cast("bigint").alias("n_assigned"),
        F.round(F.avg("cos"), 6).alias("mean_cos"),
        F.round(F.min("cos"), 6).alias("min_cos"),
    )
    meta = spark.createDataFrame(
        [(rank, pid) for rank, pid, _ in protos],
        "proto_id bigint, proto_vec_id bigint",
    )
    return agg.join(F.broadcast(meta), "proto_id").select(
        "proto_id", "proto_vec_id", "n_assigned", "mean_cos", "min_cos"
    )


# ---------------------------------------------------------------------------
# Embedding-space drift: per-label centroid vs rest-of-corpus centroid
# ---------------------------------------------------------------------------


@register(
    "embedding_drift",
    """
    WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
               FROM embeddings
               WHERE list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) > 0),
    nv AS (SELECT label, CAST(count(*) AS BIGINT) AS n_vecs FROM e GROUP BY label),
    dim_ix AS (SELECT unnest(generate_series(1, (SELECT max(len(v)) FROM e))) AS d),
    comp AS (SELECT e.label, dim_ix.d, e.v[dim_ix.d] AS val
             FROM e CROSS JOIN dim_ix),
    sums AS (SELECT label, d, sum(val) AS s, CAST(count(val) AS DOUBLE) AS n
             FROM comp GROUP BY label, d
             HAVING count(val) > 0),
    tots AS (SELECT d, sum(s) AS ts, sum(n) AS tn FROM sums GROUP BY d),
    cents AS (SELECT sums.label, sums.d,
                     sums.s / sums.n AS c,
                     CASE WHEN tots.tn = sums.n THEN NULL
                          ELSE (tots.ts - sums.s) / (tots.tn - sums.n) END AS r
              FROM sums JOIN tots USING (d)),
    cos AS (SELECT label,
                   round(sum(c * r) / (sqrt(sum(c * c)) * sqrt(sum(r * r))), 6)
                       AS cos_vs_rest
            FROM cents GROUP BY label)
    SELECT CAST(cos.label AS BIGINT) AS label, nv.n_vecs, cos.cos_vs_rest
    FROM cos JOIN nv USING (label)
    """,
    "EMBEDDING-SPACE drift monitor — the modality gate that completes "
    "the suite (length, token count, language mix, PSI, and now the "
    "representation itself): per label, the cosine between its "
    "centroid and the REST-of-corpus centroid. A slice whose "
    "embeddings drift (a changed encoder version, a poisoned source, "
    "a domain shift the text gates miss because tokens look normal) "
    "pulls its centroid away from the rest — low cosine = the slice "
    "occupies its own region; cosine near 1 = mixes with everything "
    "(also the honest report that near-isotropic corpora show high "
    "values everywhere: centroids of random slices all point near the "
    "data mean). Scale shape: ONE corpus pass into a partial/final "
    "(label, dim) sum — at most labels x dims rows shuffle per map "
    "task (the posexplode never leaves its partition unaggregated) — "
    "and every centroid/cosine step runs on that bounded grid; the "
    "rest-centroid folds out of the same aggregate (total minus own), "
    "never a second pass. Single-label corpus: no rest side, NULL "
    "statistic (the drift-gate convention), never a zero denominator. "
    "Ragged-safe (r08 advice): per-(label, dim) counts cover only the "
    "dims a vector HAS and n_vecs is the per-label VECTOR count, so "
    "arbitrary frames with mixed vector lengths hash-match across "
    "engines (pinned in tests/test_similarity_recall.py). "
    "Cross-engine exact: per-(label, dim) sums are the one "
    "re-associated quantity and the final cosine rounds at 6dp.",
    driver=False,  # registry-gated: oracle-checked at sf0.001 (pytest) + sf0.01 (verify)
)
def embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "label", as_double(F.col("embedding")).alias("v"))
        .filter(l2norm(F.col("v")) > 0)
    )
    return embedding_drift_frame(e)


def embedding_drift_frame(e: DataFrame) -> DataFrame:
    """(label, n_vecs, cos_vs_rest) centroid-drift report over a
    (label, v: array<double>) frame — split out so planted-cluster
    tests (and any grouping column: source, shard, encoder version)
    feed the same machinery. Ragged-safe (r08 advice): per-(label, dim)
    counts cover only the dims a vector actually HAS (a short vector is
    absent from, not zero at, its missing dims), and n_vecs is the
    per-label VECTOR count — never a per-dim statistic, which varies
    across dims once lengths differ."""
    nvecs = e.groupBy("label").agg(F.count("*").cast("bigint").alias("n_vecs"))
    comp = e.select("label", F.posexplode("v").alias("d", "val"))
    sums = comp.groupBy("label", "d").agg(
        F.sum("val").alias("s"), F.count("*").cast("double").alias("n")
    )
    tots = sums.groupBy("d").agg(F.sum("s").alias("ts"), F.sum("n").alias("tn"))
    cents = sums.join(tots, "d").select(
        "label",
        (F.col("s") / F.col("n")).alias("c"),
        F.when(
            F.col("tn") != F.col("n"),
            (F.col("ts") - F.col("s")) / (F.col("tn") - F.col("n")),
        ).alias("r"),
    )
    cos = cents.groupBy("label").agg(
        F.round(
            F.sum(F.col("c") * F.col("r"))
            / (
                F.sqrt(F.sum(F.col("c") * F.col("c")))
                * F.sqrt(F.sum(F.col("r") * F.col("r")))
            ),
            6,
        ).alias("cos_vs_rest"),
    )
    return cos.join(F.broadcast(nvecs), "label").select(
        F.col("label").cast("bigint").alias("label"), "n_vecs", "cos_vs_rest"
    )
