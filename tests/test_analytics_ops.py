"""Invariant tests for the event-analytics operators
(operators/analytics.py) and mixture_weights beyond their DuckDB hash
gates.

The oracle proves each op computes its own definition; these pin the
semantics an analyst relies on:

- funnel_steps: stage timestamps strictly increase, depth matches the
  null pattern, one row per user, and a pure-Python recomputation of
  the staged minima agrees exactly;
- retention_cohorts: offset-0 count equals cohort size, offsets are
  non-negative, and the triangle's total mass equals the number of
  distinct (user, day) pairs;
- mixture_weights: weights are positive, sum to ~1, and are monotone
  in source token counts.
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import functions as F

from eurovision_spark.catalog import registry
from eurovision_spark.operators.analytics import DAY_US
from eurovision_spark.sources import load_events

SF = "/root/testdata/sf0.001"


def test_funnel_stage_order_depth_and_python_recompute(spark):
    rows = registry()["funnel_steps"].fn(spark, SF).collect()
    by_user = {}
    for r in rows:
        assert r.user_id not in by_user, "one row per user"
        by_user[r.user_id] = r
        # stage timestamps strictly increase where present
        if r.t_click_us is not None:
            assert r.t_view_us is not None and r.t_click_us > r.t_view_us
        if r.t_purchase_us is not None:
            assert r.t_click_us is not None and r.t_purchase_us > r.t_click_us
        expected_depth = (
            0 if r.t_view_us is None else 1 if r.t_click_us is None else 2
            if r.t_purchase_us is None else 3
        )
        assert r.funnel_depth == expected_depth

    # independent Python recomputation of the staged minima
    ev = load_events(spark, SF).select("user_id", "ts_us", "event_type").collect()
    per_user = defaultdict(list)
    for e in ev:
        per_user[e.user_id].append((e.ts_us, e.event_type))
    assert set(per_user) == set(by_user)
    for uid, evs in per_user.items():
        t1 = min((t for t, k in evs if k == "view"), default=None)
        t2 = (
            min((t for t, k in evs if k == "click" and t > t1), default=None)
            if t1 is not None
            else None
        )
        t3 = (
            min((t for t, k in evs if k == "purchase" and t > t2), default=None)
            if t2 is not None
            else None
        )
        r = by_user[uid]
        assert (r.t_view_us, r.t_click_us, r.t_purchase_us) == (t1, t2, t3)


def test_retention_triangle_mass_and_cohort_day0(spark):
    rows = registry()["retention_cohorts"].fn(spark, SF).collect()
    assert all(r.day_offset >= 0 for r in rows)
    ud = (
        load_events(spark, SF)
        .select("user_id", F.expr(f"ts_us div {DAY_US}").alias("day"))
        .distinct()
    )
    n_user_days = ud.count()
    cohort_sizes = {
        r.cohort_day: r.n
        for r in ud.groupBy("user_id")
        .agg(F.min("day").alias("cohort_day"))
        .groupBy("cohort_day")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert sum(r.n_users for r in rows) == n_user_days
    day0 = {r.cohort_day: r.n_users for r in rows if r.day_offset == 0}
    assert day0 == cohort_sizes  # everyone is active on their first day


def test_mixture_weights_normalized_and_monotone(spark):
    rows = registry()["mixture_weights"].fn(spark, SF).collect()
    assert all(r.weight > 0 for r in rows)
    assert abs(sum(r.weight for r in rows) - 1.0) < 1e-3  # rounded to 6dp per row
    by_tokens = sorted(rows, key=lambda r: r.src_tokens)
    for a, b in zip(by_tokens, by_tokens[1:]):
        assert a.weight <= b.weight


def test_ohlc_hour_bucket_integer_exact_at_edges(spark):
    """ohlc_rollup's hour bucket is integer `div` (truncate toward zero)
    — it must agree with DuckDB's integer `//` at every bigint,
    including exactly ±1 µs around a bucket edge, pre-epoch negatives,
    and beyond-2^53 values where a double divide would lose integer
    exactness (the r04 advice item)."""
    import duckdb

    from eurovision_spark.operators.temporal import HOUR_US

    edges = [0, HOUR_US, 7 * HOUR_US, -HOUR_US, 2**53 - 2**53 % HOUR_US]
    ts = sorted(
        {e + d for e in edges for d in (-1, 0, 1)} | {2**53 + 1, -(2**53) - 1}
    )
    got = dict(
        spark.createDataFrame([(t,) for t in ts], "ts_us bigint")
        .select("ts_us", F.expr(f"ts_us div {HOUR_US}").alias("b"))
        .collect()
    )
    want = dict(
        duckdb.sql(
            "SELECT ts_us, ts_us // {h} FROM (SELECT unnest({ts}::BIGINT[]) "
            "AS ts_us)".format(h=HOUR_US, ts=ts)
        ).fetchall()
    )
    assert got == want
    # the old double-divide formulation genuinely diverges past 2^53
    # (this is what the fix buys, beyond the float-margin nit)
    assert float(2**53 + 1) / HOUR_US * HOUR_US != 2**53 + 1


def test_typo_blocking_finds_substitutions_and_indels(spark):
    """Planted typo fixture for the entity-resolution blocking core:
    every edit-distance-1 pair — substitution, INSERTION, and DELETION
    (the r05-flagged len±1 gap) — must surface through the lossless
    blocks, pairs at distance >= 2 must not survive the verify, and
    the brute-force all-pairs answer is matched exactly."""
    from eurovision_spark.operators.entity import typo_pair_candidates

    names = {
        1: "Customer#000000001",
        2: "Customer#000000002",   # substitution of 1 (last char)
        3: "Customer#00000001",    # DELETION from 1 (one '0' dropped)
        4: "Customer#0000000011",  # INSERTION into 1 (extra '1')
        5: "Customer#000900001",   # substitution of 1 (middle char)
        6: "Xustomer#111111111",   # far from everything
        7: "Customer#000000001",   # exact duplicate of 1 (distance 0)
    }
    df = spark.createDataFrame(
        [(k, v) for k, v in names.items()], "c_custkey bigint, c_name string"
    )
    got = {
        (r.custkey_a, r.custkey_b): r.edit_dist
        for r in typo_pair_candidates(df).filter("edit_dist <= 1").collect()
    }

    def lev(a, b):  # exact reference implementation
        m = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, m[0] = m[0], i
            for j, cb in enumerate(b, 1):
                prev, m[j] = m[j], min(m[j] + 1, m[j - 1] + 1, prev + (ca != cb))
        return m[len(b)]

    want = {
        (a, b): lev(names[a], names[b])
        for a in names
        for b in names
        if a < b and lev(names[a], names[b]) <= 1
    }
    assert got == want
    # the gap class specifically: both indel directions present
    assert (1, 3) in got and got[(1, 3)] == 1  # deletion
    assert (1, 4) in got and got[(1, 4)] == 1  # insertion
    assert (3, 7) in got  # deletion pair via the duplicate too


def test_typo_blocking_duplicate_groups_stay_class_level(spark):
    """The r06 scale flaw, pinned: g copies of one identifier — the
    DOMINANT case in real entity resolution — must cost the blocking
    one distinct-name row, not |s|·g²/2 hot-keyed join rows. The
    candidate stage (typo_name_pairs) runs over name classes, so its
    row count is bounded by distinct-name pairs regardless of
    multiplicity; the id-level output still reproduces the full
    brute-force pair count (built analytically from class sizes +
    exact pairwise Levenshtein over the FOUR distinct names)."""
    from itertools import combinations

    from eurovision_spark.operators.entity import (
        typo_name_pairs,
        typo_pair_candidates,
    )

    classes = {
        "Customer#000001000": 1000,  # the hot exact-duplicate group
        "Customer#000001001": 5,     # substitution neighbor of the hot name
        "Customer#00001000": 2,      # deletion neighbor of the hot name
        "Zed": 1,                    # far from everything
    }

    def lev(a, b):
        m = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            prev, m[0] = m[0], i
            for j, cb in enumerate(b, 1):
                prev, m[j] = m[j], min(m[j] + 1, m[j - 1] + 1, prev + (ca != cb))
        return m[len(b)]

    rows, next_id = [], 0
    for name, g in classes.items():
        for _ in range(g):
            rows.append((next_id, name))
            next_id += 1
    df = spark.createDataFrame(rows, "c_custkey bigint, c_name string")

    # the candidate gate: class-level, multiplicity-free. 4 distinct
    # names bound the verified-pair list at C(4,2)=6 rows no matter how
    # hot the duplicate group is (raw-row blocking would have put
    # ~|s|·C(1000,2) ≈ 9M rows through the substitution join here).
    n_name_pairs = typo_name_pairs(
        df.select("c_name").distinct()
    ).count()
    assert n_name_pairs <= len(classes) * (len(classes) - 1) // 2

    # id-level output: exact analytic expectation from class sizes
    exp = sum(g * (g - 1) // 2 for g in classes.values())  # distance 0
    exp += sum(
        classes[a] * classes[b]
        for a, b in combinations(classes, 2)
        if lev(a, b) == 1
    )
    got = typo_pair_candidates(df, max_dist=1).count()
    assert got == exp
    # sanity: the hot group alone contributes C(1000,2) distance-0 pairs
    assert exp > 499500


def test_typo_classes_pair_counts_reconcile_with_id_pairs(spark):
    """id_typo_classes is the class-level reporting mode of
    id_typo_pairs: over the same corpus, the implied id-pair total
    (sum of n_id_pairs) must equal the id-level op's row count — the
    two modes are the same relation at different granularities."""
    from pyspark.sql import functions as F

    r = registry()
    sf = "/root/testdata/sf0.001"
    n_pairs = r["id_typo_pairs"].fn(spark, sf).count()
    total = (
        r["id_typo_classes"].fn(spark, sf).agg(F.sum("n_id_pairs")).first()[0]
    )
    assert total == n_pairs


def test_ks_drift_bounds_and_planted_shift(spark):
    """Grid-KS invariants beyond the hash gate: the statistic lives in
    [0, 1]; a source whose length distribution is identical to the
    rest scores ~0; a source shifted entirely out of the others'
    support scores ~1; and n_docs accounts for every document."""
    from eurovision_spark.operators.textstats import ks_drift_frame

    rows = registry()["ks_drift"].fn(spark, SF).collect()
    assert rows and all(0.0 <= r.ks_vs_rest <= 1.0 for r in rows)
    docs = (
        load_events(spark, SF).sparkSession.read.parquet(f"{SF}/documents.parquet")
        .filter("n_chars > 0")
    )
    assert sum(r.n_docs for r in rows) == docs.count()

    # planted: a and b share one distribution, c sits far above it
    data = (
        [("a", 100 + (i % 7)) for i in range(200)]
        + [("b", 100 + (i % 7)) for i in range(200)]
        + [("c", 1500 + (i % 5)) for i in range(100)]
    )
    d = spark.createDataFrame(data, "source string, n_chars int")
    got = {r.source: r.ks_vs_rest for r in ks_drift_frame(d).collect()}
    assert got["c"] == 1.0  # disjoint support -> maximal drift
    assert got["a"] < 0.35 and got["b"] < 0.35  # near-identical to rest


def test_ks_drift_single_source_degrades_to_null(spark):
    """r07 watch item: a one-source corpus has no rest-side — the
    statistic must degrade to NULL (alert semantics: nothing to drift
    from), not divide by zero. The row itself still appears with its
    document count."""
    from eurovision_spark.operators.textstats import ks_drift_frame

    d = spark.createDataFrame(
        [("only", 100 + (i % 7)) for i in range(50)], "source string, n_chars int"
    )
    rows = ks_drift_frame(d).collect()
    assert len(rows) == 1
    assert rows[0].source == "only" and rows[0].n_docs == 50
    assert rows[0].ks_vs_rest is None


def test_ks_drift_tokens_planted_shift(spark):
    """The column-generic grid: token-count drift through the same
    machinery. Sources a and b share a token-count distribution; c's
    documents have far more tokens at a similar char length — invisible
    to the n_chars gate, maximal on the token gate."""
    from pyspark.sql import functions as F2

    from eurovision_spark.operators.textstats import (
        KS_TOK_W,
        ks_drift_frame,
        tokens,
    )

    def doc(n_toks, tok):
        return " ".join([tok] * n_toks)

    data = (
        [("a", doc(10 + (i % 5), "abcde")) for i in range(200)]
        + [("b", doc(10 + (i % 5), "abcde")) for i in range(200)]
        # c: ~same n_chars as a/b docs but ~4x the tokens
        + [("c", doc(48 + (i % 5), "x")) for i in range(100)]
    )
    d = spark.createDataFrame(data, "source string, text string")
    toks = d.select(
        "source", F2.size(tokens(F2.lower(F2.col("text")))).alias("n_toks")
    )
    got = {
        r.source: r.ks_vs_rest
        for r in ks_drift_frame(toks, value_col="n_toks", width=KS_TOK_W).collect()
    }
    assert got["c"] == 1.0  # disjoint token-count support
    assert got["a"] < 0.35 and got["b"] < 0.35


def test_temperature_mixture_flattens_and_caps(spark):
    """Temperature sampling invariants on a planted skewed mix (1000 /
    100 / 10 docs at a uniform 4 tokens/doc, so token mass tracks doc
    counts): the weight share of the small source EXCEEDS its
    proportional share and the big source's sits below it (sqrt
    flattening of TOKEN mass), the small source's keep_rate caps at
    1.0 so every one of its docs lands in the sample, the big source
    keeps roughly keep_rate of its docs, and the plan accounts for
    every document. A second planted frame pins the TOKEN semantics
    directly: equal doc counts, 9x token mass -> sqrt(9)=3x the
    weight, and the light source caps."""
    import math

    from eurovision_spark.operators.textstats import (
        MIX_BUDGET_FRAC,
        temperature_mixture_frame,
    )

    toks_per_doc = 4
    sizes = {"big": 1000, "mid": 100, "small": 10}
    rows = [(s, i + off * 1_000_000, toks_per_doc)
            for off, (s, n) in enumerate(sizes.items())
            for i in range(n)]
    d = spark.createDataFrame(rows, "source string, doc_id bigint, n_toks bigint")
    got = {r.source: r for r in temperature_mixture_frame(d).collect()}

    total = sum(sizes.values())
    assert {s: got[s].n_docs for s in sizes} == sizes
    assert {s: got[s].n_tokens for s in sizes} == {
        s: n * toks_per_doc for s, n in sizes.items()
    }
    # sqrt flattening: small boosted above, big pulled below proportional
    assert got["small"].weight > sizes["small"] / total
    assert got["big"].weight < sizes["big"] / total
    # expected exact weights (same arithmetic: sorted left-fold
    # normalizer over sqrt(token mass), then 6dp)
    z = 0.0
    for v in sorted(math.sqrt(n * toks_per_doc) for n in sizes.values()):
        z += v
    for s, n in sizes.items():
        assert abs(got[s].weight - round(math.sqrt(n * toks_per_doc) / z, 6)) < 1e-9, s
    # the small source caps: rate 1.0 -> all 10 docs sampled exactly
    assert got["small"].keep_rate == 1.0
    assert got["small"].n_sampled == sizes["small"]
    # the big source realizes ~keep_rate of its docs via the hash
    # threshold (binomial-ish tolerance, deterministic given the ids)
    exp_big = got["big"].keep_rate * sizes["big"]
    assert abs(got["big"].n_sampled - exp_big) < 0.15 * exp_big
    # budget check: realized sample lands near the configured fraction
    realized = sum(got[s].n_sampled for s in sizes)
    budget_docs = math.floor(total * MIX_BUDGET_FRAC)  # uniform toks/doc
    assert realized <= total
    assert abs(realized - min(budget_docs + sizes["small"], total)) < 0.2 * budget_docs

    # token semantics: equal doc counts, 9x tokens -> 3x weight
    rows2 = [("light", i, 1) for i in range(100)] + [
        ("heavy", 1000 + i, 9) for i in range(100)
    ]
    d2 = spark.createDataFrame(rows2, "source string, doc_id bigint, n_toks bigint")
    got2 = {r.source: r for r in temperature_mixture_frame(d2).collect()}
    assert got2["light"].weight == 0.25 and got2["heavy"].weight == 0.75
    # budget = 500 tokens; light's allocation 125 tokens > its 100 -> cap
    assert got2["light"].keep_rate == 1.0
    assert abs(got2["heavy"].keep_rate - round(0.75 * 500 / 900, 6)) < 1e-9


def test_psi_drift_planted_and_identical(spark):
    """Smoothed-PSI invariants beyond the hash gate: two sources with
    bin-identical distributions score exactly 0 (p == q cell-for-cell,
    smoothing included); a source whose mass sits entirely outside the
    rest's support scores large (>2, well past the 0.25 re-baseline
    threshold); the registry run covers every document."""
    from eurovision_spark.catalog import registry
    from eurovision_spark.operators.textstats import psi_drift_frame

    rows = registry()["psi_drift"].fn(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter("n_chars > 0")
    assert rows and sum(r.n_docs for r in rows) == docs.count()
    assert all(r.psi_vs_rest is not None and r.psi_vs_rest >= 0.0 for r in rows)

    same = [("a", 100 + (i % 7)) for i in range(200)] + [
        ("b", 100 + (i % 7)) for i in range(200)
    ]
    d = spark.createDataFrame(same, "source string, n_chars int")
    got = {r.source: r.psi_vs_rest for r in psi_drift_frame(d).collect()}
    assert got["a"] == 0.0 and got["b"] == 0.0  # identical -> exactly 0

    shifted = same + [("c", 1500 + (i % 5)) for i in range(100)]
    d2 = spark.createDataFrame(shifted, "source string, n_chars int")
    got2 = {r.source: r.psi_vs_rest for r in psi_drift_frame(d2).collect()}
    assert got2["c"] > 2.0  # disjoint support -> far past re-baseline


def test_psi_drift_single_source_null(spark):
    """One source: nothing to drift from -> NULL statistic (alert
    semantics), never a zero denominator, row still carries n_docs."""
    from eurovision_spark.operators.textstats import psi_drift_frame

    d = spark.createDataFrame(
        [("only", 100 + (i % 7)) for i in range(50)], "source string, n_chars int"
    )
    rows = psi_drift_frame(d).collect()
    assert len(rows) == 1 and rows[0].n_docs == 50
    assert rows[0].psi_vs_rest is None


def test_chisq_lang_drift_planted_mix(spark):
    """Categorical drift invariants: two sources with the same language
    mix score exactly 0 (observed == expected cell-for-cell); a source
    writing only a language the rest never uses scores large; dof is
    n_langs - 1 on every row; the length/token gates are blind to this
    plant (all docs same n_chars)."""
    from eurovision_spark.catalog import registry
    from eurovision_spark.operators.textstats import chisq_drift_frame

    rows = registry()["chisq_lang_drift"].fn(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter("n_chars > 0")
    assert rows and sum(r.n_docs for r in rows) == docs.count()
    n_langs = docs.select("lang").distinct().count()
    assert all(r.dof == n_langs - 1 for r in rows)
    assert all(r.chisq_vs_rest is not None and r.chisq_vs_rest >= 0.0 for r in rows)

    mix = (
        [("a", "en")] * 100 + [("a", "de")] * 100
        + [("b", "en")] * 100 + [("b", "de")] * 100
    )
    d = spark.createDataFrame(mix, "source string, lang string")
    got = {r.source: r for r in chisq_drift_frame(d).collect()}
    assert got["a"].chisq_vs_rest == 0.0 and got["b"].chisq_vs_rest == 0.0
    assert got["a"].dof == 1

    d2 = spark.createDataFrame(
        mix + [("c", "zz")] * 100, "source string, lang string"
    )
    got2 = {r.source: r for r in chisq_drift_frame(d2).collect()}
    assert got2["c"].chisq_vs_rest > 100.0  # exclusive language -> fires hard
    assert got2["c"].dof == 2  # en, de, zz


def test_chisq_lang_drift_single_source_null(spark):
    """One source: NULL statistic, dof still reported."""
    from eurovision_spark.operators.textstats import chisq_drift_frame

    d = spark.createDataFrame(
        [("only", "en")] * 30 + [("only", "de")] * 20, "source string, lang string"
    )
    rows = chisq_drift_frame(d).collect()
    assert len(rows) == 1 and rows[0].n_docs == 50
    assert rows[0].chisq_vs_rest is None and rows[0].dof == 1


def test_vocab_divergence_planted(spark):
    """JSD invariants beyond the hash gate: identical unigram
    distributions score exactly 0 with full top-term overlap; disjoint
    vocabularies score exactly ln 2 (the JSD maximum, 0.693147 at 6dp)
    with zero overlap; every registry pair sits in [0, ln 2]."""
    from eurovision_spark.catalog import registry
    from eurovision_spark.operators.textstats import vocab_divergence_frame

    rows = registry()["vocab_divergence"].fn(spark, SF).collect()
    n_src = (
        spark.read.parquet(f"{SF}/documents.parquet")
        .filter("n_chars > 0")
        .select("source")
        .distinct()
        .count()
    )
    assert len(rows) == n_src * (n_src - 1) // 2
    assert all(0.0 <= r.jsd <= 0.693148 for r in rows)

    same = [("a", t) for t in ["x", "y", "y", "z"] * 50] + [
        ("b", t) for t in ["x", "y", "y", "z"] * 50
    ]
    d = spark.createDataFrame(same, "source string, term string")
    got = vocab_divergence_frame(d).collect()
    assert len(got) == 1
    assert got[0].jsd == 0.0 and got[0].n_shared == 3

    disjoint = [("a", t) for t in ["x", "y"] * 100] + [
        ("b", t) for t in ["u", "v", "w"] * 50
    ]
    d2 = spark.createDataFrame(disjoint, "source string, term string")
    got2 = vocab_divergence_frame(d2).collect()
    assert got2[0].jsd == 0.693147 and got2[0].n_shared == 0


def test_vocab_divergence_other_bucket(spark):
    """Top-V truncation folds tail mass into the OTHER bucket: with
    v=2, two sources sharing only their tail still meet in OTHER (one
    shared cell), and the distributions still sum to 1 (jsd stays
    within [0, ln 2])."""
    from eurovision_spark.operators.textstats import vocab_divergence_frame

    data = (
        [("a", "x")] * 100 + [("a", "tail1")] * 10
        + [("b", "y")] * 100 + [("b", "tail2")] * 10
    )
    d = spark.createDataFrame(data, "source string, term string")
    got = vocab_divergence_frame(d, v=2).collect()
    assert len(got) == 1
    r = got[0]
    # top-2 = {x, y} (disjoint); tail1/tail2 both land in OTHER -> the
    # only shared cell is OTHER, so n_shared counts exactly it
    assert r.n_shared == 1
    assert 0.0 < r.jsd <= 0.693148


def test_gopher_rules_planted_violations(spark):
    """Each Gopher rule caught by a crafted violator while a clean doc
    passes everything: too-short doc, long-gibberish mean word length,
    symbol flood, bullet-list page, ellipsis-truncated page, non-alpha
    tokens, stopword-free doc."""
    from eurovision_spark.operators.textstats import gopher_rules_frame

    clean = "the fast " + " ".join(f"word{i:02d}" for i in range(60)) + " a small"
    docs = [
        (0, clean),
        (1, "the a fast tiny doc"),  # word_count_ok = 0
        (2, "the a " + " ".join("x" * 30 for _ in range(60))),  # word_len_ok = 0
        (3, "the a " + " ".join("#" for _ in range(60))),  # symbol_ok = 0
        (4, "the a\n" + "\n".join(f"- item {i}" for i in range(58))),  # bullet
        (5, "the a\n" + "\n".join(f"line {i}..." for i in range(58))),  # ellipsis
        (6, "the a " + " ".join("123" for _ in range(60))),  # alpha_ok = 0
        (7, " ".join(f"tok{i}" for i in range(60))),  # stop_ok = 0
    ]
    d = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r.doc_id: r for r in gopher_rules_frame(d).collect()}
    assert got[0].pass_gopher == 1, got[0]
    assert got[1].word_count_ok == 0 and got[1].pass_gopher == 0
    assert got[2].word_len_ok == 0 and got[2].pass_gopher == 0
    assert got[3].symbol_ok == 0 and got[3].pass_gopher == 0
    assert got[4].bullet_ok == 0 and got[4].pass_gopher == 0
    assert got[5].ellipsis_ok == 0 and got[5].pass_gopher == 0
    assert got[6].alpha_ok == 0 and got[6].pass_gopher == 0
    assert got[7].stop_ok == 0 and got[7].n_stop_hits == 0 and got[7].pass_gopher == 0
    # measurements carry real values, not just flags
    assert got[0].n_words == 64 and got[0].n_stop_hits >= 2
    assert got[4].bullet_line_frac > 0.9 and got[5].ellipsis_line_frac > 0.3


def test_repetition_stats_planted_loops(spark):
    """The within-doc repetition gate: a generation loop ('buy now '
    x40) saturates both fractions and fails; alternating two grams
    fails the top-2-gram cap with an exactly computable value; diverse
    text passes; degenerate 1-token docs report 0 and pass."""
    from eurovision_spark.operators.textstats import repetition_stats_frame

    docs = [
        (0, " ".join(f"w{i}" for i in range(50))),  # all grams unique
        (1, " ".join(["buy now"] * 40)),  # one looped phrase
        (2, "x"),  # degenerate: no grams
        (3, " ".join(["a b"] * 10) + " " + " ".join(f"t{i}" for i in range(60))),
    ]
    d = spark.createDataFrame(docs, "doc_id bigint, text string")
    got = {r.doc_id: r for r in repetition_stats_frame(d).collect()}
    assert got[0].top2gram_frac < 0.1 and got[0].dup3gram_frac == 0.0
    assert got[0].pass_repetition == 1
    # 80 tokens of 'buy now buy now ...': 'buy now' occurs 40x, 'now buy'
    # 39x -> top2 = 2*40/80 = 1.0; every 3-gram repeats -> dup3 = 1.0
    assert got[1].top2gram_frac == 1.0 and got[1].dup3gram_frac == 1.0
    assert got[1].pass_repetition == 0
    assert got[2].n_tokens == 1 and got[2].top2gram_frac == 0.0
    assert got[2].dup3gram_frac == 0.0 and got[2].pass_repetition == 1
    # 'a b' x10 then 60 unique: 'a b' occurs 10x in 80 tokens -> 0.25
    assert got[3].top2gram_frac == 0.25 and got[3].pass_repetition == 0


def test_run_stats_equals_explode_groupby_accounting(spark):
    """The r10 in-row rewrite's equivalence proof: _run_stats' sorted-
    run fold must produce EXACTLY the integers the old explode +
    (doc_id, gram) groupBy produced — max count of any element, and
    occurrences belonging to elements occurring more than once — on
    the full sf0.001 corpus gram streams (both 2- and 3-grams),
    compared doc-for-doc against a literal explode+count formulation."""
    from pyspark.sql import functions as F

    from eurovision_spark.operators.textstats import (
        _gram_array,
        _run_stats,
        tokens,
    )
    from eurovision_spark.sources import load_table

    d = (
        load_table(spark, "/root/testdata/sf0.001", "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", tokens(F.lower(F.col("text"))).alias("_toks"))
    )
    for k in (2, 3):
        grams = _gram_array(F.col("_toks"), k)
        inrow = {
            r.doc_id: (r.st["max_count"], r.st["dup_occ"])
            for r in d.filter(F.size("_toks") >= k)
            .select("doc_id", _run_stats(grams).alias("st"))
            .collect()
        }
        exploded = (
            d.filter(F.size("_toks") >= k)
            .select("doc_id", F.explode(grams).alias("gram"))
            .groupBy("doc_id", "gram")
            .agg(F.count("*").alias("c"))
            .groupBy("doc_id")
            .agg(
                F.max("c").alias("mx"),
                F.sum(F.when(F.col("c") > 1, F.col("c")).otherwise(0)).alias(
                    "dup"
                ),
            )
        )
        want = {r.doc_id: (r.mx, r.dup) for r in exploded.collect()}
        assert inrow == want, k


def test_quality_pipeline_is_conjunction_of_parents(spark):
    """The composed quality manifest must equal its standalone parents
    row-for-row: every flag matches the parent op's verdict for the
    same doc, and keep is exactly the three-way conjunction — the
    attribution property the manifest exists for."""
    from eurovision_spark.catalog import registry

    r = registry()
    manifest = {x.doc_id: x for x in r["quality_pipeline"].fn(spark, SF).collect()}
    gop = {x.doc_id: x.pass_gopher for x in r["gopher_rules"].fn(spark, SF).collect()}
    rep = {
        x.doc_id: x.pass_repetition
        for x in r["repetition_stats"].fn(spark, SF).collect()
    }
    qc = {x.doc_id: x.qc_label for x in r["quality_classifier"].fn(spark, SF).collect()}
    assert set(manifest) == set(gop) == set(rep) == set(qc)
    for doc_id, row in manifest.items():
        assert row.pass_gopher == gop[doc_id]
        assert row.pass_repetition == rep[doc_id]
        assert row.qc_label == qc[doc_id]
        assert row.keep == int(
            gop[doc_id] == 1 and rep[doc_id] == 1 and qc[doc_id] == 1
        )
    assert any(r.keep == 1 for r in manifest.values())  # non-degenerate
    assert any(r.keep == 0 for r in manifest.values())


def test_quality_drift_planted_logit_shift(spark):
    """Planted quality collapse on the logit column: two sources carry
    the same diverse-text distribution, a third is pure repetition
    (the boilerplate-flood failure mode) — under a model fit on the
    mixed corpus its logits shift, so its PSI must exceed both normal
    sources' and clear the 0.25 re-baseline runbook threshold, while
    the twin normal sources stay in the stable band relative to it."""
    from eurovision_spark.operators.textstats import (
        _qc_fit,
        quality_drift_frame,
    )

    def diverse(i):
        return " ".join(f"tok{i}x{j}" for j in range(20))

    def boiler(i):
        return " ".join(["nav menu footer"] * 7)

    rows = (
        [(i, "ok1", diverse(i)) for i in range(60)]
        + [(1000 + i, "ok2", diverse(500 + i)) for i in range(60)]
        + [(2000 + i, "bad", boiler(i)) for i in range(60)]
    )
    d = spark.createDataFrame(rows, "doc_id bigint, source string, text string")
    w, b = _qc_fit([t for _, _, t in rows[:180:3]])  # mixed fit sample
    got = {r.source: r.psi_vs_rest for r in quality_drift_frame(d, w, b).collect()}
    assert set(got) == {"ok1", "ok2", "bad"}
    assert got["bad"] > 0.25, got
    assert got["bad"] > 3 * max(got["ok1"], got["ok2"]), got


def test_ccnet_buckets_tercile_invariants(spark):
    """CCNet bucketing invariants beyond the hash gate: per source the
    three buckets are balanced within one document (ntile's equal-fill
    rule), the score bands are ordered head >= middle >= tail (ties at
    a boundary may touch, never cross), and every scored document gets
    exactly one label."""
    from collections import defaultdict

    from eurovision_spark.catalog import registry

    rows = registry()["ccnet_buckets"].fn(spark, SF).collect()
    assert rows and all(r.bucket in ("head", "middle", "tail") for r in rows)

    per = defaultdict(lambda: defaultdict(list))
    for r in rows:
        per[r.source][r.bucket].append(r.avg_logprob)
    for source, buckets in per.items():
        sizes = [len(buckets[b]) for b in ("head", "middle", "tail")]
        assert max(sizes) - min(sizes) <= 1, (source, sizes)
        assert min(buckets["head"]) >= max(buckets["middle"]), source
        assert min(buckets["middle"]) >= max(buckets["tail"]), source


def test_ccnet_corpus_total_counts_null_token_arrays_as_zero(spark):
    """The corpus total ``n`` comes from per-row array sizes while the
    vocabulary counts come from explode, which drops a NULL ``_toks``
    row. The two must agree: every score is mean(log(c / n)) with ``n``
    the exploded token count — also with ANSI off, where size(NULL)
    would say -1."""
    import math

    from eurovision_spark.operators.textstats import ccnet_bucket_frame
    from eurovision_spark.session import scoped_conf

    rows = [
        (1, "s", ["a", "b", "a"]),
        (2, "s", ["b", "c"]),
        (3, "s", ["a"]),
        (4, "s", None),
    ]
    toked = spark.createDataFrame(rows, "doc_id bigint, source string, _toks array<string>")
    freq = defaultdict(int)
    for _, _, toks in rows:
        for t in toks or []:
            freq[t] += 1
    n = sum(freq.values())
    want = {
        d: round(sum(math.log(freq[t] / n) for t in toks) / len(toks), 4)
        for d, _, toks in rows
        if toks
    }
    for ansi in ("true", "false"):
        with scoped_conf(spark, {"spark.sql.ansi.enabled": ansi}):
            got = {
                r.doc_id: r.avg_logprob
                for r in ccnet_bucket_frame(None, toked=toked).collect()
            }
        assert got == want, (ansi, got, want)


def test_ccnet_approx_agrees_with_exact(spark):
    """The scale-safe cut-point tercile vs the exact ntile, on the
    corpus AND on a planted frame. Planted: every score distinct and
    per-source doc counts divisible by 3 and within the sample bound
    — value cuts at the 1/3 and 2/3 order statistics then select
    EXACTLY the ntile thirds, so the two forms must agree on every
    document. Corpus: scores tie heavily (4dp-rounded LM means), so
    disagreement is allowed but confined to cut-boundary ties —
    bounded here at 10% of documents, with identical (doc_id, score)
    row sets either way."""
    from eurovision_spark.catalog import registry
    from eurovision_spark.operators.textstats import ccnet_bucket_frame

    # planted: 3 sources x 30 docs, source-disjoint vocabularies and
    # strictly increasing doc lengths -> distinct scores per source
    data = [
        (s * 100 + i, f"s{s}", " ".join(f"s{s}w{j}" for j in range(2 + i)))
        for s in range(3)
        for i in range(30)
    ]
    d = spark.createDataFrame(data, "doc_id bigint, source string, text string")
    planted = {
        r.doc_id: (r.bucket, r.avg_logprob) for r in ccnet_bucket_frame(d).collect()
    }
    approx = {
        r.doc_id: r.bucket for r in ccnet_bucket_frame(d, approx=True).collect()
    }
    assert set(planted) == set(approx)
    # the per-source all-distinct precondition the agreement claim
    # rests on (cuts are per source; scores repeat ACROSS sources by
    # the planted frame's symmetry, which is irrelevant to it)
    from collections import defaultdict as _dd

    by_src = _dd(list)
    for doc_id, (_, score) in planted.items():
        by_src[doc_id // 100].append(score)
    assert all(len(set(v)) == len(v) for v in by_src.values())
    assert {k: v[0] for k, v in planted.items()} == approx

    ex_rows = registry()["ccnet_buckets"].fn(spark, SF).collect()
    ap_rows = registry()["ccnet_buckets_approx"].fn(spark, SF).collect()
    ex = {r.doc_id: (r.bucket, r.avg_logprob) for r in ex_rows}
    ap = {r.doc_id: (r.bucket, r.avg_logprob) for r in ap_rows}
    assert set(ex) == set(ap)
    assert all(ex[k][1] == ap[k][1] for k in ex)  # identical scores
    n_disagree = sum(1 for k in ex if ex[k][0] != ap[k][0])
    assert n_disagree <= 0.10 * len(ex), (n_disagree, len(ex))


def test_dsir_weights_target_separation(spark):
    """DSIR invariant beyond the hash gate: documents FROM the target
    slice must score a higher mean importance log-weight than any
    other language's documents (their tokens populate the target
    buckets), every doc gets exactly one weight, and all weights are
    finite."""
    import math
    from collections import defaultdict

    from eurovision_spark.catalog import registry
    from eurovision_spark.operators.textstats import DSIR_TARGET_LANG

    rows = registry()["dsir_weights"].fn(spark, SF).collect()
    docs = spark.read.parquet(f"{SF}/documents.parquet").filter("n_chars > 0")
    assert len(rows) == docs.count()
    assert all(math.isfinite(r.log_weight) and r.n_tokens > 0 for r in rows)

    lang_of = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    per = defaultdict(list)
    for r in rows:
        # normalize by length: raw DSIR sums scale with n_tokens
        per[lang_of[r.doc_id]].append(r.log_weight / r.n_tokens)
    means = {lang: sum(v) / len(v) for lang, v in per.items()}
    tgt = means.pop(DSIR_TARGET_LANG)
    assert all(tgt > m for m in means.values()), means


def test_dsir_sample_reproducible_and_target_biased(spark):
    """The applied resampler: (a) bit-reproducibility — the selected
    set recomputes EXACTLY from dsir_weights' output with driver-side
    md5 + exp (no state, the audit property the op advertises); (b)
    target bias — the keep RATE of target-language documents exceeds
    every other language's (they carry positive log-ratios, so they
    gate at or near probability 1)."""
    import hashlib
    import math
    from collections import defaultdict

    from eurovision_spark.catalog import registry
    from eurovision_spark.operators.textstats import DSIR_TARGET_LANG

    weights = registry()["dsir_weights"].fn(spark, SF).collect()
    kept = {r.doc_id for r in registry()["dsir_sample"].fn(spark, SF).collect()}

    def keeps(doc_id, lw):
        h = int(hashlib.md5(f"dsir-{doc_id}".encode()).hexdigest()[:15], 16)
        thr = math.floor(min(1.0, math.exp(lw)) * 1_000_000 + 0.5)  # HALF_UP
        return h % 1_000_000 < thr

    expected = {r.doc_id for r in weights if keeps(r.doc_id, r.log_weight)}
    assert kept == expected

    docs = spark.read.parquet(f"{SF}/documents.parquet").filter("n_chars > 0")
    lang_of = {r.doc_id: r.lang for r in docs.select("doc_id", "lang").collect()}
    tot, hit = defaultdict(int), defaultdict(int)
    for r in weights:
        lang = lang_of[r.doc_id]
        tot[lang] += 1
        hit[lang] += int(r.doc_id in kept)
    rate = {lang: hit[lang] / tot[lang] for lang in tot}
    tgt = rate.pop(DSIR_TARGET_LANG)
    assert all(tgt > m for m in rate.values()), (tgt, rate)


def test_rate_anomaly_flags_spike_and_flat_window_dropout(spark):
    """Planted hourly series: a 10x spike over a varying window must
    fire through the z-path; a zero-count hour inside CONSTANT traffic
    must fire through the exact-integer flat-window path (variance 0 —
    no defined z, the case an epsilon-guarded std would silently
    skip); warm-up hours carry NULLs; steady hours stay quiet."""
    from datetime import datetime, timedelta

    from eurovision_spark.operators.analytics import (
        ANOM_WIN,
        HOUR_US,
        rate_anomaly_core,
    )

    base = datetime(2024, 1, 1)
    rows = []
    eid = 0

    def add(event_type, hour, count):
        nonlocal eid
        for j in range(count):
            rows.append(
                (eid, base + timedelta(hours=hour, minutes=j % 60), 1, event_type)
            )
            eid += 1

    # 'vary': alternating 4/6 per hour for 40h, a 60-event spike at h30
    for h in range(40):
        add("vary", h, 60 if h == 30 else (4 if h % 2 == 0 else 6))
    # 'flat': exactly 5/hour for 40h with a DROPOUT (0 events) at h30
    for h in range(40):
        if h != 30:
            add("flat", h, 5)
    ev = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp, user_id bigint, event_type string"
    ).withColumn("ts_us", (F.unix_timestamp("ts") * 1_000_000).cast("bigint"))
    out = {
        (r.event_type, r.bucket): r
        for r in rate_anomaly_core(ev).collect()
    }
    lo = min(b for (t, b) in out if t == "vary")
    spike = out[("vary", lo + 30)]
    assert spike.anomaly == 1 and spike.z is not None and spike.z > 3
    drop = out[("flat", lo + 30)]
    assert drop.n_events == 0 and drop.anomaly == 1
    assert drop.z is None  # the flat window has no defined z — integer path
    # warm-up: the first ANOM_WIN hours of each series report NULL
    for t in ("vary", "flat"):
        for h in range(ANOM_WIN):
            assert out[(t, lo + h)].anomaly is None, (t, h)
    # steady post-warm-up hours are quiet (excluding the planted hours
    # and their contaminated trailing windows)
    assert out[("vary", lo + 29)].anomaly == 0
    assert out[("flat", lo + 29)].anomaly == 0
    # after the dropout the window is no longer flat (it holds the 0),
    # so steady 5-count hours get a defined, small z — still quiet
    post = out[("flat", lo + 35)]
    assert post.z is not None and post.anomaly == 0
    quiet = [r for (t, b), r in out.items() if t == "flat" and ANOM_WIN <= b - lo < 30]
    assert all(r.anomaly == 0 for r in quiet)


def test_hour_bucket_arithmetic_agrees_cross_engine_pre_epoch(spark):
    """The r09 advice flagged Spark `div` (truncate toward zero) vs
    DuckDB `//` as a floor/truncation divergence for pre-1970
    timestamps. DuckDB's integer `//` in fact ALSO truncates toward
    zero (-5 // 2 = -2, unlike Python's floor), so the engines agree
    at every bigint — pinned here over a span of negative, boundary,
    and positive microsecond timestamps so the oracle pairing carries
    no ts >= epoch assumption."""
    import duckdb

    from eurovision_spark.operators.analytics import HOUR_US

    ts = [
        -3 * HOUR_US - 1, -3 * HOUR_US, -HOUR_US - 1, -HOUR_US, -1,
        0, 1, HOUR_US - 1, HOUR_US, 3 * HOUR_US + 1,
    ]
    spark_buckets = [
        r.b
        for r in spark.createDataFrame([(t,) for t in ts], "ts_us bigint")
        .select(F.expr(f"ts_us div {HOUR_US}").alias("b"))
        .collect()
    ]
    duck_buckets = [
        duckdb.sql(
            f"SELECT CAST({t} AS BIGINT) // CAST({HOUR_US} AS BIGINT)"
        ).fetchone()[0]
        for t in ts
    ]
    assert spark_buckets == duck_buckets
    # and the shared arithmetic is truncation, not floor: -1us lands
    # in bucket 0 (hour 0), not bucket -1
    assert spark_buckets[ts.index(-1)] == 0


def test_bm25_search_python_recompute_and_planted_relevance(spark, tmp_path):
    """bm25_search vs an independent pure-Python Okapi BM25 over the
    sf0.001 corpus — identical (query, rank, doc) triples and scores
    within rounding slack — and a planted distinctive-vocabulary
    fixture where each query's source doc MUST rank first (the random
    corpus's common-token queries can't guarantee that; the fixture
    makes the relevance claim provable rather than hoped-for)."""
    import math
    import re
    from collections import Counter

    from eurovision_spark.catalog import registry
    from eurovision_spark.operators.textstats import (
        BM25_B,
        BM25_K1,
        BM25_QUERY_CAP,
        BM25_QUERY_LEN,
        BM25_QUERY_MOD,
        BM25_TOPN,
    )

    def py_bm25(docs: dict[int, str]) -> dict[int, list[tuple[int, int, float]]]:
        toks = {
            i: re.split(r"\s+", t.strip().lower()) for i, t in docs.items() if t.strip()
        }
        n = len(toks)
        avgdl = sum(len(v) for v in toks.values()) / n
        tf = {i: Counter(v) for i, v in toks.items()}
        out = {}
        for qid in sorted(toks):
            if qid % BM25_QUERY_MOD or qid >= BM25_QUERY_CAP:
                continue
            qterms = set(toks[qid][:BM25_QUERY_LEN])
            df = {t: sum(1 for c in tf.values() if t in c) for t in qterms}
            scored = []
            for d, c in tf.items():
                s = 0.0
                for t in qterms:
                    if c[t]:
                        idf = math.log((n - df[t] + 0.5) / (df[t] + 0.5) + 1)
                        dl = len(toks[d])
                        s += (
                            idf
                            * c[t]
                            * (BM25_K1 + 1)
                            / (c[t] + BM25_K1 * (1 - BM25_B + BM25_B * dl / avgdl))
                        )
                if s > 0:
                    scored.append((round(s, 4), d))
            scored.sort(key=lambda x: (-x[0], x[1]))
            out[qid] = [
                (rk + 1, d, s) for rk, (s, d) in enumerate(scored[:BM25_TOPN])
            ]
        return out

    def check(sf_dir: str, docs: dict[int, str]) -> dict[int, list]:
        got: dict[int, list] = {}
        for r in registry()["bm25_search"].fn(spark, sf_dir).collect():
            got.setdefault(r.query_id, []).append((r.rank, r.doc_id, r.bm25))
        for q in got:
            got[q].sort()
        want = py_bm25(docs)
        assert set(got) == set(want)
        for q in want:
            assert [(rk, d) for rk, d, _ in got[q]] == [
                (rk, d) for rk, d, _ in want[q]
            ], q
            for (_, _, a), (_, _, b) in zip(got[q], want[q]):
                assert abs(a - b) < 2e-4, (q, a, b)
        return got

    corpus = {
        r.doc_id: r.text
        for r in spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .filter("n_chars > 0")
        .collect()
    }
    check("/root/testdata/sf0.001", corpus)

    # planted fixture: per-doc unique vocabulary -> query terms only
    # exist in the source doc, so it is the unique (and thus top) hit
    fix = {
        i: " ".join(f"doc{i}term{j}" for j in range(20))
        for i in range(0, 401, BM25_QUERY_MOD // 2)
    }
    spark.createDataFrame(
        [(i, t, len(t)) for i, t in fix.items()],
        "doc_id bigint, text string, n_chars int",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    got = check(str(tmp_path), fix)
    for q, rows in got.items():
        assert rows[0][1] == q, (q, rows)  # self doc at rank 1
        assert len(rows) == 1  # nothing else shares any query term


def test_bm25_query_cap_is_a_contract(spark, tmp_path):
    """BM25_QUERY_CAP ratified as the op's contract (r11, VERDICT r10
    item #6; introduced r10): the probe workload is FIXED-SIZE by
    design — only doc_ids below the cap seed queries, because a query
    log is workload-sized, not corpus-sized, and an uncapped probe set
    makes the postings x queries match volume quadratic in the corpus
    (measured 52s at the x10 tier before the cap). Above-cap docs
    remain fully retrievable corpus members. The fixture spans the cap
    so the boundary is exercised on both sides."""
    from eurovision_spark.catalog import registry
    from eurovision_spark.operators.textstats import (
        BM25_QUERY_CAP,
        BM25_QUERY_MOD,
    )

    shared = "alpha beta gamma delta epsilon"
    below = [0, BM25_QUERY_MOD, 2 * BM25_QUERY_MOD]
    above = [BM25_QUERY_CAP, BM25_QUERY_CAP + BM25_QUERY_MOD, BM25_QUERY_CAP + 7]
    spark.createDataFrame(
        [(i, shared, len(shared)) for i in below + above],
        "doc_id bigint, text string, n_chars int",
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    out = registry()["bm25_search"].fn(spark, str(tmp_path)).collect()
    # ids at the query stride but >= cap never seed queries...
    assert {r.query_id for r in out} == set(below)
    # ...yet above-cap docs are still searched and retrieved (every doc
    # shares the vocabulary, so each query's result set includes them)
    assert set(above) <= {r.doc_id for r in out}
