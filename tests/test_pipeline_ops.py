"""Invariant tests for the sample-production operators
(operators/pipeline.py) beyond their DuckDB hash gates.

The oracle proves each op computes its own definition; these pin the
semantic properties a training pipeline actually relies on:

- doc_chunk reproduces an independent Python re-chunking exactly
  (window starts, clipping, overlap);
- hash_split is deterministic, complete, and matches a pure-Python
  md5-bucket recomputation (the "stable under reruns / corpus growth"
  claim is literally that the assignment is a function of doc_id only);
- contamination_check flags a planted exact copy of a benchmark doc
  and never emits benchmark rows (tested on a tiny synthetic parquet,
  so the positive case is guaranteed rather than hoped for in the
  random corpus).
"""

from __future__ import annotations

import hashlib
import math

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from eurovision_spark.catalog import registry
from eurovision_spark.operators.pipeline import (
    BENCH_MOD,
    CHUNK,
    CONTAM_THRESHOLD,
    SPLIT_SEED,
    STRIDE,
)

SF = "/root/testdata/sf0.001"


def _py_chunks(text: str) -> list[tuple[int, str]]:
    toks = text.strip().split()
    n = len(toks)
    n_chunks = 1 + math.ceil(max(n - CHUNK, 0) / STRIDE)
    return [
        (i, " ".join(toks[i * STRIDE : i * STRIDE + CHUNK])) for i in range(n_chunks)
    ]


def test_doc_chunk_matches_python_rechunking(spark):
    docs = {
        r["doc_id"]: r["text"]
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .filter("n_chars > 0")
        .limit(25)
        .collect()
    }
    got = registry()["doc_chunk"].fn(spark, SF).collect()
    got_by_doc = {}
    for r in got:
        if r["doc_id"] in docs:
            got_by_doc.setdefault(r["doc_id"], []).append(
                (r["chunk_idx"], r["chunk_text"], r["n_chunk_tokens"])
            )
    for doc_id, text in docs.items():
        expected = _py_chunks(text)
        actual = sorted(got_by_doc[doc_id])
        assert [(i, t) for i, t, _ in actual] == expected, doc_id
        # every chunk is non-empty, at most CHUNK tokens, and token
        # counts agree with the chunk text itself
        for _, t, n in actual:
            assert 1 <= n <= CHUNK and n == len(t.split())


def test_hash_split_matches_python_and_is_deterministic(spark):
    fn = registry()["hash_split"].fn
    a = {r["doc_id"]: (r["bucket"], r["split"]) for r in fn(spark, SF).collect()}
    b = {r["doc_id"]: (r["bucket"], r["split"]) for r in fn(spark, SF).collect()}
    assert a == b  # rerun-stable
    n_docs = (
        spark.read.parquet(f"{SF}/documents.parquet").filter("n_chars > 0").count()
    )
    assert len(a) == n_docs  # complete: every doc assigned exactly once
    for doc_id, (bucket, split) in a.items():
        h = int(hashlib.md5(f"{doc_id}{SPLIT_SEED}".encode()).hexdigest()[:15], 16)
        assert bucket == h % 100
        assert split == ("train" if bucket < 90 else "valid" if bucket < 95 else "test")


def test_leakage_safe_split_group_consistency(spark):
    rows = {
        r["doc_id"]: r
        for r in registry()["leakage_safe_split"].fn(spark, SF).collect()
    }
    n_docs = (
        spark.read.parquet(f"{SF}/documents.parquet").filter("n_chars > 0").count()
    )
    assert len(rows) == 2 * n_docs  # complete over originals + planted copies
    # LEAKAGE-FREE by construction: every group's members share one split
    by_group: dict[int, set[str]] = {}
    for r in rows.values():
        by_group.setdefault(r["group_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_group.values())
    # group keys ARE minhash_cluster's cluster ids for clustered docs
    comp = {
        r["doc_id"]: r["cluster_id"]
        for r in registry()["minhash_cluster"].fn(spark, SF).collect()
    }
    assert comp  # planted copies must cluster at this sf
    for d, c in comp.items():
        assert rows[d]["group_id"] == c and rows[d]["group_size"] > 1
    # singletons keep hash_split's exact assignment (same seed + rule)
    hs = {
        r["doc_id"]: r["split"]
        for r in registry()["hash_split"].fn(spark, SF).collect()
    }
    for d, r in rows.items():
        if r["group_size"] == 1 and d in hs:
            assert r["split"] == hs[d]
    # non-vacuous: some clustered member's OWN-id hash bucket maps to a
    # different split than its group got — the leakage a per-doc
    # hash_split would have shipped
    def own_split(doc_id: int) -> str:
        b = int(hashlib.md5(f"{doc_id}{SPLIT_SEED}".encode()).hexdigest()[:15], 16) % 100
        return "train" if b < 90 else "valid" if b < 95 else "test"

    torn = sum(1 for d in comp if own_split(d) != rows[d]["split"])
    assert torn > 0


def test_contamination_flags_planted_copy(spark, tmp_path):
    # doc 0 (benchmark: 0 % BENCH_MOD == 0) and doc 1 (train) share the
    # full text -> every gram collides -> contaminated; doc 2 shares
    # nothing -> clean. 40 tokens guarantee > CONTAM_THRESHOLD grams.
    shared = " ".join(f"tok{i}" for i in range(40))
    clean = " ".join(f"other{i}" for i in range(40))
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": [shared, shared, clean],
            "n_chars": pa.array([len(shared), len(shared), len(clean)], pa.int64()),
        }
    )
    pq.write_table(tbl, tmp_path / "documents.parquet")
    rows = {
        r["doc_id"]: r
        for r in registry()["contamination_check"].fn(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {1, 2}  # benchmark doc 0 never emitted
    assert rows[1]["contaminated"] == 1
    assert rows[1]["n_shared"] == 40 - 2  # all 38 distinct 3-grams collide
    assert rows[2]["contaminated"] == 0 and rows[2]["n_shared"] == 0
    assert CONTAM_THRESHOLD <= 38


def test_contamination_bloom_superset_and_planted_copy(spark, tmp_path):
    """The bloom property the op's docstring pins: a bloom can only
    over-flag, never under-flag. Row-by-row bloom_hits >= n_shared (a
    truly-shared gram's positions are set by the very gram that shares
    them), so contaminated == 1 forces bloom_flag == 1 — checked on
    the planted-copy fixture (where the positive case is guaranteed)
    AND across the whole sf0.001 corpus; false_pos is exactly
    bloom_flag & ~contaminated everywhere."""
    shared = " ".join(f"tok{i}" for i in range(40))
    clean = " ".join(f"other{i}" for i in range(40))
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2], pa.int64()),
            "text": [shared, shared, clean],
            "n_chars": pa.array([len(shared), len(shared), len(clean)], pa.int64()),
        }
    )
    pq.write_table(tbl, tmp_path / "documents.parquet")
    fn = registry()["contamination_bloom"].fn
    rows = {r["doc_id"]: r for r in fn(spark, str(tmp_path)).collect()}
    assert set(rows) == {1, 2}  # benchmark doc 0 never emitted
    assert rows[1]["n_shared"] == 38 and rows[1]["contaminated"] == 1
    assert rows[1]["bloom_hits"] >= 38 and rows[1]["bloom_flag"] == 1
    assert rows[1]["false_pos"] == 0

    for r in fn(spark, SF).collect():
        assert r["bloom_hits"] >= r["n_shared"], r
        if r["contaminated"]:
            assert r["bloom_flag"] == 1, r
        assert r["false_pos"] == int(bool(r["bloom_flag"]) and not r["contaminated"]), r


def test_source_overlap_counts_cross_source_mirror(spark, tmp_path):
    # two sources sharing one verbatim doc (a mirror) + one doc unique
    # to each: the cross-source cell must count exactly the mirrored
    # pairs, the diagonal exactly the planted original<->copy edges
    # all docs >= 20 tokens: copy-edge jaccard 18/19 keeps every
    # original<->copy pair comfortably above the banded-LSH recall
    # knee (a 6-token doc's 0.8-jaccard copy can miss all 4 bands)
    mirrored = " ".join(f"tok{i}" for i in range(20))
    ua = " ".join(f"ua{i}" for i in range(20))
    ub = " ".join(f"ub{i}" for i in range(20))
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
            "text": [mirrored, mirrored, ua, ub],
            "lang": ["en"] * 4,
            "source": ["A", "B", "A", "B"],
            "n_chars": pa.array(
                [len(mirrored), len(mirrored), len(ua), len(ub)], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, tmp_path / "documents.parquet")
    cells = {
        (r["source_1"], r["source_2"]): r["n_edges"]
        for r in registry()["source_overlap"].fn(spark, str(tmp_path)).collect()
    }
    # mirrored docs 0 (A) and 1 (B) + their planted copies form a
    # 4-clique: 4 of its 6 edges are cross-source (0-1, 0-1copy,
    # 0copy-1, 0copy-1copy), 2 within-source (0-0copy in A, 1-1copy
    # in B); the unique docs add one within-source copy edge each
    assert cells[("A", "B")] == 4
    assert cells[("A", "A")] == 1 + 1 and cells[("B", "B")] == 1 + 1
    assert set(cells) == {("A", "B"), ("A", "A"), ("B", "B")}


def test_near_dup_thresholds_curve_consistent_and_shows_valley(spark):
    """The tuning curve must be recomputable from minhash_lsh_jaccard's
    own pair list (same candidates, same 6dp jaccards), the cumulative
    column must be the exact descending running sum, and the corpus
    must exhibit the structure the op exists to reveal: the planted
    true-dup mass ABOVE CLUSTER_JACCARD_T, the chance band-collision
    mass at the bottom bin, and an empty valley between — the evidence
    that 0.8 is a placed threshold, not a guess."""
    from eurovision_spark.operators.dedup import CLUSTER_JACCARD_T, JACC_NBINS

    pairs = registry()["minhash_lsh_jaccard"].fn(spark, SF).collect()
    expected = [0] * JACC_NBINS
    for r in pairs:
        expected[min(int(r.jaccard * JACC_NBINS), JACC_NBINS - 1)] += 1
    rows = sorted(
        registry()["near_dup_thresholds"].fn(spark, SF).collect(),
        key=lambda r: r.bin,
    )
    assert [r.n_pairs for r in rows] == expected
    for r in rows:
        assert r.n_pairs_ge == sum(expected[r.bin :])
        assert r.bin_lo == round(r.bin / JACC_NBINS, 6)
    t_bin = int(CLUSTER_JACCARD_T * JACC_NBINS)
    assert sum(expected[t_bin:]) > 0  # true-dup mass above the threshold
    assert expected[0] > 0  # chance collisions at the bottom
    assert sum(expected[2 : t_bin - 2]) <= expected[0]  # the valley


def test_corpus_card_planted_dups_and_lang_tiebreak(spark, tmp_path):
    # source A: 4 docs, one exact-duplicate pair, en/fr tied 2-2 ->
    # dup_doc_frac 0.25, top_lang 'en' (count-then-name tie-break),
    # entropy ln 2; source B: 1 doc -> entropy 0, dup 0
    texts = ["a b c", "a b c", "d e", "f", "g h i j"]
    tbl = pa.table(
        {
            "doc_id": pa.array(list(range(5)), pa.int64()),
            "text": texts,
            "lang": ["en", "en", "fr", "fr", "en"],
            "source": ["A", "A", "A", "A", "B"],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, tmp_path / "documents.parquet")
    rows = {
        r["source"]: r
        for r in registry()["corpus_card"].fn(spark, str(tmp_path)).collect()
    }
    a, b = rows["A"], rows["B"]
    assert a["n_docs"] == 4 and a["n_tokens"] == 9 and a["mean_tokens"] == 2.25
    assert a["dup_doc_frac"] == 0.25
    assert a["n_langs"] == 2 and a["top_lang"] == "en"
    assert abs(a["lang_entropy"] - 0.693147) < 1e-6
    assert a["pct_docs"] == 0.8 and b["pct_docs"] == 0.2
    assert b["n_docs"] == 1 and b["lang_entropy"] == 0.0 and b["dup_doc_frac"] == 0.0
    assert b["top_lang"] == "en" and b["mean_tokens"] == 4.0


def test_token_pack_conserves_tokens_and_bounds_overflow(spark):
    from eurovision_spark.operators.pipeline import CAPACITY

    chunks = registry()["doc_chunk"].fn(spark, SF).collect()
    packs = registry()["token_pack"].fn(spark, SF).collect()
    # conservation: every chunk token lands in exactly one pack
    assert sum(p["total_tokens"] for p in packs) == sum(
        c["n_chunk_tokens"] for c in chunks
    )
    assert sum(p["n_chunks"] for p in packs) == len(chunks)
    # streaming first-fit bound: a pack overflows capacity by < one chunk
    from decimal import ROUND_HALF_UP, Decimal

    for p in packs:
        assert p["total_tokens"] <= CAPACITY + CHUNK - 1
        # Spark rounds HALF_UP; Python's round() is banker's — compare
        # against the HALF_UP value
        expected = float(
            (Decimal(p["total_tokens"]) / Decimal(CAPACITY)).quantize(
                Decimal("0.0001"), rounding=ROUND_HALF_UP
            )
        )
        assert abs(p["fill"] - expected) < 1e-9


def test_token_pack_counts_match_doc_chunk(spark):
    """The r10 arithmetic rewrite's equivalence proof: token_pack's
    per-chunk count n = max(0, min(CHUNK, n_toks - start + 1)) must
    equal size(slice(toks, start, CHUNK)) — i.e. doc_chunk's
    n_chunk_tokens — for EVERY (doc_id, chunk_idx) on the full sf0.001
    corpus (the arithmetic is exactly slice's length semantics)."""
    from pyspark.sql import functions as F

    from eurovision_spark.operators.pipeline import CHUNK, STRIDE
    from eurovision_spark.operators.textstats import tokens
    from eurovision_spark.sources import load_table

    want = {
        (r.doc_id, r.chunk_idx): r.n_chunk_tokens
        for r in registry()["doc_chunk"].fn(spark, SF).collect()
    }
    d = load_table(spark, SF, "documents").filter(F.col("n_chars") > 0)
    t = d.select("doc_id", F.size(tokens(F.col("text"))).alias("nt"))
    n_windows = F.ceil(F.greatest(F.col("nt") - CHUNK, F.lit(0)) / F.lit(float(STRIDE)))
    c = t.select(
        "doc_id",
        "nt",
        F.explode(
            F.sequence(F.lit(0).cast("bigint"), n_windows.cast("bigint"))
        ).alias("chunk_idx"),
    )
    start = F.lit(1) + STRIDE * F.col("chunk_idx")
    n = F.greatest(
        F.lit(0).cast("bigint"),
        F.least(F.lit(CHUNK).cast("bigint"), (F.col("nt") - start + 1).cast("bigint")),
    )
    got = {
        (r.doc_id, r.chunk_idx): r.n
        for r in c.select("doc_id", "chunk_idx", n.alias("n")).collect()
    }
    assert got == want


def test_dedup_exact_collapses_identical_copies(spark):
    """Every planted byte-identical copy must collapse onto its
    original: n_copies >= 2 everywhere, canonical_id always the
    original (sub-offset) id, and the group count equals the number
    of distinct texts."""
    from pyspark.sql import functions as F

    from eurovision_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    rows = registry()["dedup_exact"].fn(spark, sf).collect()
    assert rows and all(r.n_copies >= 2 for r in rows)
    from eurovision_spark.operators.dedup import EXACT_COPY_OFFSET

    assert all(r.canonical_id < EXACT_COPY_OFFSET for r in rows)
    d = load_table(spark, sf, "documents").filter(F.col("n_chars") > 0)
    n_distinct_texts = d.select("text").distinct().count()
    assert len(rows) == n_distinct_texts


def test_minhash_lsh_recovers_planted_near_dups(spark):
    """The banded LSH candidates must actually SURFACE the planted
    perturbed copies (doc, doc+NEAR_COPY_OFFSET), not merely hash-match the
    oracle: >= 95% of eligible originals pair with their copy (4x4
    banding loses only the shortest docs, where one appended token
    rewrites a large share of the shingle set)."""
    from pyspark.sql import functions as F

    from eurovision_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    pairs = {
        (r.doc_id_1, r.doc_id_2)
        for r in registry()["minhash_lsh_pairs"].fn(spark, sf).collect()
    }
    from eurovision_spark.operators.dedup import NEAR_COPY_OFFSET

    planted = {p for p in pairs if p[1] == p[0] + NEAR_COPY_OFFSET}
    d = load_table(spark, sf, "documents").filter(F.col("n_chars") > 0)
    n_eligible = d.filter(
        F.size(F.split(F.trim(F.lower(F.col("text"))), r"\s+")) >= 3
    ).count()
    assert n_eligible > 0
    assert len(planted) / n_eligible >= 0.95


def test_pii_redact_masks_every_planted_match(spark):
    """The redacted text must contain zero residual PII-pattern matches
    and exactly the planted masks: every doc_id % 7 == 0 doc carries
    one <EMAIL>, % 5 == 0 one <PHONE>, % 3 == 0 one <IP> (the base
    corpus is digit-free word soup, so the planted instances are the
    only possible matches)."""
    import re

    from eurovision_spark.operators.pipeline import (
        PII_EMAIL,
        PII_IPV4,
        PII_PHONE,
        pii_redact,
    )

    rows = pii_redact(spark, "/root/testdata/sf0.001").collect()
    assert rows
    for r in rows:
        for pat in (PII_EMAIL, PII_PHONE, PII_IPV4):
            assert not re.search(pat, r.redacted), (r.doc_id, pat)
        assert r.n_emails == (1 if r.doc_id % 7 == 0 else 0)
        assert r.n_phones == (1 if r.doc_id % 5 == 0 else 0)
        assert r.n_ips == (1 if r.doc_id % 3 == 0 else 0)
        assert r.redacted.count("<EMAIL>") == r.n_emails
        assert r.redacted.count("<PHONE>") == r.n_phones
        assert r.redacted.count("<IP>") == r.n_ips


def test_price_histogram_conserves_rows_and_bins(spark):
    from eurovision_spark.catalog import registry
    from eurovision_spark.plans.olap import HIST_NBINS, HIST_W
    from eurovision_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    rows = registry()["price_histogram"].fn(spark, sf).collect()
    li = load_table(spark, sf, "lineitem")
    assert sum(r.n for r in rows) == li.count()  # every row lands in a bin
    for r in rows:
        assert 0 <= r.bin < HIST_NBINS
        assert r.bin_lo == r.bin * HIST_W


def test_weighted_sample_is_deterministic_and_weight_biased(spark):
    from eurovision_spark.catalog import registry
    from eurovision_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    fn = registry()["weighted_sample"].fn
    a = sorted(r.doc_id for r in fn(spark, sf).collect())
    b = sorted(r.doc_id for r in fn(spark, sf).collect())
    assert a == b and len(a) == len(set(a))  # rerun-stable, no replacement
    sel = fn(spark, sf).agg({"weight": "avg"}).first()[0]
    docs = load_table(spark, sf, "documents").filter("n_chars > 0")
    corpus = docs.agg({"n_chars": "avg"}).first()[0]
    # selection probability rises with weight: the selected mean weight
    # must exceed the corpus mean (k=200 of ~500, gap is large)
    assert sel > corpus


def test_pii_counts_equal_emitted_masks_under_class_overlap(spark):
    """An IPv4-looking fragment inside an email ('john@1.2.3.4.com')
    is swallowed by the email mask; the staged counting must NOT
    phantom-count it as an unredacted IP — every class count equals
    the masks actually present in the redacted text."""
    from eurovision_spark.operators.pipeline import redact_documents

    # doc_id=1: no plants (not divisible by 3/5/7) — the overlap case
    # is the only PII present
    d = spark.createDataFrame(
        [(1, "reach john@1.2.3.4.com or 10.0.0.1 or 555-1234 now")],
        "doc_id bigint, text string",
    )
    [r] = redact_documents(d).collect()
    assert r.n_emails == 1 and r.n_ips == 1 and r.n_phones == 1
    assert r.redacted.count("<EMAIL>") == r.n_emails
    assert r.redacted.count("<IP>") == r.n_ips
    assert r.redacted.count("<PHONE>") == r.n_phones
    assert "1.2.3.4" not in r.redacted


def test_minhash_cluster_groups_planted_copies_transitively(spark):
    """Cluster formation must (a) put every eligible planted copy in its
    original's cluster with the ORIGINAL id as the label, and (b) honor
    transitivity — every cluster's members are mutually reachable, so
    cluster_size matches the member count per label."""
    from eurovision_spark.operators.dedup import NEAR_COPY_OFFSET

    sf = "/root/testdata/sf0.001"
    rows = registry()["minhash_cluster"].fn(spark, sf).collect()
    by_doc = {r.doc_id: r for r in rows}
    # every planted copy present in the result clusters with its original
    planted = [r for r in rows if r.doc_id >= NEAR_COPY_OFFSET]
    assert planted, "no planted copies clustered at all"
    for r in planted:
        # the copy clusters WITH its original (the corpus also contains
        # genuine near-dups, so the shared cluster may hold more members
        # and carry a smaller label than the original's id)
        orig = by_doc.get(r.doc_id - NEAR_COPY_OFFSET)
        assert orig is not None, "original missing from the copy's cluster output"
        assert orig.cluster_id == r.cluster_id
    # the label IS the min member id, and cluster_size matches the
    # actual member multiplicity — transitivity made them consistent
    from collections import Counter

    sizes = Counter(r.cluster_id for r in rows)
    min_member: dict[int, int] = {}
    for r in rows:
        min_member[r.cluster_id] = min(min_member.get(r.cluster_id, r.doc_id), r.doc_id)
    for r in rows:
        assert r.cluster_size == sizes[r.cluster_id]
        assert min_member[r.cluster_id] == r.cluster_id


def test_semantic_dedup_drops_each_scaled_copy_against_its_original(spark):
    """Every planted ×2-scaled copy must be dropped with its original as
    keeper at cosine ~1.0; no original may be dropped (copies carry the
    +PLANT_OFFSET ids, so they are always the larger pair member)."""
    from pyspark.sql import functions as F

    from eurovision_spark.operators.similarity import PLANT_OFFSET, as_double, l2norm
    from eurovision_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    rows = registry()["semantic_dedup"].fn(spark, sf).collect()
    n_vecs = (
        load_table(spark, sf, "embeddings")
        .filter(l2norm(as_double(F.col("embedding"))) > 0)
        .count()
    )
    dropped = {r.dropped_id: r for r in rows}
    assert all(d >= PLANT_OFFSET for d in dropped), "an original was dropped"
    # every copy is caught (same cell as its original by construction)
    assert len(dropped) == n_vecs
    for d, r in dropped.items():
        assert r.keeper_id == d - PLANT_OFFSET
        assert abs(r.cos_sim - 1.0) < 1e-6


def test_dedup_pipeline_provenance_is_transitive(spark):
    """The composed pass must point every dropped doc at the doc that
    actually survives the WHOLE pass: exact copies follow their
    canonical into its near cluster, survivors are self-mapped and
    'kept', and no survivor_id refers to a dropped doc."""
    from eurovision_spark.operators.dedup import EXACT_COPY_OFFSET, NEAR_COPY_OFFSET

    sf = "/root/testdata/sf0.001"
    rows = registry()["dedup_pipeline"].fn(spark, sf).collect()
    by_id = {r.doc_id: r for r in rows}
    # every planted exact copy is dropped as exact_dup
    exacts = [r for r in rows if r.doc_id >= EXACT_COPY_OFFSET]
    assert exacts and all(r.decision == "exact_dup" for r in exacts)
    # survivor chain terminates at a kept doc in ONE hop (transitivity)
    for r in rows:
        s = by_id[r.survivor_id]
        assert s.decision == "kept", (r, s)
        assert s.survivor_id == s.doc_id
    # near copies whose original is kept must drop against that original
    for r in rows:
        if NEAR_COPY_OFFSET <= r.doc_id < EXACT_COPY_OFFSET and r.decision == "near_dup":
            assert r.survivor_id < NEAR_COPY_OFFSET


def test_dedup_decision_frames_kept_matches_decisions(spark):
    """r11: dedup_decision_frames joins the CC labels ONCE, keyed on the
    canonical id, and kept_docs rides the SAME joined frame — sound
    because every CC node is an exact-canonical survivor (edges are
    generated over `surv`, where doc_id == c), so lab[doc_id] is NULL on
    exact_dup rows and equals lab[c] on surviving rows. The two-join
    definition itself stays pinned by the dedup_pipeline/corpus_build
    oracle hashes (DEDUP_DECISION_SELECT is still the two-LEFT-JOIN
    SQL); this pins the cross-frame invariant the shared join must
    preserve: kept_docs' ids are exactly the 'kept' decisions."""
    from eurovision_spark.operators.dedup import dedup_decision_frames

    decisions, kept = dedup_decision_frames(spark, "/root/testdata/sf0.001")
    kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
    dec_rows = decisions.collect()
    dec_kept = {r.doc_id for r in dec_rows if r.decision == "kept"}
    assert kept_ids == dec_kept
    # and every survivor_id a dropped row points at is a kept doc
    assert {r.survivor_id for r in dec_rows} <= dec_kept


def test_html_strip_roundtrips_to_original_text(spark):
    """Stripping the planted markup must recover the original text
    exactly (plus the decoded entity suffix on %5 docs), with tag and
    entity counts matching the planting rule — certifying the cleaner
    removes real markup rather than merely hash-matching."""
    from pyspark.sql import functions as F

    from eurovision_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    orig = {
        r.doc_id: r.text
        for r in load_table(spark, sf, "documents")
        .filter(F.col("n_chars") > 0)
        .select("doc_id", "text")
        .collect()
    }
    rows = {r.doc_id: r for r in registry()["html_strip"].fn(spark, sf).collect()}
    assert set(rows) == set(orig)
    import re

    for doc_id, r in rows.items():
        base = re.sub(r"\s+", " ", orig[doc_id]).strip()
        expected = base + (" & friends <3" if doc_id % 5 == 0 else "")
        assert r.clean_text == expected, doc_id
        assert r.n_tags == (4 if doc_id % 2 == 0 else 2)
        assert r.n_entities == (2 if doc_id % 5 == 0 else 0)


def test_near_dup_eval_reports_high_recall(spark):
    """The eval operator's own numbers must clear the recall bar the
    operators are held to (>= 0.95 of eligible planted pairs surfaced)
    and be internally consistent."""
    sf = "/root/testdata/sf0.001"
    [r] = registry()["near_dup_eval"].fn(spark, sf).collect()
    assert r.n_eligible > 0 and r.n_candidates > 0
    assert r.n_planted_found <= r.n_candidates
    assert r.n_verified <= r.n_candidates
    assert r.recall_planted >= 0.95
    assert 0.0 <= r.precision_verified <= 1.0


def test_bpe_apply_matches_python_reimplementation(spark):
    """The distributed replace-chain BPE must agree with an independent
    symbol-LIST reimplementation of left-to-right non-overlapping
    merging — this is what the boundary markers guarantee (an unmarked
    replace chain merges across symbol boundaries and diverges here
    while still hash-matching its equally-wrong oracle)."""
    from eurovision_spark.operators.textstats import (
        BPE_MERGES,
        _bpe_sample_texts,
        _train_bpe_merges,
    )
    from eurovision_spark.sources import load_table

    sf = "/root/testdata/sf0.001"
    merges = _train_bpe_merges(_bpe_sample_texts(sf))
    assert len(merges) == BPE_MERGES

    def py_word_tokens(word: str) -> int:
        from eurovision_spark.operators.textstats import BPE_MARK

        # marker chars in corpus words are stripped before tokenization
        # (the anchor-uniqueness normalization); an all-marker word
        # degrades to the empty string, which split-on-space counts as
        # ONE token in both engines
        s: list[str] = list(word.replace(BPE_MARK, ""))
        if not s:
            return 1
        for a, b in merges:
            out: list[str] = []
            i = 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        return len(s)

    texts = {
        r.doc_id: r.text
        for r in load_table(spark, sf, "documents")
        .filter("n_chars > 0")
        .limit(40)
        .collect()
    }
    rows = {r.doc_id: r for r in registry()["bpe_apply"].fn(spark, sf).collect()}
    for doc_id, text in texts.items():
        words = text.strip().lower().split()
        expected = sum(py_word_tokens(w) for w in words)
        r = rows[doc_id]
        assert r.n_bpe_tokens == expected, doc_id
        assert r.n_words == len(words)
        assert r.n_chars_tok == sum(len(w) for w in words)
        # merges actually fire: compression must exceed 1 somewhere
    assert any(r.n_bpe_tokens < r.n_chars_tok for r in rows.values())


def test_bpe_marker_char_in_corpus_text_cannot_break_anchoring(spark):
    """A corpus word CONTAINING the boundary-marker char '·' is
    normalized by stripping it (train + apply + oracle share the rule),
    so the marker always uniquely anchors symbol starts. The replace
    chain on such words must equal the symbol-list semantics of the
    stripped word — the r04 advice failure mode was the chain merging
    across symbol boundaries while its equally-wrong oracle still
    hash-matched."""
    from eurovision_spark.operators.textstats import (
        BPE_MARK,
        _train_bpe_merges,
        bpe_replace_chain,
    )

    # 'ab' is the clear winning pair; one training word carries a marker
    texts = [f"abab a{BPE_MARK}bab abab cd"]
    merges = _train_bpe_merges(texts, n_merges=2)
    assert merges[0] == ("a", "b")

    def py_tokens(word: str) -> int:
        s = list(word.replace(BPE_MARK, ""))
        if not s:
            return 1
        for a, b in merges:
            out, i = [], 0
            while i < len(s):
                if i < len(s) - 1 and s[i] == a and s[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(s[i])
                    i += 1
            s = out
        return len(s)

    words = ["abab", f"a{BPE_MARK}bab", f"{BPE_MARK}{BPE_MARK}", f"ab{BPE_MARK}ab",
             "cd", f"{BPE_MARK}abab{BPE_MARK}"]
    from pyspark.sql import functions as F

    df = spark.createDataFrame([(w,) for w in words], "w string").select(
        "w", F.size(F.split(bpe_replace_chain(F.col("w"), merges), " ")).alias("n")
    )
    got = {r.w: r.n for r in df.collect()}
    assert got == {w: py_tokens(w) for w in words}


def _cc_spark_rounds(monkeypatch) -> None:
    """Send every cc_edge_list call to the Spark rounds: a bound of -1
    rejects even the empty graph, which a bound of 0 would still label
    on the driver."""
    from eurovision_spark.operators import imp_dedup

    monkeypatch.setattr(imp_dedup, "LOCAL_CC_EDGES", -1)


@pytest.fixture(params=["driver", "spark"])
def cc_path(request, monkeypatch):
    """Runs a connected-components test on each cc_edge_list path: the
    driver union-find, which these small graphs take by default, and the
    Spark rounds. After the test, asserts that every call took it."""
    from eurovision_spark.operators import imp_dedup

    if request.param == "spark":
        _cc_spark_rounds(monkeypatch)
    served = []
    real = imp_dedup._driver_cc

    def spy(*args):
        out = real(*args)
        served.append(out is not None)
        return out

    monkeypatch.setattr(imp_dedup, "_driver_cc", spy)
    yield request.param
    want = request.param == "driver"
    assert served and all(x == want for x in served), served


def test_cc_edge_list_converges_on_long_chains_and_odd_shapes(spark, cc_path):
    """Pointer doubling makes cc_edge_list O(log diameter): a path graph
    whose diameter (200) far exceeds CC_MAX_ROUNDS (15) must still converge —
    the r04 verdict's 'raise and go home' residual. Also pins a mixed
    forest: chain + clique + isolated edge resolve to per-component min
    labels. Run on both paths (the ``cc_path`` fixture)."""
    from eurovision_spark.operators.imp_dedup import cc_edge_list

    n = 201  # path 0-1-2-...-200: diameter 200 >> CC_MAX_ROUNDS 15
    chain = [(i, i + 1) for i in range(n - 1)]
    clique = [(a, b) for a in range(1000, 1005) for b in range(a + 1, 1005)]
    extra = [(5000, 6000)]
    edges = spark.createDataFrame(chain + clique + extra, "s bigint, d bigint")
    got = {r.node: r.comp for r in cc_edge_list(edges, "s", "d").collect()}
    assert {r for r in got} == set(range(n)) | set(range(1000, 1005)) | {5000, 6000}
    assert all(got[i] == 0 for i in range(n))
    assert all(got[i] == 1000 for i in range(1000, 1005))
    assert got[5000] == 5000  # isolated edge: min(5000, 6000)
    assert got[6000] == 5000


def test_cc_edge_list_empty_and_single_edge(spark, cc_path):
    """Degenerate shapes: an empty edge list returns zero rows without
    erroring (on the Spark path, the NULL-sum fixpoint guard), and a
    single edge labels both endpoints with the min."""
    from eurovision_spark.operators.imp_dedup import cc_edge_list

    empty = spark.createDataFrame([], "s bigint, d bigint")
    assert cc_edge_list(empty, "s", "d").count() == 0
    one = spark.createDataFrame([(7, 3)], "s bigint, d bigint")
    got = {r.node: r.comp for r in cc_edge_list(one, "s", "d").collect()}
    assert got == {7: 3, 3: 3}


def test_cc_edge_list_reliable_checkpoint_path(spark, tmp_path, monkeypatch):
    """VERDICT r07 item #7: the 100 TB durable-checkpoint path is a
    FLAG. With a checkpoint dir set, reliable=True must (a) produce
    labels identical to the default local path, (b) actually write
    checkpoint data under the dir, and (c) refuse loudly when no
    checkpoint dir is configured. Pinned to the Spark rounds: this
    graph is small enough for the driver path, which checkpoints
    nothing."""
    from eurovision_spark.operators.imp_dedup import cc_edge_list

    _cc_spark_rounds(monkeypatch)

    # chain long enough to cross the CC_CHECKPOINT_EVERY=3 truncation at
    # least once under pointer doubling, plus a clique
    chain = [(i, i + 1) for i in range(60)]
    clique = [(a, b) for a in range(1000, 1005) for b in range(a + 1, 1005)]
    edges = spark.createDataFrame(chain + clique, "s bigint, d bigint")
    expected = {r.node: r.comp for r in cc_edge_list(edges, "s", "d").collect()}

    sc = spark.sparkContext
    had = sc.getCheckpointDir()
    assert had is None, "test assumes the shared session has no ckpt dir"
    with pytest.raises(ValueError, match="setCheckpointDir"):
        cc_edge_list(edges, "s", "d", reliable=True)

    ck = tmp_path / "ck"
    sc.setCheckpointDir(str(ck))
    try:
        got = {
            r.node: r.comp
            for r in cc_edge_list(edges, "s", "d", reliable=True).collect()
        }
    finally:
        # the shared-session fixture must not leak a checkpoint dir
        # (no public unset API: assign the Scala field back to None)
        scala_none = getattr(getattr(sc._jvm, "scala.None$"), "MODULE$")
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(scala_none)  # noqa: SLF001
    assert got == expected
    assert sc.getCheckpointDir() is None
    # durable RDD checkpoint data landed under the dir (setCheckpointDir
    # alone creates an empty per-application subdirectory)
    assert any(ck.rglob("rdd-*/part-*")), "checkpoint() wrote no rdd data"


def _random_forest(rng, ids):
    """Edge list of a seeded random forest over ``ids`` (a shuffled id
    pool): stars, a chain of 200+ hops, cliques, isolated edges and a
    self-loop."""
    pool = list(ids)
    rng.shuffle(pool)
    take = iter(pool)
    edges = []
    for _ in range(rng.randint(5, 10)):  # stars, hub on either side
        hub = next(take)
        for _ in range(rng.randint(1, 12)):
            leaf = next(take)
            edges.append((hub, leaf) if rng.random() < 0.5 else (leaf, hub))
    # the chain's ids run monotone along it, in either direction: the
    # Spark rounds' pointer doubling converges in O(log diameter) rounds
    # on such a chain, but not on one whose ids are shuffled along it
    # (a known defect, pinned by the xfail test below)
    chain = sorted(next(take) for _ in range(rng.randint(201, 260)))
    if rng.random() < 0.5:
        chain.reverse()
    edges += list(zip(chain, chain[1:]))
    for _ in range(rng.randint(2, 5)):  # cliques
        members = [next(take) for _ in range(rng.randint(3, 7))]
        edges += [(a, b) for i, a in enumerate(members) for b in members[i + 1:]]
    edges += [(next(take), next(take)) for _ in range(rng.randint(3, 8))]
    hub = next(take)
    edges.append((hub, hub))  # a self-loop
    rng.shuffle(edges)
    return edges


def test_cc_edge_list_driver_labels_equal_spark_rounds(spark, monkeypatch):
    """The driver union-find and the Spark rounds label seeded random
    forests identically, for bigint ids and for string ids (mixed case,
    digits and non-ASCII, whose order Python and Spark must share), with
    the same output schema. An id type whose order Python may not share
    (double) takes the Spark rounds even when small."""
    import random

    from eurovision_spark.operators import imp_dedup

    def labels(edges, ddl):
        df = spark.createDataFrame(edges, ddl)
        out = imp_dedup.cc_edge_list(df, "s", "d")
        return out.schema, {r.node: r.comp for r in out.collect()}

    strings = [
        "".join(random.Random(i).choice("aZ9_éß日x") for _ in range(1 + i % 5)) + str(i)
        for i in range(2000)
    ]
    cases = []
    for seed in (3, 17):
        cases.append((_random_forest(random.Random(seed), range(10**6, 10**6 + 2000)),
                      "s bigint, d bigint"))
        cases.append((_random_forest(random.Random(seed), strings), "s string, d string"))
    driver = [labels(e, ddl) for e, ddl in cases]
    with monkeypatch.context() as m:
        _cc_spark_rounds(m)
        rounds = [labels(e, ddl) for e, ddl in cases]
    for (e, _), got, want in zip(cases, driver, rounds):
        assert got == want
        assert set(got[1]) == {x for pair in e for x in pair}

    served = []
    real = imp_dedup._driver_cc
    monkeypatch.setattr(
        imp_dedup, "_driver_cc", lambda *a: served.append(real(*a)) or served[-1]
    )
    _, got = labels([(2.5, 1.5), (1.5, 0.5), (7.0, 8.0)], "s double, d double")
    assert got == {2.5: 0.5, 1.5: 0.5, 0.5: 0.5, 7.0: 7.0, 8.0: 7.0}
    assert served == [None]


@pytest.mark.xfail(
    strict=True,
    raises=RuntimeError,
    reason="known defect (ROADMAP carry-over: the Spark CC rounds are "
    "O(diameter) on chains whose ids are not monotone along them)",
)
def test_cc_edge_list_spark_rounds_converge_on_a_chain_of_shuffled_ids(
    spark, monkeypatch
):
    """The Spark rounds' pointer doubling promises O(log diameter)
    rounds, but on a 200-node path whose ids are shuffled along it the
    jump buys little and CC_MAX_ROUNDS runs out. Pins the defect:
    this test turns green when the jump is fixed."""
    import random

    from eurovision_spark.operators.imp_dedup import cc_edge_list

    _cc_spark_rounds(monkeypatch)
    ids = list(range(200))
    random.Random(7).shuffle(ids)
    edges = spark.createDataFrame(list(zip(ids, ids[1:])), "s bigint, d bigint")
    got = {r.node: r.comp for r in cc_edge_list(edges, "s", "d").collect()}
    assert got == {i: 0 for i in range(200)}


def test_cc_edge_list_small_graph_launches_at_most_two_jobs(spark):
    """A 10-edge graph handed over as a plan (not a materialized leaf),
    the shape of one intake batch: the driver path persists it, reads
    it in one bounded Arrow collect and builds the labels from Arrow on
    the JVM, so at most 2 Spark jobs run (the Spark rounds took 5 warm
    and 9 cold). Jobs are counted by job group through statusTracker."""
    from eurovision_spark.operators.imp_dedup import cc_edge_list

    sc = spark.sparkContext
    rows = [(17, 17), (3383, 17), (1827, 2377), (5, 6), (6, 7), (8, 9),
            (10, 11), (12, 13), (14, 15), (16, 18)]
    edges = spark.createDataFrame(rows, "s bigint, d bigint").filter("s >= 0")
    group = "cc-small-graph"
    sc.setJobGroup(group, group)
    try:
        labels = cc_edge_list(edges, "s", "d")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 2
    got = {r.node: r.comp for r in labels.collect()}
    assert got[3383] == 17 and got[2377] == 1827 and got[7] == 5 and len(got) == 17


def test_substring_dedup_flags_exactly_the_planted_span(spark):
    """The chimera shares EXACTLY its 16-token lifted span with the
    source: the source's shared positions must be precisely the span
    window (partial coverage -> 'trim' when the doc is long enough),
    the chimera — mostly copied text — must cross into 'drop', and a
    Python recomputation of the source's expected coverage must match
    row-for-row."""
    from eurovision_spark.operators.dedup import (
        CHIMERA_OFFSET,
        SUB_K,
        SUB_PLANT_MOD,
        SUB_SPAN,
        SUB_SPAN_START,
    )

    out = registry()["substring_dedup"].fn(spark, SF)
    rows = {r.doc_id: r for r in out.collect()}
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .filter("n_chars > 0")
        .collect()
    }
    # every doc appears exactly once; chimeras exist for eligible sources
    eligible = [
        d
        for d, t in docs.items()
        if d % SUB_PLANT_MOD == 0 and len(t.split()) >= SUB_SPAN_START + SUB_SPAN - 1
    ]
    assert eligible, "fixture must contain plantable sources"
    assert set(rows) == set(docs) | {d + CHIMERA_OFFSET for d in eligible}

    # corpus-wide gram index (python reimplementation)
    def grams(toks):
        return [
            " ".join(toks[i : i + SUB_K]) for i in range(len(toks) - SUB_K + 1)
        ]

    texts = {d: t.split() for d, t in docs.items()}
    for d in eligible:
        toks = texts[d]
        span = toks[SUB_SPAN_START - 1 : SUB_SPAN_START - 1 + SUB_SPAN]
        texts[d + CHIMERA_OFFSET] = [f"pre-{d}", *span, f"post-{d}"]
    owners: dict[str, set] = {}
    for d, toks in texts.items():
        for g in set(grams(toks)):
            owners.setdefault(g, set()).add(d)
    for d, toks in texts.items():
        covered: set[int] = set()
        shared = 0
        for i, g in enumerate(grams(toks)):
            if len(owners[g]) >= 2:
                shared += 1
                covered.update(range(i, i + SUB_K))
        r = rows[d]
        assert r.n_tokens == len(toks)
        assert r.shared_grams == shared, (d, r.shared_grams, shared)
        assert abs(r.dup_frac - round(len(covered) / len(toks), 4)) < 1e-9
    # the chimera is mostly span by construction -> 'drop'
    for d in eligible:
        assert rows[d + CHIMERA_OFFSET].action == "drop"
    # a long-enough source's coverage is ~SPAN/n -> 'trim' territory
    long_sources = [
        d for d in eligible if len(docs[d].split()) >= SUB_SPAN / 0.8 + 1
    ]
    trims = [d for d in long_sources if rows[d].action in ("trim", "drop")]
    assert trims, "planted spans must move sources out of 'keep'"


def test_quality_classifier_distills_the_heuristic(spark):
    """The learned filter must actually LEARN: >= 90% agreement with
    the lexical-diversity heuristic on the full corpus (not just the
    512-doc training sample), a determinism check (two invocations,
    identical rows), and both classes present in the output."""
    from eurovision_spark.operators.textstats import _qc_label

    spec = registry()["quality_classifier"]
    out1 = {r.doc_id: (r.qc_logit, r.qc_label) for r in spec.fn(spark, SF).collect()}
    out2 = {r.doc_id: (r.qc_logit, r.qc_label) for r in spec.fn(spark, SF).collect()}
    assert out1 == out2, "training or scoring is nondeterministic"
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .filter("n_chars > 0")
        .collect()
    }
    assert set(out1) == set(docs)
    agree = sum(1 for d, t in docs.items() if out1[d][1] == _qc_label(t))
    acc = agree / len(docs)
    assert acc >= 0.90, f"classifier accuracy vs heuristic: {acc:.3f}"
    labels = {v[1] for v in out1.values()}
    assert labels == {0, 1}, f"degenerate classifier output: {labels}"


def test_classifier_calibration_report_reads_correctly(spark):
    """The reliability report must account for every document, carry
    valid rates, reproduce the corpus-wide >= 0.90 agreement gate from
    its own bins, and show the calibrated-distillation STRUCTURE: the
    heuristic-positive rate is monotone non-decreasing through the
    bins and the agreement minimum sits at the decision boundary."""
    from eurovision_spark.operators.textstats import CALIB_OFF

    rows = sorted(
        registry()["classifier_calibration"].fn(spark, SF).collect(),
        key=lambda r: r.bin,
    )
    n_docs = (
        spark.read.parquet(f"{SF}/documents.parquet").filter("n_chars > 0").count()
    )
    assert sum(r.n_docs for r in rows) == n_docs
    for r in rows:
        assert 0 <= r.heur_pos_rate <= 1 and 0 <= r.agree_rate <= 1
        assert r.bin_lo == r.bin - CALIB_OFF
    overall = sum(r.n_docs * r.agree_rate for r in rows) / n_docs
    assert overall >= 0.90, overall
    pos_rates = [r.heur_pos_rate for r in rows]
    assert pos_rates == sorted(pos_rates), pos_rates
    worst = min(rows, key=lambda r: r.agree_rate)
    assert worst.bin_lo in (-1.0, 0.0), worst


def test_span_dedup_removes_planted_blocks_and_reassembles(spark):
    """Every planted copy doc (first 3 blocks lifted verbatim,
    block-aligned) must lose AT LEAST those 3 blocks (natural word-salad
    collisions may remove more) while its unique post/tail/end token
    block always survives; its source keeps any block the plant copied
    whenever the source owns the globally-first occurrence; clean_text
    must always equal the doc's surviving blocks reassembled in order;
    and token accounting must be internally consistent."""
    from eurovision_spark.operators.dedup import (
        BLK_W,
        SPAN_COPY_OFFSET,
        SPAN_PLANT_MOD,
    )

    out = {r.doc_id: r for r in registry()["span_dedup"].fn(spark, SF).collect()}
    docs = {
        r.doc_id: r.text
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .filter("n_chars > 0")
        .collect()
    }
    eligible = [
        d for d, t in docs.items()
        if d % SPAN_PLANT_MOD == 0 and len(t.split()) >= 3 * BLK_W
    ]
    assert eligible, "fixture must contain plantable sources"
    assert set(out) == set(docs) | {d + SPAN_COPY_OFFSET for d in eligible}

    def blocks(toks):
        return [
            " ".join(toks[i : i + BLK_W]) for i in range(0, len(toks), BLK_W)
        ]

    # python reimplementation of the global first-occurrence rule
    all_texts = {d: docs[d].split() for d in docs}
    for d in eligible:
        src = all_texts[d]
        all_texts[d + SPAN_COPY_OFFSET] = (
            src[: 3 * BLK_W] + [f"post-{d}", f"tail-{d}", f"end-{d}"]
        )
    first = {}
    for d in sorted(all_texts):
        for bi, bt in enumerate(blocks(all_texts[d])):
            first.setdefault(bt, (d, bi))
    for d, toks in all_texts.items():
        blks = blocks(toks)
        kept = [bt for bi, bt in enumerate(blks) if first[bt] == (d, bi)]
        r = out[d]
        assert r.n_tokens == len(toks)
        assert r.clean_text == " ".join(kept), f"doc {d}"
        assert r.removed_blocks == len(blks) - len(kept)
        assert r.kept_tokens == sum(len(b.split()) for b in kept)
    for d in eligible:
        p = out[d + SPAN_COPY_OFFSET]
        assert p.removed_blocks >= 3, f"plant {d} kept a copied block"
        assert p.clean_text.endswith(f"post-{d} tail-{d} end-{d}")


def test_corpus_diff_emits_exactly_the_planted_delta(spark):
    """The synthesized v2 removes the %11==3 stripe, revises %11==5,
    and adds a new doc per %11==7: the diff must contain exactly those
    ids with the right status, nothing for the unchanged bulk, and
    digests present on exactly the sides where the doc exists."""
    from eurovision_spark.operators.pipeline import (
        DIFF_ADDED_OFFSET,
        DIFF_ADDED_RES,
        DIFF_CHANGED_RES,
        DIFF_MOD,
        DIFF_REMOVED_RES,
    )

    out = {r.doc_id: r for r in registry()["corpus_diff"].fn(spark, SF).collect()}
    ids = [
        r.doc_id
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .filter("n_chars > 0")
        .select("doc_id")
        .collect()
    ]
    expect = {}
    for d in ids:
        if d % DIFF_MOD == DIFF_REMOVED_RES:
            expect[d] = "removed"
        elif d % DIFF_MOD == DIFF_CHANGED_RES:
            expect[d] = "changed"
        elif d % DIFF_MOD == DIFF_ADDED_RES:
            expect[d + DIFF_ADDED_OFFSET] = "added"
    assert {d: r.status for d, r in out.items()} == expect
    for d, r in out.items():
        assert (r.old_digest is None) == (r.status == "added")
        assert (r.new_digest is None) == (r.status == "removed")
        if r.status == "changed":
            assert r.old_digest != r.new_digest


def test_span_dedup_hot_boilerplate_block(spark):
    """The C4 motivating case: one boilerplate block shared by >50% of
    documents (a hot key for any per-hash window sort). The groupBy-min
    survivor must keep exactly the globally-first occurrence and cut
    every other one, with per-doc rewrites intact — same semantics the
    skew-safe formulation is required to preserve."""
    from pyspark.sql import functions as F

    from eurovision_spark.operators.dedup import (
        BLK_W,
        apply_block_removals,
        block_removals,
        block_rows,
        block_survivors,
        doc_blocks,
    )

    boiler = " ".join(f"b{i}" for i in range(BLK_W))  # one exact block
    rows = []
    for d in range(40):
        uniq = " ".join(f"u{d}x{i}" for i in range(BLK_W))
        if d % 4 == 0:  # 3/4 of docs lead with the boilerplate block
            rows.append((d, uniq + " " + uniq.replace("x", "y")))
        else:
            rows.append((d, boiler + " " + uniq))
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    br = block_rows(docs).persist()
    out = {
        r.doc_id: r
        for r in apply_block_removals(
            doc_blocks(docs), block_removals(br, block_survivors(br))
        ).collect()
    }
    br.unpersist()
    first_owner = min(d for d in range(40) if d % 4 != 0)
    for d, text in rows:
        r = out[d]
        toks = text.split()
        assert r.n_tokens == len(toks)
        if d % 4 == 0 or d == first_owner:
            assert r.removed_blocks == 0, f"doc {d}"
            assert r.clean_text == text
        else:
            assert r.removed_blocks == 1, f"doc {d}"
            assert r.clean_text == " ".join(toks[BLK_W:])
            assert r.kept_tokens == len(toks) - BLK_W


def test_simhash_pairs_radius_and_planted_floor(spark):
    """Every emitted pair must genuinely sit within the Hamming radius
    (recomputed from the signatures), the pair list must be candidate-
    deduped (a < b ordering, no duplicates), and a measured floor of
    planted perturbed copies must surface (the MinHash tier is the
    high-recall path; simhash's economy is the 8-byte verify)."""
    from eurovision_spark.operators.dedup import (
        NEAR_COPY_OFFSET,
        SIM_HAM_K,
        copies_shingle_sets,
        simhash60_from_hashes,
    )

    rows = registry()["simhash_pairs"].fn(spark, SF).collect()
    pairs = {(r.doc_id_1, r.doc_id_2): r.hamming for r in rows}
    assert len(pairs) == len(rows), "duplicate pairs emitted"
    assert all(a < b for a, b in pairs)
    sets = copies_shingle_sets(spark, SF)
    sigs = {r.doc_id: r.sig for r in simhash60_from_hashes(sets).collect()}
    sets.unpersist()
    for (a, b), h in pairs.items():
        assert h == bin(sigs[a] ^ sigs[b]).count("1")
        assert h <= SIM_HAM_K
    planted = sum(1 for (a, b) in pairs if b == a + NEAR_COPY_OFFSET)
    n_src = len([d for d in sigs if d < NEAR_COPY_OFFSET])
    # shingle-feature recall measures 0.53 at sf0.001 AND sf0.1 (one
    # appended token flips only margin<=1 vote bits; short docs fall
    # outside the radius); gate at 0.4 with headroom for corpus drift
    assert planted / n_src >= 0.4, (planted, n_src)


def test_shard_plan_reproducible_order(spark):
    """The training-order contract: (a) a re-run reproduces the exact
    (doc_id, shard, pos) table; (b) every doc appears once with
    contiguous 1..n positions per shard; (c) ids scatter across all
    shards (no source/ordering bias: sequential ids land apart); (d)
    adding one document preserves the RELATIVE order of all existing
    documents within every shard — only positions at/after the
    insertion point shift by one."""
    from collections import defaultdict

    from eurovision_spark.operators.pipeline import shard_plan_frame

    ids = spark.createDataFrame([(i,) for i in range(500)], "doc_id bigint")
    a = sorted(map(tuple, shard_plan_frame(ids, n_shards=8).collect()))
    b = sorted(map(tuple, shard_plan_frame(ids, n_shards=8).collect()))
    assert a == b and len(a) == 500

    per = defaultdict(list)
    for doc_id, shard, pos in a:
        per[shard].append((pos, doc_id))
    assert set(per) == set(range(8))  # sequential ids reach every shard
    for shard, rows in per.items():
        rows.sort()
        assert [p for p, _ in rows] == list(range(1, len(rows) + 1)), shard

    ids2 = spark.createDataFrame([(i,) for i in range(501)], "doc_id bigint")
    c = sorted(map(tuple, shard_plan_frame(ids2, n_shards=8).collect()))
    order_a = {s: [d for _, d in sorted(rows)] for s, rows in per.items()}
    per_c = defaultdict(list)
    for doc_id, shard, pos in c:
        per_c[shard].append((pos, doc_id))
    for shard, rows in per_c.items():
        seq = [d for _, d in sorted(rows)]
        without_new = [d for d in seq if d != 500]
        assert without_new == order_a[shard], shard


def test_selection_pipeline_composition_invariants(spark):
    """The composed curation pass beyond the hash gate: no dropped
    near-dup ever reaches the manifest; head and middle survive in
    full (tercile sizes), tail only at the ~10% hash rate; every
    selected row carries a real source and a bucket label."""
    from collections import Counter

    from eurovision_spark.catalog import registry

    sel = registry()["selection_pipeline"].fn(spark, SF).collect()
    assert sel and all(r.bucket in ("head", "middle", "tail") for r in sel)

    dropped = {
        r.dropped_id for r in registry()["dedup_survivors"].fn(spark, SF).collect()
    }
    assert not ({r.doc_id for r in sel} & dropped)

    by_bucket = Counter(r.bucket for r in sel)
    # terciles are ~equal, so full head+middle dwarf the 10%-sampled tail
    assert by_bucket["tail"] < 0.25 * by_bucket["head"]
    assert abs(by_bucket["head"] - by_bucket["middle"]) <= 20  # per-source ±1 each

    sources = {
        r.source
        for r in spark.read.parquet(f"{SF}/documents.parquet").select("source").collect()
    }
    assert all(r.source in sources for r in sel)


def test_selection_pipeline_approx_terciles_knob(spark):
    """The 100 TB knob: approx_terciles=True swaps only the tercile
    stage (ccnet_buckets_approx's bounded-sample cut points) — the
    survivor set and LM scores are IDENTICAL, every selected doc in
    either run carries the same score, and only cut-boundary ties may
    relabel (bounded like the standalone op's agreement test)."""
    from eurovision_spark.operators.pipeline import selection_pipeline

    exact = {
        r.doc_id: (r.bucket, r.avg_logprob)
        for r in selection_pipeline(spark, SF).collect()
    }
    approx = {
        r.doc_id: (r.bucket, r.avg_logprob)
        for r in selection_pipeline(spark, SF, approx_terciles=True).collect()
    }
    shared = set(exact) & set(approx)
    assert shared and all(exact[k][1] == approx[k][1] for k in shared)
    # the keep gate depends on the bucket label, so membership can
    # differ only through tail-boundary relabels — bounded
    assert len(set(exact) ^ set(approx)) <= 0.15 * len(exact)
    n_relabel = sum(1 for k in shared if exact[k][0] != approx[k][0])
    assert n_relabel <= 0.10 * len(shared), (n_relabel, len(shared))


def test_corpus_build_composes_parents_row_for_row(spark):
    """The capstone pin (r10): every tier of corpus_build equals its
    standalone parent ROW-FOR-ROW — the composition cannot diverge from
    the parts. (1) decision/survivor == dedup_pipeline; (2) quality
    verdicts on kept base docs == quality_pipeline; (3) split ==
    leakage_safe_split on the common corpus, and every doc carries its
    SURVIVOR's split (the leakage-safety property extended to exact
    dups); (4) shard == shard_plan's per-doc hash, pos dense per shard;
    (5) keep is the exact three-gate conjunction; dropped docs carry
    NULL verdicts, a real split, and keep = 0."""
    from collections import defaultdict

    man = registry()["corpus_build"].fn(spark, SF).collect()
    by_id = {r.doc_id: r for r in man}

    # (1) the dedup tier
    ded = {r.doc_id: r for r in registry()["dedup_pipeline"].fn(spark, SF).collect()}
    assert set(by_id) == set(ded)
    for i, r in by_id.items():
        assert (r.decision, r.survivor_id) == (ded[i].decision, ded[i].survivor_id)

    # (2) the quality tier on kept base docs
    qp = {r.doc_id: r for r in registry()["quality_pipeline"].fn(spark, SF).collect()}
    kept_base = [r for r in man if r.decision == "kept" and r.doc_id in qp]
    assert kept_base
    for r in kept_base:
        q = qp[r.doc_id]
        assert (r.pass_gopher, r.pass_repetition, r.qc_label) == (
            q.pass_gopher,
            q.pass_repetition,
            q.qc_label,
        )

    # dropped docs: never re-scored, never sharded, always split
    dropped = [r for r in man if r.decision != "kept"]
    assert dropped
    for r in dropped:
        assert r.pass_gopher is None and r.bucket is None
        assert r.keep == 0 and r.shard is None and r.pos is None
        assert r.split in ("train", "valid", "test")

    # (3) the split tier
    ls = {
        r.doc_id: r.split
        for r in registry()["leakage_safe_split"].fn(spark, SF).collect()
    }
    common = [r for r in man if r.doc_id in ls]
    assert common and all(r.split == ls[r.doc_id] for r in common)
    for r in man:  # exact dups inherit through the survivor key
        assert r.split == by_id[r.survivor_id].split

    # (4) the shard tier
    sp = {r.doc_id: r.shard for r in registry()["shard_plan"].fn(spark, SF).collect()}
    kept_rows = [r for r in man if r.keep == 1]
    assert kept_rows
    for r in kept_rows:
        assert r.shard is not None and r.pos is not None
        if r.doc_id in sp:  # shard = hash % N is set-independent
            assert r.shard == sp[r.doc_id]
    per_shard = defaultdict(list)
    for r in kept_rows:
        per_shard[r.shard].append(r.pos)
    for shard, ps in per_shard.items():
        assert sorted(ps) == list(range(1, len(ps) + 1)), shard

    # (5) the keep conjunction, every row
    for r in man:
        expected = int(
            r.decision == "kept"
            and r.quality_keep == 1
            and (r.sel_keep or 0) == 1
        )
        assert r.keep == expected, r


def test_corpus_build_approx_terciles_knob(spark):
    """The 100 TB knob carries into the capstone: approx_terciles=True
    swaps ONLY the tercile stage — dedup decisions, quality verdicts,
    splits, and LM scores are IDENTICAL; membership of the kept set
    differs only through bounded cut-boundary relabels (the
    selection_pipeline knob test's contract)."""
    from eurovision_spark.operators.pipeline import corpus_build

    exact = {r.doc_id: r for r in corpus_build(spark, SF).collect()}
    approx = {
        r.doc_id: r for r in corpus_build(spark, SF, approx_terciles=True).collect()
    }
    assert set(exact) == set(approx)
    n_relabel = 0
    for i, r in exact.items():
        a = approx[i]
        assert (r.decision, r.survivor_id, r.split) == (a.decision, a.survivor_id, a.split)
        assert (r.pass_gopher, r.pass_repetition, r.qc_label) == (
            a.pass_gopher,
            a.pass_repetition,
            a.qc_label,
        )
        assert r.avg_logprob == a.avg_logprob
        n_relabel += int(r.bucket != a.bucket)
    scored = sum(1 for r in exact.values() if r.bucket is not None)
    assert n_relabel <= 0.10 * scored, (n_relabel, scored)


def _epoch_plan_reference(n: dict[str, int]) -> tuple[dict[str, float], set[str]]:
    """Independent iterative water-fill: repeatedly cap sources whose
    proportional share exceeds EPOCH_CAP epochs and redistribute the
    spill, until stable — the fixed point the operator's one-pass
    prefix-sum formulation must hit exactly."""
    from eurovision_spark.operators.pipeline import EPOCH_BUDGET_X, EPOCH_CAP, MIX_ALPHA

    budget = EPOCH_BUDGET_X * sum(n.values())
    w = {s: n[s] ** MIX_ALPHA for s in n}
    capped: set[str] = set()
    while True:
        rest = [s for s in n if s not in capped]
        lam = (budget - EPOCH_CAP * sum(n[s] for s in capped)) / sum(w[s] for s in rest)
        newly = {s for s in rest if lam * w[s] / n[s] >= EPOCH_CAP}
        if not newly:
            break
        capped |= newly
    epochs = {
        s: (EPOCH_CAP if s in capped else lam * w[s] / n[s]) for s in n
    }
    return epochs, capped


def test_epoch_plan_waterfill_exact(spark, tmp_path):
    """epoch_plan vs the iterative reference on the sf0.001 corpus
    (budget conservation + exact agreement — the generator keeps
    sources balanced, so this exercises the uncapped regime), AND on a
    planted skewed fixture where the cap PROVABLY binds (one tiny
    source among four large ones: its uncapped share would be ~20
    epochs), so both branches of the closed form are certified."""
    from eurovision_spark.operators.pipeline import EPOCH_BUDGET_X, EPOCH_CAP

    def check(sf_dir: str) -> list:
        rows = {r.source: r for r in registry()["epoch_plan"].fn(spark, sf_dir).collect()}
        n = {s: r.src_tokens for s, r in rows.items()}
        budget = EPOCH_BUDGET_X * sum(n.values())
        assert all(r.epochs <= EPOCH_CAP + 1e-9 for r in rows.values())
        assert abs(sum(r.alloc_tokens for r in rows.values()) - budget) < 1.0
        want, capped = _epoch_plan_reference(n)
        for s, r in rows.items():
            assert abs(r.epochs - want[s]) < 1e-3, (s, r.epochs, want[s])
            assert r.capped == int(s in capped), (s, r.capped, s in capped)
        return list(rows.values())

    corpus_rows = check(SF)
    assert all(not r.capped for r in corpus_rows)  # balanced corpus: no cap

    # skewed fixture: source "tiny" holds 10 tokens, four others 1000
    def doc(i, src, n_tok):
        t = " ".join(f"{src}w{j}" for j in range(n_tok))
        return (i, t, src, len(t))

    docs = [doc(0, "tiny", 10)] + [
        doc(1 + i, f"big{i}", 1000) for i in range(4)
    ]
    spark.createDataFrame(
        docs, "doc_id bigint, text string, source string, n_chars int"
    ).write.mode("overwrite").parquet(str(tmp_path / "documents.parquet"))
    fix_rows = check(str(tmp_path))
    by_src = {r.source: r for r in fix_rows}
    assert by_src["tiny"].capped == 1 and by_src["tiny"].epochs == EPOCH_CAP
    assert all(by_src[f"big{i}"].capped == 0 for i in range(4))


def test_shard_invalidation_matches_stripe_arithmetic(spark):
    """shard_invalidation vs a pure-Python recomputation of the
    planted recrawl stripes: per shard, the added/removed/changed
    tallies follow directly from corpus_diff's doc_id stripe rules and
    shard_plan's md5 shard key; dirty is exactly (any tally > 0); and
    clean shards hold v1_rows == v2_rows (the byte-stable files an
    incremental writer skips)."""
    from eurovision_spark.operators.pipeline import (
        DIFF_ADDED_OFFSET,
        DIFF_ADDED_RES,
        DIFF_CHANGED_RES,
        DIFF_MOD,
        DIFF_REMOVED_RES,
        SHARD_N,
    )

    ids = [
        r.doc_id
        for r in spark.read.parquet(f"{SF}/documents.parquet")
        .filter("n_chars > 0")
        .select("doc_id")
        .collect()
    ]

    def shard(i: int) -> int:
        return int(hashlib.md5(f"shard-{i}".encode()).hexdigest()[:15], 16) % SHARD_N

    want = {
        s: {"v1": 0, "v2": 0, "added": 0, "removed": 0, "changed": 0}
        for s in range(SHARD_N)
    }
    for i in ids:
        want[shard(i)]["v1"] += 1
        m = i % DIFF_MOD
        if m == DIFF_REMOVED_RES:
            want[shard(i)]["removed"] += 1
        else:
            want[shard(i)]["v2"] += 1
            if m == DIFF_CHANGED_RES:
                want[shard(i)]["changed"] += 1
        if m == DIFF_ADDED_RES:
            ni = i + DIFF_ADDED_OFFSET
            want[shard(ni)]["v2"] += 1
            want[shard(ni)]["added"] += 1

    rows = {r.shard: r for r in registry()["shard_invalidation"].fn(spark, SF).collect()}
    assert set(rows) == set(range(SHARD_N))
    n_dirty = 0
    for s, w in want.items():
        r = rows[s]
        assert (r.v1_rows, r.v2_rows) == (w["v1"], w["v2"]), s
        assert (r.n_added, r.n_removed, r.n_changed) == (
            w["added"],
            w["removed"],
            w["changed"],
        ), s
        expect_dirty = int(w["added"] + w["removed"] + w["changed"] > 0)
        assert r.dirty == expect_dirty, s
        n_dirty += expect_dirty
        if not expect_dirty:
            assert r.v1_rows == r.v2_rows, s
    # non-vacuous both ways at sf0.001: some shards dirty, and the
    # clean set is what the incremental writer actually saves
    assert 0 < n_dirty < SHARD_N


def test_decontaminate_excises_exactly_the_shared_windows(spark, tmp_path):
    """Planted surgery fixture: a full benchmark copy is cut to
    nothing, a doc sharing one 5-token benchmark window loses EXACTLY
    those five tokens (boundary grams spanning into its own text don't
    match, so neighbors survive), a clean doc passes through
    untouched — and removal is position-based on the ORIGINAL-case
    tokens while matching runs lowercased."""
    bench_toks = [f"bt{i}" for i in range(40)]
    bench = " ".join(bench_toks)
    # doc 2 embeds bench tokens 10..14 UPPERCASED mid-text
    window = [t.upper() for t in bench_toks[10:15]]
    partial = " ".join(["Keep1", "Keep2", "Keep3"] + window + ["Keep4", "Keep5", "Keep6"])
    clean = " ".join(f"other{i}" for i in range(10))
    tbl = pa.table(
        {
            "doc_id": pa.array([0, 1, 2, 3], pa.int64()),
            "text": [bench, bench, partial, clean],
            "n_chars": pa.array(
                [len(bench), len(bench), len(partial), len(clean)], pa.int64()
            ),
        }
    )
    pq.write_table(tbl, tmp_path / "documents.parquet")
    rows = {
        r.doc_id: r for r in registry()["decontaminate"].fn(spark, str(tmp_path)).collect()
    }
    assert set(rows) == {1, 2, 3}  # bench doc 0 never emitted
    assert rows[1].n_removed == rows[1].n_tokens == 40
    assert rows[1].clean_text == ""
    assert rows[2].n_tokens == 11 and rows[2].n_removed == 5
    assert rows[2].clean_text == "Keep1 Keep2 Keep3 Keep4 Keep5 Keep6"
    assert rows[3].n_removed == 0 and rows[3].clean_text == clean
