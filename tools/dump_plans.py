"""Regenerate PLANS.md: formatted physical plans for the headline queries.

Usage: python tools/dump_plans.py  (writes PLANS.md at the repo root)
"""

from __future__ import annotations

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

SF_DIR = "/root/testdata/sf0.001"

HEADER = """\
# PLANS — physical plans of the headline queries

Auto-generated by `tools/dump_plans.py` (`df.explain("formatted")` at
sf0.001). What to look for, per the 100 TB design claims (asserted
programmatically in tests/test_plans.py):

- `BroadcastHashJoin` on every dimension join — fact tables never
  shuffle for dimensions;
- `PushedFilters` / pruned `ReadSchema` on parquet scans;
- `HashAggregate` pairs (partial + final) around exchanges;
- `TakeOrderedAndProject` for top-n, never a global sort;
- windows sharing a single `Exchange hashpartitioning` on their key;
- no `CartesianProduct` anywhere.
"""


def main() -> None:
    import tempfile

    from bench import HEADLINE
    from eurovision_spark import get_spark
    from eurovision_spark.catalog import registry
    from eurovision_spark.obs import plan_text
    from eurovision_spark.operators.parse import parse_registry
    from tools.gen_registry import write_registry

    spark = get_spark("dump_plans", cpus=4)
    specs = registry()
    out = [HEADER]
    # r10 additions live outside bench.HEADLINE (86 keys cannot fit the
    # driver's 2000-char contract tail) but their plans are headline
    # evidence: the scan-budget pins in tests/test_plans.py read these
    # shapes
    extras = [
        "contamination_bloom",
        "epoch_plan",
        "ivf_nprobe_curve",
        "bm25_search",
        "shard_invalidation",
    ]
    for name in HEADLINE + extras:
        out.append(f"\n## {name}\n\n```\n{plan_text(specs[name].fn(spark, SF_DIR))}\n```\n")

    # the ingest pipeline's four output-table plans (tiny fixture —
    # plan SHAPE is input-size independent); the scale claims here are
    # zero Python-eval operators and no cartesian products, asserted in
    # tests/test_plans.py::test_parse_pipeline_is_jvm_only
    with tempfile.TemporaryDirectory() as td:
        fix = f"{td}/fixture.txt"
        write_registry(fix, 30)
        for name, df in parse_registry(spark, fix).items():
            out.append(f"\n## ingest: {name} table\n\n```\n{plan_text(df)}\n```\n")

    out.append(_near_dup_bucket_distribution(spark))

    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(out), encoding="utf8"
    )
    print(f"PLANS.md written ({len(HEADLINE)} queries + 4 ingest tables)")


def _near_dup_bucket_distribution(spark) -> str:
    """Measured band-bucket population for embedding_near_dup at sf0.1 —
    the scale-safety evidence: bits-per-band grow with log2(n), so the
    largest bucket (and with it the in-bucket pair count) stays bounded
    instead of growing linearly with the corpus."""
    import math

    from pyspark.sql import functions as F

    from eurovision_spark.operators import similarity as S
    from eurovision_spark.sources import load_table

    sf_dir = "/root/testdata/sf0.1"
    # the OPERATOR's own corpus construction (plant offset, zero-norm
    # exclusion) and its own band selection — profiling a configuration
    # the operator doesn't actually run would misrepresent the evidence
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", S.as_double(F.col("embedding")).alias("v"))
        .filter(S.l2norm(F.col("v")) > 0)
    )
    copy = e.select(
        (F.col("vec_id") + S.PLANT_OFFSET).alias("vec_id"),
        F.transform(F.col("v"), lambda x: x * 2.0).alias("v"),
    )
    vecs = e.unionByName(copy)
    n = vecs.count()
    b = max(S.N_PLANES, math.ceil(math.log2(max(n, 1) / S.TARGET_BUCKET_SIZE)))
    nbands = 1 if n < S.NEAR_DUP_SMALL_N else S.NEAR_DUP_BANDS
    rows = []
    for band in range(nbands):
        sig = S._sign_bucket(F.col("v"), range(band * b, (band + 1) * b))
        dist = (
            vecs.groupBy(sig.alias("band_sig"))
            .count()
            .agg(
                F.count("*").alias("n_buckets"),
                F.max("count").alias("max_sz"),
                F.expr("percentile(count, 0.5)").alias("p50"),
                F.expr("percentile(count, 0.99)").alias("p99"),
            )
            .collect()[0]
        )
        rows.append(
            f"| {band} | {dist['n_buckets']} | {dist['p50']:.0f} | "
            f"{dist['p99']:.0f} | {dist['max_sz']} |"
        )
    return (
        "\n## embedding_near_dup band-bucket distribution (sf0.1)\n\n"
        f"n = {n} vectors (corpus + planted copies), bands = "
        f"{nbands} (second OR-band engages above {S.NEAR_DUP_SMALL_N} "
        f"vectors), bits/band = {b} "
        f"(= max({S.N_PLANES}, ceil(log2(n/{S.TARGET_BUCKET_SIZE})))). "
        "Pair-generation cost is sum(sz^2)/2 over buckets; because "
        "bits/band track log2(n), max bucket size stays ~constant as "
        "the corpus grows — the property that makes in-bucket pairing "
        "scale-safe.\n\n"
        "| band | n_buckets | p50 size | p99 size | max size |\n"
        "| --- | --- | --- | --- | --- |\n" + "\n".join(rows) + "\n"
    )


if __name__ == "__main__":
    main()
