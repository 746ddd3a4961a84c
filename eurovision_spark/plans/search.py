"""Predicate search + denormalized export — the engine's public query API.

Rebuilds toexcel.py's interactive loop (toexcel.py:100-162) as plan
construction: the user supplies an optional predicate per table; each
supplied predicate contributes ONE left-semi join against the trial set
(conditional join pruning, toexcel.py:110-115 / SURVEY §4); the final
set selects its rows of the reference's denormalized sheet shape —
group-concat IMP display names ("; "), sorted locations (", "), first
sponsor name.

Predicates are Spark SQL boolean expressions evaluated with
``F.expr`` against registered views — replacing the reference's raw
string interpolation (SQL injection by design, toexcel.py:29) with
parsed, analyzed expressions.

Scale: an interactive session runs one search after another over the
same four tables, so the predicate-independent part of the export, the
*sheet* (one row per trial: the display columns plus the three child
summaries), is built once per table set and kept: three child
aggregates joined to the trial table, globally sorted on eudract_id and
materialized with ``localCheckpoint``. A search is then its key-set
semi-joins plus one left-semi join of the sheet against the hit keys.
The sheet is built with AQE off, so its leaf keeps
``rangepartitioning(eudract_id)`` and the sort order: when the hit keys
broadcast, the final ``orderBy`` plans with no Exchange and no Sort, and
a search costs one Spark job per broadcast plus the collect (2-4 for
the benchmark's predicate sets). A hit set too large to broadcast joins
sort-merge instead and shuffles the sheet once.
"""

from __future__ import annotations

import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from eurovision_spark.functions import labeled_priority_coalesce
from eurovision_spark.session import scoped_conf

TABLES = ("trial", "imp", "location", "sponsor")

DISPLAY_TRIAL = [
    # fixed 47-column projection, reference toexcel.py:46-92
    "eudract_id", "official_title", "condition", "enrollment", "overall_status",
    "phase1", "phase2", "phase3", "phase4", "meddra_version", "meddra_level",
    "meddra_classification", "meddra_term", "meddra_soc", "nct_id", "who_utrn_id",
    "isrctn_id", "sponsor_id", "study_first_submitted_date", "completion_date",
    "therapy", "diagnosis", "prophylaxis", "safety", "efficacy", "pk", "pd",
    "randomised", "placebo", "open_design", "single_blind", "double_blind",
    "crossover", "rare", "fih", "bioequivalence", "age_in_utero", "age_preterm",
    "age_newborn", "age_under2", "age_2to11", "age12to17", "age18to64",
    "age_65plus", "female", "male", "network",
]


def search_trials(
    tables: dict[str, DataFrame],
    trial_where: str | None = None,
    imp_where: str | None = None,
    location_where: str | None = None,
    sponsor_where: str | None = None,
) -> DataFrame:
    """Key-set search: trials matching every supplied predicate.

    Missing predicate => that table does not constrain the search
    (toexcel.py:24-28: empty trial predicate means match-all; empty
    child predicate means skip the intersection).
    """
    hits = tables["trial"]
    if trial_where:
        hits = hits.filter(F.expr(trial_where))
    for df, where in (
        (tables["imp"], imp_where),
        (tables["location"], location_where),
        (tables["sponsor"], sponsor_where),
    ):
        if where:
            hits = hits.join(
                df.filter(F.expr(where)).select("eudract_id"), "eudract_id", "left_semi"
            )
    return hits


# the one memoized sheet: (tables, sheet)
_SHEET: tuple[dict[str, DataFrame], DataFrame] | None = None
_SHEET_LOCK = threading.Lock()


def _sheet_frame(tables: dict[str, DataFrame]) -> DataFrame:
    """The unsorted sheet: the trial display columns + "imp",
    "location", "sponsor" summary columns (toexcel.py:124-162)."""
    # IMP display name: product > trade > code, "field:value" form
    # (toexcel.py:143-149); reference joins in child-row order — we sort
    # for determinism (documented deviation; set is tiny per trial)
    imp_named = tables["imp"].select(
        "eudract_id",
        labeled_priority_coalesce(
            [
                ("product", F.col("product")),
                ("trade", F.col("trade")),
                ("code", F.col("code")),
            ]
        ).alias("imp_name"),
    )
    imp_agg = (
        imp_named.filter(F.col("imp_name").isNotNull())
        .groupBy("eudract_id")
        .agg(F.array_join(F.array_sort(F.collect_list("imp_name")), "; ").alias("imp"))
    )
    loc_agg = tables["location"].groupBy("eudract_id").agg(
        F.array_join(F.array_sort(F.collect_set("location")), ", ").alias("location")
    )
    # first sponsor row's name (toexcel.py:155-157) — deterministic via
    # min over the sponsor tuple
    sponsor_first = tables["sponsor"].groupBy("eudract_id").agg(
        F.min_by("name", F.struct("name", "org", "contact", "email")).alias("sponsor")
    )
    return (
        tables["trial"].select(*DISPLAY_TRIAL)
        .join(imp_agg, "eudract_id", "left")
        .join(loc_agg, "eudract_id", "left")
        .join(sponsor_first, "eudract_id", "left")
        .select(
            *DISPLAY_TRIAL,
            F.coalesce("imp", F.lit("")).alias("imp"),
            F.coalesce("location", F.lit("")).alias("location"),
            F.coalesce("sponsor", F.lit("")).alias("sponsor"),
        )
    )


def _sheet(tables: dict[str, DataFrame]) -> DataFrame:
    """The sheet of ``tables``, sorted by eudract_id and materialized;
    built on the first call for a table set and reused while later
    calls pass the identical DataFrame objects (one entry: another
    table set replaces it). Re-read a table to see a rewrite."""
    global _SHEET
    with _SHEET_LOCK:
        if _SHEET is not None and all(_SHEET[0][n] is tables[n] for n in TABLES):
            return _SHEET[1]
        spark = tables["trial"].sparkSession
        # with AQE off the checkpoint leaf keeps the range partitioning
        # and the sort order, so a search's orderBy needs no Exchange
        # and no Sort; under AQE it reports neither
        with scoped_conf(spark, {"spark.sql.adaptive.enabled": "false"}):
            sheet = _sheet_frame(tables).orderBy("eudract_id").localCheckpoint()
        _SHEET = ({n: tables[n] for n in TABLES}, sheet)
        return sheet


def denormalized_export(tables: dict[str, DataFrame], hits: DataFrame) -> DataFrame:
    """One row per selected trial: the 47 trial display columns +
    "imp", "location", "sponsor" summary columns (toexcel.py:124-162),
    sorted by eudract_id (toexcel.py:133).

    Contract: ``hits`` is a filter of ``tables["trial"]`` (what
    :func:`search_trials` returns); the result is the table set's
    memoized sheet (:func:`_sheet`) left-semi joined to
    ``hits.eudract_id``, so a trial id that is not in ``tables["trial"]``
    yields no row.
    """
    return (
        _sheet(tables)
        .join(hits.select("eudract_id"), "eudract_id", "left_semi")
        .orderBy("eudract_id")
    )


def search_and_export(tables: dict[str, DataFrame], **predicates: str | None) -> DataFrame:
    """The full toexcel lifecycle as one composable query."""
    return denormalized_export(tables, search_trials(tables, **predicates))
