"""Search/export API tests (toexcel.py rebuild: plans/search.py, sinks).

Drives the conditional semi-join pruning (toexcel.py:110-115), the
denormalized sheet assembly (toexcel.py:124-162), and the CSV sink on a
small in-memory 4-table model.
"""

from __future__ import annotations

import pytest


@pytest.fixture(scope="module")
def tables(spark):
    from eurovision_spark.plans.search import DISPLAY_TRIAL

    def trial_row(eid, status, condition):
        base = {c: "" for c in DISPLAY_TRIAL}
        base.update(eudract_id=eid, overall_status=status, condition=condition)
        return base

    trial = spark.createDataFrame(
        [
            trial_row("2004-1", "ongoing", "diabetes"),
            trial_row("2004-2", "not ongoing", "asthma"),
            trial_row("2004-3", "completed", "diabetes"),
        ]
    )
    imp = spark.createDataFrame(
        [
            ("2004-1", "wonderdrug", "", "wd-1"),
            ("2004-1", "", "alphadrug", ""),
            ("2004-3", "", "", "x-9"),
        ],
        "eudract_id string, trade string, product string, code string",
    )
    sponsor = spark.createDataFrame(
        [
            ("2004-1", "Acme Pharma", "", "", ""),
            ("2004-3", "Zeta Bio", "", "", ""),
        ],
        "eudract_id string, name string, org string, contact string, email string",
    )
    location = spark.createDataFrame(
        [("2004-1", "Austria"), ("2004-1", "Belgium"), ("2004-3", "Japan")],
        "eudract_id string, location string",
    )
    return {"trial": trial, "imp": imp, "sponsor": sponsor, "location": location}


def test_unconstrained_search_matches_all(tables):
    from eurovision_spark.plans.search import search_trials

    assert search_trials(tables).count() == 3


def test_conditional_semi_join_pruning(tables):
    from eurovision_spark.plans.search import search_trials

    # trial predicate alone
    hits = search_trials(tables, trial_where="condition = 'diabetes'")
    assert {r.eudract_id for r in hits.collect()} == {"2004-1", "2004-3"}
    # child predicate joins only when supplied (2004-2 has no imp rows but
    # must still match when no imp predicate is given)
    hits = search_trials(tables, trial_where="condition = 'asthma'")
    assert {r.eudract_id for r in hits.collect()} == {"2004-2"}
    # imp + location predicates intersect
    hits = search_trials(
        tables, imp_where="trade = 'wonderdrug'", location_where="location = 'Austria'"
    )
    assert {r.eudract_id for r in hits.collect()} == {"2004-1"}
    hits = search_trials(tables, imp_where="code = 'x-9'", location_where="location = 'Austria'")
    assert hits.count() == 0


def test_denormalized_export_shape(tables):
    from eurovision_spark.plans.search import search_and_export

    out = search_and_export(tables).collect()
    assert [r.eudract_id for r in out] == ["2004-1", "2004-2", "2004-3"]  # sorted
    r1 = out[0]
    # priority coalesce product > trade > code, '; ' join, sorted
    assert r1.imp == "product:alphadrug; trade:wonderdrug"
    assert r1.location == "Austria, Belgium"
    assert r1.sponsor == "Acme Pharma"
    r2 = out[1]
    assert (r2.imp, r2.location, r2.sponsor) == ("", "", "")
    # 47 trial display columns (toexcel.py:46-92) + imp/location/sponsor
    assert len(out[0].asDict()) == 47 + 3


def test_csv_sink(tables, tmp_path):
    from eurovision_spark.plans.search import search_and_export
    from eurovision_spark.sinks import write_csv

    out = search_and_export(tables, trial_where="condition = 'diabetes'")
    write_csv(out, str(tmp_path / "export"))
    import glob

    files = glob.glob(str(tmp_path / "export" / "*.csv"))
    assert files
    text = "".join(open(f).read() for f in files)
    assert "product:alphadrug; trade:wonderdrug" in text


def test_excel_sink_fallback(tables, tmp_path):
    from eurovision_spark.plans.search import search_and_export
    from eurovision_spark.sinks import write_excel

    out = search_and_export(tables)
    write_excel(out, str(tmp_path / "export.xlsx"))
    import os

    assert os.path.exists(tmp_path / "export.xlsx") or os.path.exists(
        str(tmp_path / "export.xlsx") + ".csv"
    )


def _write_tables(tables, root):
    """``tables`` written as parquet under ``root``, read back."""
    spark = tables["trial"].sparkSession
    for name, df in tables.items():
        df.write.mode("overwrite").parquet(str(root / name))
    return {name: spark.read.parquet(str(root / name)) for name in tables}


def test_sheet_memo_sees_a_rewritten_table(tables, tmp_path):
    """The sheet is kept per table set; a table rewritten at the same path
    and read again is a new table (new file names), so the export shows
    its new rows."""
    from eurovision_spark.plans.search import search_and_export

    frames = _write_tables(tables, tmp_path)
    before = {r.eudract_id: r.location for r in search_and_export(frames).collect()}
    assert before["2004-1"] == "Austria, Belgium"
    spark = tables["trial"].sparkSession
    spark.createDataFrame(
        [("2004-1", "Chile"), ("2004-2", "Denmark")], "eudract_id string, location string"
    ).write.mode("overwrite").parquet(str(tmp_path / "location"))
    frames["location"] = spark.read.parquet(str(tmp_path / "location"))
    after = {r.eudract_id: r.location for r in search_and_export(frames).collect()}
    assert after == {"2004-1": "Chile", "2004-2": "Denmark", "2004-3": ""}


def test_sheet_memo_alternating_table_sets_get_their_own_rows(tables):
    """The memo holds one table set: alternating between two that differ
    in one in-memory table replaces the entry each time, and neither
    set's export shows the other's rows."""
    from eurovision_spark.plans.search import search_and_export

    spark = tables["trial"].sparkSession
    other = dict(
        tables,
        sponsor=spark.createDataFrame(
            [("2004-2", "Other Sponsor", "", "", "")],
            "eudract_id string, name string, org string, contact string, email string",
        ),
    )
    for _ in range(2):
        got = {r.eudract_id: r.sponsor for r in search_and_export(tables).collect()}
        assert got == {"2004-1": "Acme Pharma", "2004-2": "", "2004-3": "Zeta Bio"}
        got = {r.eudract_id: r.sponsor for r in search_and_export(other).collect()}
        assert got == {"2004-1": "", "2004-2": "Other Sponsor", "2004-3": ""}


def test_sheet_memo_concurrent_searches_get_identical_rows(tables, tmp_path):
    """Two threads search a table set whose sheet neither has built yet:
    both wait on one build and get the serial rows."""
    from concurrent.futures import ThreadPoolExecutor

    from eurovision_spark.plans.search import search_and_export

    preds = [{}, {"trial_where": "condition = 'diabetes'"}, {"location_where": "location = 'Japan'"}]

    def run(frames):
        return [[tuple(r) for r in search_and_export(frames, **p).collect()] for p in preds]

    want = run(tables)
    frames = _write_tables(tables, tmp_path)
    with ThreadPoolExecutor(2) as pool:
        got = list(pool.map(run, [frames, frames]))
    assert got == [want, want]
