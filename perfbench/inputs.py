"""The benchmark's inputs: the reference tables, and seeded inputs cached
by seed.

``data/`` holds unchanged copies of the engine's reference test tables
(TESTDATA.md: the TPC-H-like star schema, ``events``, ``documents`` and
``embeddings``, generated once with seed 42): all of sf0.01 and sf0.001,
and the sf0.1 ``documents``. The catalog queries read them in place.

The run's ``--seed`` drives everything else, written under the
benchmark's own work directory (``perfbench/_work``): the registry text
dump, the search predicates drawn from it, and the intake documents and
their batch plan. The same seed and size always produce identical
inputs, so a cached copy is reused; a different seed regenerates.
"""

from __future__ import annotations

import json
import random
import shutil
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
DATA = HERE / "data"
WORK = HERE / "_work"


def _cached(key: str, build) -> Path:
    """Return ``WORK/key``, building it with ``build(tmp_dir)`` first when
    absent. The build writes into a scratch sibling that is renamed into
    place, so an interrupted build never leaves a half-written input."""
    out = WORK / key
    if out.exists():
        return out
    # one cached seed per input kind and size: a run with a new seed
    # replaces the previous seed's copy instead of accumulating them
    kind = key.rsplit("-s", 1)[0]
    for old in WORK.glob(f"{kind}-s*"):
        shutil.rmtree(old, ignore_errors=True)
    tmp = WORK / f".{key}.tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir(parents=True)
    build(tmp)
    tmp.rename(out)
    return out


def tables_dir(sf: str) -> str:
    """The reference tables at scale ``sf`` (a ``data/`` sub-directory)."""
    return str(DATA / sf)


def registry_dump(seed: int, n_trials: int) -> tuple[str, int]:
    """A synthetic registry text dump (the reference's scrape format);
    returns its path and line count."""
    from tools.gen_registry import write_registry

    def build(d: Path) -> None:
        n = write_registry(str(d / "dump.txt"), n_trials, seed)
        (d / "lines.json").write_text(json.dumps(n))

    out = _cached(f"registry-t{n_trials}-s{seed}", build)
    return str(out / "dump.txt"), json.loads((out / "lines.json").read_text())


def intake_batches(seed: int, n_batches: int, batch_docs: int) -> list[str]:
    """``n_batches`` micro-batches of ``batch_docs`` sf0.1 documents each,
    one parquet file per batch.

    The reference documents form copy families: an original with its
    exact copies and its near copies (the same text plus " dup"). Whole
    families are drawn in seeded order until the batches are full, so the
    share of copies is the reference's, then dealt so that the members of
    a family always land in different batches: every copy straddles a
    batch boundary, and no batch holds a near pair of its own (the intake
    store detects near copies against landed docs only)."""

    def build(d: Path) -> None:
        rng = np.random.default_rng(seed)
        docs = pq.read_table(DATA / "sf0.1" / "documents.parquet", columns=["doc_id", "text"])
        members: dict[str, list[int]] = {}
        for i, text in enumerate(docs.column("text").to_pylist()):
            while text.endswith(" dup"):
                text = text[:-4]
            members.setdefault(text, []).append(i)
        families = list(members.values())
        picked, room = [], n_batches * batch_docs
        for j in rng.permutation(len(families)):
            g = families[j]
            if len(g) <= min(room, n_batches):
                picked.append(g)
                room -= len(g)
            if room == 0:
                break
        picked.sort(key=len, reverse=True)  # stable: seeded order within a size
        room = [batch_docs] * n_batches
        dealt: list[list[int]] = [[] for _ in range(n_batches)]
        for g in picked:
            # the emptiest batches, seeded tie-break, one member each
            order = sorted(range(n_batches), key=lambda b: (-room[b], rng.random()))
            for doc, b in zip(g, order):
                dealt[b].append(doc)
                room[b] -= 1
        for b, idx in enumerate(dealt):
            pq.write_table(docs.take(sorted(idx)), d / f"batch-{b:03d}.parquet")

    out = _cached(f"intake-b{n_batches}x{batch_docs}-s{seed}", build)
    return [str(out / f"batch-{b:03d}.parquet") for b in range(n_batches)]


def search_predicates(seed: int, tables_dir: str, n: int) -> list[dict[str, str]]:
    """``n`` search predicate sets for ``search_and_export``, drawn with
    the seed from the values the ingested tables hold. The templates
    span one-trial lookups (about 0.05%) to half the trials, over the
    trial, imp, sponsor and location tables, singly and combined."""
    import duckdb

    rng = random.Random(seed)
    con = duckdb.connect()
    try:

        def values(table: str, col: str) -> list[str]:
            rows = con.execute(
                f"SELECT DISTINCT {col} FROM read_parquet('{tables_dir}/{table}/*.parquet') "
                f"WHERE {col} IS NOT NULL AND {col} <> '' ORDER BY 1"
            ).fetchall()
            return [r[0] for r in rows]

        titles = values("trial", "official_title")
        enrollments = sorted(int(v) for v in values("trial", "enrollment"))
        trades = values("imp", "trade")
        sponsors = values("sponsor", "name")
        countries = values("location", "location")
        conditions = values("trial", "condition")
    finally:
        con.close()

    def q(v: str) -> str:
        return "'" + v.replace("'", "''") + "'"

    templates = [
        lambda: {"trial_where": f"official_title = {q(rng.choice(titles))}"},
        lambda: {"imp_where": f"trade = {q(rng.choice(trades))}"},
        lambda: {"sponsor_where": f"name = {q(rng.choice(sponsors))}"},
        lambda: {"location_where": f"location = {q(rng.choice(countries))}"},
        lambda: {"trial_where": f"phase{rng.choice((1, 2))} = 1"},
        lambda: {
            "trial_where": "CAST(enrollment AS INT) < "
            f"{rng.choice(enrollments[: len(enrollments) // 2 + 1])}",
            "sponsor_where": "name LIKE 'Sponsor Beta%'",
        },
        lambda: {
            "trial_where": f"condition <> {q(rng.choice(conditions))}",
            "imp_where": "product <> ''",
            "location_where": f"location = {q(rng.choice(countries))}",
        },
    ]
    return [templates[i % len(templates)]() for i in range(n)]
