"""Scoped session-conf changes (session.scoped_conf): the previous
values come back on exit, also when the body raises, and a second
caller waits for the first instead of planning under its confs."""

from __future__ import annotations

import threading

import pytest

from eurovision_spark.session import scoped_conf

PARTS = "spark.sql.shuffle.partitions"
AQE = "spark.sql.adaptive.enabled"


def test_scoped_conf_restores_when_the_body_raises(spark):
    before = (spark.conf.get(PARTS), spark.conf.get(AQE))
    with pytest.raises(RuntimeError, match="boom"):
        with scoped_conf(spark, {PARTS: "3", AQE: "false"}) as prev:
            assert (spark.conf.get(PARTS), spark.conf.get(AQE)) == ("3", "false")
            assert (prev[PARTS], prev[AQE]) == before
            raise RuntimeError("boom")
    assert (spark.conf.get(PARTS), spark.conf.get(AQE)) == before


def test_scoped_conf_second_thread_blocks_until_first_exits(spark):
    before = spark.conf.get(PARTS)
    entered, release = threading.Event(), threading.Event()
    seen: dict[str, str] = {}

    def first() -> None:
        with scoped_conf(spark, {PARTS: "3"}):
            entered.set()
            release.wait(60)

    def second() -> None:
        with scoped_conf(spark, {PARTS: "5"}) as prev:
            seen["prev"] = prev[PARTS]
            seen["inside"] = spark.conf.get(PARTS)

    t1 = threading.Thread(target=first)
    t1.start()
    assert entered.wait(60)
    t2 = threading.Thread(target=second)
    t2.start()
    t2.join(1.0)
    assert t2.is_alive() and not seen  # waits while the first holds the scope
    release.set()
    t1.join(60)
    t2.join(60)
    assert not t2.is_alive()
    # the second caller saw the restored value, never the first's "3"
    assert seen == {"prev": before, "inside": "5"}
    assert spark.conf.get(PARTS) == before
