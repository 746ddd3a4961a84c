"""The one measurement path (eurovision_spark/obs.py): the rep policy
pinned against a scripted clock with no Spark, the job counter against
a real 1-job action, and an import smoke of its callers."""

from __future__ import annotations

import importlib

import pytest

from eurovision_spark import obs


class _Script:
    """A clock that only moves when a fake job runs: each noop write and
    each floor probe advances it by the next scripted duration."""

    def __init__(self, reps, probes=()):
        self.now = 0.0
        self.reps = list(reps)
        self.probes = list(probes)
        self.builds = 0

    def __call__(self) -> float:
        return self.now

    # the DataFrame side: build() -> df.write.format().mode().save()
    def build(self):
        self.builds += 1
        return self

    @property
    def write(self):
        return self

    def format(self, _):
        return self

    def mode(self, _):
        return self

    def save(self):
        self.now += self.reps.pop(0)

    # the SparkContext side: parallelize([0], 1).count()
    def parallelize(self, *_):
        return self

    def count(self):
        self.now += self.probes.pop(0)


def _time(monkeypatch, reps, probes=()):
    clk = _Script(reps, probes)
    monkeypatch.setattr(obs, "clock", clk)
    probe = obs.Probe(clk)
    if probes:
        probe.floor()  # discards probes[0]; probes[1] is the quiet floor
    t = probe.time(clk.build)
    assert not clk.reps and not clk.probes  # every scripted step was used
    return t, clk.builds


def test_two_warm_reps_when_they_agree(monkeypatch):
    t, builds = _time(monkeypatch, [5.0, 1.2, 1.0])
    assert builds == 3  # cold + 2 warm
    assert (t.cold, t.warm, t.suspect) == (5.0, 1.0, None)


def test_a_third_rep_when_the_two_disagree_past_1_3x(monkeypatch):
    t, builds = _time(monkeypatch, [5.0, 1.0, 1.31, 1.1])
    assert builds == 4
    assert (t.warm, t.suspect) == (1.0, None)


def test_warm_is_the_minimum_rep(monkeypatch):
    t, _ = _time(monkeypatch, [5.0, 2.4, 1.7, 1.6])
    assert t.warm == 1.6


def test_a_burst_re_time_only_when_the_floor_is_inflated(monkeypatch):
    # reps 2x apart; the probe taken then reads 0.3 vs a quiet 0.1 floor
    t, builds = _time(monkeypatch, [5.0, 1.0, 2.5, 2.2, 0.8], probes=[1.3, 0.1, 0.3])
    assert builds == 5  # cold + 2 + adaptive third + the re-time
    assert t.warm == 0.8
    assert t.suspect == [0.3, 1.0, 0.8]  # [probe, min before, min after]

    # same reps, a quiet probe: no re-time, no entry
    t, builds = _time(monkeypatch, [5.0, 1.0, 2.5, 2.2], probes=[1.3, 0.1, 0.2])
    assert builds == 4
    assert (t.warm, t.suspect) == (1.0, None)


def test_floor_discards_the_first_probe_and_keeps_the_minimum(monkeypatch):
    clk = _Script([], probes=[1.3, 0.2, 0.15, 0.4])
    monkeypatch.setattr(obs, "clock", clk)
    probe = obs.Probe(clk)
    assert probe.floor(2) == 0.15
    assert probe.floor() == 0.15
    assert probe.probes == [0.2, 0.15, 0.4]


def test_jobs_counts_one_job_and_clears_its_group(spark):
    sc = spark.sparkContext
    probe = obs.Probe(sc)
    assert probe.jobs(lambda: spark.range(10).coalesce(1)) == 1
    assert sc.getLocalProperty("spark.jobGroup.id") is None


@pytest.mark.parametrize(
    "module", ["bench", "tools.opt_probe", "tools.scaling_probe", "tools.dump_plans"]
)
def test_measurement_callers_import(module):
    assert callable(importlib.import_module(module).main)
