"""One measurement path for bench.py and the tools.

Every timed rep is one ``build().write.format("noop").save()`` between
two clock reads: the noop sink executes the whole plan without paying
driver-side row serialization, and ``build`` re-derives the DataFrame
each rep, so reps share nothing but what an operator itself leaves
persisted.

The rep policy (``Probe.time``):

- one cold rep: it pays Catalyst analysis, codegen and any per-query
  sample collects, a per-plan constant;
- warm = min of ``WARM_REPS`` reps. Single reps swing ~20% on a shared
  host, and min is the steady-state estimator;
- a third rep when the warm reps disagree by more than ``RETRY_RATIO``:
  a shared host takes bursty external load, and a burst that eats one
  rep would otherwise read as a regression;
- a fourth rep when the reps still disagree by more than
  ``SUSPECT_RATIO`` and a floor probe taken at that moment reads more
  than ``BURST_FLOOR_RATIO`` x the session's quietest probe (the burst
  is live right now). The query is then recorded as load-suspect with
  ``[probe, min before, min after]``: the re-timed min has one more rep
  than its neighbours', so the entry keeps the same-rep-count number
  beside it.

The floor probe is a 1-partition no-compute job: what one Spark job
costs in pure scheduling. Job-heavy queries are bounded below by
jobs x floor, not by compute.
"""

from __future__ import annotations

import contextlib
import io
import itertools
import time
from collections.abc import Callable
from dataclasses import dataclass

WARM_REPS = 2
RETRY_RATIO = 1.3
SUSPECT_RATIO = 2.0
BURST_FLOOR_RATIO = 2.5

# every clock read of the timed regions (a seam for scripted clocks)
clock = time.time

_group_ids = itertools.count()


def noop(df) -> None:
    """Execute ``df`` in full and discard the rows."""
    df.write.format("noop").mode("overwrite").save()


def plan_text(df) -> str:
    """``df.explain("formatted")`` as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue().strip()


@dataclass
class Timing:
    cold: float
    warm: float
    # [probe, min before the re-time, min after] when a burst was caught
    suspect: list[float] | None = None


class Probe:
    """Timing, floor probes and job counts on one SparkContext."""

    def __init__(self, sc) -> None:
        self.sc = sc
        self.probes: list[float] = []
        self._warmed = False

    def _probe(self) -> float:
        if not self._warmed:
            # the session's first trivial job pays one-time codegen and
            # scheduler setup (~1.3s measured) that would poison the floor
            self.sc.parallelize([0], 1).count()
            self._warmed = True
        t0 = clock()
        self.sc.parallelize([0], 1).count()
        v = round(clock() - t0, 3)
        self.probes.append(v)
        return v

    def floor(self, n: int = 1) -> float:
        """Take ``n`` more probes; the floor is the minimum of every probe
        this session, so a loaded window cannot masquerade as it."""
        for _ in range(n):
            self._probe()
        return min(self.probes)

    def _rep(self, build: Callable) -> float:
        t0 = clock()
        noop(build())
        return clock() - t0

    def time(self, build: Callable) -> Timing:
        """Cold and warm seconds of ``build()``'s noop write (policy above)."""
        cold = round(self._rep(build), 3)
        runs = [self._rep(build) for _ in range(WARM_REPS)]
        if max(runs) > RETRY_RATIO * min(runs):
            runs.append(self._rep(build))
        suspect = None
        if max(runs) > SUSPECT_RATIO * min(runs):
            try:
                probe = self._probe()
            except Exception:  # noqa: BLE001 — instrumentation never kills a timing
                probe = None
            # against the quietest probe this session, not the first: a
            # session that starts loaded would inflate its own threshold
            if probe is not None and probe > BURST_FLOOR_RATIO * min(self.probes):
                before = round(min(runs), 3)
                runs.append(self._rep(build))
                suspect = [probe, before, round(min(runs), 3)]
        return Timing(cold, round(min(runs), 3), suspect)

    def jobs(self, build: Callable) -> int:
        """Spark jobs launched by one run of ``build()``'s noop write,
        counted in a job group of its own; the group is cleared after."""
        gid = f"obs-jobs-{next(_group_ids)}"
        self.sc.setJobGroup(gid, gid)
        try:
            noop(build())
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        return len(self.sc.statusTracker().getJobIdsForGroup(gid))
