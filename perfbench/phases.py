"""Round-phase tracing of a crawl from outside the engine.

The tracer wraps the public calls ``CrawlEngine`` makes in a round, in
engine order, and charges the wall time between consecutive boundaries
to one phase:

* ``scheduler.rank_batch``: round start to the ``fetch_join`` call;
* ``fetch.join_route``: ``fetch_join`` call to the return of
  ``anti_join_seen`` (building the anti-join plan runs no job);
* ``dedup.parse_enqueue``: return of ``anti_join_seen`` to
  ``CrawlStore.begin_round`` — the lazy candidates checkpoint is forced
  here, so the parse UDF, urljoin, in-batch dedup and the anti-join
  shuffles are charged to this phase;
* ``store.*``: each spans its own ``CrawlStore`` call;
* ``engine.between_rounds``: everything else up to the next round.

With ``job_groups`` on, every Spark job started inside a phase carries
the job group ``<prefix>:<round>:<phase>``; ``harvest`` then reads the
jobs and stages of those groups from the Spark status REST API (the
session needs ``spark.ui.enabled``). AQE's asynchronous stage jobs
inherit the job group of the thread that submits the query.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
import urllib.request
from datetime import datetime, timezone

PHASES = (
    "scheduler.rank_batch",
    "fetch.join_route",
    "dedup.parse_enqueue",
    "store.write_items",
    "store.write_frontier",
    "store.write_seen_delta",
    "store.commit_round",
    "store.compact_seen",
    "engine.between_rounds",
)
PHASE_STATS = (
    ("wall_s", "s"),
    ("run_s", "s"),
    ("shuffle_read_mb", "MB"),
    ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"),
    ("tasks", "count"),
)
OTHER = "engine.between_rounds"
_KEEP = object()  # boundary that leaves the current phase unchanged
_RESTORE = object()  # boundary that returns to the phase before the call


# wrapped call → (phase from the call on, phase from its return on)
BOUNDARIES = {
    "_run_round": ("scheduler.rank_batch", OTHER),
    "fetch_join": ("fetch.join_route", _KEEP),
    "anti_join_seen": (_KEEP, "dedup.parse_enqueue"),
    "begin_round": (OTHER, _KEEP),
    "write_items": ("store.write_items", _RESTORE),
    "write_frontier": ("store.write_frontier", _RESTORE),
    "write_seen_delta": ("store.write_seen_delta", _RESTORE),
    "commit_round": ("store.commit_round", _RESTORE),
    "compact_seen": ("store.compact_seen", _RESTORE),
}


def engine_owners() -> dict:
    """The object each wrapped call is looked up on. ``fetch_join`` and
    ``anti_join_seen`` are patched in the engine module, which imported
    them by name."""
    from scrapy_rs_spark.plans import engine
    from scrapy_rs_spark.sources.store import CrawlStore

    owners = dict.fromkeys(BOUNDARIES, CrawlStore)
    owners.update(
        _run_round=engine.CrawlEngine, fetch_join=engine, anti_join_seen=engine
    )
    return owners


class RoundTracer:
    """Phase boundaries of the crawls run while ``installed()`` is
    active. ``marks`` holds (epoch seconds, round, phase) in order; a
    phase lasts until the next mark."""

    def __init__(self, spark, job_groups: bool, prefix: str = "perfbench"):
        self.sc = spark.sparkContext
        self.job_groups = job_groups
        self.prefix = prefix
        self.marks: list[tuple[float, int, str]] = []
        self.round_start: dict[int, float] = {}
        self.manifest: dict[int, float] = {}
        self._round = 0
        self._phase = OTHER

    def _mark(self, phase: str, rnd: int | None = None) -> float:
        now = time.time()
        if rnd is not None:
            self._round = rnd
        self._phase = phase
        self.marks.append((now, self._round, phase))
        if self.job_groups:
            self.sc.setJobGroup(f"{self.prefix}:{self._round}:{phase}", phase)
        return now

    def _wrap(self, attr: str, fn, on_call, on_return):
        def wrapped(*args, **kwargs):
            before = self._phase
            if attr == "_run_round":
                self.round_start[args[1]] = self._mark(on_call, args[1])
            elif on_call is not _KEEP:
                self._mark(on_call)
            out = fn(*args, **kwargs)
            if on_return is not _KEEP:
                t = self._mark(before if on_return is _RESTORE else on_return)
                if attr == "commit_round":
                    self.manifest[self._round] = t
            return out

        wrapped.__wrapped__ = fn
        return wrapped

    @contextlib.contextmanager
    def installed(self, owners: dict | None = None):
        """Patch the wrapped calls for the duration of the block and
        restore the originals afterwards, also when the crawl raises.
        ``owners`` (call name → object holding it) defaults to the
        engine's; tests pass fakes."""
        saved = []
        try:
            for attr, owner in (owners or engine_owners()).items():
                fn = owner.__dict__[attr]
                saved.append((owner, attr, fn))
                setattr(owner, attr, self._wrap(attr, fn, *BOUNDARIES[attr]))
            self._mark(OTHER, rnd=0)
            yield self
        finally:
            self._mark("end")
            if self.job_groups:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            for owner, attr, fn in reversed(saved):
                setattr(owner, attr, fn)

    # ---- derived figures ----
    def spans(self) -> list[tuple[int, str, float, float]]:
        """(round, phase, start, end) for every traced interval."""
        return [
            (r, p, t0, t1)
            for (t0, r, p), (t1, _, _) in zip(self.marks, self.marks[1:])
            if p != "end"
        ]

    def round_walls(self, first_round: int = 1) -> list[float]:
        """Per-round wall time, round start to MANIFEST."""
        return [
            self.manifest[r] - self.round_start[r]
            for r in sorted(self.round_start)
            if r >= first_round
        ]

    def timed_wall(self, first_round: int) -> float:
        """From the start of ``first_round`` to the end of the crawl."""
        return self.marks[-1][0] - self.round_start[first_round]

    def phase_sum_error(self) -> float:
        """Largest relative gap, over rounds, between a round's wall
        time (round start to MANIFEST) and the sum of the phase spans
        inside it."""
        worst = 0.0
        spans = self.spans()
        for r, t0 in self.round_start.items():
            t1 = self.manifest[r]
            inside = sum(
                min(e, t1) - max(s, t0)
                for rr, _, s, e in spans
                if rr == r and e > t0 and s < t1
            )
            worst = max(worst, abs(inside - (t1 - t0)) / (t1 - t0))
        return worst

    def harvest(self, first_round: int = 1) -> dict:
        """Per-phase totals over the rounds from ``first_round`` on: wall
        time from the marks, Spark job cost from the status REST API."""
        out = {p: {k: 0.0 for k, _ in PHASE_STATS} for p in PHASES}
        for r, p, s, e in self.spans():
            if r >= first_round:
                out[p]["wall_s"] += e - s
        jobs = [
            j
            for j in _rest(self.sc, "/jobs")
            if (j.get("jobGroup") or "").startswith(self.prefix + ":")
            and int(j["jobGroup"].split(":")[1]) >= first_round
        ]
        owner: dict[int, str] = {}
        for j in sorted(jobs, key=lambda j: j["jobId"]):
            phase = j["jobGroup"].split(":", 2)[2]
            for sid in j["stageIds"]:
                owner.setdefault(sid, phase)
        for st in _rest(self.sc, "/stages"):
            phase = owner.get(st["stageId"])
            if phase is None or st["status"] != "COMPLETE":
                continue
            o = out[phase]
            o["run_s"] += st.get("executorRunTime", 0) / 1e3
            o["shuffle_read_mb"] += st.get("shuffleReadBytes", 0) / 1e6
            o["shuffle_write_mb"] += st.get("shuffleWriteBytes", 0) / 1e6
            o["spill_mb"] += st.get("diskBytesSpilled", 0) / 1e6
            o["tasks"] += st.get("numCompleteTasks", 0)
        rounds = [r for r in sorted(self.round_start) if r >= first_round]
        busy = _union(
            [
                (_epoch(j["submissionTime"]), _epoch(j["completionTime"]))
                for j in jobs
                if j.get("completionTime")
            ]
        )
        no_job = 0.0
        for r in rounds:
            t0, t1 = self.round_start[r], self.manifest[r]
            covered = sum(
                max(0.0, min(e, t1) - max(s, t0)) for s, e in busy
            )
            no_job += (t1 - t0) - covered
        return {
            "phases": out,
            "jobs_per_round": len(jobs) / len(rounds),
            "no_job_s": no_job,
        }


def _rest(sc, path: str):
    port = sc.uiWebUrl.rsplit(":", 1)[-1]
    url = (
        f"http://localhost:{port}/api/v1/applications/"
        f"{sc.applicationId}{path}"
    )
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.loads(r.read())


def _epoch(ts: str) -> float:
    """Spark REST timestamps look like 2026-10-17T03:37:34.123GMT."""
    dt = datetime.strptime(ts.removesuffix("GMT"), "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def _union(intervals: list[tuple[float, float]]) -> list[tuple[float, float]]:
    merged: list[list[float]] = []
    for s, e in sorted(intervals):
        if merged and s <= merged[-1][1]:
            merged[-1][1] = max(merged[-1][1], e)
        else:
            merged.append([s, e])
    return [(s, e) for s, e in merged]


def median_of(dicts: list[dict]) -> dict:
    """Key-wise median of flat metric dicts (one per crawl)."""
    return {k: statistics.median(d[k] for d in dicts) for k in dicts[0]}
