"""Tests of the benchmark's own code: the round tracer and the names it
prints. Run with ``python3 -m pytest perfbench -q`` from the checkout
root; no Spark session is started."""

from __future__ import annotations

import json
import os
import sys
import time
from types import SimpleNamespace

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import phases  # noqa: E402
from perfbench.phases import OTHER, RoundTracer  # noqa: E402

NO_SPARK = SimpleNamespace(sparkContext=None)


def _fake_engine():
    """Stand-ins for the engine module, CrawlEngine and CrawlStore that
    make the calls of one committed round, then a compaction, in engine
    order."""

    def step(*_a, **_k):
        time.sleep(0.01)

    mod = SimpleNamespace(fetch_join=step, anti_join_seen=step)

    class Store:
        begin_round = write_items = write_frontier = staticmethod(step)
        write_seen_delta = compact_seen = staticmethod(step)

        def commit_round(self, *_a):
            step()
            self.write_seen_delta()  # run()'s seeding commit nests it

    class Engine:
        def __init__(self):
            self.store = Store()

        def _run_round(self, rnd):
            step()
            mod.fetch_join()
            step()
            mod.anti_join_seen()
            step()
            self.store.begin_round()
            self.store.write_items()
            step()
            self.store.write_frontier()
            self.store.write_seen_delta()
            self.store.commit_round()
            step()

    owners = dict.fromkeys(phases.BOUNDARIES, Store)
    owners.update(_run_round=Engine, fetch_join=mod, anti_join_seen=mod)
    return Engine, Store, owners


def test_phases_cover_the_round_in_engine_order():
    Engine, _, owners = _fake_engine()
    tracer = RoundTracer(NO_SPARK, job_groups=False)
    with tracer.installed(owners):
        eng = Engine()
        eng._run_round(1)
        eng.store.compact_seen()
    order = [p for _, p, _, _ in tracer.spans() if p != OTHER]
    assert order == [
        "scheduler.rank_batch",
        "fetch.join_route",
        "dedup.parse_enqueue",
        "store.write_items",
        "store.write_frontier",
        "store.write_seen_delta",
        "store.commit_round",
        "store.write_seen_delta",
        "store.commit_round",
        "store.compact_seen",
    ]
    assert len(tracer.round_walls()) == 1
    assert tracer.phase_sum_error() < 1e-6
    total = sum(e - s for _, _, s, e in tracer.spans())
    assert total == pytest.approx(tracer.marks[-1][0] - tracer.marks[0][0])


def test_tracer_restores_the_engine_calls_also_when_a_crawl_raises():
    owners = phases.engine_owners()
    before = {name: owner.__dict__[name] for name, owner in owners.items()}
    tracer = RoundTracer(NO_SPARK, job_groups=False)
    with pytest.raises(RuntimeError):
        with tracer.installed():
            for name, owner in owners.items():
                assert owner.__dict__[name].__wrapped__ is before[name]
            raise RuntimeError("crawl failed")
    after = {name: owner.__dict__[name] for name, owner in owners.items()}
    assert after == before


def test_printed_names_match_benchmark_json():
    from perfbench.run import END_TO_END, per_layer_units
    from perfbench.workloads import WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    per_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert per_layer == per_layer_units()


def test_union_of_job_intervals():
    assert phases._union([(3, 4), (0, 1), (0.5, 2)]) == [(0, 2), (3, 4)]
