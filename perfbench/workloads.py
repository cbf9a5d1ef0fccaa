"""The benchmark's workloads: a polite crawl and the operator sweep.

Every workload has three parts, called in this order by ``run.py``:

* ``setup``: build the inputs three times and return the build times;
  the sweep also runs its warm-up pass here;
* ``measure``: a closed loop with one client — one crawl or one query
  at a time, the next starting when the previous one finishes —
  repeated until the run's seconds are used up. A crawl's first rounds
  are its warm-up; ``Outcome.warm_s`` reports the warm-up time;
* ``check``: correctness of the program's outputs, outside the timed
  region. It returns a list of problems; any problem fails the run.

The seed picks the offset of the crawl seed URLs and the order of the
sweep queries; the program only ever sees the generated inputs.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from perfbench.phases import PHASE_STATS, PHASES, RoundTracer, median_of

SEED_STRIDE = 7  # coprime to the 100 hosts: seeds land on every host
BUILD_REPS = 3
TIMED_FROM = 3  # first timed crawl round; earlier ones are the warm-up

# The sweep times the operators that run in no crawl: shingles and
# minhash, LSH pairs, the curation chunk builder, brute-force cosine
# top-k, link rank, recrawl, the WARC and sitemap sources, and the
# scheduler's per-host top-k. The other queries are left out so a run
# fits the time budget; ann_ivf alone costs as much as four of these.
SWEEP_QUERIES = (
    "minhash_signatures",
    "lsh_pairs",
    "chunk_dedup",
    "domain_topk",
    "cosine_topk",
    "backlink_priority",
    "recrawl_schedule",
    "warc_roundtrip",
    "sitemap_extract",
)

# per-layer metrics of a crawl besides the per-phase ones: name → unit
CRAWL_LAYER = {
    "engine.jobs_per_round": "count",
    "engine.no_job_s": "s",
    "engine.rounds": "count",
    "engine.crawl_wall_s": "s",
    "fetch.success_ratio": "ratio",
    "dedup.fresh_ratio": "ratio",
    "store.written_mb": "MB",
    "store.seen_delta_dirs": "count",
}


@dataclass
class Outcome:
    """What one timed region produced."""

    steps: list[float]  # step latencies: crawl rounds, or sweep queries
    work: int  # fetched URLs, or executed queries
    wall: float  # seconds of timed work
    warm_s: float  # seconds of warm-up before the timed work
    attempted: int
    failed: int
    layers: dict = field(default_factory=dict)  # traced runs only
    details: dict = field(default_factory=dict)


def timed(fn):
    """(seconds taken, result) of calling fn."""
    t0 = time.perf_counter()
    out = fn()
    return time.perf_counter() - t0, out


class CrawlWorkload:
    """A crawl of the multi-host mock web (page i on host i % hosts,
    linking to pages (i+k+1) % N): per-host budgets of
    round_duration_ms // domain_delay_ms pages per round, seeds every
    SEED_STRIDE-th page from a seed-chosen offset."""

    def __init__(
        self,
        name: str,
        pages: int,
        links: int,
        hosts: int,
        settings: dict,
    ):
        self.name = name
        self.page_count = pages
        self.links = links
        self.hosts = hosts
        self.settings = settings

    def _settings(self):
        from scrapy_rs_spark.settings import Settings

        return Settings(**self.settings)

    def _pages_df(self, spark, n: int, golden: bool = False):
        from scrapy_rs_spark.sources.mocksite import mock_multihost_pages

        return mock_multihost_pages(
            spark, n, n_hosts=self.hosts, links_per_page=self.links,
            golden_text=golden,
        )

    def _seeds(self, n: int, offset: int) -> list[str]:
        return [
            f"http://host{i % self.hosts}.test/{i}"
            for i in range(offset, n, SEED_STRIDE)
        ]

    def setup(self, spark, seed: int, work: str) -> list[float]:
        self.work = work
        builds, pages = [], None
        for _ in range(BUILD_REPS):
            if pages is not None:
                pages.unpersist()
            dt, pages = timed(
                lambda: self._pages_df(spark, self.page_count).localCheckpoint(
                    eager=True
                )
            )
            builds.append(dt)
        self.pages = pages
        self.offset = seed % SEED_STRIDE
        self.seeds = self._seeds(self.page_count, self.offset)
        return builds

    def measure(self, spark, seconds: float, traced: bool) -> Outcome:
        """Crawls until ``seconds`` have passed. The seeding commit and
        rounds 1-2 of the first crawl are the warm-up: the JVM, codegen
        and the Python workers start there, and round 2 is the first to
        defer rows and to compact. Every crawl is timed from the start
        of round TIMED_FROM to its end."""
        from scrapy_rs_spark.plans.engine import CrawlEngine
        from scrapy_rs_spark.sources.store import CrawlStore

        deadline = time.monotonic() + seconds
        warm_s = wall = 0.0
        steps, layers, requests, failed, crawls = [], [], 0, 0, 0
        while True:
            store = os.path.join(self.work, f"store{crawls}")
            tracer = RoundTracer(
                spark, job_groups=traced, prefix=f"pb{crawls}"
            )
            eng = CrawlEngine(
                spark, self.pages, self._settings(), store_path=store
            )
            with tracer.installed():
                stats = eng.run(self.seeds)
            if not crawls:
                warm_s = tracer.round_start[TIMED_FROM] - tracer.marks[0][0]
            crawls += 1
            rounds = [m for m in stats.per_round if m["round"] >= TIMED_FROM]
            wall += tracer.timed_wall(TIMED_FROM)
            steps += tracer.round_walls(TIMED_FROM)
            requests += sum(m["requests"] for m in rounds)
            failed += sum(m["errors"] for m in rounds)
            if traced:
                layers.append(self._layers(spark, tracer, stats, store))
            if time.monotonic() >= deadline:
                break
            shutil.rmtree(store)
        self.store = CrawlStore(spark, store)
        self.stats = stats
        self.tracer = tracer
        return Outcome(
            steps=steps,
            work=requests,
            wall=wall,
            warm_s=warm_s,
            attempted=requests,
            failed=failed,
            layers=median_of(layers) if traced else {},
            details={
                "crawls": crawls,
                "round_requests": [m["requests"] for m in stats.per_round[1:]],
            },
        )

    def _layers(self, spark, tracer, stats, store: str) -> dict:
        """Per-layer metrics of one crawl's timed rounds."""
        from scrapy_rs_spark.sources.store import CrawlStore

        h = tracer.harvest(TIMED_FROM)
        out = {
            f"{p}.{k}": h["phases"][p][k]
            for p in PHASES
            for k, _ in PHASE_STATS
        }
        rounds = [m for m in stats.per_round if m["round"] >= TIMED_FROM]
        n = {
            k: sum(m[k] for m in rounds)
            for k in ("requests", "responses", "items", "new_urls")
        }
        written = sum(
            os.path.getsize(os.path.join(d, f))
            for d, _, files in os.walk(store)
            for f in files
        )
        out.update(
            {
                "engine.jobs_per_round": h["jobs_per_round"],
                "engine.no_job_s": h["no_job_s"],
                "engine.rounds": stats.rounds,
                "engine.crawl_wall_s": tracer.timed_wall(TIMED_FROM),
                "fetch.success_ratio": n["responses"] / n["requests"],
                "dedup.fresh_ratio": n["new_urls"] / (n["items"] * self.links),
                "store.written_mb": written / 1e6,
                "store.seen_delta_dirs": len(
                    CrawlStore(spark, store).seen_delta_rounds()
                ),
            }
        )
        return out

    def _budget(self) -> int:
        return (
            self.settings["round_duration_ms"]
            // self.settings["domain_delay_ms"]
        )

    def budget_rounds(self) -> list[int]:
        """Closed-form requests per round: every host serves up to its
        budget from its queue, oldest first, and a served page's unseen
        links join the queues of their hosts."""
        n, budget = self.page_count, self._budget()
        queue = list(range(self.offset, n, SEED_STRIDE))
        seen, sizes = set(queue), []
        while queue:
            served: dict[int, int] = {}
            batch, left = [], []
            for i in queue:
                h = i % self.hosts
                if served.get(h, 0) < budget:
                    served[h] = served.get(h, 0) + 1
                    batch.append(i)
                else:
                    left.append(i)
            sizes.append(len(batch))
            new = []
            for i in batch:
                for k in range(self.links):
                    j = (i + k + 1) % n
                    if j not in seen:
                        seen.add(j)
                        new.append(j)
            queue = left + new
        return sizes

    def check(self, spark) -> list[str]:
        """Every page crawled exactly once (items = seen = pages, no
        duplicate), item text equal to the golden extractor text, no
        host over its per-round budget, requests per round equal to the
        closed form, no fetch error, phase spans covering each round."""
        problems = []
        got = [m["requests"] for m in self.stats.per_round[1:]]
        if got != self.budget_rounds():
            problems.append(
                f"requests per round {got}, closed form {self.budget_rounds()}"
            )
        if self.stats.errors:
            problems.append(f"{self.stats.errors} fetch errors")
        n = self.page_count
        items = self.store.load_items()
        row = items.agg(
            F.count("*").alias("n"), F.countDistinct("url").alias("d")
        ).collect()[0]
        srow = (
            self.store.load_seen()
            .agg(
                F.count("*").alias("n"),
                F.countDistinct("url_hash").alias("d"),
            )
            .collect()[0]
        )
        if not row["n"] == row["d"] == srow["n"] == srow["d"] == n:
            problems.append(
                f"items {row['n']} (distinct {row['d']}), seen {srow['n']}"
                f" (distinct {srow['d']}), pages {n}: not all equal"
            )
        gold = self._pages_df(spark, n, golden=True).select(
            "url", F.col("text").alias("golden")
        )
        bad = (
            items.select("url", "text")
            .join(gold, "url", "full_outer")
            .filter(~F.col("text").eqNullSafe(F.col("golden")))
            .count()
        )
        if bad:
            problems.append(f"{bad} pages without the golden item text")
        budget = self._budget()
        worst = (
            items.groupBy("rnd", F.parse_url("url", F.lit("HOST")))
            .count()
            .agg(F.max("count"))
            .collect()[0][0]
        )
        if worst > budget:
            problems.append(
                f"a host served {worst} pages in one round (budget {budget})"
            )
        gap = self.tracer.phase_sum_error()
        if gap > 0.05:
            problems.append(f"phase spans miss a round's wall by {gap:.1%}")
        return problems


class SweepWorkload:
    """The ``__spark_entry__.queries()`` operators in SWEEP_QUERIES, in
    one session, over generated tables; each query's output goes to the
    noop sink so column pruning cannot skip the work being timed."""

    name = "operator_sweep"

    def __init__(self, docs: int, vecs: int, events: int):
        self.sizes = {"n_docs": docs, "n_vecs": vecs, "n_events": events}

    def setup(self, spark, seed: int, work: str) -> list[float]:
        import __spark_entry__ as entry

        from perfbench.sweepdata import write_tables

        self.data = os.path.join(work, "data")
        builds = [
            timed(lambda: write_tables(self.data, **self.sizes))[0]
            for _ in range(BUILD_REPS)
        ]
        self.fns = entry.queries()
        self.order = list(SWEEP_QUERIES)
        random.Random(seed).shuffle(self.order)
        # the warm-up pass collects every query's rows for the check
        self.warm_s, self.outputs = timed(
            lambda: {
                q: self.fns[q](spark, self.data).toPandas() for q in self.order
            }
        )
        return builds

    def measure(self, spark, seconds: float, traced: bool) -> Outcome:
        deadline = time.monotonic() + seconds
        times: dict[str, list[float]] = {q: [] for q in self.order}
        wall = 0.0
        passes = failed = 0
        while True:
            for q in self.order:
                t0 = time.perf_counter()
                try:
                    self.fns[q](spark, self.data).write.format("noop").mode(
                        "overwrite"
                    ).save()
                except Exception as e:  # counted, and reported by name
                    failed += 1
                    print(f"perfbench: query {q} failed: {e}")
                dt = time.perf_counter() - t0
                times[q].append(dt)
                wall += dt
            passes += 1
            if time.monotonic() >= deadline:
                break
        per_query = {q: statistics.median(ts) for q, ts in times.items()}
        return Outcome(
            steps=list(per_query.values()),
            work=passes * len(self.order),
            wall=wall,
            warm_s=self.warm_s,
            attempted=passes * len(self.order),
            failed=failed,
            layers={f"query.{q}.s": t for q, t in per_query.items()},
            details={"passes": passes, "order": self.order},
        )

    def check(self, spark) -> list[str]:
        """Row counts and order-insensitive values must match the DuckDB
        oracle where one exists; other queries must return rows."""
        import duckdb

        import __spark_entry__ as entry
        from tools.check_oracle import norm_rows

        con = duckdb.connect()
        for t in ("documents", "embeddings", "events"):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(self.data, t)}.parquet'"
            )
        oracles = entry.oracle_sql()
        problems = []
        for q, spdf in self.outputs.items():
            if q not in oracles:
                if len(spdf) == 0:
                    problems.append(f"{q}: no rows")
                continue
            dpdf = con.execute(oracles[q]).fetchdf()
            if sorted(spdf.columns) != sorted(dpdf.columns):
                problems.append(f"{q}: columns differ from the oracle")
            elif len(spdf) != len(dpdf):
                problems.append(f"{q}: {len(spdf)} rows, oracle {len(dpdf)}")
            elif norm_rows(spdf) != norm_rows(dpdf):
                problems.append(f"{q}: values differ from the oracle")
        con.close()
        return problems


WORKLOADS = {
    w.name: w
    for w in (
        # 100 hosts at 5 pages per host per round (2 s delay in 10 s
        # rounds) and 400 seeds, 4 per host. Rounds 2-5 fetch 500 URLs
        # each and defer the rest of every host's queue; round 6 fetches
        # the last 400. Seeds every 7th page of 2,800 make every seed
        # offset an isomorphic crawl. Seen deltas fold every 2 rounds.
        CrawlWorkload(
            "polite_hosts",
            pages=2_800,
            links=10,
            hosts=100,
            settings={
                "scheduler_type": "domain_group",
                "domain_delay_ms": 2_000,
                "round_duration_ms": 10_000,
                "seen_compact_every": 2,
            },
        ),
        SweepWorkload(docs=500, vecs=500, events=10_000),
    )
}
