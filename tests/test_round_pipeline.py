"""One round pipeline: CrawlEngine rounds and StreamingCrawl micro-batches
both run plans.engine.build_round_plan. The stream tests call
_process_batch directly on a static frontier frame (no streaming
query), so each takes seconds."""

import os

import pyspark.sql.functions as F

from scrapy_rs_spark.plans import engine
from scrapy_rs_spark.plans.engine import CrawlEngine
from scrapy_rs_spark.schemas import FRONTIER_DDL
from scrapy_rs_spark.settings import Settings
from scrapy_rs_spark.sources.mocksite import BASE_URL, mock_site_pages
from scrapy_rs_spark.streaming.frontier_stream import StreamingCrawl
from test_redirects import _pages


def _persisted(spark) -> set[int]:
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    return {int(k) for k in jmap.keySet().toArray()}


def _seeded_stream(spark, tmp_path, rows, seeds):
    """A StreamingCrawl over `rows` with `seeds` seeded, and its first
    micro-batch: the seed files read back as the stream would."""
    pages = _pages(spark, rows).localCheckpoint(eager=True)
    sc = StreamingCrawl(
        spark, pages, str(tmp_path / "stream"),
        Settings(scheduler_type="breadth_first"),
    )
    sc.seed(seeds)
    batch = spark.read.schema(FRONTIER_DDL).parquet(sc.frontier_dir)
    return sc, batch


def _feed(spark, sc, bid):
    """Frontier rows micro-batch `bid` appended to the stream's feed."""
    files = [
        os.path.join(sc.frontier_dir, f)
        for f in sorted(os.listdir(sc.frontier_dir))
        if f.startswith(f"batch{bid:06d}-")
    ]
    return spark.read.schema(FRONTIER_DDL).parquet(*files) if files else None


def test_stream_batch_follows_redirect(spark, tmp_path):
    sc, batch = _seeded_stream(
        spark,
        tmp_path,
        [
            ("http://r.test/a", 301, None, "/b"),
            ("http://r.test/b", 200, b"<html><body>end</body></html>", None),
        ],
        ["http://r.test/a"],
    )
    sc._process_batch(batch, 0)
    feed = _feed(spark, sc, 0)
    assert feed is not None, "the 301 target never reached the feed"
    rows = feed.select("url", "discovery_round", "meta").collect()
    assert [(r.url, r.discovery_round) for r in rows] == [
        ("http://r.test/b", 1)
    ]
    assert rows[0].meta == {"redirect_hops": "1"}


def test_stream_batch_routes_undecodable_page_to_errors(spark, tmp_path):
    sc, batch = _seeded_stream(
        spark,
        tmp_path,
        [
            ("http://u.test/ok", 200, b"<html><body>fine</body></html>", None),
            ("http://u.test/bad", 200, b"<html>\xc3\x28</html>", None),
        ],
        ["http://u.test/ok", "http://u.test/bad"],
    )
    sc._process_batch(batch, 0)
    items = sc.items().collect()
    assert [(r.url, r.text) for r in items] == [("http://u.test/ok", "fine")]


def test_stream_batch_releases_its_checkpoints(spark, tmp_path):
    sc, batch = _seeded_stream(
        spark,
        tmp_path,
        [
            ("http://l.test/a", 200, b'<html><a href="/b">b</a></html>', None),
            ("http://l.test/b", 200, b"<html><body>b</body></html>", None),
        ],
        ["http://l.test/a"],
    )
    before = _persisted(spark)
    sc._process_batch(batch, 0)
    assert _feed(spark, sc, 0) is not None  # the full path ran
    assert _persisted(spark) <= before


def test_user_cached_frame_survives_round_release(spark, tmp_path):
    """A round releases only the checkpoints it created: a frame a
    request middleware cached in round 1 stays persisted."""
    pages = mock_site_pages(
        spark, page_count=30, links_per_page=3, golden_text=False
    ).localCheckpoint(eager=True)
    cached = {}

    def host_allowlist(batch):
        if "lookup" not in cached:
            before = _persisted(spark)
            cached["lookup"] = spark.createDataFrame(
                [("mocksite.test",)], "host STRING"
            ).localCheckpoint(eager=True)
            (cached["rdd_id"],) = _persisted(spark) - before
        return batch.join(F.broadcast(cached["lookup"]), "host", "left_semi")

    eng = CrawlEngine(
        spark, pages, Settings(scheduler_type="breadth_first", max_depth=2),
        store_path=str(tmp_path / "store"),
        request_middlewares=host_allowlist,
    )
    stats = eng.run([f"{BASE_URL}/0"])
    # depth ≤ 2 over (i+k+1)%30 with 3 links: {0} ∪ {1..3} ∪ {2..6}
    assert stats.rounds >= 2 and stats.items == 7
    assert cached["rdd_id"] in _persisted(spark)


def test_round_calls_tracer_hooks_once_per_round(spark, tmp_path, monkeypatch):
    """The round-phase tracer (perfbench/phases.py) hooks fetch_join and
    anti_join_seen in the engine module's globals; a round that stops
    calling them through there leaves the traced phases empty."""
    calls = {"fetch_join": 0, "anti_join_seen": 0}
    originals = {name: getattr(engine, name) for name in calls}

    def counting(name):
        def wrapped(*args, **kwargs):
            calls[name] += 1
            return originals[name](*args, **kwargs)

        return wrapped

    for name in calls:
        monkeypatch.setattr(engine, name, counting(name))
    pages = mock_site_pages(
        spark, page_count=20, links_per_page=3, golden_text=False
    ).localCheckpoint(eager=True)
    eng = CrawlEngine(
        spark, pages, Settings(scheduler_type="breadth_first"),
        store_path=str(tmp_path / "store"),
    )
    stats = eng.run([f"{BASE_URL}/0"], max_rounds=2)
    monkeypatch.undo()
    assert stats.rounds == 2
    assert calls == {"fetch_join": 2, "anti_join_seen": 2}
    assert all(getattr(engine, n) is fn for n, fn in originals.items())
