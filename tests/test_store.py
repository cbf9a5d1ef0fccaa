"""CrawlStore commit/resume/compaction semantics (S9)."""

import os

import pyspark.sql.functions as F

from scrapy_rs_spark.sources.store import CrawlStore


def _seen_rows(spark, hashes):
    return spark.createDataFrame([(h,) for h in hashes], "url_hash BIGINT")


def _empty_frontier(spark):
    from scrapy_rs_spark.schemas import FRONTIER_DDL

    return spark.createDataFrame([], FRONTIER_DDL)


def test_manifest_last_commit_visibility(spark, tmp_path):
    store = CrawlStore(spark, str(tmp_path / "s"), seen_buckets=4)
    store.commit_round(
        1, _empty_frontier(spark), _seen_rows(spark, [1, 2]), None, None,
        {"round": 1},
    )
    assert store.committed_rounds() == [1]
    # a round dir without MANIFEST is invisible (uncommitted)
    os.makedirs(str(tmp_path / "s/rounds/round=000002"))
    assert store.committed_rounds() == [1]
    assert store.latest_round() == 1


def test_compact_seen_preserves_membership(spark, tmp_path):
    store = CrawlStore(spark, str(tmp_path / "c"), seen_buckets=4)
    all_hashes = set()
    for r in range(1, 5):
        hs = list(range(r * 100, r * 100 + 10))
        all_hashes.update(hs)
        store.commit_round(
            r, _empty_frontier(spark), _seen_rows(spark, hs), None, None,
            {"round": r},
        )
    before = {x.url_hash for x in store.load_seen().collect()}
    assert before == all_hashes
    store.compact_seen()
    after = {x.url_hash for x in store.load_seen().collect()}
    assert after == all_hashes
    # earlier deltas are gone; everything lives in the last round
    for r in range(1, 4):
        assert not os.path.isdir(
            str(tmp_path / f"c/rounds/round={r:06d}/seen_delta")
        )
    # buckets preserved for partition-pruned probes
    assert {x.bucket for x in store.load_seen().collect()} <= {0, 1, 2, 3}


def test_lineage_plain_store_reconciles_with_deltas(spark, tmp_path):
    """Per-partition lineage (north rule): every committed round writes
    lineage.json whose per-file row counts sum to the actual delta/
    frontier row counts, with seen_delta rows attributed to their
    bucket= partitions."""
    store = CrawlStore(spark, str(tmp_path / "lin"), seen_buckets=4)
    store.commit_round(
        1, _empty_frontier(spark), _seen_rows(spark, range(100)), None,
        None, {"round": 1},
    )
    store.commit_round(
        2, _empty_frontier(spark), _seen_rows(spark, range(100, 130)),
        None, None, {"round": 2},
    )
    lin = store.load_lineage()
    assert {r["round"] for r in lin} == {1, 2}
    seen1 = [r for r in lin if r["round"] == 1 and r["dataset"] == "seen_delta"]
    assert sum(r["rows"] for r in seen1) == 100
    # bucket partitions are recorded and complete (pmod over 0..99 hits
    # all 4 buckets)
    assert {r["partition"].split("=")[0] for r in seen1} == {"bucket"}
    assert len({r["partition"] for r in seen1}) == 4
    assert all(r["bytes"] > 0 and r["file"].endswith(".parquet") for r in lin)
    seen2 = [r for r in lin if r["round"] == 2 and r["dataset"] == "seen_delta"]
    assert sum(r["rows"] for r in seen2) == 30
    # the DataFrame view aggregates the same way
    agg = {
        (r["round"], r["dataset"]): r["total"]
        for r in store.lineage_df()
        .groupBy("round", "dataset")
        .agg(F.sum("rows").alias("total"))
        .collect()
    }
    assert agg[(1, "seen_delta")] == 100
    assert agg[(2, "seen_delta")] == 30


def test_removed_seen_layouts_fail_loud(spark, tmp_path):
    """A store written with a seen layout this build no longer has must
    not open as a plain store: its seen set would read as empty and the
    crawl would refetch everything."""
    import pytest

    markers = {
        "seen_bucketed": "bucketed seen table",
        "seen_bucketed_meta.json": "bucketed seen table",
        "bloom": "bloom sidecar",
    }
    for marker, layout in markers.items():
        root = tmp_path / marker.replace(".", "_")
        store = CrawlStore(spark, str(root), seen_buckets=4)
        store.commit_round(
            1, _empty_frontier(spark), _seen_rows(spark, range(10)), None,
            None, {"round": 1},
        )
        if marker.endswith(".json"):
            (root / marker).write_text('{"seen_buckets": 4}')
        else:
            (root / marker).mkdir()
        with pytest.raises(ValueError, match=layout) as err:
            CrawlStore(spark, str(root), seen_buckets=4)
        assert "cannot be opened by this build" in str(err.value)
        assert marker in str(err.value)
