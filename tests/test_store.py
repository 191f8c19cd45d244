"""Parquet-dir SnapshotStore: declared schemas, snapshot pruning, and
the engine's session-conf hygiene."""

import os

import pytest

from krawler_spark import schemas
from krawler_spark.config import CrawlConfig
from krawler_spark.engine import CrawlEngine
from krawler_spark.plans.store import SnapshotStore
from krawler_spark.schemas import PAGES
from krawler_spark.sources.corpus import build_pages_local, default_seeds

_PARTS = "spark.sql.shuffle.partitions"


def test_metrics_schema_matches_declared(spark, tmp_path):
    """read_metrics returns the types schemas.METRICS declares (round is
    int, not the bigint pyarrow would infer)."""
    store = SnapshotStore(spark, str(tmp_path))
    for rnd in (0, 1):
        store.write_rows_local("metrics", rnd, [(rnd, "visited", 3)], schemas.METRICS)
    got = [(f.name, f.dataType) for f in store.read_metrics(1).schema.fields]
    assert got == [(f.name, f.dataType) for f in schemas.METRICS.fields]
    assert store.read_metrics(1).count() == 2


def test_prune_drops_old_bloom_and_host_state(spark, tmp_path):
    store = SnapshotStore(spark, str(tmp_path))
    for rnd in (0, 1, 2):
        store.write_table("bloom", rnd, spark.createDataFrame(
            [(rnd, b"\x01")], schemas.BLOOM))
        store.write_delta(rnd, spark.createDataFrame(
            [("u%d" % rnd, None, "visited"), (None, rnd, "host_state")],
            "url string, host_seq int, kind string"))
    store.prune_snapshots(keep_from_round=2)
    assert sorted(os.listdir(os.path.join(store.path, "bloom"))) == ["r=2"]
    kinds = {(r["r"], r["kind"]) for r in store.read_delta_all().collect()}
    assert kinds == {(0, "visited"), (1, "visited"), (2, "visited"),
                     (2, "host_state")}


def _engine(spark, wh, cfg):
    rows = build_pages_local(n_hosts=3, pages_per_host=10, hot_factor=3)
    return CrawlEngine(spark, spark.createDataFrame(rows, PAGES), config=cfg,
                       store=SnapshotStore(spark, str(wh)))


def test_run_restores_caller_shuffle_partitions(spark, tmp_path):
    """The per-round shuffle sizing is scoped to run(): the caller's
    value comes back after a finished crawl and after a round that
    raises."""
    before = spark.conf.get(_PARTS)
    spark.conf.set(_PARTS, "7")
    try:
        # one row per partition: every sized round differs from 7
        cfg = CrawlConfig(max_depth=3, round_seconds=1.0, max_rounds=3,
                          use_bloom=False, shuffle_rows_per_partition=1)
        eng = _engine(spark, tmp_path / "ok", cfg)
        seen = []
        run_round = eng._run_round

        def spy(rnd, frontier, state):
            seen.append(spark.conf.get(_PARTS))
            return run_round(rnd, frontier, state)

        eng._run_round = spy
        eng.run(default_seeds(3))
        assert seen[0] == "7" and seen[1] != "7"
        assert spark.conf.get(_PARTS) == "7"

        eng = _engine(spark, tmp_path / "boom", cfg)
        run_round = eng._run_round

        def failing(rnd, frontier, state):
            if rnd == 1:
                assert spark.conf.get(_PARTS) != "7"
                raise RuntimeError("round failed")
            return run_round(rnd, frontier, state)

        eng._run_round = failing
        with pytest.raises(RuntimeError, match="round failed"):
            eng.run(default_seeds(3))
        assert spark.conf.get(_PARTS) == "7"
    finally:
        spark.conf.set(_PARTS, before)
