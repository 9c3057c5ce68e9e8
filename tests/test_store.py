"""SnapshotStore: the schema committed with each snapshot, and the
append-table rules (store.py)."""

from __future__ import annotations

import json
import os
import uuid

import pytest
from pyspark.sql import functions as F

from nutch_spark.crawl import CrawlConfig, Crawler
from nutch_spark.store import SnapshotStore
from nutch_spark.synth import WebConfig

T0 = 1_700_000_000_000


def _inferred(spark, store: SnapshotStore, table: str):
    """The current snapshot as Spark infers it from the parquet footers,
    minus the sidecar's drop_on_read columns."""
    snap = store.current_snapshot(table)
    if store._is_append(table):
        return spark.read.parquet(
            *[store.snapshot_path(table, i) for i in range(snap + 1)]
        )
    path = store.snapshot_path(table, snap)
    with open(os.path.join(path, "_TBLMETA.json")) as f:
        drop = json.load(f).get("drop_on_read", [])
    return spark.read.parquet(path).drop(*drop)


def _rows(df) -> list[str]:
    # JSON rows: map columns defeat exceptAll / set comparison
    return sorted(
        r[0] for r in df.select(F.to_json(F.struct(*df.columns))).collect()
    )


def _assert_parity(spark, store: SnapshotStore) -> set[str]:
    tables = {
        t for t in os.listdir(store.root)
        if os.path.isdir(os.path.join(store.root, t)) and store.exists(t)
    }
    for t in tables:
        got, want = store.read(spark, t), _inferred(spark, store, t)
        assert got.schema == want.schema, t
        assert _rows(got) == _rows(want), t
    return tables


def _strip_schema(path: str) -> None:
    """Rewrite a snapshot's sidecar as committed before it carried one."""
    meta_path = os.path.join(path, "_TBLMETA.json")
    with open(meta_path) as f:
        meta = json.load(f)
    del meta["schema"]
    with open(meta_path, "w") as f:
        json.dump(meta, f)


@pytest.mark.parametrize("buckets", [0, 4])
def test_read_schema_matches_inferred(spark, tmp_path, buckets):
    """Every table of a depth-2 crawl plus invertlinks reads through its
    committed schema with the schema and rows Spark infers, plain and
    host-bucket partitioned; a snapshot whose sidecar has no schema, or
    that has no sidecar, still reads."""
    store = SnapshotStore(str(tmp_path / "w"))
    c = Crawler(
        spark, store, WebConfig(n_hosts=5, pages_per_host=6, zipf=False),
        CrawlConfig(depth=2, topn=50, start_time_ms=T0,
                    frontier_host_buckets=buckets),
    )
    c.crawl()
    c.invertlinks()
    tables = _assert_parity(spark, store)
    assert {"frontier", "fetchlist", "fetch_results", "parse_text",
            "parse_data", "crawl_parse", "linkdb", "metrics"} <= tables

    fr = store.read(spark, "frontier")
    assert "host_bucket" not in fr.columns
    want = _rows(fr)
    _strip_schema(store.snapshot_path("frontier",
                                      store.current_snapshot("frontier")))
    legacy = store.read(spark, "frontier")
    assert legacy.schema == fr.schema and _rows(legacy) == want

    links = store.read(spark, "linkdb")
    os.remove(os.path.join(
        store.snapshot_path("linkdb", store.current_snapshot("linkdb")),
        "_TBLMETA.json",
    ))
    bare = store.read(spark, "linkdb")
    assert bare.schema == links.schema and _rows(bare) == _rows(links)


def test_empty_partitioned_frontier_schema(spark, tmp_path):
    """The empty partitioned write's unpartitioned fallback commits the
    schema of what it wrote (host_bucket as a plain column, dropped on
    read)."""
    from nutch_spark.functions.urlplugins import DomainFilter, FilterChain

    store = SnapshotStore(str(tmp_path / "w"))
    Crawler(
        spark, store, WebConfig(n_hosts=3, pages_per_host=3, zipf=False),
        CrawlConfig(depth=1, frontier_host_buckets=4, start_time_ms=T0,
                    url_filters=FilterChain(
                        [DomainFilter(["no-such-domain.test"])])),
    ).inject()
    assert "frontier" in _assert_parity(spark, store)
    fr = store.read(spark, "frontier")
    assert fr.count() == 0 and "host_bucket" not in fr.columns


def test_append_table_schema(spark, tmp_path):
    """An append table reads through the committed schema while every
    snapshot shares it, and falls back to inference when one differs
    or lacks it."""
    store = SnapshotStore(str(tmp_path / "s"))
    ids = spark.range(3).toDF("id")
    store.append(ids, "m")
    store.append(ids, "m")
    _assert_parity(spark, store)
    assert store.read(spark, "m").count() == 6

    _strip_schema(store.snapshot_path("m", 0))
    _assert_parity(spark, store)
    assert store.read(spark, "m").count() == 6

    wide = SnapshotStore(str(tmp_path / "w"))
    wide.append(ids, "m")
    wide.append(ids.withColumn("x", F.lit("a")), "m")
    _assert_parity(spark, wide)
    assert wide.read(spark, "m").count() == 6


def test_read_submits_no_job(spark, tmp_path):
    """A read through a committed schema plans without a Spark job; the
    inferred read it replaces submits one (the control)."""
    sc = spark.sparkContext
    store = SnapshotStore(str(tmp_path / "s"))
    store.write(spark.range(5).toDF("id"), "t")
    store.append(spark.range(3).toDF("id"), "m")
    store.append(spark.range(3).toDF("id"), "m")

    def jobs_of(read) -> list[int]:
        group = f"store-read-{uuid.uuid4().hex}"
        sc.setJobGroup(group, "store read")
        try:
            read()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        # job events reach the status tracker through the listener bus
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return list(sc.statusTracker().getJobIdsForGroup(group))

    assert jobs_of(lambda: store.read(spark, "t")) == []
    assert jobs_of(lambda: store.read(spark, "m")) == []
    assert jobs_of(lambda: spark.read.parquet(store.snapshot_path("t", 0)))


def test_expire_snapshots_refuses_append_table(spark, tmp_path):
    """expire_snapshots would delete committed increments of an append
    table (metrics), so it refuses; overwrite tables still expire."""
    store = SnapshotStore(str(tmp_path / "w"))
    Crawler(
        spark, store, WebConfig(n_hosts=3, pages_per_host=4, zipf=False),
        CrawlConfig(depth=2, topn=50, start_time_ms=T0),
    ).crawl()
    before = _rows(store.read(spark, "metrics"))
    assert store.current_snapshot("metrics") >= 2
    with pytest.raises(ValueError):
        store.expire_snapshots("metrics", keep=1)
    assert _rows(store.read(spark, "metrics")) == before

    fr = _rows(store.read(spark, "frontier"))
    cur = store.current_snapshot("frontier")
    store.expire_snapshots("frontier", keep=1)
    snaps = os.listdir(os.path.join(store.root, "frontier", "snapshots"))
    assert snaps == [str(cur)]
    assert _rows(store.read(spark, "frontier")) == fr
