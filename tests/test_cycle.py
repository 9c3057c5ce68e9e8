"""End-to-end equivalence vs the pure-Python oracle (FIXTURES.md §H)
and checkpoint/resume (north_rule resumability)."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from nutch_spark.crawl import Crawler, CrawlConfig
from nutch_spark.operators.fetch import fetch
from nutch_spark.operators.generate import generate, mark_generated
from nutch_spark.operators.inject import inject
from nutch_spark.operators.updatedb import updatedb
from nutch_spark.operators.parse import parse
from nutch_spark.store import SnapshotStore
from nutch_spark.synth import WebConfig, robots_rows, seeds_df

from .oracle import crawl_oracle, url_hash, xxhash64

T0 = 1_700_000_000_000
CYCLE = 3_600_000


def test_python_xxhash64_matches_spark(spark):
    urls = [f"http://host{i}.example{i % 3}.com/p/{i:05d}" for i in range(50)]
    urls += ["", "a", "ab", "abc", "abcd" * 3, "x" * 31, "y" * 32, "z" * 100]
    df = spark.createDataFrame([(u,) for u in urls], "url string")
    got = {r.url: r.h for r in df.select("url", F.xxhash64("url").alias("h")).collect()}
    for u in urls:
        assert got[u] == xxhash64(u.encode()), u


def run_engine(spark, web, depth, topn):
    robots = {r["host"]: r for r in robots_rows(web)}
    fr = inject(spark, None, seeds_df(spark, web), T0)
    generated, fetch_orders = [], {}
    for d in range(depth):
        now = T0 + (d + 1) * CYCLE
        fl = generate(fr, now, f"seg{d}", top_n=topn).localCheckpoint(eager=True)
        generated.append({r.url for r in fl.select("url").collect()})
        fr = mark_generated(fr, fl, now)
        res = fetch(fl, robots, web, now).localCheckpoint(eager=True)
        # observable per-host order: robots-allowed rows by politeness time
        fetched = res.filter(
            ~F.col("protocol_status").startswith("robots_denied")
        ).select("host", "url", "fetch_time").collect()
        for host, grp in itertools.groupby(
            sorted(fetched, key=lambda r: (r.host, r.fetch_time)), key=lambda r: r.host
        ):
            fetch_orders.setdefault(host, []).extend(r.url for r in grp)
        _, cp = parse(res)
        fr = updatedb(spark, fr, res, cp, now).localCheckpoint(eager=True)
    hist = {r.status: r["count"] for r in fr.groupBy("status").count().collect()}
    seen = {r.url for r in fr.select("url").collect()}
    return generated, fetch_orders, seen, hist


@pytest.mark.parametrize(
    "web,depth,topn",
    [
        (WebConfig(n_hosts=5, pages_per_host=4, zipf=False), 2, 100),
        (
            WebConfig(
                n_hosts=8,
                pages_per_host=10,
                zipf=True,
                gone_frac=0.1,
                redir_frac=0.1,
                blocked_hosts=(3,),
                slow_hosts=(5,),
            ),
            3,
            40,
        ),
    ],
)
def test_engine_matches_oracle(spark, web, depth, topn):
    """Same seeds + politeness budget + depth ⇒ identical generated topN
    sets, per-host fetch order, URL-seen set, status histogram."""
    generated, fetch_orders, seen, hist = run_engine(spark, web, depth, topn)
    o = crawl_oracle(web, depth, topn, start_ms=T0, cycle_ms=CYCLE)
    assert generated == o.generated
    assert seen == o.seen()
    assert hist == o.histogram()
    assert set(fetch_orders) == set(o.fetch_order)
    for host in fetch_orders:
        assert fetch_orders[host] == o.fetch_order[host], host


def test_crawler_driver_and_resume(spark, tmp_path):
    """Crawler E2E over the snapshot store; kill after cycle-1 fetch,
    resume, final frontier identical to an uninterrupted run."""
    web = WebConfig(n_hosts=5, pages_per_host=6, zipf=False)
    cfg = CrawlConfig(depth=2, topn=50, dedup_each_cycle=False, start_time_ms=T0)

    # uninterrupted reference run
    s1 = SnapshotStore(str(tmp_path / "w1"))
    rounds = Crawler(spark, s1, web, cfg).crawl()
    assert rounds[0]["fetched"] > 0
    ref = s1.read(spark, "frontier")

    # interrupted run: inject + cycle0 + cycle1 up to fetch, then "crash"
    s2 = SnapshotStore(str(tmp_path / "w2"))
    c2 = Crawler(spark, s2, web, cfg)
    c2.inject()
    c2.cycle(0)
    seg = "seg0001"
    now = cfg.start_time_ms + 2 * cfg.cycle_ms
    fr = s2.read(spark, "frontier")
    fl = generate(fr, now, seg, top_n=cfg.topn)
    s2.write(fl, "fetchlist")
    s2.write(mark_generated(fr, s2.read(spark, "fetchlist"), now), "frontier")
    s2.mark_stage(seg, "generate")
    res = fetch(s2.read(spark, "fetchlist"), c2.robots, web, now)
    s2.write(res, "fetch_results")
    s2.mark_stage(seg, "fetch")
    # crash here; a fresh Crawler resumes cycle 1 from the manifest
    c3 = Crawler(spark, SnapshotStore(str(tmp_path / "w2")), web, cfg)
    c3.cycle(1)
    got = s2.read(spark, "frontier")

    flat = lambda df: df.select(
        "url", "status", "fetch_time", "retries", "fetch_interval",
        F.round(F.col("score").cast("double"), 4).alias("score"), "signature",
    )
    assert flat(got).exceptAll(flat(ref)).count() == 0
    assert flat(ref).exceptAll(flat(got)).count() == 0


def test_frontier_host_bucket_partitioning(spark, tmp_path):
    """frontier_host_buckets=N hive-partitions frontier snapshots on
    pmod(xxhash64(host), N): host-scoped reads PRUNE to their buckets
    (PartitionFilters in the scan), operators see an unchanged schema,
    and the crawl result is identical to the unpartitioned run."""
    import os

    from pyspark.sql import functions as F

    web = WebConfig(n_hosts=5, pages_per_host=6, zipf=False)
    base = dict(depth=2, topn=50, dedup_each_cycle=False, start_time_ms=T0)

    s1 = SnapshotStore(str(tmp_path / "plain"))
    Crawler(spark, s1, web, CrawlConfig(**base)).crawl()
    s2 = SnapshotStore(str(tmp_path / "bucketed"))
    c2 = Crawler(
        spark, s2, web, CrawlConfig(**base, frontier_host_buckets=4)
    )
    c2.crawl()

    # physical layout: hive partition dirs
    snap = s2.snapshot_path("frontier", s2.current_snapshot("frontier"))
    buckets = sorted(d for d in os.listdir(snap) if d.startswith("host_bucket="))
    assert len(buckets) >= 2  # 5 hosts spread over 4 buckets

    # identical logical content (operators never see host_bucket)
    a = s1.read(spark, "frontier")
    b = c2._frontier()
    assert sorted(a.columns) == sorted(b.columns)
    key = [F.col("url")]
    assert (
        a.select("url", "status", "score").exceptAll(
            b.select("url", "status", "score")
        ).count()
        == 0
    ) and a.count() == b.count()

    # a host-scoped read prunes: filter on the bucket column reaches
    # the scan as a partition filter
    raw = spark.read.parquet(snap)
    plan = raw.filter(F.col("host_bucket") == 1)._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [isnotnull(host_bucket" in plan, plan[:500]


def test_metrics_lineage_written(spark, tmp_path):
    web = WebConfig(n_hosts=3, pages_per_host=4, zipf=False)
    cfg = CrawlConfig(depth=1, topn=50, start_time_ms=T0)
    store = SnapshotStore(str(tmp_path / "w"))
    Crawler(spark, store, web, cfg).crawl()
    m = store.read(spark, "metrics")
    stages = {r.stage for r in m.select("stage").distinct().collect()}
    assert {"inject", "fetch", "updatedb"} <= stages
    # per-partition lineage rows present
    assert m.filter((F.col("counter") == "rows") & (F.col("partition_id") >= 0)).count() > 0


def test_store_append_write_mode_discipline(spark, tmp_path):
    """Regression (round-2 ADVICE): append() on an overwrite-history
    table must refuse (read would union full snapshots = double count),
    and write() on an append table must atomically flip it back so the
    next read sees only the full snapshot."""
    from nutch_spark.store import SnapshotStore

    store = SnapshotStore(str(tmp_path / "s"))
    df3 = spark.range(3).toDF("id")
    store.write(df3, "t")
    with pytest.raises(ValueError):
        store.append(df3, "t")

    store.append(df3, "m")
    store.append(df3, "m")
    assert store.read(spark, "m").count() == 6
    store.write(spark.range(4).toDF("id"), "m")
    assert store.read(spark, "m").count() == 4
    # and appending after a full write refuses again
    with pytest.raises(ValueError):
        store.append(df3, "m")


def test_e2e_cycle_with_subdocs(spark):
    """A crawl over a web with embedded sub-documents records sub-URLs
    as db_fetched via the canonical-key datum — no separate fetch."""
    from nutch_spark.constants import STATUS_DB_FETCHED
    from nutch_spark.synth import WebConfig, page_spans, robots_rows, seeds_df

    web = WebConfig(n_hosts=4, pages_per_host=5, zipf=False, gone_frac=0,
                    redir_frac=0, subdoc_frac=0.5)
    robots = {r["host"]: r for r in robots_rows(web)}
    fr = inject(spark, None, seeds_df(spark, web), T0)
    for depth in range(2):
        fl = generate(fr, T0 + depth, f"s{depth}", top_n=100)
        res = fetch(fl, robots, web, T0 + depth).localCheckpoint()
        _, cp = parse(res)
        fr = updatedb(spark, fr, res, cp.localCheckpoint(), T0 + depth)
        fr = fr.localCheckpoint()
    rows = fr.collect()
    subs = [r for r in rows if "!/sub" in r.url]
    assert subs, "subdoc_frac=0.5 over ≥8 fetched pages must yield sub-entries"
    for r in subs:
        assert r.status == STATUS_DB_FETCHED
        assert r.signature is not None
    # determinism: page_spans oracle sees the same subdoc spans
    any_page = [r.url for r in rows if "!/sub" not in r.url][0]
    assert page_spans(web, any_page) == page_spans(web, any_page)


def test_crawler_with_plugin_surface(spark, tmp_path):
    """The driver threads the configured plugin surface (hooks chain,
    filter chain, queue mode, schedule) through every stage."""
    from dataclasses import replace as dreplace

    from nutch_spark.functions.scoring import OPIC
    from nutch_spark.functions.urlplugins import DomainFilter, FilterChain

    web = WebConfig(n_hosts=4, pages_per_host=4, zipf=False)
    cfg = CrawlConfig(
        depth=1, topn=50, start_time_ms=T0, dedup_each_cycle=False,
        schedule="mime_adaptive",
        hooks=dreplace(OPIC, update_db_score=lambda b, a: b + a * 0.5),
        url_filters=FilterChain([DomainFilter(["example0.com",
                                               "example1.com",
                                               "example2.com"])]),
        queue_mode="byDomain",
    )
    store = SnapshotStore(str(tmp_path / "w"))
    rounds = Crawler(spark, store, web, cfg).crawl()
    assert rounds[0]["fetched"] > 0
    fr = store.read(spark, "frontier")
    assert fr.count() > 0


def test_streaming_frontier_ingestion(spark, tmp_path):
    """Structured Streaming updatedb: fetch-result parquet batches
    landing in a directory fold into the frontier exactly like the
    batch merge of their union at the same clocks."""
    from nutch_spark.operators.fetch import fetch
    from nutch_spark.operators.generate import generate
    from nutch_spark.operators.parse import parse
    from nutch_spark.streaming import stream_updatedb
    from nutch_spark.synth import WebConfig, robots_rows, seeds_df

    web = WebConfig(n_hosts=3, pages_per_host=4, zipf=False, gone_frac=0,
                    redir_frac=0)
    robots = {r["host"]: r for r in robots_rows(web)}
    fr0 = inject(spark, None, seeds_df(spark, web), T0).localCheckpoint()

    # two fetch batches; the streaming merge derives its clock from
    # each batch (max fetch_time), so the expected chain uses the same
    fl1 = generate(fr0, T0 + 1, "s1", top_n=100)
    res1 = fetch(fl1, robots, web, T0 + 1).localCheckpoint()
    now1 = res1.agg(F.max("fetch_time")).collect()[0][0]
    fr1 = updatedb(spark, fr0, res1, parse(res1)[1].localCheckpoint(),
                   now1).localCheckpoint()
    fl2 = generate(fr1, T0 + 2, "s2", top_n=100)
    res2 = fetch(fl2, robots, web, T0 + 2).localCheckpoint()
    now2 = res2.agg(F.max("fetch_time")).collect()[0][0]
    expected = updatedb(spark, fr1, res2, parse(res2)[1].localCheckpoint(),
                        now2).localCheckpoint()

    # streaming run: seed frontier in a store, then drop the batches
    from nutch_spark.store import SnapshotStore

    store = SnapshotStore(str(tmp_path / "w"))
    store.write(fr0, "frontier")
    incoming = str(tmp_path / "incoming")
    res1.coalesce(1).write.mode("append").parquet(incoming)
    q = stream_updatedb(spark, store, incoming,
                        str(tmp_path / "ckpt"),
                        max_files_per_trigger=1)
    q.awaitTermination(120)
    res2.coalesce(1).write.mode("append").parquet(incoming)
    q2 = stream_updatedb(spark, store, incoming,
                         str(tmp_path / "ckpt"),
                         max_files_per_trigger=1)
    q2.awaitTermination(120)

    got = store.read(spark, "frontier")
    flat = lambda df: df.select(
        "url", "status", "fetch_time", "retries", "fetch_interval",
        F.round(F.col("score").cast("double"), 4).alias("score"), "signature",
    )
    assert flat(got).exceptAll(flat(expected)).count() == 0
    assert flat(expected).exceptAll(flat(got)).count() == 0


# ---------------------------------------------------------------------
# URL-seen filter IN the crawl loop (north_rule headline): the filter
# prunes the updatedb frontier join, and the filtered run's frontier is
# ROW-IDENTICAL to the unfiltered run's — false positives just take the
# big join's lone-link branch; false negatives are impossible while the
# filter ⊇ frontier invariant holds (seen_audit=True proves it per
# cycle with an exact anti-join).
# ---------------------------------------------------------------------

def _full_flat(df):
    return df.select(
        "url", "status", "fetch_time", "retries", "fetch_interval",
        F.round(F.col("score").cast("double"), 4).alias("score"),
        "signature", "modified_time",
        F.array_sort(F.map_entries("metadata")).alias("meta"),
    )


@pytest.mark.parametrize(
    "kind,params",
    [
        ("bloom", dict(n_buckets=4, expected_keys_per_bucket=5000)),
        ("cuckoo", dict(n_shards=4, m_indexes=1 << 10)),
    ],
)
def test_seen_filter_in_loop_parity(spark, tmp_path, kind, params):
    web = WebConfig(n_hosts=8, pages_per_host=8, zipf=False,
                    outlinks_per_page=6)
    base = dict(depth=3, topn=400, start_time_ms=T0)

    s_ref = SnapshotStore(str(tmp_path / "ref"))
    Crawler(spark, s_ref, web, CrawlConfig(**base)).crawl()
    ref = _full_flat(s_ref.read(spark, "frontier"))

    s_flt = SnapshotStore(str(tmp_path / kind))
    Crawler(
        spark, s_flt, web,
        CrawlConfig(seen_filter=kind, seen_params=params,
                    seen_audit=True, **base),
    ).crawl()
    got = _full_flat(s_flt.read(spark, "frontier"))

    assert got.exceptAll(ref).count() == 0
    assert ref.exceptAll(got).count() == 0

    # the filter stayed in sync: its insert counter equals the frontier
    # size exactly, because the loop feeds add() only definitely-new
    # keys (each frontier URL was counted once — at inject or at the
    # cycle that created it)
    n_keys = (
        s_flt.read(spark, "seen").agg(F.sum("n_keys")).collect()[0][0]
    )
    assert n_keys == s_flt.read(spark, "frontier").count()


def test_seen_filter_split_routes_new_urls(spark, tmp_path):
    """Cycle 0's outlink stream is mostly NEW URLs — the split must
    route them off the frontier join (maybe_seen=False side), which is
    visible as seen-table growth ≡ the URLs created this cycle."""
    web = WebConfig(n_hosts=6, pages_per_host=6, zipf=False,
                    outlinks_per_page=8)
    store = SnapshotStore(str(tmp_path / "w"))
    c = Crawler(
        spark, store, web,
        CrawlConfig(depth=1, topn=200, seen_filter="bloom",
                    seen_params=dict(n_buckets=4,
                                     expected_keys_per_bucket=5000),
                    seen_audit=True, start_time_ms=T0),
    )
    c.inject()
    injected = store.read(spark, "frontier").count()
    seen0 = store.read(spark, "seen").agg(F.sum("n_keys")).collect()[0][0]
    assert seen0 == injected
    c.cycle(0)
    frontier1 = store.read(spark, "frontier").count()
    seen1 = store.read(spark, "seen").agg(F.sum("n_keys")).collect()[0][0]
    assert frontier1 > injected  # outlinks discovered
    assert seen1 == frontier1  # every created URL was add()ed, once


def _seen_keys(spark, store):
    return store.read(spark, "seen").agg(F.sum("n_keys")).collect()[0][0]


def _assert_urls_unique(fr):
    assert fr.count() == fr.select("url").distinct().count()


def test_seen_geometry_commit_crash_forces_rebuild(spark, tmp_path,
                                                   monkeypatch):
    """A rebuild under geometry G2 killed after its table commit but
    before its geometry write must not leave the G2 table probed as
    G1's when the run resumes under G1: the stale geometry is gone
    before the table commit, so the resumed cycle rebuilds."""
    from nutch_spark.operators.seen import SeenTable

    web = WebConfig(n_hosts=6, pages_per_host=6, zipf=False,
                    outlinks_per_page=6)
    store = SnapshotStore(str(tmp_path / "w"))
    g1 = dict(n_shards=4, m_indexes=1 << 10)
    g2 = dict(n_shards=8, m_indexes=1 << 10)
    base = dict(depth=1, topn=200, seen_filter="cuckoo", start_time_ms=T0)
    Crawler(spark, store, web, CrawlConfig(seen_params=g1, **base)).inject()

    def killed(self):
        raise RuntimeError("killed before the geometry write")

    monkeypatch.setattr(SeenTable, "_record_geometry", killed)
    with pytest.raises(RuntimeError, match="killed"):
        Crawler(spark, store, web,
                CrawlConfig(seen_params=g2, **base)).cycle(0)
    monkeypatch.undo()

    Crawler(spark, store, web,
            CrawlConfig(seen_params=g1, seen_audit=True, **base)).cycle(0)
    fr = store.read(spark, "frontier")
    _assert_urls_unique(fr)
    assert _seen_keys(spark, store) == fr.count()


def test_unfiltered_cycle_invalidates_seen_table(spark, tmp_path):
    """A cycle run without a seen filter adds frontier rows the stored
    table never learns, so it invalidates the table: a later filtered
    cycle rebuilds instead of probing the stale one."""
    web = WebConfig(n_hosts=6, pages_per_host=6, zipf=False,
                    outlinks_per_page=6)
    store = SnapshotStore(str(tmp_path / "w"))
    base = dict(depth=2, topn=200, start_time_ms=T0)
    cuckoo = dict(seen_filter="cuckoo",
                  seen_params=dict(n_shards=4, m_indexes=1 << 10))
    Crawler(spark, store, web, CrawlConfig(**cuckoo, **base)).inject()
    Crawler(spark, store, web, CrawlConfig(**base)).cycle(0)
    Crawler(spark, store, web,
            CrawlConfig(seen_audit=True, **cuckoo, **base)).cycle(1)
    fr = store.read(spark, "frontier")
    _assert_urls_unique(fr)
    assert _seen_keys(spark, store) == fr.count()


def test_cuckoo_purge_delete_in_loop(spark, tmp_path):
    """purge_404 + cuckoo: purged URLs leave BOTH the frontier and the
    filter (the delete path blooms can't take), so they are fetchable
    again — unless this cycle's parse stream recreates them, in which
    case they stay seen and re-enter as db_unfetched."""
    from nutch_spark.constants import (
        STATUS_DB_GONE,
        STATUS_DB_UNFETCHED,
    )

    web = WebConfig(n_hosts=6, pages_per_host=6, zipf=False,
                    outlinks_per_page=6)
    store = SnapshotStore(str(tmp_path / "w"))
    cfg = CrawlConfig(depth=1, topn=60, seen_filter="cuckoo",
                      seen_params=dict(n_shards=4, m_indexes=1 << 10),
                      seen_audit=True, purge_404=True,
                      dedup_each_cycle=False, start_time_ms=T0)
    c = Crawler(spark, store, web, cfg)
    c.inject()
    c.cycle(0)

    # flip every FETCHED row to db_gone (they were all injected, so the
    # filter already contains them — no desync)
    from nutch_spark.constants import STATUS_DB_FETCHED

    fr = store.read(spark, "frontier")
    fetched_urls = {
        r.url for r in fr.filter(
            F.col("status") == STATUS_DB_FETCHED
        ).select("url").collect()
    }
    assert fetched_urls
    store.write(
        fr.withColumn(
            "status",
            F.when(F.col("status") == STATUS_DB_FETCHED,
                   F.lit(STATUS_DB_GONE)).otherwise(F.col("status")),
        ),
        "frontier",
    )

    c.cycle(1)  # purges the gone rows; deletes non-recreated keys

    fr2 = store.read(spark, "frontier")
    rows = {r.url: r.status for r in fr2.select("url", "status").collect()}
    cp = store.read(spark, "crawl_parse")
    linked = {r.url for r in cp.select("url").distinct().collect()}
    recreated = fetched_urls & linked
    vanished = fetched_urls - linked

    assert vanished, "need at least one purged-and-not-relinked URL"
    for u in vanished:
        assert u not in rows  # gone from the frontier
    for u in recreated:
        assert rows[u] == STATUS_DB_UNFETCHED  # re-entered via links

    # and gone from the FILTER: probing the vanished URLs reads unseen
    from nutch_spark.functions.urls import url_hash_col

    probe_df = spark.createDataFrame(
        [(u,) for u in sorted(vanished)], "url string"
    ).withColumn("url_hash", url_hash_col(F.col("url")))
    marked = c._seen.mark_seen(probe_df, store.read(spark, "seen"))
    assert marked.filter(F.col("maybe_seen")).count() == 0
    # while the recreated ones still probe seen (no false negatives)
    if recreated:
        probe2 = spark.createDataFrame(
            [(u,) for u in sorted(recreated)], "url string"
        ).withColumn("url_hash", url_hash_col(F.col("url")))
        m2 = c._seen.mark_seen(probe2, store.read(spark, "seen"))
        assert m2.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_delete_safe_for_false_positive_created_rows(spark):
    """A row the big join CREATES as a false positive (probes seen off
    ANOTHER key's stored fingerprint) was never itself inserted —
    deleting it on purge would consume the other key's only copy and
    make a live frontier URL probe definitely-new (double-create on a
    later cycle). updatedb_seen_split(insert_created=True) — what the
    crawl loop passes whenever the delete path is on — closes this by
    add()ing created keys, so every frontier row owns one stored copy.
    The control leg locks in WHY the flag exists: without it, the same
    delete strips the resident's copy."""
    import numpy as np

    from nutch_spark.constants import Defaults, STATUS_DB_FETCHED, STATUS_LINKED
    from nutch_spark.functions.urls import url_hash_col
    from nutch_spark.operators.seen import CuckooSeenFilter, _cuckoo_parts
    from nutch_spark.operators.updatedb import updatedb_seen_split
    from nutch_spark.schema import CRAWL_PARSE, FRONTIER

    m = 2  # tiny index space so an (i1, fp) collision is findable
    filt = CuckooSeenFilter(n_shards=1, m_indexes=m)

    # deterministically find resident A and impostor B with identical
    # (i1, fp): B probes seen purely off A's slot
    urls = [f"http://h{i}.example.com/p" for i in range(4000)]
    pdf = (
        spark.createDataFrame([(u,) for u in urls], "url string")
        .select("url", url_hash_col(F.col("url")).alias("h"))
        .toPandas()
    )
    h = pdf["h"].to_numpy(np.int64)
    fp, i1, _i2 = _cuckoo_parts(h, m)
    comp = i1 * np.int64(1 << 16) + fp
    order = np.argsort(comp, kind="stable")
    dup = np.flatnonzero(comp[order][1:] == comp[order][:-1])
    assert len(dup), "no (i1, fp) collision in the search set"
    ia, ib = int(order[dup[0]]), int(order[dup[0] + 1])
    u_a, h_a = pdf["url"].iloc[ia], int(h[ia])
    u_b, h_b = pdf["url"].iloc[ib], int(h[ib])
    assert h_a != h_b

    frontier = spark.createDataFrame(
        [
            dict(
                url=u_a, url_hash=h_a, host="h.example.com",
                status=STATUS_DB_FETCHED, fetch_time=T0 - 1000, retries=0,
                fetch_interval=Defaults.FETCH_INTERVAL, score=1.0,
                signature=None, modified_time=0, metadata={},
            )
        ],
        FRONTIER,
    )
    cp = spark.createDataFrame(
        [
            dict(
                url=u_b, status=STATUS_LINKED, score=0.5,
                fetch_interval=Defaults.FETCH_INTERVAL, signature=None,
                anchor="a", from_url=u_a, metadata=None, fetch_time=None,
            )
        ],
        CRAWL_PARSE,
    )
    seen0 = filt.build(frontier).localCheckpoint(eager=True)

    def probe(hash_val, seen):
        df = spark.createDataFrame([(hash_val,)], "url_hash long")
        return bool(seen is not None
                    and filt.mark_seen(df, seen).collect()[0]["maybe_seen"])

    assert probe(h_b, seen0), "B must be a false positive of A's slot"

    for insert_created, a_survives in [(True, True), (False, False)]:
        fr2, seen1 = updatedb_seen_split(
            spark, frontier, None, cp, T0, filt, seen0,
            insert_created=insert_created,
        )
        # B is created either way — routing is semantics-neutral
        assert {r.url for r in fr2.select("url").collect()} == {u_a, u_b}
        seen1 = seen1.localCheckpoint(eager=True)
        gone_b = spark.createDataFrame([(h_b,)], "url_hash long")
        seen2 = filt.delete(seen1, gone_b).localCheckpoint(eager=True)
        assert probe(h_a, seen2) == a_survives


def test_host_bucket_dropped_centrally(spark, tmp_path):
    """ADVICE r4: with frontier_host_buckets on, EVERY store.read of
    the frontier strips the synthetic host_bucket column — consumers
    that bypass Crawler._frontier() (server /seed → inject, readdb,
    streaming) see the logical schema."""
    web = WebConfig(n_hosts=4, pages_per_host=4, zipf=False)
    store = SnapshotStore(str(tmp_path / "w"))
    c = Crawler(spark, store, web,
                CrawlConfig(depth=1, topn=50, frontier_host_buckets=4,
                            start_time_ms=T0))
    c.inject()
    raw = store.read(spark, "frontier")
    assert "host_bucket" not in raw.columns
    # the round-trip the r4 advice flagged: a second inject over the
    # store-read frontier (the server /seed path) must not see the
    # synthetic column
    extra = spark.createDataFrame(
        [("http://example0.com/new-seed",)], "url string"
    ).withColumn("metadata", F.lit(None).cast("map<string,string>"))
    merged = inject(spark, raw, extra, T0 + 5)
    assert "host_bucket" not in merged.columns
    assert merged.filter(
        F.col("url") == "http://example0.com/new-seed"
    ).count() == 1


def test_empty_partitioned_frontier_readable(spark, tmp_path):
    """ADVICE r4: an all-filtered seed list with host-bucket
    partitioning on must still produce a READABLE (schema-bearing)
    empty frontier snapshot."""
    from nutch_spark.functions.urlplugins import DomainFilter, FilterChain

    web = WebConfig(n_hosts=3, pages_per_host=3, zipf=False)
    store = SnapshotStore(str(tmp_path / "w"))
    c = Crawler(
        spark, store, web,
        CrawlConfig(depth=1, frontier_host_buckets=4, start_time_ms=T0,
                    url_filters=FilterChain(
                        [DomainFilter(["no-such-domain.test"])])),
    )
    c.inject()
    fr = store.read(spark, "frontier")
    assert fr.count() == 0
    assert "url" in fr.columns and "host_bucket" not in fr.columns


def test_streaming_frontier_ingestion_with_seen_filter(spark, tmp_path):
    """The streaming merge with the URL-seen filter produces the same
    frontier as the plain batch chain — the split is semantics-free in
    streaming exactly as in the batch loop — and maintains the seen
    table across micro-batches (built from the frontier on first use,
    add()ed per batch)."""
    from nutch_spark.operators.fetch import fetch
    from nutch_spark.operators.parse import parse
    from nutch_spark.operators.seen import SeenFilter
    from nutch_spark.streaming import stream_updatedb

    web = WebConfig(n_hosts=4, pages_per_host=5, zipf=False)
    robots = {r["host"]: r for r in robots_rows(web)}
    fr0 = inject(spark, None, seeds_df(spark, web), T0).localCheckpoint()

    fl1 = generate(fr0, T0 + 1, "s1", top_n=100)
    res1 = fetch(fl1, robots, web, T0 + 1).localCheckpoint()
    now1 = res1.agg(F.max("fetch_time")).collect()[0][0]
    fr1 = updatedb(spark, fr0, res1, parse(res1)[1].localCheckpoint(),
                   now1).localCheckpoint()
    fl2 = generate(fr1, T0 + 2, "s2", top_n=100)
    res2 = fetch(fl2, robots, web, T0 + 2).localCheckpoint()
    now2 = res2.agg(F.max("fetch_time")).collect()[0][0]
    expected = updatedb(spark, fr1, res2, parse(res2)[1].localCheckpoint(),
                        now2).localCheckpoint()

    store = SnapshotStore(str(tmp_path / "w"))
    store.write(fr0, "frontier")
    incoming = str(tmp_path / "incoming")
    filt = SeenFilter(n_buckets=4, expected_keys_per_bucket=5000)
    res1.coalesce(1).write.mode("append").parquet(incoming)
    stream_updatedb(spark, store, incoming, str(tmp_path / "ckpt"),
                    max_files_per_trigger=1,
                    seen_filter=filt).awaitTermination(120)
    res2.coalesce(1).write.mode("append").parquet(incoming)
    stream_updatedb(spark, store, incoming, str(tmp_path / "ckpt"),
                    max_files_per_trigger=1,
                    seen_filter=filt).awaitTermination(120)

    got = store.read(spark, "frontier")
    flat = lambda df: df.select(
        "url", "status", "fetch_time", "retries", "fetch_interval",
        F.round(F.col("score").cast("double"), 4).alias("score"), "signature",
    )
    assert flat(got).exceptAll(flat(expected)).count() == 0
    assert flat(expected).exceptAll(flat(got)).count() == 0
    # the filter kept pace with the frontier across batches
    n_keys = store.read(spark, "seen").agg(F.sum("n_keys")).collect()[0][0]
    assert n_keys == got.count()


def test_streaming_seen_filter_checks_geometry(spark, tmp_path):
    """The streaming merge rebuilds a seen table committed under another
    geometry (a 4-shard cuckoo Crawler's) before its 8-shard filter
    probes it: the frontier equals the unfiltered batch chain, with no
    URL created twice."""
    from nutch_spark.operators.seen import CuckooSeenFilter
    from nutch_spark.streaming import stream_updatedb

    web = WebConfig(n_hosts=4, pages_per_host=5, zipf=False)
    store = SnapshotStore(str(tmp_path / "w"))
    Crawler(spark, store, web, CrawlConfig(
        seen_filter="cuckoo", seen_params=dict(n_shards=4, m_indexes=1 << 10),
        start_time_ms=T0,
    )).inject()
    fr0 = store.read(spark, "frontier").localCheckpoint()
    robots = {r["host"]: r for r in robots_rows(web)}
    res = fetch(generate(fr0, T0 + 1, "s1", top_n=100), robots, web,
                T0 + 1).localCheckpoint()
    now = res.agg(F.max("fetch_time")).collect()[0][0]
    expected = updatedb(spark, fr0, res, parse(res)[1].localCheckpoint(),
                        now).localCheckpoint()

    incoming = str(tmp_path / "incoming")
    res.coalesce(1).write.mode("append").parquet(incoming)
    stream_updatedb(
        spark, store, incoming, str(tmp_path / "ckpt"),
        seen_filter=CuckooSeenFilter(n_shards=8, m_indexes=1 << 10),
    ).awaitTermination(120)

    got = store.read(spark, "frontier")
    _assert_urls_unique(got)
    assert _full_flat(got).exceptAll(_full_flat(expected)).count() == 0
    assert _full_flat(expected).exceptAll(_full_flat(got)).count() == 0


# ---------------------------------------------------------------------
# Crash matrix: a run killed after a stage's last commit but before its
# manifest mark resumes, in a fresh Crawler, to the uninterrupted run's
# frontier and fetch count: the cut stage is rolled back to the
# snapshots it started from and replayed once (SnapshotStore.run_stage).
# ---------------------------------------------------------------------

_CRASH_WEB = WebConfig(n_hosts=4, pages_per_host=6, zipf=False)
_CRASH_CFG = dict(depth=1, topn=50, dedup_each_cycle=False,
                  collect_stats=False, start_time_ms=T0)


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    store = SnapshotStore(str(tmp_path_factory.mktemp("uninterrupted")))
    crawler = Crawler(spark, store, _CRASH_WEB, CrawlConfig(**_CRASH_CFG))
    crawler.crawl()
    return store.read(spark, "frontier"), crawler.fetched_total()


@pytest.mark.parametrize(
    "stage,seen",
    [
        ("inject", {}),
        ("generate", {}),
        ("fetch", {}),
        ("parse", {}),
        ("updatedb", {}),
        ("updatedb", dict(seen_filter="cuckoo", seen_audit=True,
                          seen_params=dict(n_shards=4, m_indexes=1 << 10))),
    ],
    ids=["inject", "generate", "fetch", "parse", "updatedb",
         "updatedb-cuckoo"],
)
def test_crash_before_mark_resumes(spark, tmp_path, monkeypatch,
                                   uninterrupted, stage, seen):
    segment = "inject" if stage == "inject" else "seg0000"
    mark = SnapshotStore.mark_stage

    def crash_once(self, seg, st, **extra):
        if (seg, st) == (segment, stage):
            monkeypatch.undo()
            raise RuntimeError("killed before the mark")
        mark(self, seg, st, **extra)

    monkeypatch.setattr(SnapshotStore, "mark_stage", crash_once)
    cfg = CrawlConfig(**_CRASH_CFG, **seen)
    root = str(tmp_path / "w")
    with pytest.raises(RuntimeError, match="killed"):
        Crawler(spark, SnapshotStore(root), _CRASH_WEB, cfg).crawl()
    store = SnapshotStore(root)
    resumed = Crawler(spark, store, _CRASH_WEB, cfg)
    resumed.crawl()

    ref, ref_fetched = uninterrupted
    got = store.read(spark, "frontier")
    assert _full_flat(got).exceptAll(_full_flat(ref)).count() == 0
    assert _full_flat(ref).exceptAll(_full_flat(got)).count() == 0
    assert resumed.fetched_total() == ref_fetched
    if seen:
        assert _seen_keys(spark, store) == got.count()


def test_streaming_batch_replay(spark, tmp_path):
    """A batch whose frontier commit landed but whose entry in Spark's
    commit log did not is run again when the query restarts; its
    manifest mark skips it, so the frontier is unchanged. A query over
    a fresh checkpoint still merges its own batch 0."""
    import os

    from nutch_spark.streaming import stream_updatedb

    web = WebConfig(n_hosts=3, pages_per_host=4, zipf=False, gone_frac=0,
                    redir_frac=0)
    robots = {r["host"]: r for r in robots_rows(web)}
    fr0 = inject(spark, None, seeds_df(spark, web), T0).localCheckpoint()
    res1 = fetch(generate(fr0, T0 + 1, "s1", top_n=100), robots, web,
                 T0 + 1).localCheckpoint()
    now1 = res1.agg(F.max("fetch_time")).collect()[0][0]
    fr1 = updatedb(spark, fr0, res1, parse(res1)[1].localCheckpoint(),
                   now1).localCheckpoint()
    res2 = fetch(generate(fr1, T0 + 2, "s2", top_n=100), robots, web,
                 T0 + 2).localCheckpoint()
    now2 = res2.agg(F.max("fetch_time")).collect()[0][0]
    fr2 = updatedb(spark, fr1, res2, parse(res2)[1].localCheckpoint(),
                   now2).localCheckpoint()

    store = SnapshotStore(str(tmp_path / "w"))
    store.write(fr0, "frontier")
    ckpt = str(tmp_path / "ckpt")

    def drain(res, incoming, checkpoint):
        res.coalesce(1).write.mode("append").parquet(str(tmp_path / incoming))
        stream_updatedb(spark, store, str(tmp_path / incoming),
                        checkpoint).awaitTermination(120)
        return _full_flat(store.read(spark, "frontier"))

    def same(a, b):
        return a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0

    assert same(drain(res1, "in1", ckpt), _full_flat(fr1))
    os.remove(os.path.join(ckpt, "commits", "0"))
    os.remove(os.path.join(ckpt, "commits", ".0.crc"))
    stream_updatedb(spark, store, str(tmp_path / "in1"),
                    ckpt).awaitTermination(120)
    assert os.path.exists(os.path.join(ckpt, "commits", "0"))
    assert same(_full_flat(store.read(spark, "frontier")), _full_flat(fr1))
    assert same(drain(res2, "in2", str(tmp_path / "ckpt2")), _full_flat(fr2))
