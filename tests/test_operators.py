"""Dedup, LinkDb, HostDb, ReadDb, and the URL-seen bloom filter."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from nutch_spark.constants import (
    STATUS_DB_DUPLICATE,
    STATUS_DB_FETCHED,
    STATUS_DB_NOTMODIFIED,
    STATUS_DB_UNFETCHED,
)
from nutch_spark.operators.dedup import dedup
from nutch_spark.operators.linkdb import (
    hostdb,
    invert_links,
    linkrank,
    merge_linkdbs,
    node_degrees,
)
from nutch_spark.operators.readdb import dump, read_url, retry_histogram, stats, topn
from nutch_spark.operators.seen import (
    CuckooSeenFilter,
    SeenFilter,
    unseen_exact,
)
from nutch_spark.schema import FRONTIER

T0 = 1_700_000_000_000


def fr_row(url, status=STATUS_DB_FETCHED, score=1.0, sig=None, ft=T0, ulen_pad=0, retries=0):
    from tests.oracle import url_hash

    return Row(
        url=url + "x" * ulen_pad,
        url_hash=url_hash(url + "x" * ulen_pad),
        host=url.split("/")[2],
        status=status,
        fetch_time=ft,
        retries=retries,
        fetch_interval=2_592_000,
        score=float(score),
        signature=sig,
        modified_time=0,
        metadata={},
    )


# ---- dedup (FIXTURES.md §F) ----

def test_dedup_keeps_best_by_score(spark):
    rows = [
        fr_row("http://a.example.com/1", score=5.0, sig="S"),
        fr_row("http://b.example.com/2", score=3.0, sig="S"),
        fr_row("http://c.example.com/3", score=1.0, sig="T"),
    ]
    out = {r.url: r.status for r in dedup(spark.createDataFrame(rows, FRONTIER)).collect()}
    assert out["http://a.example.com/1"] == STATUS_DB_FETCHED
    assert out["http://b.example.com/2"] == STATUS_DB_DUPLICATE
    assert out["http://c.example.com/3"] == STATUS_DB_FETCHED


def test_dedup_tiebreaks(spark):
    # equal score ⇒ fetch_time desc wins; equal both ⇒ shorter url wins
    rows = [
        fr_row("http://a.example.com/1", score=1.0, sig="S", ft=T0 + 10),
        fr_row("http://b.example.com/2", score=1.0, sig="S", ft=T0),
        fr_row("http://c.example.com/3", score=2.0, sig="U", ft=T0),
        fr_row("http://c.example.com/3", score=2.0, sig="U", ft=T0, ulen_pad=3),
    ]
    out = {r.url: r.status for r in dedup(spark.createDataFrame(rows, FRONTIER)).collect()}
    assert out["http://a.example.com/1"] == STATUS_DB_FETCHED
    assert out["http://b.example.com/2"] == STATUS_DB_DUPLICATE
    assert out["http://c.example.com/3"] == STATUS_DB_FETCHED
    assert out["http://c.example.com/3xxx"] == STATUS_DB_DUPLICATE


def test_dedup_only_fetched_compete(spark):
    rows = [
        fr_row("http://a.example.com/1", status=STATUS_DB_UNFETCHED, sig="S"),
        fr_row("http://b.example.com/2", status=STATUS_DB_NOTMODIFIED, sig="S", score=9),
        fr_row("http://c.example.com/3", status=STATUS_DB_FETCHED, sig="S", score=1),
        fr_row("http://d.example.com/4", status=STATUS_DB_FETCHED, sig=None),
    ]
    out = {r.url: r.status for r in dedup(spark.createDataFrame(rows, FRONTIER)).collect()}
    assert out["http://a.example.com/1"] == STATUS_DB_UNFETCHED  # not eligible
    assert out["http://b.example.com/2"] == STATUS_DB_NOTMODIFIED  # winner
    assert out["http://c.example.com/3"] == STATUS_DB_DUPLICATE
    assert out["http://d.example.com/4"] == STATUS_DB_FETCHED  # null sig exempt


def test_dedup_group_by_host(spark):
    rows = [
        fr_row("http://a.example.com/1", score=5.0, sig="S"),
        fr_row("http://a.example.com/2", score=3.0, sig="S"),
        fr_row("http://b.example.com/3", score=1.0, sig="S"),
    ]
    out = {r.url: r.status for r in dedup(
        spark.createDataFrame(rows, FRONTIER), group_mode="host"
    ).collect()}
    # same host pair dedups; other host unaffected
    assert out["http://a.example.com/2"] == STATUS_DB_DUPLICATE
    assert out["http://b.example.com/3"] == STATUS_DB_FETCHED


# ---- linkdb ----

def parse_data_df(spark, pages):
    from nutch_spark.schema import PARSE_DATA

    rows = []
    for url, links in pages:
        outlinks = [
            Row(to_url=t, anchor=f"anchor-{i}", kind="link", link_order=i + 1)
            for i, t in enumerate(links)
        ]
        rows.append(Row(url=url, title="t", text="x", signature="s",
                        outlinks=outlinks, spans=None, segment="s",
                        host=None, score=1.0, fetch_time=None,
                        is_canonical=True, metadata=None))
    return spark.createDataFrame(rows, PARSE_DATA)


def test_invert_links(spark):
    pd_ = parse_data_df(
        spark,
        [
            ("http://a.example.com/", ["http://t.example.com/x", "http://u.example.com/y"]),
            ("http://b.example.com/", ["http://t.example.com/x"]),
        ],
    )
    ldb = {r.url: r.inlinks for r in invert_links(pd_).collect()}
    assert sorted(i.from_url for i in ldb["http://t.example.com/x"]) == [
        "http://a.example.com/",
        "http://b.example.com/",
    ]
    assert len(ldb["http://u.example.com/y"]) == 1


def test_invert_links_cap_and_anchor_trunc(spark):
    links = [(f"http://s{i}.example.com/", ["http://t.example.com/x"]) for i in range(10)]
    pd_ = parse_data_df(spark, links)
    ldb = invert_links(pd_, max_inlinks=4).collect()
    assert len(ldb[0].inlinks) == 4

    long_anchor_pd = parse_data_df(spark, [("http://a.example.com/", ["http://t.example.com/x"])])
    from nutch_spark.schema import PARSE_DATA

    rows = long_anchor_pd.collect()
    row = rows[0]
    mod = Row(url=row.url, title=row.title, text=row.text, signature=row.signature,
              outlinks=[Row(to_url="http://t.example.com/x", anchor="A" * 300,
                            kind="link", link_order=1)], spans=None, segment="s",
              host=None, score=1.0, fetch_time=None, is_canonical=True,
              metadata=None)
    out = invert_links(spark.createDataFrame([mod], PARSE_DATA)).collect()[0]
    assert len(out.inlinks[0].anchor) == 100


def test_merge_linkdbs(spark):
    a = invert_links(parse_data_df(spark, [("http://a.example.com/", ["http://t.example.com/x"])]))
    b = invert_links(parse_data_df(spark, [("http://b.example.com/", ["http://t.example.com/x"])]))
    merged = {r.url: r.inlinks for r in merge_linkdbs(a, b).collect()}
    assert len(merged["http://t.example.com/x"]) == 2


def test_hostdb(spark):
    rows = [
        fr_row("http://a.example.com/1", status=STATUS_DB_FETCHED, score=2.0),
        fr_row("http://a.example.com/2", status=STATUS_DB_UNFETCHED, score=4.0),
        fr_row("http://b.example.com/3", status=STATUS_DB_FETCHED),
    ]
    h = {r.host: r for r in hostdb(spark.createDataFrame(rows, FRONTIER)).collect()}
    assert h["a.example.com"].num_urls == 2
    assert h["a.example.com"].n_db_fetched == 1
    assert h["a.example.com"].n_db_unfetched == 1
    assert h["a.example.com"].max_score == pytest.approx(4.0)


def test_node_degrees_and_linkrank(spark):
    pd_ = parse_data_df(
        spark,
        [
            ("http://a.example.com/", ["http://b.example.com/", "http://c.example.com/"]),
            ("http://b.example.com/", ["http://c.example.com/"]),
        ],
    )
    ldb = invert_links(pd_)
    nd = {r.url: (r.out_degree, r.in_degree) for r in node_degrees(pd_, ldb).collect()}
    assert nd["http://a.example.com/"] == (2, 0)
    assert nd["http://c.example.com/"] == (0, 2)

    edges = pd_.select(F.col("url").alias("from_url"), F.explode("outlinks").alias("o")).select(
        "from_url", F.col("o.to_url").alias("to_url")
    )
    scores = {r.url: r.score for r in linkrank(edges, iterations=5).collect()}
    # c has the most inlinks ⇒ highest rank; a has none ⇒ 0.15 base
    assert scores["http://c.example.com/"] > scores["http://b.example.com/"]
    assert scores["http://a.example.com/"] == pytest.approx(0.15)


# ---- readdb ----

def test_readdb_surface(spark):
    rows = [
        fr_row("http://a.example.com/1", status=STATUS_DB_FETCHED, score=5.0),
        fr_row("http://a.example.com/2", status=STATUS_DB_UNFETCHED, score=2.0, retries=2),
        fr_row("http://b.example.com/3", status=STATUS_DB_FETCHED, score=1.0),
    ]
    fr = spark.createDataFrame(rows, FRONTIER)
    st = {r.status: r for r in stats(fr).collect()}
    assert st[STATUS_DB_FETCHED]["count"] == 2
    assert st[STATUS_DB_FETCHED].status_name == "db_fetched"
    assert st[STATUS_DB_FETCHED].max_score == pytest.approx(5.0)

    assert {r.retries: r["count"] for r in retry_histogram(fr).collect()} == {0: 2, 2: 1}

    assert dump(fr, status=STATUS_DB_UNFETCHED).count() == 1
    assert dump(fr, min_retries=1).count() == 1
    assert dump(fr, url_regex=r".*b\.example.*").count() == 1
    assert dump(fr, expr="score > 1.5 AND status = 2").count() == 1

    t = topn(fr, 2)
    assert [r.url for r in t.collect()] == [
        "http://a.example.com/1",
        "http://a.example.com/2",
    ]
    assert topn(fr, 10, min_score=1.5).count() == 2
    assert read_url(fr, "http://b.example.com/3").count() == 1


# ---- URL-seen bloom ----

def test_seen_filter_no_false_negatives(spark):
    sf = SeenFilter(n_buckets=8, expected_keys_per_bucket=1000)
    rows = [fr_row(f"http://h{i % 5}.example.com/p/{i}") for i in range(200)]
    fr = spark.createDataFrame(rows, FRONTIER)
    seen = sf.build(fr).cache()
    assert seen.count() == 8
    marked = sf.mark_seen(fr.select("url", "url_hash"), seen)
    # every frontier url must be flagged (bloom guarantees no false negatives)
    assert marked.filter(~F.col("maybe_seen")).count() == 0


def test_seen_filter_fp_rate_and_unseen(spark):
    sf = SeenFilter(n_buckets=8, bits_per_key=10, expected_keys_per_bucket=1000)
    known = [fr_row(f"http://h{i % 5}.example.com/p/{i}") for i in range(500)]
    fr = spark.createDataFrame(known, FRONTIER)
    seen = sf.build(fr).cache()
    novel = spark.createDataFrame(
        [Row(url=f"http://new{i}.example.com/x/{i}",
             url_hash=__import__("tests.oracle", fromlist=["url_hash"]).url_hash(
                 f"http://new{i}.example.com/x/{i}")) for i in range(1000)]
    )
    marked = sf.mark_seen(novel, seen)
    fp = marked.filter(F.col("maybe_seen")).count()
    assert fp / 1000 < 0.05  # ~1% expected at 10 bits/key
    # bloom-unseen ⊆ exact-unseen (definitely-new guarantee)
    bloom_unseen = {r.url for r in sf.unseen(novel, seen).collect()}
    exact = {r.url for r in unseen_exact(novel, fr).collect()}
    assert bloom_unseen <= exact


def test_seen_filter_incremental_add(spark):
    sf = SeenFilter(n_buckets=4, expected_keys_per_bucket=1000)
    base = [fr_row(f"http://a.example.com/p/{i}") for i in range(50)]
    extra = [fr_row(f"http://b.example.com/q/{i}") for i in range(50)]
    fr_a = spark.createDataFrame(base, FRONTIER)
    fr_b = spark.createDataFrame(extra, FRONTIER)
    seen = sf.add(sf.build(fr_a), fr_b.select("url_hash")).cache()
    both = fr_a.select("url", "url_hash").union(fr_b.select("url", "url_hash"))
    assert sf.mark_seen(both, seen).filter(~F.col("maybe_seen")).count() == 0
    # equivalent to building from the union at once
    seen2 = sf.build(fr_a.unionByName(fr_b))
    a = {(r.bucket, bytes(r.bitset)) for r in seen.collect()}
    b = {(r.bucket, bytes(r.bitset)) for r in seen2.collect()}
    assert a == b


def test_seen_partitioned_probe_matches_broadcast(spark):
    """The cogroup (no-driver-collect) probe returns exactly the
    broadcast probe's verdicts — the 10^10-frontier path is semantics-
    identical (round-2: scale-safe bloom probe)."""
    sf = SeenFilter(n_buckets=8, bits_per_key=10, expected_keys_per_bucket=1000)
    from nutch_spark.functions.urls import url_hash_col as uh

    fr = spark.range(2000).select(
        F.concat(F.lit("http://h.example.com/p/"), F.col("id")).alias("url")
    ).withColumn("url_hash", uh(F.col("url")))
    seen = sf.build(fr)
    novel = spark.range(1500, 2500).select(
        F.concat(F.lit("http://h.example.com/p/"), F.col("id")).alias("url")
    ).withColumn("url_hash", uh(F.col("url")))
    bro = {
        r.url: r.maybe_seen
        for r in sf.mark_seen(novel, seen, mode="broadcast").collect()
    }
    par = {
        r.url: r.maybe_seen
        for r in sf.mark_seen(novel, seen, mode="partitioned").collect()
    }
    assert bro == par
    assert len(par) == 1000
    # definitely-new guarantee still holds through the partitioned path
    exact = {r.url for r in unseen_exact(novel, fr).collect()}
    assert {u for u, s in par.items() if not s} <= exact


@pytest.mark.parametrize("mode", ["broadcast", "partitioned"])
@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_seen_empty_shards_probe_new(spark, kind, mode):
    """Both filters share one probe skeleton: a candidate whose shard
    the build left without a row comes back definitely-new in either
    probe shape, while every frontier key still comes back
    maybe_seen."""
    import numpy as np

    filt = (SeenFilter(n_buckets=8, expected_keys_per_bucket=1000)
            if kind == "bloom"
            else CuckooSeenFilter(n_shards=8, m_indexes=256))
    keys = np.random.default_rng(3).integers(-(2**62), 2**62, 3000)
    fr_keys = [int(h) for h in keys if h % 8 in (1, 4)]  # ≙ pmod
    new_keys = [int(h) for h in keys if h % 8 not in (1, 4)]

    def df(ks):
        return spark.createDataFrame(
            [(f"u{h}", h) for h in ks], "url string, url_hash long"
        )

    seen = filt.build(df(fr_keys)).cache()
    assert sorted(r[0] for r in seen.select(filt._KEY).collect()) == [1, 4]
    marked = {
        r.url_hash: r.maybe_seen
        for r in filt.mark_seen(df(fr_keys + new_keys), seen,
                                mode=mode).collect()
    }
    assert all(marked[h] for h in fr_keys)
    assert not any(marked[h] for h in new_keys)


# ---- URL-seen cuckoo ----


def _replay_cuckoo(keys, ns, m, slots):
    """Pure-Python replay of the deterministic two-round placement —
    the same program ORACLE_BLOOM_UNSEEN's cuckoo branch runs in SQL.
    Returns (stored {(shard, idx, fp)}, stash {(shard, h)})."""
    from collections import defaultdict

    mix = 0x5BD1E995
    stored, stash = set(), set()
    by_shard = defaultdict(list)
    for h in sorted(set(keys)):
        by_shard[h % ns].append(h)
    for shard, hs in by_shard.items():
        occ = defaultdict(int)
        groups, spill = defaultdict(list), []
        for h in hs:  # ascending
            fp = ((h >> 32) & 0xFFFF) or 1
            i1 = h & (m - 1)
            groups[i1].append((h, fp, i1 ^ ((fp * mix) & (m - 1))))
        for i1, lst in groups.items():
            for r, (h, fp, i2) in enumerate(lst):
                if r < slots:
                    stored.add((shard, i1, fp))
                    occ[i1] += 1
                else:
                    spill.append((h, fp, i2))
        bgroups = defaultdict(list)
        for h, fp, i2 in sorted(spill):
            bgroups[i2].append((h, fp))
        for i2, lst in bgroups.items():
            cap = slots - occ[i2]
            for r, (h, fp) in enumerate(lst):
                if r < cap:
                    stored.add((shard, i2, fp))
                else:
                    stash.add((shard, h))
    return stored, stash


def _cuckoo_contents(cf, seen):
    """(stored, stash) sets out of built shard rows."""
    import numpy as np

    stored, stash = set(), set()
    for r in seen.collect():
        tbl = np.frombuffer(bytes(r.table), np.uint16).reshape(
            cf.m, cf.slots
        )
        for i, s in zip(*np.nonzero(tbl)):
            stored.add((r.shard, int(i), int(tbl[i, s])))
        for h in np.frombuffer(bytes(r.stash), np.int64):
            stash.add((r.shard, int(h)))
    return stored, stash


def test_cuckoo_no_false_negatives_and_overflow(spark):
    """Overloaded tiny table (load factor ≈ 2): placements spill to
    the exact stash, membership stays false-negative-free."""
    import numpy as np

    cf = CuckooSeenFilter(n_shards=2, m_indexes=8, slots=2)
    rows = [fr_row(f"http://h{i % 7}.example.com/p/{i}") for i in range(64)]
    fr = spark.createDataFrame(rows, FRONTIER)
    seen = cf.build(fr).cache()
    assert seen.count() == 2
    assert any(
        len(np.frombuffer(bytes(r.stash), np.int64)) for r in seen.collect()
    )
    marked = cf.mark_seen(fr.select("url", "url_hash"), seen)
    assert marked.filter(~F.col("maybe_seen")).count() == 0


def test_cuckoo_placement_matches_sql_replay(spark):
    """The NumPy build's stored (shard, index, fp) set and stash equal
    the pure-Python replay of the window-function program the DuckDB
    oracle runs — false-positive-level parity, not just membership."""
    cf = CuckooSeenFilter(n_shards=4, m_indexes=64, slots=2)
    rows = [
        fr_row(f"http://h{i % 13}.example.com/p/{i}") for i in range(400)
    ]
    fr = spark.createDataFrame(rows, FRONTIER)
    stored_e, stash_e = _cuckoo_contents(cf, cf.build(fr))
    keys = [r.url_hash for r in rows]
    stored_p, stash_p = _replay_cuckoo(keys, cf.n_shards, cf.m, cf.slots)
    assert stored_e == stored_p
    assert stash_e == stash_p
    assert stash_p  # the shape actually exercises the stash


def test_cuckoo_unseen_subset_of_exact_and_modes_agree(spark):
    cf = CuckooSeenFilter(n_shards=8, m_indexes=256, slots=4)
    from tests.oracle import url_hash

    known = [fr_row(f"http://h{i % 5}.example.com/p/{i}") for i in range(500)]
    fr = spark.createDataFrame(known, FRONTIER)
    seen = cf.build(fr).cache()
    novel = spark.createDataFrame(
        [
            Row(url=u, url_hash=url_hash(u))
            for i in range(1000)
            for u in [f"http://new{i}.example.com/x/{i}"]
        ]
    )
    bro = {
        r.url: r.maybe_seen
        for r in cf.mark_seen(novel, seen, mode="broadcast").collect()
    }
    par = {
        r.url: r.maybe_seen
        for r in cf.mark_seen(novel, seen, mode="partitioned").collect()
    }
    assert bro == par and len(par) == 1000
    unseen = {r.url for r in cf.unseen(novel, seen).collect()}
    exact = {r.url for r in unseen_exact(novel, fr).collect()}
    assert unseen <= exact
    # 16-bit fingerprints: FP rate well under 1%
    assert sum(v for v in bro.values()) / 1000 < 0.01


def test_cuckoo_incremental_add_and_delete(spark):
    """add() inserts into free slots without rebuild; delete() removes
    one occurrence (the bloom can't do this) — deleted keys stop
    matching, survivors keep matching."""
    cf = CuckooSeenFilter(n_shards=4, m_indexes=256, slots=4)
    a = [fr_row(f"http://a.example.com/p/{i}") for i in range(120)]
    b = [fr_row(f"http://b.example.com/q/{i}") for i in range(120)]
    fr_a = spark.createDataFrame(a, FRONTIER)
    fr_b = spark.createDataFrame(b, FRONTIER)
    seen = cf.add(cf.build(fr_a), fr_b.select("url_hash")).cache()
    both = fr_a.select("url", "url_hash").union(
        fr_b.select("url", "url_hash")
    )
    assert cf.mark_seen(both, seen).filter(~F.col("maybe_seen")).count() == 0
    n_total = sum(r.n_keys for r in seen.collect())
    assert n_total == 240
    # delete the b-half; a-half must still match, b-half must not
    # (deterministic data — this also pins that no fp collisions
    # between the halves mask the deletes at this shape)
    seen2 = cf.delete(seen, fr_b.select("url_hash")).cache()
    marked = {
        r.url: r.maybe_seen for r in cf.mark_seen(both, seen2).collect()
    }
    assert all(marked[r.url] for r in a)
    assert not any(marked[r.url] for r in b)
    assert sum(r.n_keys for r in seen2.collect()) == 120


def test_update_hostdb_failures_homepage_lastcheck(spark):
    """HostDatum fields: connection failures (retries != 0), homepage
    = fetched root URL, dns carry/reset, last_check, purge
    (HostDatum.java:34-193, ResolverThread.java:60-100)."""
    from pyspark.sql import Row

    from nutch_spark.operators.linkdb import update_hostdb
    from nutch_spark.schema import FRONTIER

    def fr_row(url, host, status=2, retries=0):
        return Row(url=url, url_hash=hash(url), host=host, status=status,
                   fetch_time=1, retries=retries, fetch_interval=2592000,
                   score=1.0, signature=None, modified_time=0, metadata=None)

    fr = spark.createDataFrame(
        [
            fr_row("http://a.com/", "a.com"),            # fetched root
            fr_row("http://a.com/x", "a.com", retries=2),
            fr_row("http://b.com/", "b.com", status=1),  # unfetched root
            fr_row("http://b.com/y", "b.com"),
            fr_row("http://c.com/z", "c.com"),
        ],
        FRONTIER,
    )
    prev = spark.createDataFrame([("b.com", 3), ("c.com", 1)],
                                 ["host", "dns_failures"])
    failed = spark.createDataFrame([("b.com",), ("a.com",)], ["host"])
    out = {r.host: r for r in update_hostdb(
        fr, prev_hostdb=prev, cur_time_ms=999, dns_failed_hosts=failed
    ).collect()}
    assert out["a.com"].homepage_url == "http://a.com/"
    assert out["b.com"].homepage_url is None  # root unfetched
    assert out["a.com"].connection_failures == 1
    assert out["a.com"].dns_failures == 1      # failed, no prev → 0+1
    assert out["b.com"].dns_failures == 4      # failed, prev 3 → 4
    assert out["c.com"].dns_failures == 0      # resolvable → reset
    assert all(r.last_check == 999 for r in out.values())
    purged = {r.host for r in update_hostdb(
        fr, prev_hostdb=prev, cur_time_ms=999, dns_failed_hosts=failed,
        purge_failed_hosts_threshold=2,
    ).collect()}
    assert purged == {"a.com", "c.com"}  # b.com at 4 failures > 2 purged


def test_read_hostdb_expr_homepages_hostnames_get(spark):
    """ReadHostDb query surface: JEXL-style expr filter, -dumpHostnames,
    -dumpHomepages (rows without a homepage skipped), and -get
    (ReadHostDb.java:66-202)."""
    from pyspark.sql import Row

    from nutch_spark.operators.linkdb import (
        hostdb_get,
        read_hostdb,
        update_hostdb,
    )
    from nutch_spark.schema import FRONTIER

    def fr_row(url, host, status=2, retries=0):
        return Row(url=url, url_hash=hash(url), host=host, status=status,
                   fetch_time=1, retries=retries, fetch_interval=2592000,
                   score=1.0, signature=None, modified_time=0, metadata=None)

    fr = spark.createDataFrame(
        [
            fr_row("http://a.com/", "a.com"),
            fr_row("http://a.com/x", "a.com", retries=2),
            fr_row("http://b.com/y", "b.com"),
        ],
        FRONTIER,
    )
    hdb = update_hostdb(fr, cur_time_ms=5)
    filtered = read_hostdb(hdb, expr="connection_failures > 0")
    assert [r.host for r in filtered.collect()] == ["a.com"]
    names = read_hostdb(hdb, dump_hostnames=True)
    assert names.columns == ["host"]
    assert {r.host for r in names.collect()} == {"a.com", "b.com"}
    homes = read_hostdb(hdb, dump_homepages=True)
    assert homes.columns == ["homepage_url"]
    # b.com has no fetched root → skipped
    assert [r.homepage_url for r in homes.collect()] == ["http://a.com/"]
    got = hostdb_get(hdb, "b.com").collect()
    assert len(got) == 1 and got[0].num_urls == 1


def test_segment_stats_and_dump(spark):
    from pyspark.sql import Row

    from nutch_spark.operators.segment import segment_dump, segment_get, segment_stats

    fl = spark.createDataFrame(
        [Row(url=f"http://h/{i}", segment="s1") for i in range(4)]
        + [Row(url="http://h/9", segment="s2")]
    )
    fr = spark.createDataFrame(
        [Row(url=f"http://h/{i}", segment="s1", fetch_time=100 + i, status=33)
         for i in range(3)]
    )
    pd_ = spark.createDataFrame(
        [Row(url="http://h/0", segment="s1", text="t")]
    )
    stats = {r.segment: r for r in segment_stats(fl, fr, pd_).collect()}
    s1 = stats["s1"]
    assert (s1.generated, s1.fetched, s1.parsed) == (4, 3, 1)
    assert (s1.fetch_start, s1.fetch_end) == (100, 102)
    s2 = stats["s2"]
    assert (s2.generated, s2.fetched, s2.parsed) == (1, -1, -1)

    dump = segment_dump(fetchlist=fl, fetch_results=fr, parse_data=pd_)
    assert dump.count() == 5 + 3 + 1
    got = segment_get("http://h/0", fetchlist=fl, fetch_results=fr,
                      parse_data=pd_)
    parts = {r.part for r in got.collect()}
    assert parts == {"crawl_generate", "crawl_fetch", "parse_data"}


def test_segment_check(spark):
    """SegmentChecker truth table (segment/SegmentChecker.java:44-140):
    indexable needs fetch + full parse output; parsed needs parse_data
    + crawl_parse; a segment absent from a part reports it missing."""
    from pyspark.sql import Row

    from nutch_spark.operators.segment import segment_check

    fl = spark.createDataFrame(
        [Row(url="http://h/0", segment="s1"),
         Row(url="http://h/9", segment="s2")]
    )
    fr = spark.createDataFrame([Row(url="http://h/0", segment="s1")])
    pt = spark.createDataFrame([Row(url="http://h/0", segment="s1", text="t")])
    pd_ = spark.createDataFrame([Row(url="http://h/0", segment="s1")])
    cp = spark.createDataFrame([Row(url="http://h/1", segment="s1")])

    full = segment_check("s1", fetchlist=fl, fetch_results=fr,
                         parse_text=pt, parse_data=pd_, crawl_parse=cp)
    assert full["parsed"] and full["indexable"]
    # s2 was generated but never fetched/parsed
    gen_only = segment_check("s2", fetchlist=fl, fetch_results=fr,
                             parse_text=pt, parse_data=pd_, crawl_parse=cp)
    assert gen_only["fetchlist"]
    assert not gen_only["fetch_results"]
    assert not gen_only["parsed"] and not gen_only["indexable"]
    # fetched but parse incomplete (no crawl_parse) → not indexable
    no_cp = segment_check("s1", fetchlist=fl, fetch_results=fr,
                          parse_text=pt, parse_data=pd_, crawl_parse=None)
    assert no_cp["fetch_results"] and not no_cp["parsed"]
    assert not no_cp["indexable"]


def test_choose_repr_golden():
    """URLUtil.chooseRepr truth table (util/URLUtil.java:325-417)."""
    from nutch_spark.functions.urls import choose_repr

    # 1) cross-domain → dst, temp or perm
    assert choose_repr("http://a.com/", "http://b.com/x", False) == "http://b.com/x"
    assert choose_repr("http://a.com/", "http://b.com/x", True) == "http://b.com/x"
    # 2) perm + src root → src
    assert choose_repr("http://a.com/", "http://a.com/xyz/index.html", False) == "http://a.com/"
    # 3/4) perm + src not root → dst
    assert choose_repr("http://a.com/xyz/index.html", "http://a.com/", False) == "http://a.com/"
    assert choose_repr("http://a.com/x/i.html", "http://a.com/a/p.html", False) == "http://a.com/a/p.html"
    # 5) temp + src root, dst not → src
    assert choose_repr("http://a.com/", "http://a.com/xyz/index.html", True) == "http://a.com/"
    # 7) temp + dst root, src not → dst
    assert choose_repr("http://a.com/xyz/index.html", "http://a.com/", True) == "http://a.com/"
    # 8) temp + neither root, same host → shorter path
    assert choose_repr("http://a.com/xyz/deep/i.html", "http://a.com/p.html", True) == "http://a.com/p.html"
    assert choose_repr("http://a.com/aa.html", "http://a.com/bbbb.html", True) == "http://a.com/aa.html"
    # 9) temp + different hosts → shorter subdomain chain
    assert choose_repr("http://www.news.a.com/x/i.html", "http://www.a.com/x/i.html", True) == "http://www.a.com/x/i.html"
    # malformed → dst
    assert choose_repr("nota url", "http://a.com/", True) == "http://a.com/"


def test_redirect_repr_flows_to_frontier(spark):
    """A permanent redirect from a non-root page keeps the destination;
    a temp redirect from the root carries the ROOT as repr-URL into
    the new frontier row's metadata."""
    from pyspark.sql import functions as F

    from nutch_spark.constants import (
        META_REPR_URL,
        STATUS_FETCH_REDIR_TEMP,
    )
    from nutch_spark.operators.parse import parse
    from nutch_spark.operators.updatedb import updatedb
    from nutch_spark.schema import FETCH_RESULTS
    from tests.test_parse import fetch_result_row

    row = fetch_result_row(
        "http://h.example.com/", [], status=STATUS_FETCH_REDIR_TEMP,
        redirect_to="http://h.example.com/landing/page",
    )
    df = spark.createDataFrame([row], FETCH_RESULTS)
    _, cp = parse(df)
    linked = cp.filter(F.col("from_url").isNotNull()).collect()[0]
    assert linked.url == "http://h.example.com/landing/page"
    assert linked.metadata[META_REPR_URL] == "http://h.example.com/"
    fr = updatedb(spark, None, df, cp, 1_700_000_000_000)
    new_row = {r.url: r for r in fr.collect()}[
        "http://h.example.com/landing/page"
    ]
    assert new_row.metadata[META_REPR_URL] == "http://h.example.com/"


def test_free_generate(spark):
    from pyspark.sql import Row

    from nutch_spark.operators.generate import free_generate

    urls = spark.createDataFrame(
        [Row(url=u) for u in [
            "http://a.example.com/x",
            "HTTP://A.example.com/x",      # normalizes to dup → dedup
            "http://b.example.com/img.gif",  # filtered
            "mailto:x@y.com",                # filtered
            "http://c.example.com/ok",
        ]]
    )
    out = free_generate(urls, "seg1", 1_700_000_000_000)
    got = sorted(r.url for r in out.collect())
    assert got == [
        "http://a.example.com/x",
        "http://c.example.com/ok",
    ]
    r0 = out.collect()[0]
    assert r0.segment == "seg1" and r0.status == 1


def test_linkrank_quantized_tracks_double(spark):
    """Fixed-point LinkRank (bigint micro-units) agrees with the
    double-precision variant to quantization error and is exactly
    reproducible across partitioning."""
    from pyspark.sql import Row

    from nutch_spark.operators.linkdb import linkrank, linkrank_quantized

    edges = spark.createDataFrame(
        [Row(from_url=f"u{i}", to_url=f"u{(i * 7 + 1) % 40}")
         for i in range(200)]
    )
    d = {r.url: r.score for r in linkrank(edges, iterations=5).collect()}
    q = {r.url: r.score_units for r in
         linkrank_quantized(edges, iterations=5).collect()}
    assert set(d) == set(q)
    for u in d:
        assert abs(d[u] - q[u] / 1e6) < 1e-3, u
    q2 = {r.url: r.score_units for r in
          linkrank_quantized(edges.repartition(13), iterations=5).collect()}
    assert q == q2  # bit-identical under different partitioning


def test_segment_cli_list_and_get(spark, tmp_path, capsys):
    """`python -m nutch_spark.operators.segment` — the readseg CLI twin."""
    import json

    from pyspark.sql import Row

    from nutch_spark.operators import segment as segmod
    from nutch_spark.store import SnapshotStore

    store = SnapshotStore(str(tmp_path / "w"))
    fl = spark.createDataFrame(
        [Row(url=f"http://h/{i}", segment="s1") for i in range(3)]
    )
    fr = spark.createDataFrame(
        [Row(url="http://h/0", segment="s1", fetch_time=5, status=33)]
    )
    store.write(fl, "fetchlist")
    store.write(fr, "fetch_results")
    segmod.main(["--warehouse", str(tmp_path / "w"), "list"])
    out = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert out[0]["segment"] == "s1"
    assert out[0]["generated"] == 3 and out[0]["fetched"] == 1
    assert out[0]["parsed"] == -1  # parse_data table absent

    segmod.main(["--warehouse", str(tmp_path / "w"), "get", "http://h/0"])
    got = [json.loads(l) for l in capsys.readouterr().out.strip().splitlines()]
    assert {g["part"] for g in got} == {"crawl_generate", "crawl_fetch"}


def test_domain_and_completion_stats(spark):
    """DomainStatistics modes + CrawlCompletionStats + protocol status
    counts (util/domain/DomainStatistics.java, CrawlCompletionStats,
    ProtocolStatusStatistics)."""
    from pyspark.sql import Row

    from nutch_spark.operators.readdb import (
        crawl_completion_stats,
        domain_statistics,
        protocol_status_stats,
    )
    from nutch_spark.schema import FRONTIER

    def fr_row(url, host, status):
        return Row(url=url, url_hash=hash(url), host=host, status=status,
                   fetch_time=1, retries=0, fetch_interval=2592000,
                   score=1.0, signature=None, modified_time=0, metadata=None)

    fr = spark.createDataFrame(
        [
            fr_row("http://a.example.co.uk/1", "a.example.co.uk", 2),
            fr_row("http://b.example.co.uk/2", "b.example.co.uk", 6),
            fr_row("http://c.other.com/3", "c.other.com", 2),
            fr_row("http://c.other.com/4", "c.other.com", 1),  # unfetched
        ],
        FRONTIER,
    )
    dom = {r.key: r.n_urls for r in
           domain_statistics(fr, mode="domain").collect()}
    assert dom == {"example.co.uk": 2, "other.com": 1}
    hst = {r.key: r.n_urls for r in
           domain_statistics(fr, mode="host").collect()}
    assert hst == {"a.example.co.uk": 1, "b.example.co.uk": 1,
                   "c.other.com": 1}
    sfx = {r.key: r.n_urls for r in
           domain_statistics(fr, mode="suffix").collect()}
    assert sfx == {"co.uk": 2, "com": 1}
    tld = {r.key: r.n_urls for r in
           domain_statistics(fr, mode="tld").collect()}
    assert tld == {"uk": 2, "com": 1}
    cc = {(r.key, r.state): r.n_urls for r in
          crawl_completion_stats(fr, mode="domain").collect()}
    assert cc[("example.co.uk", "FETCHED")] == 2
    assert cc[("other.com", "FETCHED")] == 1
    assert cc[("other.com", "UNFETCHED")] == 1

    fres = spark.createDataFrame(
        [Row(protocol_status=s) for s in
         ["success", "success", "notfound", "robots_denied"]]
    )
    ps = {r.protocol_status: r.n_urls for r in
          protocol_status_stats(fres).collect()}
    assert ps == {"success": 2, "notfound": 1, "robots_denied": 1}


def test_score_updater_and_webgraph_dumps(spark):
    """ScoreUpdater overwrite/clear semantics + NodeDumper topN +
    LinkDbReader dump/get (scoring/webgraph/ScoreUpdater.java,
    NodeDumper.java; crawl/LinkDbReader.java)."""
    from pyspark.sql import Row

    from nutch_spark.operators.linkdb import (
        invert_links,
        linkdb_dump,
        linkdb_get,
        node_topn,
        update_scores,
    )
    from nutch_spark.schema import FRONTIER

    def fr_row(url):
        return Row(url=url, url_hash=hash(url), host="h", status=2,
                   fetch_time=1, retries=0, fetch_interval=2592000,
                   score=9.0, signature=None, modified_time=0, metadata=None)

    fr = spark.createDataFrame([fr_row("http://h/a"), fr_row("http://h/b")],
                               FRONTIER)
    scores = spark.createDataFrame([Row(url="http://h/a", score=2.5)])
    out = {r.url: r.score for r in update_scores(fr, scores).collect()}
    assert out["http://h/a"] == 2.5
    assert out["http://h/b"] == 0.0  # cleared, no node row

    nodes = spark.createDataFrame(
        [Row(url=f"http://h/{i}", in_degree=i, out_degree=10 - i)
         for i in range(5)]
    )
    top = [r.url for r in node_topn(nodes, by="in_degree", n=2).collect()]
    assert top == ["http://h/4", "http://h/3"]

    pd_ = parse_data_df(
        spark, [("http://a/", ["http://t/x"]), ("http://b/", ["http://t/x"])]
    )
    ldb = invert_links(pd_)
    flat = linkdb_dump(ldb).collect()
    assert {(r.url, r.from_url) for r in flat} == {
        ("http://t/x", "http://a/"), ("http://t/x", "http://b/"),
    }
    got = linkdb_get(ldb, "http://t/x").collect()
    assert len(got) == 2


def test_pyfiles_zip_importable(tmp_path):
    """The --py-files archive contains the full package and is
    importable from the zip alone (spark-submit deploy shape)."""
    import subprocess
    import sys
    import zipfile

    from nutch_spark.package import make_pyfiles_zip

    z = make_pyfiles_zip(str(tmp_path / "nutch_spark.zip"))
    names = zipfile.ZipFile(z).namelist()
    assert "nutch_spark/operators/updatedb.py" in names
    assert "nutch_spark/pipeline/dedup_docs.py" in names
    assert not any("__pycache__" in n for n in names)
    # import from the zip in a clean interpreter (no repo on sys.path)
    code = (
        "import sys; sys.path.insert(0, sys.argv[1]); "
        "import nutch_spark.constants as c; "
        "import nutch_spark.functions.urls as u; "
        "print(u.normalize_url('HTTP://X.com/a//b'))"
    )
    out = subprocess.run(
        [sys.executable, "-c", code, z],
        capture_output=True, text=True, cwd=str(tmp_path),
    )
    assert out.stdout.strip() == "http://x.com/a/b", out.stderr


def test_gate_registry_pinned_at_driver_window():
    """The correctness driver oracles only the FIRST 50 queries()
    entries (r02 silently lost 7 gates past the window). The registry
    is pinned: exactly 50 entries, every entry has an oracle twin, and
    every gate that has ever been green stays present — adding a new
    gate requires merging two existing ones first (tag-union), never
    growing the dict."""
    import __spark_entry__ as entry_mod

    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert len(q) == 50, f"registry must stay at 50 entries, got {len(q)}"
    assert set(q) == set(o), (
        "every queries() entry needs an oracle_sql() twin: "
        f"missing={set(q) - set(o)}, orphaned={set(o) - set(q)}"
    )
    # the r04-green gate set — a silent drop of any of these loses an
    # operator's oracle row
    green_r04 = {
        "readdb_stats", "readdb_topn", "readdb_dump", "hostdb",
        "dedup_mark", "inject", "generate_topn", "generate_multiseg",
        "linkdb_invert", "node_degrees", "updatedb", "crawldb_merge",
        "segment_merge", "segment_list", "completion_stats",
        "fetch_politeness", "seen_exact", "text_profile_signature",
        "index_documents", "parse_canonical", "url_normalize_regex",
        "hostdb_tools", "warc_export", "urlfilter_chain",
        "bloom_unseen", "linkrank", "link_dumper", "score_update",
        "updatedb_schedules", "index_plugins", "index_actions",
        "score_similarity", "score_depth", "score_link",
        "parsefilter_regex", "parsefilter_nb", "file_dump",
        "dedup_exact", "dedup_ngram_jaccard", "dedup_fingerprints",
        "dedup_minhash_lsh", "dedup_clusters", "dedup_simhash_pairs",
        "dedup_embedding", "text_features", "text_repetition",
        "knn_cosine", "knn_ivf", "media_pipeline", "events_rollup",
    }
    assert set(q) == green_r04, (
        f"gate set changed: dropped={green_r04 - set(q)}, "
        f"added={set(q) - green_r04} — merge, don't grow/drop"
    )


def test_cuckoo_two_round_delete_multiset(spark):
    """The order-independent two-round delete (seen.py _remove):
    deletes consume stored OCCURRENCES of their fingerprint at i1
    first (rank-guarded by the count there), then i2, then the exact
    stash key — mirroring the build's two-round placement. Crafted
    keys sharing (i1, fp) pin the multiset behavior: removing some
    occurrences keeps the survivors (and, per the documented paper
    §3.2 caveat, anything sharing their fingerprint) member-positive."""
    import numpy as np
    from pyspark.sql import functions as F

    from nutch_spark.operators.seen import CuckooSeenFilter

    cf = CuckooSeenFilter(n_shards=1, m_indexes=16, slots=4)
    # ten distinct keys, all fp=5, i1=3 → 4 fill i1, 4 fill i2, 2 stash
    keys = [(5 << 32) | (k << 8) | 3 for k in range(10)]
    fr = spark.createDataFrame([(h,) for h in keys], "url_hash long")
    built = cf.build(fr).localCheckpoint()
    row = built.collect()[0]
    assert row.n_keys == 10
    stash = np.frombuffer(row.stash, dtype=np.int64)
    assert len(stash) == 2  # overflow past both 4-slot indexes

    # delete three slot-stored keys: three occurrences consumed at i1
    gone = spark.createDataFrame([(h,) for h in keys[:3]], "url_hash long")
    after = cf.delete(built, gone).localCheckpoint()
    arow = after.collect()[0]
    assert arow.n_keys == 7
    table = np.frombuffer(arow.table, dtype=np.uint16)
    assert (table == 5).sum() == 5  # 8 slot occurrences - 3
    assert len(np.frombuffer(arow.stash, dtype=np.int64)) == 2
    # survivors (and fp-sharing deleted keys — the documented caveat)
    # all still probe seen: occurrences of fp=5 remain at i1/i2
    probe = spark.createDataFrame(
        [(h,) for h in keys], "url_hash long"
    )
    marked = cf.mark_seen(probe, after)
    assert marked.filter(~F.col("maybe_seen")).count() == 0

    # deleting the stashed keys consumes SLOTS first (i1 preference,
    # same as the sequential paper scan) — their exact stash entries
    # remain, so they stay member-positive via the stash
    stash_keys = [int(h) for h in stash]
    gone2 = spark.createDataFrame(
        [(h,) for h in stash_keys], "url_hash long"
    )
    after2 = cf.delete(after, gone2).collect()[0]
    assert after2.n_keys == 5
    t2 = np.frombuffer(after2.table, dtype=np.uint16)
    assert (t2 == 5).sum() == 3
    assert len(np.frombuffer(after2.stash, dtype=np.int64)) == 2

    # delete everything left: slots drain, then the stash empties by
    # exact key; a second full delete is a no-op (nothing stored)
    gone3 = spark.createDataFrame([(h,) for h in keys], "url_hash long")
    d1 = cf.delete(spark.createDataFrame([after2], after.schema), gone3)
    d1 = d1.localCheckpoint()
    r1 = d1.collect()[0]
    assert (np.frombuffer(r1.table, dtype=np.uint16) == 5).sum() == 0
    assert len(np.frombuffer(r1.stash, dtype=np.int64)) == 0
    r2 = cf.delete(d1, gone3).collect()[0]
    assert r2.n_keys == r1.n_keys  # no-op on absent keys
