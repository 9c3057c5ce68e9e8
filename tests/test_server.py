"""REST service surface (service/NutchServer.java + resources/*) —
driven through the Flask test client, no network."""

from __future__ import annotations

import pytest

from nutch_spark.crawl import CrawlConfig, Crawler
from nutch_spark.store import SnapshotStore
from nutch_spark.synth import WebConfig

T0 = 1_700_000_000_000


@pytest.fixture()
def served(spark, tmp_path):
    flask = pytest.importorskip("flask")  # noqa: F841
    from nutch_spark.server import create_app

    web = WebConfig(n_hosts=3, pages_per_host=4, zipf=False)
    cfg = CrawlConfig(depth=1, topn=100, start_time_ms=T0,
                      dedup_each_cycle=False)
    store = SnapshotStore(str(tmp_path / "w"))
    Crawler(spark, store, web, cfg).crawl()
    app = create_app(spark, store, web=web, cfg=cfg)
    app.config.update(TESTING=True)
    return app.test_client(), store


def test_admin_and_db_endpoints(served):
    client, store = served
    r = client.get("/admin")
    assert r.status_code == 200
    body = r.get_json()
    assert body["engine"] == "nutch_spark"
    assert "frontier" in body["tables"]

    r = client.post("/db/crawldb", json={"type": "stats"})
    assert r.status_code == 200
    stats = r.get_json()
    assert sum(row["count"] for row in stats) > 0

    r = client.post("/db/crawldb", json={"type": "topN", "n": 3})
    assert len(r.get_json()) == 3

    some_url = r.get_json()[0]["url"]
    r = client.post("/db/crawldb", json={"type": "url", "url": some_url})
    assert r.get_json()[0]["url"] == some_url

    r = client.post("/db/crawldb", json={"type": "nope"})
    assert r.status_code == 400


def test_segments_hostdb_linkdb(served):
    client, _ = served
    segs = client.get("/segments").get_json()
    assert segs and segs[0]["generated"] > 0
    hosts = client.get("/hostdb").get_json()
    assert len(hosts) >= 3
    # some fetched page has inlinks after the cycle
    dump = client.post(
        "/db/crawldb", json={"type": "dump", "status": 1, "limit": 5}
    ).get_json()
    assert dump  # linked URLs exist
    inl = client.get(f"/linkdb/{dump[0]['url']}").get_json()
    assert isinstance(inl, list)


def test_seed_and_job_cycle(served, spark):
    client, store = served
    before = store.read(spark, "frontier").count()
    r = client.post(
        "/seed", json={"urls": ["http://newhost.example9.com/x"], "now": T0}
    )
    assert r.status_code == 200
    assert r.get_json()["frontier"] == before + 1

    r = client.post("/job/cycle", json={"depth": 1})
    assert r.status_code == 200
    out = r.get_json()
    # success returns the full job record (id + result), mirroring the
    # FAILED path, so clients can correlate with /job history
    assert out["state"] == "FINISHED" and isinstance(out["id"], int)
    assert out["result"]["segment"] == "seg0001"
    assert client.post("/seed", json={}).status_code == 400


def test_config_resource(served):
    """ConfigResource (service/resources/ConfigResource.java:50-...):
    list/get/property/create/delete over named in-memory configs;
    'default' reflects the bound CrawlConfig and is read-only."""
    client, _ = served
    assert client.get("/config").get_json() == ["default"]
    d = client.get("/config/default").get_json()
    assert d["topn"] == 100 and d["depth"] == 1

    r = client.post("/config/fast", json={"topn": 7, "max_count": 2})
    assert r.get_json() == "fast"
    assert set(client.get("/config").get_json()) == {"default", "fast"}
    assert client.get("/config/fast/topn").get_json() == 7
    # unknown property / config → 404
    assert client.get("/config/fast/nope").status_code == 404
    assert client.get("/config/nope").status_code == 404
    # default is read-only
    assert client.post("/config/default", json={}).status_code == 400
    assert client.delete("/config/default").status_code == 400
    assert client.delete("/config/fast").get_json() is True
    assert client.get("/config").get_json() == ["default"]


def test_job_history_and_config_binding(served):
    """JobResource: /job lists run records with state; a named config's
    properties override CrawlConfig for that run."""
    client, _ = served
    assert client.get("/job").get_json() == []
    client.post("/config/tiny", json={"topn": 2})
    r = client.post("/job/cycle", json={"depth": 1, "config": "tiny"})
    assert r.status_code == 200
    rec = r.get_json()
    # topn=2 bound from the named config caps the cycle's fetchlist;
    # success returns the full job record with stats under "result"
    assert rec["result"]["generated"] <= 2
    hist = client.get("/job").get_json()
    assert len(hist) == 1 and hist[0]["state"] == "FINISHED"
    assert hist[0]["config"] == "tiny"
    one = client.get("/job/0").get_json()
    assert one["result"]["generated"] <= 2
    assert client.get("/job/5").status_code == 404
    # unknown config on a job → 404
    assert client.post("/job/cycle", json={"config": "nope"}).status_code == 404


def test_seed_keeps_seen_table_covering_frontier(spark, tmp_path):
    """POST /seed with a seen filter bound: /seed invalidates the stored
    seen table, so every frontier url_hash, seeded ones included, probes
    maybe_seen against the table the next cycle reads."""
    pytest.importorskip("flask")
    from pyspark.sql import functions as F

    from nutch_spark.operators.seen import SeenTable
    from nutch_spark.server import create_app

    web = WebConfig(n_hosts=3, pages_per_host=4, zipf=False)
    cfg = CrawlConfig(depth=1, topn=100, start_time_ms=T0,
                      seen_filter="cuckoo",
                      seen_params=dict(n_shards=4, m_indexes=1 << 10))
    store = SnapshotStore(str(tmp_path / "w"))
    crawler = Crawler(spark, store, web, cfg)
    crawler.inject()
    client = create_app(spark, store, web=web, cfg=cfg).test_client()
    urls = [f"http://seeded{i}.example.com/page{i}" for i in range(50)]
    assert client.post("/seed", json={"urls": urls}).status_code == 200

    fr = store.read(spark, "frontier")
    assert fr.filter(F.col("url").startswith("http://seeded")).count() == 50
    seen = SeenTable(spark, store, crawler._seen).read(fr)
    marked = crawler._seen.mark_seen(fr.select("url", "url_hash"), seen)
    assert marked.filter(~F.col("maybe_seen")).count() == 0
    assert seen.agg(F.sum("n_keys")).collect()[0][0] == fr.count()
