"""The benchmark's workloads: their shapes, set-up, operations and
output checks. The seed reaches the program only through
`WebConfig(seed=...)`.

`steady_cycle` times one `Crawler.cycle`; `crawldb_query` times a
closed loop of read requests through `server.create_app(...)
.test_client()` over a warehouse one `Crawler.cycle` finished in
set-up. Each is the bypass workload for the other's layers.
"""

from __future__ import annotations

import random
import shutil
from collections import Counter
from dataclasses import dataclass
from typing import Callable

from pyspark.sql import functions as F

from nutch_spark.constants import (
    STATUS_FETCH_GONE,
    STATUS_FETCH_REDIR_PERM,
    STATUS_FETCH_REDIR_TEMP,
    STATUS_FETCH_SUCCESS,
)
from nutch_spark.crawl import CrawlConfig, Crawler
from nutch_spark.operators.seen import CuckooSeenFilter, unseen_exact
from nutch_spark.store import SnapshotStore
from nutch_spark.synth import WebConfig, frontier_df, page_outcome, page_url


@dataclass(frozen=True)
class Workload:
    name: str
    op: str  # "cycle", or "query": a round of the request mix
    shape: Callable[[int, int], tuple[WebConfig, CrawlConfig]]  # (seed, cores)
    # seconds one operation takes on a 4-core box: --seconds buys
    # round(seconds / op_s) operations (at least one), a fixed amount of
    # work, so a slow host does not also get fewer, colder operations
    op_s: float


def steady_cycle(seed: int, cores: int) -> tuple[WebConfig, CrawlConfig]:
    """All-due uniform frontier fetched whole with the default crawl
    config, seen filter off: fetch, the three parse materializations
    and updatedb run at fetchlist size."""
    web = WebConfig(seed=seed, n_hosts=200 * cores, pages_per_host=10, zipf=False)
    return web, CrawlConfig(topn=web.n_hosts * web.pages_per_host)


def crawldb_query(seed: int, cores: int) -> tuple[WebConfig, CrawlConfig]:
    """A crawl db five times the cycle's frontier, crawled one cycle
    with the default config (a 1000-URL fetchlist) in set-up, then
    served read-only."""
    web = WebConfig(seed=seed, n_hosts=1000 * cores, pages_per_host=10, zipf=False)
    return web, CrawlConfig()


WORKLOADS = {w.name: w for w in (
    Workload("steady_cycle", "cycle", steady_cycle, op_s=40.0),
    Workload("crawldb_query", "query", crawldb_query, op_s=2.3),
)}


def prepare(spark, root: str, web: WebConfig, cfg: CrawlConfig,
            crawl: bool) -> SnapshotStore:
    """Synthesize the mid-crawl frontier as the warehouse's first
    snapshot; with `crawl`, run one cycle over it, so the warehouse
    holds what a crawl writes: an updatedb-written frontier and a
    segment's fetchlist, fetch results and parse tables."""
    store = SnapshotStore(root)
    store.write(frontier_df(spark, web, cfg.start_time_ms), "frontier")
    if crawl:
        Crawler(spark, store, web, cfg).cycle(0)
    return store


def fresh_copy(template: str, root: str) -> SnapshotStore:
    shutil.copytree(template, root)
    return SnapshotStore(root)


# ---- read surface ----

# One round of the request mix: every read route of the server once,
# at equal weight, since no request log says how a crawl db's readers
# weigh them. The url lookup alternates between a known and an unknown
# key from one round to the next.
QUERY_KINDS = ("stats", "topn", "url", "dump", "hostdb", "linkdb", "segments")


def query_round(i: int) -> list[str]:
    url = "url_known" if i % 2 == 0 else "url_unknown"
    return [url if kind == "url" else kind for kind in QUERY_KINDS]


TOPN, DUMP_LIMIT = 10, 20


def draw_request(kind: str, web: WebConfig, rng: random.Random):
    """(method, path, json body, lookup key) for one request of `kind`.
    Known keys are pages of the synthesized frontier; unknown keys sit
    on hosts the synthetic web does not have."""
    known = page_url(web, rng.randrange(web.n_hosts),
                     rng.randrange(web.pages_per_host))
    if kind == "stats":
        return "POST", "/db/crawldb", {"type": "stats"}, None
    if kind == "topn":
        return "POST", "/db/crawldb", {"type": "topN", "n": TOPN}, None
    if kind == "url_known":
        return "POST", "/db/crawldb", {"type": "url", "url": known}, known
    if kind == "url_unknown":
        unknown = page_url(web, web.n_hosts + rng.randrange(1000), 0)
        return "POST", "/db/crawldb", {"type": "url", "url": unknown}, unknown
    if kind == "dump":
        return "POST", "/db/crawldb", {"type": "dump", "limit": DUMP_LIMIT}, None
    if kind == "hostdb":
        return "GET", "/hostdb", None, None
    if kind == "linkdb":
        return "GET", f"/linkdb/{known}", None, known
    if kind == "segments":
        return "GET", "/segments", None, None
    raise ValueError(kind)


def check_response(kind: str, status: int, body, key: str | None,
                   frontier_rows: int) -> str | None:
    """None if the response is right, else what is wrong with it."""
    if status != 200:
        return f"{kind}: HTTP {status}"
    if not isinstance(body, list):
        return f"{kind}: body is not a list"
    if kind == "stats":
        total = sum(r["count"] for r in body)
        if total != frontier_rows:
            return f"stats: totals {total} != frontier rows {frontier_rows}"
    elif kind == "topn" and len(body) != min(TOPN, frontier_rows):
        return f"topn: {len(body)} rows"
    elif kind == "url_known" and [r["url"] for r in body] != [key]:
        return f"url_known: {len(body)} rows for {key}"
    elif kind == "url_unknown" and body:
        return f"url_unknown: {len(body)} rows for {key}"
    elif kind == "dump" and len(body) != min(DUMP_LIMIT, frontier_rows):
        return f"dump: {len(body)} rows"
    elif kind == "hostdb" and not body:
        return "hostdb: no rows"
    elif kind == "linkdb" and any(r["url"] != key for r in body):
        return f"linkdb: rows for another url than {key}"
    elif kind == "segments" and len(body) != 1:
        return f"segments: {len(body)} rows"
    return None


# ---- cycle output checks (outside the timed region) ----

FETCH_STATUS = {
    "ok": STATUS_FETCH_SUCCESS,
    "redir_temp": STATUS_FETCH_REDIR_TEMP,
    "redir_perm": STATUS_FETCH_REDIR_PERM,
    "gone": STATUS_FETCH_GONE,
    "missing": STATUS_FETCH_GONE,
}


def check_cycle(spark, web: WebConfig, cfg: CrawlConfig, pre: SnapshotStore,
                post: SnapshotStore, stats: dict) -> list[str]:
    """What is wrong with one cycle's output, compared with the
    pre-cycle warehouse and the synthetic web's own page outcomes."""
    problems = []
    now = cfg.start_time_ms + cfg.cycle_ms
    before = pre.read(spark, "frontier")
    due = before.filter(F.col("fetch_time") <= now).count()
    want = min(cfg.topn, due)
    if not stats.get("generated") == stats.get("fetched") == want:
        problems.append(f"generated {stats.get('generated')}, fetched "
                        f"{stats.get('fetched')}, want {want}")

    fetchlist = [r.url for r in post.read(spark, "fetchlist").select("url").collect()]
    expected = Counter(FETCH_STATUS[page_outcome(web, u)[0]] for u in fetchlist)
    got = Counter({r["status"]: r["count"] for r in
                   post.read(spark, "fetch_results").groupBy("status").count().collect()})
    if got != expected:
        problems.append(f"fetch status tally {dict(got)} != {dict(expected)}")

    after = post.read(spark, "frontier").select("url")
    wanted = before.select("url").union(
        post.read(spark, "crawl_parse").select("url")).distinct()
    rows, distinct = after.agg(F.count("*"), F.countDistinct("url")).first()
    missing = wanted.join(after, "url", "left_anti").count()
    extra = after.join(wanted, "url", "left_anti").count()
    if rows != distinct or missing or extra:
        problems.append(f"post-cycle frontier: {rows} rows, {distinct} distinct, "
                        f"{missing} missing, {extra} unexpected")
    return problems


# the geometry Crawler gives CrawlConfig(seen_filter="cuckoo")
SEEN_GEOMETRY = dict(n_shards=32, m_indexes=1 << 14)


def seen_layer(spark, pre: SnapshotStore, post: SnapshotStore, scratch: str) -> dict:
    """Time the cuckoo seen filter on a cycle's own data, outside the
    cycle: build over the pre-cycle frontier, probe the cycle's
    crawl_parse URLs, add the definitely-new ones, each materialised
    through a store write or a count as the crawler does. Also the
    share of those URLs that is really new (the filter's payoff) and
    the share of the really new ones it calls maybe-seen."""
    import time

    filt = CuckooSeenFilter(**SEEN_GEOMETRY)
    store = SnapshotStore(scratch)
    frontier = pre.read(spark, "frontier")
    cands = (post.read(spark, "crawl_parse").select("url").distinct()
             .withColumn("url_hash", F.xxhash64("url")))
    n = cands.count()
    new = unseen_exact(cands, frontier).count()

    t0 = time.perf_counter()
    store.write(filt.build(frontier), "seen")
    seen = store.read(spark, "seen")
    t1 = time.perf_counter()
    said_new = filt.unseen(cands, seen).select("url_hash").localCheckpoint()
    n_said_new = said_new.count()
    t2 = time.perf_counter()
    store.write(filt.add(seen, said_new), "seen")
    t3 = time.perf_counter()
    return {
        "seen.new_share": new / n if n else 0.0,
        "seen.fp_share": (new - n_said_new) / new if new else 0.0,
        "seen.build_s": t1 - t0,
        "seen.probe_s": t2 - t1,
        "seen.write_s": t3 - t2,
    }
