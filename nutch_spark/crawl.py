"""Crawl driver — the depth-K inject→generate→fetch→parse→updatedb loop.

Reference: src/bin/crawl:168-244 / tools/Benchmark.java:237-271 drive
the same loop over MR jobs. Here every stage writes snapshot tables
(store.SnapshotStore ≙ Iceberg commits) inside one
`SnapshotStore.run_stage` step, so a killed run resumes (north_rule
resumability): on restart, completed (segment, stage) pairs are
skipped and their outputs re-read from the snapshot, and the stage
that was cut is rolled back to the snapshots it started from and
replayed. A crash between a stage's last commit and its mark therefore
neither loses the stage nor applies it twice.

The fetch stage is simulated against the deterministic synthetic web
(synth.py) — same contract as the reference's proxy testbed
(tools/proxy/ProxyTestbed.java): reproducible pages, no network.

spark-submit entry point:
    spark-submit --py-files nutch_spark.zip -m nutch_spark.crawl \
        --depth 3 --topn 1000 --warehouse /tmp/crawl
(also runnable as `python -m nutch_spark.crawl`).
"""

from __future__ import annotations

import argparse
import json
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .constants import Defaults
from .functions.scoring import OPIC
from .operators.dedup import dedup
from .operators.fetch import fetch
from .operators.generate import generate, mark_generated
from .operators.inject import inject
from .operators.linkdb import invert_links
from .operators.parse import crawl_parse_from, extract_pages, finish_pages
from .operators.seen import SeenTable, make_filter
from .metrics import partition_counts, status_counters
from .store import SnapshotStore
from .synth import WebConfig, robots_rows, seeds_df


@dataclass
class CrawlConfig:
    depth: int = 3
    topn: int = 1000
    max_count: int = Defaults.GENERATE_MAX_COUNT
    schedule: str = "default"  # default | adaptive | mime_adaptive
    dedup_each_cycle: bool = True
    mark_generate: bool = True
    start_time_ms: int = 1_700_000_000_000
    cycle_ms: int = 3_600_000  # simulated clock advance per cycle
    # False skips per-stage .count() round-trips (throughput mode);
    # counters are still recoverable from the metrics table
    collect_stats: bool = True
    # plugin surface (≙ the reference's conf-enabled plugin set):
    # scoring hooks, scoped normalizer chains, extra URL filters,
    # exemption rules, politeness queue key — all flow to the stages
    hooks: object | None = None  # functions.scoring.ScoringHooks
    normalizers: object | None = None  # urlplugins.ScopedNormalizers
    url_filters: object | None = None  # urlplugins.FilterChain
    exemptions: object | None = None  # urlplugins.ExemptionRules
    parse_filters: object | None = None  # parsefilters.ParseFilterChain
    queue_mode: str = "byHost"  # byHost | byDomain | byIP
    resolver: dict | None = None  # host → IP (byIP mode)
    ignore_external: bool = False
    external_mode: str = "byHost"
    # north_rule "frontier table partitioned by host-hash": when set,
    # frontier snapshots are hive-partitioned on host_bucket =
    # pmod(xxhash64(host), N) — host-scoped reads (hostdb refresh,
    # per-host debugging, politeness-queue prefilters) prune to the
    # buckets they touch instead of scanning the 10^10-row table. The
    # bucket column is derived at write and dropped at read, so the
    # frontier schema the operators see is unchanged. None (default)
    # writes unpartitioned — at gate/test scale dir-partitioning only
    # adds small files.
    frontier_host_buckets: int | None = None
    # north_rule headline: the explicit URL-seen structure IN the loop
    # (replacing the reference's implicit CrawlDb key-existence check,
    # CrawlDbReducer.java:145-147). When set, a partitioned bloom /
    # sharded cuckoo filter (operators/seen.py) is built over the
    # frontier's url_hash at inject, probed against crawl_parse before
    # every updatedb — datums whose URL is DEFINITELY new (no false
    # negatives) skip the frontier-sized full-outer join entirely and
    # take a frontier-free reduce — and incrementally add()ed with the
    # cycle's definitely-new keys after each updatedb. At 10^10 rows
    # the mostly-already-seen outlink stream is the dominant updatedb
    # shuffle this prunes; false positives merely route a new URL
    # through the big join, where the lone-link branch creates it
    # identically (row-identical output either way — see
    # tests/test_cycle.py seen-parity cases).
    seen_filter: str | None = None  # None | "bloom" | "cuckoo"
    seen_params: dict | None = None  # filter ctor kwargs
    # exact anti-join audit of the split (test mode): every
    # maybe_seen=False datum is verified absent from the frontier
    seen_audit: bool = False
    # drop db_gone rows at updatedb (reference -purge404); with the
    # cuckoo filter the purged keys are also delete()d from the seen
    # structure — the operation blooms can't do — so a purged URL
    # becomes fetchable through the filter again
    purge_404: bool = False


class Crawler:
    """Stateful driver over a SnapshotStore warehouse."""

    def __init__(self, spark, store: SnapshotStore, web: WebConfig,
                 cfg: CrawlConfig | None = None):
        self.spark = spark
        self.store = store
        self.web = web
        self.cfg = cfg or CrawlConfig()
        self.robots = {r["host"]: r for r in robots_rows(web)}
        self._seen = make_filter(self.cfg.seen_filter, self.cfg.seen_params)
        self._seen_table = SeenTable(spark, store, self._seen)

    # -- helpers --
    def _plugin_kwargs(self, stage: str) -> dict:
        """Per-stage kwargs for the configured plugin surface (only
        non-default values are passed, so operator defaults rule)."""
        c = self.cfg
        kw: dict = {}
        if c.hooks is not None and stage in ("inject", "generate", "parse",
                                             "updatedb"):
            kw["hooks"] = c.hooks
        if c.normalizers is not None and stage in ("inject", "parse"):
            kw["normalizers"] = c.normalizers
        if c.url_filters is not None and stage in ("inject", "generate",
                                                   "parse"):
            kw["url_filters"] = c.url_filters
        if c.exemptions is not None and stage == "parse":
            kw["exemptions"] = c.exemptions
        if c.parse_filters is not None and stage == "parse":
            kw["parse_filters"] = c.parse_filters
        return kw

    def _frontier(self) -> DataFrame | None:
        if not self.store.exists("frontier"):
            return None
        return self.store.read(self.spark, "frontier")

    def _write_frontier(self, fr: DataFrame) -> None:
        n = self.cfg.frontier_host_buckets
        if n:
            fr = fr.withColumn(
                "host_bucket",
                F.pmod(F.xxhash64("host"), F.lit(int(n))).cast("int"),
            )
            self.store.write(fr, "frontier", partition_by=["host_bucket"],
                             drop_on_read=["host_bucket"])
        else:
            self.store.write(fr, "frontier")

    def _write_metrics(self, df: DataFrame, segment: str, stage: str,
                       with_status: bool = True) -> None:
        m = partition_counts(df, segment, stage)
        if with_status and "status" in df.columns:
            m = m.unionByName(status_counters(df, segment, stage))
        self.store.append(m, "metrics")

    # -- stages --
    def inject(self, seeds: DataFrame | None = None) -> None:
        self.store.run_stage("inject", "inject", lambda: self._inject(seeds))

    def _inject(self, seeds: DataFrame | None) -> None:
        seeds = seeds if seeds is not None else seeds_df(self.spark, self.web)
        fr = inject(
            self.spark, self._frontier(), seeds, self.cfg.start_time_ms,
            **self._plugin_kwargs("inject"),
        )
        self._seen_table.commit_frontier(fr, write=self._write_frontier)
        if self._seen is not None:
            # build the URL-seen structure over the injected frontier —
            # one shuffle on bucket/shard, each partition builds its
            # slice independently (seen.py build). The first updatedb's
            # SeenTable.read would build it too; building here keeps the
            # stored table covering the frontier for a direct store read
            # of `seen` before then (its n_keys right after inject)
            self._seen_table.read(self._frontier())
        self._write_metrics(self._frontier(), "inject", "inject")

    def cycle(self, depth: int) -> dict:
        """One generate→fetch→parse→updatedb(→dedup) round; each stage
        runs through SnapshotStore.run_stage, so a resumed round skips
        the stages marked done and rolls back and replays the one that
        was cut. Returns counters for the round."""
        seg = f"seg{depth:04d}"
        now = self.cfg.start_time_ms + (depth + 1) * self.cfg.cycle_ms
        stats: dict = {"segment": seg}
        run = self.store.run_stage

        run(seg, "generate", lambda: self._generate(seg, now))
        fl = self.store.read(self.spark, "fetchlist")
        # without collect_stats, emptiness only
        stats["generated"] = (fl if self.cfg.collect_stats else fl.limit(1)).count()
        if stats["generated"] == 0:
            for stage in ("fetch", "parse", "updatedb"):
                self.store.mark_stage(seg, stage)
            return stats

        run(seg, "fetch", lambda: self._fetch(seg, now, fl))
        res = self.store.read(self.spark, "fetch_results")
        if self.cfg.collect_stats:
            stats["fetched"] = res.count()

        run(seg, "parse", lambda: self._parse(res))
        if self.cfg.collect_stats:
            stats["parsed"] = self.store.read(self.spark, "parse_data").count()

        crawl_parse = self.store.read(self.spark, "crawl_parse")
        run(seg, "updatedb", lambda: self._updatedb(seg, now, res, crawl_parse))
        if self.cfg.collect_stats:
            stats["frontier"] = self._frontier().count()
        return stats

    def _generate(self, seg: str, now: int) -> None:
        fr = self._frontier()
        fl = generate(
            fr, now, seg, top_n=self.cfg.topn,
            max_count=self.cfg.max_count,
            **self._plugin_kwargs("generate"),
        )
        self.store.write(fl, "fetchlist")
        if self.cfg.mark_generate:
            self._write_frontier(mark_generated(
                fr, self.store.read(self.spark, "fetchlist"), now))

    def _fetch(self, seg: str, now: int, fl: DataFrame) -> None:
        res = fetch(
            fl, self.robots, self.web, now,
            queue_mode=self.cfg.queue_mode,
            resolver=self.cfg.resolver,
        )
        self.store.write(res, "fetch_results")
        self._write_metrics(
            self.store.read(self.spark, "fetch_results"), seg, "fetch"
        )

    def _parse(self, res: DataFrame) -> None:
        # three materializations ≙ the reference segment's parse_text /
        # parse_data / crawl_parse dirs; each expensive expression chain
        # runs exactly once per page (see parse.py)
        pk = self._plugin_kwargs("parse")
        self.store.write(extract_pages(res), "parse_text")
        base = self.store.read(self.spark, "parse_text")
        self.store.write(
            finish_pages(
                base,
                ignore_external=self.cfg.ignore_external,
                external_mode=self.cfg.external_mode,
                exemptions=pk.get("exemptions"),
                normalizers=pk.get("normalizers"),
                url_filters=pk.get("url_filters"),
                parse_filters=pk.get("parse_filters"),
            ),
            "parse_data",
        )
        pd_r = self.store.read(self.spark, "parse_data")
        self.store.write(
            crawl_parse_from(
                pd_r, res,
                hooks=pk.get("hooks") or OPIC,
                normalizers=pk.get("normalizers"),
            ),
            "crawl_parse",
        )

    def _updatedb(self, seg: str, now: int, res: DataFrame,
                  crawl_parse: DataFrame) -> None:
        def write(fr: DataFrame) -> None:
            self._write_frontier(dedup(fr) if self.cfg.dedup_each_cycle else fr)

        self._seen_table.merge(
            res, crawl_parse, now,
            audit=self.cfg.seen_audit,
            write=write,
            schedule=self.cfg.schedule,
            purge_404=self.cfg.purge_404,
            **self._plugin_kwargs("updatedb"),
        )
        self._write_metrics(self._frontier(), seg, "updatedb")

    def fetched_total(self) -> int:
        """Total fetched URLs from the lineage metrics (throughput
        mode's replacement for per-stage counts)."""
        m = self.store.read(self.spark, "metrics")
        row = (
            m.filter((F.col("stage") == "fetch") & (F.col("counter") == "rows"))
            .agg(F.sum("value").alias("v"))
            .collect()[0]
        )
        return int(row.v or 0)

    def invertlinks(self) -> None:
        pd_ = self.store.read(self.spark, "parse_data")
        self.store.write(invert_links(pd_), "linkdb")

    def crawl(self, seeds: DataFrame | None = None) -> list[dict]:
        self.inject(seeds)
        rounds = []
        for d in range(self.cfg.depth):
            rounds.append(self.cycle(d))
        return rounds


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description="nutch_spark crawl driver")
    ap.add_argument("--depth", type=int, default=3)
    ap.add_argument("--topn", type=int, default=1000)
    ap.add_argument("--warehouse", default="/tmp/nutch_spark_warehouse")
    ap.add_argument("--hosts", type=int, default=50)
    ap.add_argument("--pages-per-host", type=int, default=20)
    ap.add_argument("--cores", type=int, default=None)
    args = ap.parse_args(argv)

    from .session import get_spark

    spark = get_spark(cores=args.cores)
    spark.sparkContext.setLogLevel("ERROR")
    web = WebConfig(n_hosts=args.hosts, pages_per_host=args.pages_per_host)
    crawler = Crawler(
        spark,
        SnapshotStore(args.warehouse),
        web,
        CrawlConfig(depth=args.depth, topn=args.topn),
    )
    t = time.time()
    rounds = crawler.crawl()
    elapsed = time.time() - t
    total = sum(r.get("fetched", 0) for r in rounds)
    print(json.dumps({"rounds": rounds, "elapsed_sec": elapsed,
                      "urls_fetched": total,
                      "throughput_urls_per_sec": total / max(elapsed, 1e-9)}))


if __name__ == "__main__":
    main()
