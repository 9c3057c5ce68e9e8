"""Generate — select the next fetchlist from the frontier.

Semantics from reference crawl/Generator.java:
  * due filter = FetchSchedule.shouldFetch incl. the too-remote clamp
    (AbstractFetchSchedule.java:183-197, Generator.java:194-198);
  * skip URLs generated within crawl.gen.delay (Generator.java:200-206);
  * optional filter chain, min-score threshold, SQL row predicate
    (Generator.java:178-236 — JEXL predicate ≙ F.expr);
  * sort by decreasing score (DecreasingFloatComparator,
    Generator.java:362-369); we break ties by url_hash for determinism;
  * per-host/domain cap `generate.max.count` with the reference's exact
    keep counts (Generator.java:296-340): segment 1 keeps maxCount−1
    URLs per host, segments 2..maxNumSegments keep maxCount each —
    replicated with a host-partitioned window rank;
  * global topN (per-reducer `limit` in the reference,
    Generator.java:141-142 — here a true global topN);
  * fetchlist partitioned by host (URLPartitioner.java:66-94) and
    sorted within partitions by url_hash (HashComparator,
    Generator.java:399-429) so fetch order decorrelates from insert
    order; the partitioning seed is a deterministic function of the
    segment id rather than Random() (north_rule determinism);
  * optionally write generate_time marker back into the frontier
    (Generator.CrawlDbUpdater, Generator.java:434-476).

Scale notes: the per-host cap is a window over host partitions (no
global shuffle beyond the host hash partitioning, which the fetch stage
needs anyway). Global topN uses orderBy(score).limit(topN) — Spark
plans TakeOrderedAndProject (per-partition heap top-N, merged once) —
NOT a full global sort; for topN beyond driver memory switch to the
threshold variant (approxQuantile on score, then filter) kept below.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import Defaults, META_GENERATE_TIME
from ..functions.schedules import clamped_interval, should_fetch
from ..functions.scoring import OPIC, ScoringHooks
from ..functions.urls import accept_urls, domain_col


def generate(
    frontier: DataFrame,
    cur_time_ms: int,
    segment: str,
    top_n: int = 50_000,
    max_count: int = Defaults.GENERATE_MAX_COUNT,
    count_mode: str = "host",  # host | domain
    max_num_segments: int = 1,
    apply_filters: bool = False,
    min_score: float | None = None,
    predicate: str | None = None,
    gen_delay_ms: int = Defaults.GEN_DELAY_MS,
    max_interval: int = Defaults.FETCH_INTERVAL_MAX,
    num_fetch_partitions: int | None = None,
    hooks: ScoringHooks = OPIC,
    url_filters=None,  # functions.urlplugins.FilterChain | None
    add_days: int = 0,  # Generator -adddays: advance the due clock
) -> DataFrame:
    """Return the fetchlist DataFrame (frontier cols + segment).

    Ordering uses `hooks.generator_sort_value` — the
    ScoringFilter.generatorSortValue hook point (Generator.java:183-189;
    OPIC returns score × initSort, preserving plain score order)."""
    df = frontier
    if apply_filters:
        df = df.filter(accept_urls(F.col("url")))
    if url_filters is not None:
        from ..functions.urlplugins import filter_pred

        df = df.filter(filter_pred(url_filters, F.col("url")))
    if min_score is not None:
        df = df.filter(F.col("score") >= F.lit(float(min_score)))
    if predicate:
        df = df.filter(F.expr(predicate))

    # skip recently generated (crawl.gen.delay)
    ngt = F.element_at(
        F.coalesce(F.col("metadata"), F.create_map().cast("map<string,string>")),
        META_GENERATE_TIME,
    ).cast("long")
    df = df.filter(ngt.isNull() | (ngt < F.lit(cur_time_ms - gen_delay_ms)))

    # due filter + clamp; -adddays shifts the due clock forward
    # (Generator.java:746, 826-828: curTime += days · 86400000)
    due_ms = cur_time_ms + add_days * 86_400_000
    df = df.filter(
        should_fetch(F.col("fetch_time"), F.col("fetch_interval"), due_ms, max_interval)
    ).withColumn(
        "fetch_interval",
        clamped_interval(F.col("fetch_time"), F.col("fetch_interval"), due_ms, max_interval),
    )

    # metadata-aware sort hook (scoring-depth boosts shallow pages from
    # the datum's _depth_/_maxdepth_ keys) takes precedence when set
    if hooks.generator_sort_value_meta is not None:
        sort_val = hooks.generator_sort_value_meta(
            F.col("score"), F.col("metadata")
        )
    else:
        sort_val = hooks.generator_sort_value(F.col("score"))

    # per-host/domain cap with the reference's keep counts
    if max_count > 0:
        key = F.col("host") if count_mode == "host" else domain_col(F.col("host"))
        w = Window.partitionBy(key).orderBy(sort_val.desc(), F.asc("url_hash"))
        r = F.row_number().over(w)
        segnum = (
            F.when(r <= max_count - 1, F.lit(1))
            .otherwise(
                (F.lit(2) + F.floor((r - max_count) / F.lit(max_count))).cast("int")
            )
        )
        df = (
            df.withColumn("_segnum", segnum)
            .filter(F.col("_segnum") <= max_num_segments)
        )
    else:
        df = df.withColumn("_segnum", F.lit(1))

    # global topN — TakeOrderedAndProject, not a full sort
    if top_n > 0:
        df = df.orderBy(sort_val.desc(), F.asc("url_hash")).limit(top_n)

    out = df.withColumn(
        "segment",
        F.when(F.col("_segnum") == 1, F.lit(segment)).otherwise(
            F.concat(F.lit(segment), F.lit("-"), F.col("_segnum"))
        ),
    ).drop("_segnum")

    # host-partitioned, url_hash-ordered layout for the fetch stage;
    # deterministic per-segment salt replaces the reference's Random()
    nparts = num_fetch_partitions or out.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    salt = F.xxhash64(F.col("host"), F.lit(segment))
    return (
        out.repartition(int(nparts), salt)
        .sortWithinPartitions("host", "url_hash")
    )


def free_generate(
    urls: DataFrame,
    segment: str,
    cur_time_ms: int,
    normalize: bool = True,
    apply_filters: bool = True,
    hooks: ScoringHooks = OPIC,
    num_fetch_partitions: int | None = None,
) -> DataFrame:
    """Fetchlist straight from an arbitrary URL list — no CrawlDb
    (tools/FreeGenerator.java: normalize with the inject scope, filter,
    injectedScore hook, dedup by URL, then the standard fetchlist
    partition/sort layout). Useful for one-off fetches of a hand-made
    list."""
    from ..functions.urls import host_of, url_hash_col, with_normalized

    df = urls.select("url")
    if normalize:
        df = (
            with_normalized(df.withColumnRenamed("url", "_raw"), "_raw", "url")
            .drop("_raw")
            .filter(F.col("url").isNotNull() & (F.col("url") != ""))
        )
    if apply_filters:
        df = df.filter(accept_urls(F.col("url")))
    df = df.dropDuplicates(["url"])
    out = df.select(
        "url",
        url_hash_col(F.col("url")).alias("url_hash"),
        host_of(F.col("url")).alias("host"),
        F.lit(1).alias("status"),  # db_unfetched
        F.lit(cur_time_ms).alias("fetch_time"),
        F.lit(0).alias("retries"),
        F.lit(Defaults.FETCH_INTERVAL).alias("fetch_interval"),
        hooks.injected_score(
            F.lit(float(Defaults.SCORE_INJECTED))
        ).cast("float").alias("score"),
        F.lit(None).cast("string").alias("signature"),
        F.lit(0).cast("long").alias("modified_time"),
        F.lit(None).cast("map<string,string>").alias("metadata"),
        F.lit(segment).alias("segment"),
    )
    nparts = num_fetch_partitions or out.sparkSession.conf.get(
        "spark.sql.shuffle.partitions"
    )
    salt = F.xxhash64(F.col("host"), F.lit(segment))
    return (
        out.repartition(int(nparts), salt)
        .sortWithinPartitions("host", "url_hash")
    )


def mark_generated(frontier: DataFrame, fetchlist: DataFrame, cur_time_ms: int) -> DataFrame:
    """generate.update.crawldb write-back (Generator.java:434-476):
    set the _ngt_ metadata marker on generated rows."""
    # AQE broadcasts the (topN-bounded) generated set when it fits
    gen = fetchlist.select("url").withColumn("_gen", F.lit(True))
    j = frontier.join(gen, "url", "left")
    meta = F.coalesce(F.col("metadata"), F.create_map().cast("map<string,string>"))
    new_meta = F.when(
        F.col("_gen").isNotNull(),
        F.map_concat(
            F.map_filter(meta, lambda k, _v: k != META_GENERATE_TIME),
            F.create_map(F.lit(META_GENERATE_TIME), F.lit(str(cur_time_ms))),
        ),
    ).otherwise(F.col("metadata"))
    return j.withColumn("metadata", new_meta).drop("_gen")
