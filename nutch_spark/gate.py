"""Correctness-gate queries: each entry runs a real nutch_spark operator
over inputs DERIVED from the driver's parquet tables, paired with an
ANSI-SQL oracle that DuckDB evaluates over the same tables.

Derivation strategy: the crawl engine's tables (frontier, seeds, link
edges) are synthesized from `orders` / `customer` / `lineitem` with SQL
text that evaluates identically on Spark SQL and DuckDB (same concat/
cast/md5/arithmetic semantics — verified: both treat `%` with higher
precedence than `+`, both produce lowercase-hex md5, both render bigint
casts to identical strings). The Spark side then applies the REAL
operator implementations (operators/*.py); the oracle re-expresses the
operator's semantics in portable SQL. Column names and output types
(bigint/double/string only) are aligned on both sides so the driver's
sorted-column value-hash comparison is exact.

Float discipline: every numeric that reaches an output is either an
integer carried in bigint, or a double produced by an identical IEEE
op sequence on both engines (exact multiples of 0.25 for scores, so
sums/aggregations are exact and order-insensitive).

Reference parity notes are in each operator module's docstring; this
module only wires operators to the gate.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()

# simulated "now" for generate/updatedb gate queries (ms epoch)
CUR_MS = 1_703_600_000_000


def _url(k: str) -> str:
    """Shared SQL expr: synthesize a canonical URL from a bigint key."""
    return (
        f"concat('http://host', cast({k} % 97 as string), '.example', "
        f"cast({k} % 3 as string), '.com/p/', cast({k} as string))"
    )


def _host(k: str) -> str:
    return (
        f"concat('host', cast({k} % 97 as string), '.example', "
        f"cast({k} % 3 as string), '.com')"
    )


# --- shared derivation SQL (identical text on Spark SQL and DuckDB) ---

FRONTIER_SQL = f"""
SELECT
  {_url('o_orderkey')} AS url,
  cast(o_orderkey * 2654435761 as bigint) AS url_hash,
  {_host('o_orderkey')} AS host,
  cast(1 + o_orderkey % 6 as int) AS status,
  cast(1700000000000 + (o_orderkey % 2000) * 3600000 as bigint) AS fetch_time,
  cast(o_orderkey % 4 as int) AS retries,
  cast(case when o_orderkey % 10 = 0 then 8000000 else 2592000 end as int)
    AS fetch_interval,
  cast((o_orderkey % 41) * 0.25 as double) AS score,
  case when o_orderkey % 6 in (1, 5)
       then md5(cast(o_orderkey % 300 as string)) end AS signature,
  cast(case when o_orderkey % 5 = 0 then 1690000000000 else 0 end as bigint)
    AS modified_time
FROM orders
"""

SEEDS_SQL = f"""
SELECT {_url('skey')} AS url
FROM (
  SELECT case when c_custkey % 3 = 0 then c_custkey * 7 + 300000
              else c_custkey * 7 end AS skey
  FROM customer
) s
"""

# link edges: lineitem rows as (from page, to page, anchor)
LINKS_SQL = f"""
SELECT
  {_url('l_orderkey')} AS from_url,
  {_url('l_partkey')} AS to_url,
  concat('anchor-', cast(l_linenumber as string)) AS anchor
FROM lineitem
"""

# fetch results for 1/3 of the frontier (keys with k % 3 = 1), so old
# rows with status db_fetched (k%6=1 → has signature) get re-fetched —
# exercising the signature-compare modified/notmodified branches.
FETCH_SQL = f"""
SELECT
  {_url('o_orderkey')} AS url,
  cast(case o_orderkey % 18
       when 1 then 33 when 4 then 34 when 7 then 35
       when 10 then 36 when 13 then 37 else 38 end as int) AS status,
  cast({CUR_MS} as bigint) AS fetch_time,
  cast(o_orderkey % 4 as int) AS retries,
  cast(case when o_orderkey % 10 = 0 then 8000000 else 2592000 end as int)
    AS fetch_interval,
  cast((o_orderkey % 41) * 0.25 as double) AS score,
  cast(0 as bigint) AS prev_modified_time
FROM orders
WHERE o_orderkey % 3 = 1
"""

# parse signature datums for the fetched URLs (status 0x41 = 65);
# new signature = md5(k % 350) — equals the old md5(k % 300) for k < 300,
# so both modified and notmodified outcomes occur.
SIGS_SQL = f"""
SELECT
  {_url('o_orderkey')} AS url,
  cast(65 as int) AS status,
  md5(cast(o_orderkey % 350 as string)) AS signature
FROM orders
WHERE o_orderkey % 3 = 1
"""

# linked datums (status 0x43 = 67): OPIC contributions of 0.25 per edge;
# 1/7 of targets point at never-seen URLs (key + 500000).
LINKED_SQL = f"""
SELECT
  {_url('tkey')} AS url,
  cast(67 as int) AS status,
  cast(0.25 as double) AS score,
  cast(2592000 as int) AS fetch_interval,
  {_url('l_orderkey')} AS from_url,
  concat('anchor-', cast(l_linenumber as string)) AS anchor
FROM (
  SELECT l_orderkey, l_linenumber,
         case when l_partkey % 7 = 0 then l_partkey + 500000
              else l_partkey end AS tkey
  FROM lineitem
  WHERE l_orderkey % 5 = 0
) t
"""

STATUS_CASE = (
    "case status when 1 then 'db_unfetched' when 2 then 'db_fetched' "
    "when 3 then 'db_gone' when 4 then 'db_redir_temp' "
    "when 5 then 'db_redir_perm' when 6 then 'db_notmodified' "
    "when 7 then 'db_duplicate' end"
)


def _views(spark: SparkSession, sf_dir: str, names: list[str]) -> None:
    for t in names:
        spark.read.parquet(f"{sf_dir}/{t}.parquet").createOrReplaceTempView(t)


def _null_meta(df: DataFrame) -> DataFrame:
    return df.withColumn(
        "metadata", F.lit(None).cast("map<string,string>")
    )


def frontier_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["orders"])
    return _null_meta(spark.sql(FRONTIER_SQL))


def seeds_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["customer"])
    return _null_meta(spark.sql(SEEDS_SQL))


def links_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["lineitem"])
    return spark.sql(LINKS_SQL)


def fetch_results_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    _views(spark, sf_dir, ["orders"])
    return _null_meta(spark.sql(FETCH_SQL))


def crawl_parse_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Union of signature + linked datums shaped like schema.CRAWL_PARSE."""
    _views(spark, sf_dir, ["orders", "lineitem"])
    sigs = spark.sql(SIGS_SQL).select(
        "url",
        "status",
        F.lit(0.0).cast("float").alias("score"),
        F.lit(2592000).alias("fetch_interval"),
        "signature",
        F.lit(None).cast("string").alias("anchor"),
        F.lit(None).cast("string").alias("from_url"),
    )
    linked = spark.sql(LINKED_SQL).select(
        "url",
        "status",
        F.col("score").cast("float").alias("score"),
        "fetch_interval",
        F.lit(None).cast("string").alias("signature"),
        "anchor",
        "from_url",
    )
    return _null_meta(sigs.unionByName(linked))


# ---------------------------------------------------------------------
# queries — each returns (callable, oracle_sql | None)
# ---------------------------------------------------------------------

def q_readdb_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.readdb import stats

    out = stats(frontier_df(spark, sf_dir))
    return out.select(
        F.col("status").cast("long").alias("status"),
        "status_name",
        F.col("count").cast("long").alias("n_urls"),
        F.col("min_score").cast("double").alias("min_score"),
        F.col("max_score").cast("double").alias("max_score"),
        F.col("avg_score").cast("double").alias("avg_score"),
        F.col("earliest_fetch_time").cast("long").alias("earliest_fetch_time"),
        F.col("latest_fetch_time").cast("long").alias("latest_fetch_time"),
        F.col("max_retries").cast("long").alias("max_retries"),
    )


ORACLE_READDB_STATS = f"""
WITH frontier AS ({FRONTIER_SQL})
SELECT cast(status as bigint) AS status,
       {STATUS_CASE} AS status_name,
       cast(count(*) as bigint) AS n_urls,
       cast(min(score) as double) AS min_score,
       cast(max(score) as double) AS max_score,
       cast(avg(score) as double) AS avg_score,
       cast(min(fetch_time) as bigint) AS earliest_fetch_time,
       cast(max(fetch_time) as bigint) AS latest_fetch_time,
       cast(max(retries) as bigint) AS max_retries
FROM frontier
GROUP BY status
"""


def q_readdb_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.readdb import topn

    out = topn(frontier_df(spark, sf_dir), 100)
    return out.select(
        "url",
        F.col("score").cast("double").alias("score"),
        F.col("status").cast("long").alias("status"),
    )


ORACLE_READDB_TOPN = f"""
WITH frontier AS ({FRONTIER_SQL})
SELECT url, cast(score as double) AS score, cast(status as bigint) AS status
FROM frontier
ORDER BY score DESC, url ASC
LIMIT 100
"""


def q_readdb_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CrawlDbReader -dump with stacked row predicates — run over a
    frontier ROUND-TRIPPED through the SnapshotStore: snapshot 0 is
    the real frontier, snapshot 1 a corrupted variant (score+1), then
    rollback(0) — so the store's atomic pointer commit, time-travel
    retention, and rollback (CrawlDb.install/LockUtil semantics) sit
    under the value-hash oracle: a wrong CURRENT pointer or a read of
    the corrupted snapshot shifts every score by 1 and hash-fails."""
    import tempfile

    from .operators.readdb import dump
    from .store import SnapshotStore

    fr = frontier_df(spark, sf_dir)
    store = SnapshotStore(tempfile.mkdtemp(prefix="gate_snap_"))
    store.write(fr, "frontier")
    store.write(fr.withColumn("score", F.col("score") + 1), "frontier")
    store.rollback("frontier", 0)
    out = dump(
        store.read(spark, "frontier"),
        status=1,
        min_retries=2,
        url_regex="/p/1",
        expr="score >= 2.0",
    )
    return out.select(
        "url",
        F.col("retries").cast("long").alias("retries"),
        F.col("score").cast("double").alias("score"),
    )


ORACLE_READDB_DUMP = f"""
WITH frontier AS ({FRONTIER_SQL})
SELECT url, cast(retries as bigint) AS retries, cast(score as double) AS score
FROM frontier
WHERE status = 1 AND retries >= 2 AND regexp_matches(url, '/p/1')
  AND score >= 2.0
"""


def q_hostdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.linkdb import hostdb

    out = hostdb(frontier_df(spark, sf_dir))
    sel = [
        F.col("host"),
        F.col("num_urls").cast("long").alias("num_urls"),
        F.col("min_score").cast("double").alias("min_score"),
        F.col("max_score").cast("double").alias("max_score"),
        F.col("avg_score").cast("double").alias("avg_score"),
        F.col("last_fetch_time").cast("long").alias("last_fetch_time"),
    ]
    for name in (
        "db_unfetched db_fetched db_gone db_redir_temp db_redir_perm "
        "db_notmodified db_duplicate"
    ).split():
        sel.append(F.col(f"n_{name}").cast("long").alias(f"n_{name}"))
    return out.select(*sel)


ORACLE_HOSTDB = f"""
WITH frontier AS ({FRONTIER_SQL})
SELECT host,
       cast(count(*) as bigint) AS num_urls,
       cast(min(score) as double) AS min_score,
       cast(max(score) as double) AS max_score,
       cast(avg(score) as double) AS avg_score,
       cast(max(fetch_time) as bigint) AS last_fetch_time,
       cast(sum(case when status = 1 then 1 else 0 end) as bigint) AS n_db_unfetched,
       cast(sum(case when status = 2 then 1 else 0 end) as bigint) AS n_db_fetched,
       cast(sum(case when status = 3 then 1 else 0 end) as bigint) AS n_db_gone,
       cast(sum(case when status = 4 then 1 else 0 end) as bigint) AS n_db_redir_temp,
       cast(sum(case when status = 5 then 1 else 0 end) as bigint) AS n_db_redir_perm,
       cast(sum(case when status = 6 then 1 else 0 end) as bigint) AS n_db_notmodified,
       cast(sum(case when status = 7 then 1 else 0 end) as bigint) AS n_db_duplicate
FROM frontier
GROUP BY host
"""


def q_dedup_mark(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.dedup import dedup

    out = dedup(frontier_df(spark, sf_dir))
    return out.select("url", F.col("status").cast("long").alias("status"))


ORACLE_DEDUP_MARK = f"""
WITH frontier AS ({FRONTIER_SQL}),
ranked AS (
  SELECT url, status,
         (status in (2, 6) AND signature IS NOT NULL) AS eligible,
         row_number() OVER (
           PARTITION BY case when status in (2, 6) AND signature IS NOT NULL
                        then signature else concat('u:', url) end
           ORDER BY score DESC, fetch_time DESC, length(url) ASC, url ASC
         ) AS rn
  FROM frontier
)
SELECT url,
       cast(case when eligible AND rn > 1 then 7 else status end as bigint)
         AS status
FROM ranked
"""


def q_inject(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.inject import inject

    fr = frontier_df(spark, sf_dir)
    seeds = seeds_df(spark, sf_dir)
    out = inject(spark, fr, seeds, CUR_MS)
    return out.select(
        "url",
        F.col("status").cast("long").alias("status"),
        F.col("score").cast("double").alias("score"),
        F.col("fetch_time").cast("long").alias("fetch_time"),
        F.col("fetch_interval").cast("long").alias("fetch_interval"),
    )


ORACLE_INJECT = f"""
WITH frontier AS ({FRONTIER_SQL}),
seeds AS ({SEEDS_SQL})
SELECT coalesce(f.url, s.url) AS url,
       cast(case when f.url is not null then f.status else 1 end as bigint)
         AS status,
       cast(case when f.url is not null then f.score else 1.0 end as double)
         AS score,
       cast(case when f.url is not null then f.fetch_time
                 else {CUR_MS} end as bigint) AS fetch_time,
       cast(case when f.url is not null then f.fetch_interval
                 else 2592000 end as bigint) AS fetch_interval
FROM frontier f
FULL OUTER JOIN seeds s ON f.url = s.url
"""


def q_generate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.generate import generate

    out = generate(
        frontier_df(spark, sf_dir),
        CUR_MS,
        "seg0001",
        top_n=500,
        max_count=20,
        count_mode="host",
    )
    return out.select(
        "url",
        F.col("score").cast("double").alias("score"),
        F.col("fetch_interval").cast("long").alias("fetch_interval"),
        "segment",
    )


ORACLE_GENERATE = f"""
WITH frontier AS ({FRONTIER_SQL}),
due AS (
  SELECT * FROM frontier
  WHERE fetch_time - {CUR_MS} > 7776000000 OR fetch_time <= {CUR_MS}
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY host ORDER BY score DESC, url_hash ASC) AS rn
  FROM due
)
SELECT url, cast(score as double) AS score,
       cast(fetch_interval as bigint) AS fetch_interval,
       'seg0001' AS segment
FROM ranked
WHERE rn <= 19
ORDER BY score DESC, url_hash ASC
LIMIT 500
"""


def q_generate_multiseg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-segment spill: per-host overflow beyond maxCount lands in
    segments 2..maxNumSegments (Generator.java:296-340 keep counts:
    segment 1 gets maxCount−1, later segments maxCount each).

    Tag-union second leg: FreeGenerator (tools/FreeGenerator.java) over
    a duplicate-bearing URL list derived from lineitem part keys — no
    CrawlDb involved: dedup by URL, injected score, the standard
    fetchlist layout. The leg's rows carry segment='free'."""
    from .operators.generate import free_generate, generate

    out = generate(
        frontier_df(spark, sf_dir),
        CUR_MS,
        "seg0001",
        top_n=-1,
        max_count=20,
        count_mode="host",
        max_num_segments=3,
    )
    multiseg = out.select(
        "url",
        F.col("score").cast("double").alias("score"),
        "segment",
    )
    _views(spark, sf_dir, ["lineitem"])
    free_urls = spark.sql(
        f"SELECT {_url('l_partkey')} AS url FROM lineitem"
    )
    free = free_generate(free_urls, "free", CUR_MS).select(
        "url",
        F.col("score").cast("double").alias("score"),
        "segment",
    )
    return multiseg.unionByName(free)


ORACLE_GENERATE_MULTISEG = f"""
WITH frontier AS ({FRONTIER_SQL}),
due AS (
  SELECT * FROM frontier
  WHERE fetch_time - {CUR_MS} > 7776000000 OR fetch_time <= {CUR_MS}
),
ranked AS (
  SELECT *, row_number() OVER (
    PARTITION BY host ORDER BY score DESC, url_hash ASC) AS rn
  FROM due),
seg AS (
  SELECT *, case when rn <= 19 then 1
                 else 2 + cast(floor((rn - 20) / 20.0) as int) end AS segnum
  FROM ranked)
SELECT url, cast(score as double) AS score,
       case when segnum = 1 then 'seg0001'
            else concat('seg0001', '-', cast(segnum as string)) end AS segment
FROM seg WHERE segnum <= 3
UNION ALL
SELECT DISTINCT {_url('l_partkey')} AS url, cast(1.0 as double) AS score,
       'free' AS segment
FROM lineitem
"""


def q_linkdb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.linkdb import invert_links

    links = links_df(spark, sf_dir)
    parse_data = links.groupBy("from_url").agg(
        F.collect_list(F.struct("to_url", "anchor")).alias("outlinks")
    ).withColumnRenamed("from_url", "url")
    out = invert_links(parse_data, max_inlinks=1_000_000)
    return out.select(
        "url",
        F.size("inlinks").cast("long").alias("n_inlinks"),
        F.array_join(
            F.transform(
                "inlinks", lambda x: F.concat_ws("|", x.from_url, x.anchor)
            ),
            ",",
        ).alias("inlinks_str"),
    )


ORACLE_LINKDB = f"""
WITH links AS ({LINKS_SQL})
SELECT to_url AS url,
       cast(count(*) as bigint) AS n_inlinks,
       string_agg(concat(from_url, '|', anchor), ','
                  ORDER BY from_url, anchor) AS inlinks_str
FROM links
GROUP BY to_url
"""


def q_node_degrees(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.linkdb import invert_links, node_degrees

    links = links_df(spark, sf_dir)
    parse_data = links.groupBy("from_url").agg(
        F.collect_list(F.struct("to_url", "anchor")).alias("outlinks")
    ).withColumnRenamed("from_url", "url")
    ldb = invert_links(parse_data, max_inlinks=1_000_000)
    out = node_degrees(parse_data, ldb)
    return out.select(
        "url",
        F.col("out_degree").cast("long").alias("out_degree"),
        F.col("in_degree").cast("long").alias("in_degree"),
    )


ORACLE_NODE_DEGREES = f"""
WITH links AS ({LINKS_SQL}),
o AS (SELECT from_url AS url, cast(count(*) as bigint) AS d
      FROM links GROUP BY from_url),
i AS (SELECT to_url AS url, cast(count(*) as bigint) AS d
      FROM links GROUP BY to_url)
SELECT coalesce(o.url, i.url) AS url,
       coalesce(o.d, 0) AS out_degree,
       coalesce(i.d, 0) AS in_degree
FROM o FULL OUTER JOIN i ON o.url = i.url
"""


def q_updatedb(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The CrawlDbReducer merge, run TWICE over identical inputs and
    tag-unioned: once as the batch operator, once through the
    Structured Streaming ingestion path (streaming.stream_updatedb —
    readStream over a landing directory → foreachBatch merge →
    snapshot-store commit, trigger(availableNow)). Both legs share one
    oracle body: the streaming engine, the FETCH_RESULTS landing
    schema, the foreachBatch clock, and the store commit must together
    reproduce the batch merge bit-for-bit under the value hash (the
    multi-batch sequential-merge and seen-filter streaming variants
    are pytest-covered, test_cycle.py)."""
    import os
    import shutil
    import tempfile

    from .operators.updatedb import updatedb
    from .schema import FETCH_RESULTS
    from .store import SnapshotStore
    from .streaming import stream_updatedb

    fr = frontier_df(spark, sf_dir)
    fe = fetch_results_df(spark, sf_dir)

    def shaped(df: DataFrame, leg: str) -> DataFrame:
        return df.select(
            F.lit(leg).alias("leg"),
            "url",
            F.col("status").cast("long").alias("status"),
            F.col("fetch_time").cast("long").alias("fetch_time"),
            F.col("retries").cast("long").alias("retries"),
            F.col("fetch_interval").cast("long").alias("fetch_interval"),
            F.col("score").cast("double").alias("score"),
            "signature",
            F.col("modified_time").cast("long").alias("modified_time"),
        )

    batch = shaped(
        updatedb(spark, fr, fe, crawl_parse_df(spark, sf_dir), CUR_MS,
                 schedule="default"),
        "batch",
    )

    # stream leg: land the fetch results as one parquet batch shaped to
    # the FETCH_RESULTS landing schema (fields the merge doesn't read
    # are filled with honest derivables), seed the store's frontier,
    # and drain with availableNow. parse_cp injects the same synthetic
    # crawl_parse the batch leg used; the clock pins the merge time.
    fe_full = fe.select(
        "url",
        F.xxhash64("url").alias("url_hash"),
        F.regexp_extract("url", r"^[a-z]+://([^/]+)", 1).alias("host"),
        F.col("status").cast("int").alias("status"),
        F.lit(1).alias("prev_status"),
        "fetch_time",
        F.col("retries").cast("int").alias("retries"),
        F.col("fetch_interval").cast("int").alias("fetch_interval"),
        F.col("score").cast("float").alias("score"),
        F.lit(None).cast("string").alias("prev_signature"),
        "prev_modified_time",
        F.lit(None).cast("string").alias("redirect_to"),
        F.lit(None).cast("string").alias("protocol_status"),
        F.lit(None).cast(FETCH_RESULTS["spans"].dataType).alias("spans"),
        "metadata",
        F.lit("stream").alias("segment"),
    )
    work = tempfile.mkdtemp(prefix="gate_streamdb_")
    incoming = os.path.join(work, "incoming")
    fe_full.write.parquet(incoming)
    store = SnapshotStore(os.path.join(work, "wh"))
    store.write(fr, "frontier")
    q = stream_updatedb(
        spark,
        store,
        incoming,
        os.path.join(work, "ckpt"),
        clock=lambda _b: CUR_MS,
        parse_cp=lambda _b: crawl_parse_df(spark, sf_dir),
    )
    q.awaitTermination(300)
    # materialize the streamed frontier off the temp warehouse so the
    # landing/checkpoint/store dirs can be removed before the caller
    # evaluates the union (the gate otherwise leaks a dir per run —
    # RAM, not disk, when the bench points scratch at tmpfs)
    stream = shaped(store.read(spark, "frontier"), "stream").localCheckpoint()
    shutil.rmtree(work, ignore_errors=True)
    return batch.unionByName(stream)


# The CrawlDbReducer state machine (operators/updatedb.py) re-expressed
# in portable SQL. schedule=default, retry_max=3, max_interval=7776000,
# additions allowed. 6998400 = int(7776000 * 0.9).
ORACLE_UPDATEDB = f"""
WITH frontier AS ({FRONTIER_SQL}),
fres AS ({FETCH_SQL}),
sigs AS ({SIGS_SQL}),
linked AS ({LINKED_SQL}),
lagg AS (
  SELECT url, sum(score) AS link_adjust, count(*) AS link_count
  FROM linked GROUP BY url
),
j AS (
  SELECT coalesce(o.url, f.url, l.url) AS url,
         o.url IS NOT NULL AS old_set,
         f.url IS NOT NULL AS fetch_set,
         coalesce(l.link_count, 0) > 0 AS has_links,
         coalesce(l.link_adjust, 0.0) AS adjust,
         o.status AS o_status, o.fetch_time AS o_fetch_time,
         o.retries AS o_retries, o.fetch_interval AS o_interval,
         o.score AS o_score, o.signature AS o_signature,
         o.modified_time AS o_modified,
         f.status AS f_status, f.fetch_time AS f_fetch_time,
         f.retries AS f_retries, f.fetch_interval AS f_interval,
         f.score AS f_score,
         s.signature AS parse_signature
  FROM frontier o
  FULL OUTER JOIN fres f ON o.url = f.url
  FULL OUTER JOIN lagg l ON coalesce(o.url, f.url) = l.url
  LEFT OUTER JOIN sigs s ON coalesce(o.url, f.url, l.url) = s.url
),
c AS (
  SELECT *,
    case when fetch_set then f_status when has_links then 67 end AS eff,
    case when old_set AND o_modified > 0 then o_modified else 0 end
      AS seed_modified,
    case when old_set then coalesce(o_modified, 0) else 0 end AS prev_modified
  FROM j
),
st AS (
  SELECT *,
    case
      when eff = 38 then 'notmodified'
      when eff = 33 AND old_set AND o_signature IS NOT NULL
           AND parse_signature IS NOT NULL then
        case when o_signature <> parse_signature then 'modified'
             else 'notmodified' end
      else 'unknown'
    end AS state,
    f_fetch_time + cast(f_interval as bigint) * 1000 AS sched_fetch_time,
    f_interval AS sched_interval
  FROM c
),
br AS (
  SELECT *,
    eff in (33, 35, 36, 38) AS is_succ,
    eff = 67 AS is_linked,
    eff = 34 AS is_retry,
    eff = 37 AS is_gone,
    state = 'notmodified' AS notmod,
    sched_interval > 7776000 AS force_refetch,
    f_retries + 1 AS new_retries,
    f_retries + 1 >= 3 AS retry_exceeded,
    case when f_interval * 1.5 < 7776000.0 then cast(f_interval * 1.5 as int)
         else 6998400 end AS gone_interval
  FROM st
)
SELECT url,
  cast(case
    when is_linked AND old_set then o_status
    when is_linked then 1
    when is_succ then
      case when force_refetch then 1
           when notmod then 6
           when eff = 33 then 2
           when eff = 36 then 5
           when eff = 35 then 4 end
    when is_retry then case when retry_exceeded then 3 else 1 end
    when is_gone then 3
    when fetch_set OR has_links then f_status
    else o_status end as bigint) AS status,
  cast(case
    when is_linked AND old_set then o_fetch_time
    when is_linked then {CUR_MS}
    when is_succ then sched_fetch_time
    when is_retry then
      case when retry_exceeded
           then f_fetch_time + cast(gone_interval as bigint) * 1000
           else f_fetch_time + 86400000 end
    when is_gone then f_fetch_time + cast(gone_interval as bigint) * 1000
    when fetch_set OR has_links then f_fetch_time
    else o_fetch_time end as bigint) AS fetch_time,
  cast(case
    when is_linked AND old_set then o_retries
    when is_linked then 0
    when is_succ then case when force_refetch then 0 else 0 end
    when is_retry then new_retries
    when is_gone then f_retries
    when fetch_set OR has_links then f_retries
    else o_retries end as bigint) AS retries,
  cast(case
    when is_linked AND old_set then o_interval
    when is_linked then 2592000
    when is_succ then
      case when force_refetch then 6998400 else sched_interval end
    when is_retry then
      case when retry_exceeded then gone_interval else f_interval end
    when is_gone then gone_interval
    when fetch_set OR has_links then f_interval
    else o_interval end as bigint) AS fetch_interval,
  cast(case
    when NOT (fetch_set OR has_links) then o_score
    when is_linked AND old_set then o_score + adjust
    when is_linked then 0.0 + adjust
    when old_set then o_score + adjust
    else coalesce(f_score, 0.0) + adjust end as double) AS score,
  case
    when NOT (fetch_set OR has_links) then o_signature
    when is_linked AND old_set then o_signature
    when is_linked then NULL
    when is_succ then
      case when force_refetch then NULL
           when notmod then case when old_set then o_signature end
           else parse_signature end
    when is_retry OR is_gone then case when old_set then o_signature end
    else NULL end AS signature,
  cast(case
    when NOT (fetch_set OR has_links) then o_modified
    when is_linked AND old_set then o_modified
    when is_linked then 0
    when is_succ then
      case when force_refetch then 0
           when notmod then prev_modified
           else seed_modified end
    when is_retry OR is_gone then seed_modified
    else seed_modified end as bigint) AS modified_time
FROM br
WHERE old_set OR fetch_set OR has_links
"""

# the gate runs the merge twice — as the batch operator and through
# the Structured Streaming ingestion path — over identical inputs, so
# the oracle is the same body under both leg tags
ORACLE_UPDATEDB_LEGS = f"""
WITH result AS ({ORACLE_UPDATEDB})
SELECT 'batch' AS leg, * FROM result
UNION ALL
SELECT 'stream' AS leg, * FROM result
"""


# second frontier for merge queries: overlapping URL set (even keys),
# fetch_time strictly offset so the per-URL winner is never ambiguous
FRONTIER_B_SQL = f"""
SELECT
  {_url('o_orderkey')} AS url,
  cast(o_orderkey * 2654435761 as bigint) AS url_hash,
  {_host('o_orderkey')} AS host,
  cast(2 as int) AS status,
  cast(1700000000000 + (o_orderkey % 2000) * 3600000
       + case when o_orderkey % 3 = 0 then 50000000
              else -50000000 end as bigint) AS fetch_time,
  cast(0 as int) AS retries,
  cast(2592000 as int) AS fetch_interval,
  cast((o_orderkey % 17) * 0.25 as double) AS score,
  md5(cast(o_orderkey % 120 as string)) AS signature,
  cast(0 as bigint) AS modified_time
FROM orders
WHERE o_orderkey % 2 = 0
"""


def _seg_sql(mod: int, seg: str, dt: int) -> str:
    return f"""
SELECT {_url('o_orderkey')} AS url,
       cast(o_orderkey * 2654435761 as bigint) AS url_hash,
       cast(33 as int) AS status,
       cast({CUR_MS} + {dt} as bigint) AS fetch_time,
       '{seg}' AS segment
FROM orders WHERE o_orderkey % {mod} = 1
"""


SEG_A_SQL = _seg_sql(3, "segA", 0)
SEG_B_SQL = _seg_sql(2, "segB", 3_600_000)


def q_fetch_politeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL politeness scheduler (fetch stage, robots-clean)
    and check its assigned timestamps exactly: slot k of a host queue
    fires at now + (k // threads_per_queue) · crawl_delay, with the
    queue ordered by url_hash (HashComparator fetch order,
    Generator.java:399-429; FetchItemQueue politeness). This is the
    north rule's politeness budget as a value-hashed oracle — not just
    a pytest assertion.

    Tag-union second leg: the SAME fetchlist under the fetcher
    timebomb (fetcher.timelimit.mins, Fetcher.java:391-396) with a
    15 s limit — only queue slots scheduled strictly before the
    deadline survive (3 slots per host at the default 5 s delay);
    this and every later slot of a queue are dropped with no output
    row, so the leg's row set oracles the timebomb cut exactly.

    Tag-union third leg ('demux'): fetch status demux over IN-WEB URLs
    of a gone_frac=0.2 synthetic web with no redirects — the fetcher's
    success/notfound split (FetcherThread.java output status mapping).
    The oracle replays the web's outcome draw exactly: r = first 8
    bytes of md5('outcome|<url>|<seed>') as a big-endian uint64, taken
    mod 10000 via a hex-digit Horner fold, gone iff page > 0 and
    r < 2000, plus the past-end page rule (page_idx ≥ pages_per_host).

    Tag-union fourth leg ('robots'): the robots.txt GRAMMAR + gating
    (functions/robots.py parse_robots_txt + robots_allows;
    RobotRulesParser/HttpRobotRulesParser semantics) under the same
    slot oracle. Host p keyed by p%10: 0 → Disallow /p/ (all denied),
    1 → named 'nutch' group Crawl-delay 2 beating the '*' group's 7
    (2 s slot spacing), 2 → Crawl-delay 400 > max_crawl_delay (host
    blocked), 3 → longest-match: Disallow /p/ + Allow /p/1 (only pages
    whose index starts with '1' fetch, and ONLY those consume slots),
    4 → comment + UPPERCASE directives + substring agent match
    ('nutch' ⊂ 'nutchbot') with an irrelevant Disallow (all fetch at
    the default delay). Denied/blocked rows keep fetch_time = now and
    never consume a queue slot."""
    from .operators.fetch import fetch
    from .synth import WebConfig

    _views(spark, sf_dir, ["orders"])
    fl = spark.sql(FRONTIER_SQL).withColumn(
        "metadata", F.lit(None).cast("map<string,string>")
    ).withColumn("segment", F.lit("seg"))
    web = WebConfig(n_hosts=97, pages_per_host=5)
    res = fetch(
        fl,
        robots={},  # no rules ⇒ no blocks, default 5 s delay
        web=web,
        cur_time_ms=CUR_MS,
    )

    def _slot_leg(df: DataFrame, leg: str) -> DataFrame:
        return df.select(
            F.lit(leg).alias("leg"),
            "url",
            F.col("fetch_time").cast("long").alias("fetch_time"),
            F.lit(None).cast("long").alias("fstatus"),
            F.lit(None).cast("string").alias("proto"),
        )

    res_tb = fetch(
        fl,
        robots={},
        web=web,
        cur_time_ms=CUR_MS,
        time_limit_ms=15_000,  # relative: deadline = cur_time + 15 s
    )

    demux_web = WebConfig(
        n_hosts=50, pages_per_host=5, zipf=False,
        gone_frac=0.2, redir_frac=0.0,
    )
    dfl = spark.sql(DEMUX_FETCH_SQL).withColumn(
        "metadata", F.lit(None).cast("map<string,string>")
    ).withColumn("segment", F.lit("seg"))
    res_dm = fetch(dfl, robots={}, web=demux_web, cur_time_ms=CUR_MS)
    # fetch_time is NULL on this leg: duplicate URLs share a url_hash,
    # so their relative queue order (and slot) is not deterministic
    dm = res_dm.select(
        F.lit("demux").alias("leg"),
        "url",
        F.lit(None).cast("long").alias("fetch_time"),
        F.col("status").cast("long").alias("fstatus"),
        F.col("protocol_status").alias("proto"),
    )

    from .functions.robots import parse_robots_txt

    robots_txts = {
        0: "User-agent: *\nDisallow: /p/",
        1: "User-agent: nutch\nCrawl-delay: 2\nUser-agent: *\nCrawl-delay: 7",
        2: "User-agent: *\nCrawl-delay: 400",
        3: "User-agent: *\nDisallow: /p/\nAllow: /p/1",
        4: "# robots\nUSER-AGENT: NutchBot\nDISALLOW: /x",
    }
    # host index (k%97) and example index (k%3) vary semi-independently
    # → 97×3 distinct hosts; the rule set is keyed on the host INDEX
    rb_rules = {
        f"host{p}.example{e}.com": parse_robots_txt(robots_txts[p % 10])
        for p in range(97)
        for e in range(3)
        if p % 10 in robots_txts
    }
    res_rb = fetch(fl, robots=rb_rules, web=web, cur_time_ms=CUR_MS)
    denied = F.col("protocol_status").isin(
        "robots_denied", "robots_denied_maxcrawldelay"
    )
    rb = res_rb.select(
        F.lit("robots").alias("leg"),
        "url",
        F.col("fetch_time").cast("long").alias("fetch_time"),
        F.lit(None).cast("long").alias("fstatus"),
        F.when(denied, F.col("protocol_status"))
        .otherwise(F.lit("fetched"))
        .alias("proto"),
    )
    return _slot_leg(res, "full").unionByName(
        _slot_leg(res_tb, "timebomb")
    ).unionByName(dm).unionByName(rb)


# in-web URLs for the demux leg: host = k%50, page = k%8 (pages 5-7 are
# past the 5-page host ⇒ unconditionally gone)
_DM_URL = (
    "concat('http://host', cast(o_orderkey % 50 as string), '.example', "
    "cast(o_orderkey % 50 % 3 as string), '.com/p/', "
    "lpad(cast(o_orderkey % 8 as string), 5, '0'))"
)
DEMUX_FETCH_SQL = f"""
SELECT
  {_DM_URL} AS url,
  cast(o_orderkey * 2654435761 as bigint) AS url_hash,
  concat('host', cast(o_orderkey % 50 as string), '.example',
         cast(o_orderkey % 50 % 3 as string), '.com') AS host,
  cast(1 as int) AS status,
  cast({CUR_MS} as bigint) AS fetch_time,
  cast(0 as int) AS retries,
  cast(2592000 as int) AS fetch_interval,
  cast(0.0 as double) AS score,
  cast(null as string) AS signature,
  cast(0 as bigint) AS modified_time
FROM orders
"""


def _md5_mod_horner(md5_col: str, mod: int) -> str:
    """DuckDB expr: first 16 hex chars of `md5_col` (= the digest's
    first 8 bytes, big-endian) reduced mod `mod` by a Horner fold —
    replays synth._h(...) % mod without 64-bit integer parsing."""
    acc = "0"
    for j in range(1, 17):
        d = f"(strpos('0123456789abcdef', substr({md5_col}, {j}, 1)) - 1)"
        acc = f"(({acc} * 16 + {d}) % {mod})"
    return acc


ORACLE_FETCH_POLITENESS = f"""
WITH fl AS (
  SELECT {_url('o_orderkey')} AS url,
         cast(o_orderkey * 2654435761 as bigint) AS url_hash,
         {_host('o_orderkey')} AS host
  FROM orders),
ranked AS (
  SELECT url,
         row_number() OVER (PARTITION BY host ORDER BY url_hash) AS r
  FROM fl),
dm_base AS (
  SELECT {_DM_URL} AS url, o_orderkey % 8 AS i
  FROM orders),
dm_r AS (
  SELECT url, i, md5(concat('outcome|', url, '|42')) AS md5h
  FROM dm_base),
dm AS (
  SELECT url,
         case when i >= 5 then 37
              when i > 0 and {_md5_mod_horner('md5h', 10_000)} < 2000
              then 37 else 33 end AS fstatus
  FROM dm_r),
rb_v AS (
  SELECT {_url('o_orderkey')} AS url,
         cast(o_orderkey * 2654435761 as bigint) AS url_hash,
         {_host('o_orderkey')} AS host,
         o_orderkey % 97 AS p,
         case when o_orderkey % 97 % 10 = 0 then 'robots_denied'
              when o_orderkey % 97 % 10 = 2
              then 'robots_denied_maxcrawldelay'
              when o_orderkey % 97 % 10 = 3
                   and cast(o_orderkey as string) NOT LIKE '1%'
              then 'robots_denied'
              else 'fetched' end AS verdict
  FROM orders),
rb_rank AS (
  SELECT url, p,
         row_number() OVER (PARTITION BY host ORDER BY url_hash) AS r
  FROM rb_v WHERE verdict = 'fetched')
SELECT 'full' AS leg, url,
       cast({CUR_MS} + (r - 1) * 5000 as bigint) AS fetch_time,
       cast(NULL as bigint) AS fstatus, cast(NULL as varchar) AS proto
FROM ranked
UNION ALL
SELECT 'timebomb' AS leg, url,
       cast({CUR_MS} + (r - 1) * 5000 as bigint) AS fetch_time,
       cast(NULL as bigint) AS fstatus, cast(NULL as varchar) AS proto
FROM ranked
WHERE (r - 1) * 5000 < 15000
UNION ALL
SELECT 'demux' AS leg, url, cast(NULL as bigint) AS fetch_time,
       cast(fstatus as bigint) AS fstatus,
       case when fstatus = 37 then 'notfound' else 'success' end AS proto
FROM dm
UNION ALL
SELECT 'robots' AS leg, url,
       cast({CUR_MS} + (r - 1) *
            (case when p % 10 = 1 then 2000 else 5000 end) as bigint)
         AS fetch_time,
       cast(NULL as bigint) AS fstatus, 'fetched' AS proto
FROM rb_rank
UNION ALL
SELECT 'robots' AS leg, url, cast({CUR_MS} as bigint) AS fetch_time,
       cast(NULL as bigint) AS fstatus, verdict AS proto
FROM rb_v WHERE verdict <> 'fetched'
"""


def q_domain_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DomainStatistics in domain mode: fetched/notmodified URL counts
    per registered domain (util/domain/DomainStatistics.java:64-151)."""
    from .operators.readdb import domain_statistics

    out = domain_statistics(frontier_df(spark, sf_dir), mode="domain")
    return out.select("key", F.col("n_urls").cast("long").alias("n_urls"))


# frontier status = 1 + k % 6 ⇒ fetched(2) for k%6=1, notmodified(6)
# for k%6=5; registered domain of hostN.exampleM.com = exampleM.com —
# derived from the same key arithmetic as the input
ORACLE_DOMAIN_STATS = f"""
WITH f AS (
  SELECT concat('example', cast(o_orderkey % 3 as string), '.com') AS key,
         1 + o_orderkey % 6 AS status
  FROM orders)
SELECT key, cast(count(*) as bigint) AS n_urls
FROM f WHERE status in (2, 6) GROUP BY key
"""


def q_crawl_completion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CrawlCompletionStats in host mode: FETCHED vs UNFETCHED counts
    per host (util/CrawlCompletionStats.java:79-132)."""
    from .operators.readdb import crawl_completion_stats

    out = crawl_completion_stats(frontier_df(spark, sf_dir), mode="host")
    return out.select(
        "key", "state", F.col("n_urls").cast("long").alias("n_urls")
    )


ORACLE_CRAWL_COMPLETION = f"""
WITH f AS (
  SELECT {_host('o_orderkey')} AS key, 1 + o_orderkey % 6 AS status
  FROM orders)
SELECT key,
       case when status in (2, 6) then 'FETCHED' else 'UNFETCHED' end
         AS state,
       cast(count(*) as bigint) AS n_urls
FROM f GROUP BY key,
  case when status in (2, 6) then 'FETCHED' else 'UNFETCHED' end
"""


def q_segment_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SegmentReader -list over two segments: generated / fetcher
    start+end / fetched / parsed stats (SegmentReader.java getStats);
    parse output exists for half the fetched rows."""
    from .operators.segment import segment_stats

    _views(spark, sf_dir, ["orders"])
    sa = spark.sql(SEG_A_SQL)
    sb = spark.sql(SEG_B_SQL)
    both = sa.unionByName(sb)
    parsed = both.filter(F.expr("url like '%1' or url like '%3'"))
    return segment_stats(
        fetchlist=both, fetch_results=both, parse_data=parsed
    )


ORACLE_SEGMENT_LIST = f"""
WITH sa AS ({SEG_A_SQL}), sb AS ({SEG_B_SQL}),
ab AS (SELECT * FROM sa UNION ALL SELECT * FROM sb),
parsed AS (SELECT * FROM ab WHERE url like '%1' or url like '%3'),
g AS (SELECT segment, count(*) AS generated FROM ab GROUP BY segment),
f AS (SELECT segment, count(*) AS fetched,
             min(fetch_time) AS fetch_start, max(fetch_time) AS fetch_end
      FROM ab GROUP BY segment),
p AS (SELECT segment, count(*) AS parsed FROM parsed GROUP BY segment)
SELECT g.segment,
  cast(g.generated as bigint) AS generated,
  cast(f.fetched as bigint) AS fetched,
  cast(f.fetch_start as bigint) AS fetch_start,
  cast(f.fetch_end as bigint) AS fetch_end,
  cast(coalesce(p.parsed, -1) as bigint) AS parsed
FROM g JOIN f ON g.segment = f.segment
LEFT JOIN p ON g.segment = p.segment
"""


def q_crawldb_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.merge import merge_crawldbs

    _views(spark, sf_dir, ["orders"])
    fa = _null_meta(spark.sql(FRONTIER_SQL))
    fb = _null_meta(spark.sql(FRONTIER_B_SQL))
    out = merge_crawldbs([fa, fb])
    return out.select(
        "url",
        F.col("status").cast("long").alias("status"),
        F.col("fetch_time").cast("long").alias("fetch_time"),
        F.col("score").cast("double").alias("score"),
        "signature",
        F.col("fetch_interval").cast("long").alias("fetch_interval"),
    )


ORACLE_CRAWLDB_MERGE = f"""
WITH fa AS ({FRONTIER_SQL}),
fb AS ({FRONTIER_B_SQL}),
u AS (SELECT * FROM fa UNION ALL SELECT * FROM fb),
r AS (SELECT *, row_number() OVER (
        PARTITION BY url
        ORDER BY fetch_time DESC, score DESC, status ASC) AS rn
      FROM u)
SELECT url, cast(status as bigint) AS status,
       cast(fetch_time as bigint) AS fetch_time,
       cast(score as double) AS score, signature,
       cast(fetch_interval as bigint) AS fetch_interval
FROM r WHERE rn = 1
"""


def q_segment_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two variants tag-unioned into one gate: the plain latest-wins
    merge with sliceSize, and a SegmentMergeFilter-exercising merge
    (segment/SegmentMergeFilter.java any-veto over the per-URL record
    bundle) keeping only URLs present in BOTH input segments."""
    from .operators.merge import RequireAllSegmentsFilter, merge_segments

    _views(spark, sf_dir, ["orders"])
    sa = spark.sql(SEG_A_SQL)
    sb = spark.sql(SEG_B_SQL)
    plain = merge_segments([sa, sb], slice_size=1000).select(
        "url",
        F.col("status").cast("long").alias("status"),
        F.col("fetch_time").cast("long").alias("fetch_time"),
        "segment",
        F.col("slice").cast("long").alias("slice"),
        F.lit("plain").alias("variant"),
    )
    filtered = merge_segments(
        [sa, sb], merge_filters=[RequireAllSegmentsFilter(2)]
    ).select(
        "url",
        F.col("status").cast("long").alias("status"),
        F.col("fetch_time").cast("long").alias("fetch_time"),
        "segment",
        F.lit(None).cast("long").alias("slice"),
        F.lit("require_all").alias("variant"),
    )
    return plain.unionByName(filtered)


ORACLE_SEGMENT_MERGE = f"""
WITH sa AS ({SEG_A_SQL}),
sb AS ({SEG_B_SQL}),
u AS (SELECT * FROM sa UNION ALL SELECT * FROM sb),
r AS (SELECT *, row_number() OVER (
        PARTITION BY url ORDER BY fetch_time DESC, segment DESC) AS rn
      FROM u),
w AS (SELECT *, row_number() OVER (ORDER BY url_hash, url) AS gpos
      FROM r WHERE rn = 1),
both_segs AS (SELECT url FROM u GROUP BY url
              HAVING count(DISTINCT segment) >= 2)
SELECT url, cast(status as bigint) AS status,
       cast(fetch_time as bigint) AS fetch_time, segment,
       cast(cast(floor((gpos - 1) / 1000) as int) as bigint) AS slice,
       'plain' AS variant
FROM w
UNION ALL
SELECT r.url, cast(status as bigint) AS status,
       cast(fetch_time as bigint) AS fetch_time, segment,
       cast(NULL as bigint) AS slice, 'require_all' AS variant
FROM r JOIN both_segs ON r.url = both_segs.url WHERE rn = 1
"""


def q_retry_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.readdb import retry_histogram

    out = retry_histogram(frontier_df(spark, sf_dir))
    return out.select(
        F.col("retries").cast("long").alias("retries"),
        F.col("count").cast("long").alias("n_urls"),
    )


ORACLE_RETRY_HISTOGRAM = f"""
WITH frontier AS ({FRONTIER_SQL})
SELECT cast(retries as bigint) AS retries,
       cast(count(*) as bigint) AS n_urls
FROM frontier GROUP BY retries
"""


def q_seen_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """unseen_exact audit path: seed candidates not already in the
    frontier (the bloom filter's exact fallback)."""
    from .operators.seen import unseen_exact

    fr = frontier_df(spark, sf_dir)
    cands = seeds_df(spark, sf_dir).select("url")
    return unseen_exact(cands, fr).select("url")


ORACLE_SEEN_EXACT = f"""
WITH frontier AS ({FRONTIER_SQL}),
seeds AS ({SEEDS_SQL})
SELECT s.url FROM seeds s
LEFT JOIN frontier f ON s.url = f.url
WHERE f.url IS NULL
"""


def q_updatedb_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """updatedb with the ADAPTIVE fetch schedule. Full value-hash
    oracle: the schedule arithmetic runs in double precision with
    floor(x+0.5) for Math.round and explicit floor for narrowing
    (schedules.set_fetch_schedule_adaptive), so the identical IEEE op
    sequence is expressible in portable SQL."""
    from .operators.updatedb import updatedb

    out = updatedb(
        spark,
        frontier_df(spark, sf_dir),
        fetch_results_df(spark, sf_dir),
        crawl_parse_df(spark, sf_dir),
        CUR_MS,
        schedule="adaptive",
    )
    return out.select(
        "url",
        F.col("status").cast("long").alias("status"),
        F.col("fetch_time").cast("long").alias("fetch_time"),
        F.col("retries").cast("long").alias("retries"),
        F.col("fetch_interval").cast("long").alias("fetch_interval"),
    )


# AdaptiveFetchSchedule (AdaptiveFetchSchedule.java:96-144) with the
# engine's exact double-precision op order: inc/dec = ±0.2,
# min=60 s, max=365 d, sync_delta on at rate 0.3. Gate inputs carry no
# fixed-interval metadata and prev_modified_time=0, but the SQL keeps
# the general expressions (mod_time fallback, delta sync) anyway.
ORACLE_UPDATEDB_ADAPTIVE = f"""
WITH frontier AS ({FRONTIER_SQL}),
fres AS ({FETCH_SQL}),
sigs AS ({SIGS_SQL}),
linked AS ({LINKED_SQL}),
lagg AS (
  SELECT url, sum(score) AS link_adjust, count(*) AS link_count
  FROM linked GROUP BY url
),
j AS (
  SELECT coalesce(o.url, f.url, l.url) AS url,
         o.url IS NOT NULL AS old_set,
         f.url IS NOT NULL AS fetch_set,
         coalesce(l.link_count, 0) > 0 AS has_links,
         o.status AS o_status, o.fetch_time AS o_fetch_time,
         o.retries AS o_retries, o.fetch_interval AS o_interval,
         o.signature AS o_signature,
         f.status AS f_status, f.fetch_time AS f_fetch_time,
         f.retries AS f_retries, f.fetch_interval AS f_interval,
         f.prev_modified_time AS f_modified,
         s.signature AS parse_signature
  FROM frontier o
  FULL OUTER JOIN fres f ON o.url = f.url
  FULL OUTER JOIN lagg l ON coalesce(o.url, f.url) = l.url
  LEFT OUTER JOIN sigs s ON coalesce(o.url, f.url, l.url) = s.url
),
c AS (
  SELECT *,
    case when fetch_set then f_status when has_links then 67 end AS eff
  FROM j
),
st0 AS (
  SELECT *,
    case
      when eff = 38 then 'notmodified'
      when eff = 33 AND old_set AND o_signature IS NOT NULL
           AND parse_signature IS NOT NULL then
        case when o_signature <> parse_signature then 'modified'
             else 'notmodified' end
      else 'unknown'
    end AS state
  FROM c
),
ad AS (
  SELECT *,
    cast(case when f_interval = 0 then 2592000 else f_interval end as double)
      AS i0,
    case when coalesce(f_modified, 0) <= 0 then f_fetch_time
         else f_modified end AS mod_time
  FROM st0
),
ad1 AS (
  SELECT *,
    case when state = 'modified' then i0 * 0.8
         when state = 'notmodified' then i0 * 1.2
         else i0 end AS i1,
    cast(floor((f_fetch_time - mod_time) / 1000.0) as bigint) AS delta
  FROM ad
),
ad2 AS (
  SELECT *,
    case when delta > i1 then cast(delta as double) else i1 end AS i2,
    f_fetch_time - cast(floor(delta * 0.3 * 1000.0 + 0.5) as bigint)
      AS ref_time
  FROM ad1
),
st AS (
  SELECT *,
    ref_time + cast(floor(greatest(60.0, least(31536000.0, i2)) * 1000.0
                          + 0.5) as bigint) AS sched_fetch_time,
    cast(floor(greatest(60.0, least(31536000.0, i2))) as bigint)
      AS sched_interval
  FROM ad2
),
br AS (
  SELECT *,
    eff in (33, 35, 36, 38) AS is_succ,
    eff = 67 AS is_linked,
    eff = 34 AS is_retry,
    eff = 37 AS is_gone,
    state = 'notmodified' AS notmod,
    sched_interval > 7776000 AS force_refetch,
    f_retries + 1 AS new_retries,
    f_retries + 1 >= 3 AS retry_exceeded,
    case when f_interval * 1.5 < 7776000.0 then cast(f_interval * 1.5 as int)
         else 6998400 end AS gone_interval
  FROM st
)
SELECT url,
  cast(case
    when is_linked AND old_set then o_status
    when is_linked then 1
    when is_succ then
      case when force_refetch then 1
           when notmod then 6
           when eff = 33 then 2
           when eff = 36 then 5
           when eff = 35 then 4 end
    when is_retry then case when retry_exceeded then 3 else 1 end
    when is_gone then 3
    when fetch_set OR has_links then f_status
    else o_status end as bigint) AS status,
  cast(case
    when is_linked AND old_set then o_fetch_time
    when is_linked then {CUR_MS}
    when is_succ then sched_fetch_time
    when is_retry then
      case when retry_exceeded
           then f_fetch_time + cast(gone_interval as bigint) * 1000
           else f_fetch_time + 86400000 end
    when is_gone then f_fetch_time + cast(gone_interval as bigint) * 1000
    when fetch_set OR has_links then f_fetch_time
    else o_fetch_time end as bigint) AS fetch_time,
  cast(case
    when is_linked AND old_set then o_retries
    when is_linked then 0
    when is_succ then 0
    when is_retry then new_retries
    when is_gone then f_retries
    when fetch_set OR has_links then f_retries
    else o_retries end as bigint) AS retries,
  cast(case
    when is_linked AND old_set then o_interval
    when is_linked then 2592000
    when is_succ then
      case when force_refetch then 6998400 else sched_interval end
    when is_retry then
      case when retry_exceeded then gone_interval else f_interval end
    when is_gone then gone_interval
    when fetch_set OR has_links then f_interval
    else o_interval end as bigint) AS fetch_interval
FROM br
"""


# fetch results with a Content-Type metadata header (1/3 html, 1/3 pdf
# with parameters, 1/3 png ⇒ per-MIME inc/dec rates + default fallback)
FETCH_MIME_SQL = f"""
SELECT
  {_url('o_orderkey')} AS url,
  cast(case o_orderkey % 18
       when 1 then 33 when 4 then 34 when 7 then 35
       when 10 then 36 when 13 then 37 else 38 end as int) AS status,
  cast({CUR_MS} as bigint) AS fetch_time,
  cast(o_orderkey % 4 as int) AS retries,
  cast(case when o_orderkey % 10 = 0 then 8000000 else 2592000 end as int)
    AS fetch_interval,
  cast((o_orderkey % 41) * 0.25 as double) AS score,
  cast(0 as bigint) AS prev_modified_time,
  case o_orderkey % 9 when 1 then 'text/html'
       when 4 then 'application/pdf; version=1.7'
       else 'image/png' end AS mime
FROM orders
WHERE o_orderkey % 3 = 1
"""


def q_updatedb_mime_adaptive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """updatedb with MimeAdaptiveFetchSchedule: the datum's
    Content-Type picks (inc, dec) from the adaptive-mimetypes table
    (pdf 0.1/0.4; html 0.2/0.2; unknown falls back to defaults)."""
    from .operators.updatedb import updatedb

    _views(spark, sf_dir, ["orders"])
    fres = (
        spark.sql(FETCH_MIME_SQL)
        .withColumn(
            "metadata",
            F.create_map(F.lit("Content-Type"), F.col("mime")),
        )
        .drop("mime")
    )
    out = updatedb(
        spark,
        frontier_df(spark, sf_dir),
        fres,
        crawl_parse_df(spark, sf_dir),
        CUR_MS,
        schedule="mime_adaptive",
    )
    return out.select(
        "url",
        F.col("status").cast("long").alias("status"),
        F.col("fetch_time").cast("long").alias("fetch_time"),
        F.col("retries").cast("long").alias("retries"),
        F.col("fetch_interval").cast("long").alias("fetch_interval"),
    )


# The mime-adaptive oracle is the adaptive oracle with (a) the mime-
# bearing fetch CTE, (b) f_mime carried through the join, (c) the
# per-MIME rate multipliers in place of the fixed 0.8 / 1.2. Built by
# checked text substitution so the two oracles cannot drift apart.
def _mime_oracle() -> str:
    q = ORACLE_UPDATEDB_ADAPTIVE
    subs = [
        (FETCH_SQL, FETCH_MIME_SQL),
        (
            "f.prev_modified_time AS f_modified,",
            "f.prev_modified_time AS f_modified,\n         f.mime AS f_mime,",
        ),
        (
            "when state = 'modified' then i0 * 0.8",
            "when state = 'modified' then i0 * "
            "(case when f_mime = 'application/pdf; version=1.7' "
            "then 0.6 else 0.8 end)",
        ),
        (
            "when state = 'notmodified' then i0 * 1.2",
            "when state = 'notmodified' then i0 * "
            "(case when f_mime = 'application/pdf; version=1.7' "
            "then 1.1 else 1.2 end)",
        ),
    ]
    for old, new in subs:
        assert old in q, old[:60]
        q = q.replace(old, new)
    return q


ORACLE_UPDATEDB_MIME_ADAPTIVE = _mime_oracle()


def q_bloom_unseen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Both URL-seen structures the north rule names — partitioned
    bloom AND sharded cuckoo filter — probed with the same seen set
    and candidates, each under a FULL value-hash oracle. The filters
    key on the derivation's arithmetic url_hash, so DuckDB replays
    them bit-for-bit: the bloom via its Kirsch–Mitzenmacher positions
    (h1 + i·h2 mod m), the cuckoo via its ENTIRE deterministic
    two-round placement — fingerprints, i1/i2 = i1⊕(fp·mix) indexes,
    rank-windowed slot assignment, overflow stash — as window
    functions. `seen_exact` remains the exact (non-filter) audit
    twin."""
    from .operators.seen import CuckooSeenFilter, SeenFilter

    bs = SeenFilter(n_buckets=16)
    cf = CuckooSeenFilter(n_shards=16, m_indexes=4096, slots=4)
    _views(spark, sf_dir, ["orders", "customer"])
    fr = frontier_df(spark, sf_dir)  # url_hash = k · 2654435761
    cands = spark.sql(
        f"""
        SELECT {_url('skey')} AS url,
               cast(skey * 2654435761 as bigint) AS url_hash
        FROM (
          SELECT case when c_custkey % 3 = 0 then c_custkey * 7 + 300000
                      else c_custkey * 7 end AS skey
          FROM customer
        ) s
        """
    )
    bloom = bs.unseen(cands, bs.build(fr)).select(
        F.lit("bloom").alias("filter"), "url"
    )
    # third leg: DELETION replay (the operation blooms can't do) —
    # every seen key with orderkey % 7 = 0 is delete()d (two-round
    # rank-guarded occurrence consumption at i1/i2 + exact stash
    # removal, seen.py _remove) and the same candidates re-probed
    built = cf.build(fr).localCheckpoint(eager=True)
    cuckoo = cf.unseen(cands, built).select(
        F.lit("cuckoo").alias("filter"), "url"
    )
    gone = spark.sql(
        "SELECT cast(o_orderkey * 2654435761 as bigint) AS url_hash "
        "FROM orders WHERE o_orderkey % 7 = 0"
    )
    cuckoo_del = cf.unseen(cands, cf.delete(built, gone)).select(
        F.lit("cuckoo_deleted").alias("filter"), "url"
    )
    return bloom.unionAll(cuckoo).unionAll(cuckoo_del)


# Bloom branch — SeenFilter(n_buckets=16) defaults: m_bits =
# 10_000_000, k = 7; h1 = low 32 bits, h2 = (high 32 bits) | 1
# (logical shift — the sign-extended SQL >> is masked back to the true
# high word); bucket = floor-mod(h, 16). A candidate is maybe-seen iff
# ALL of its 7 positions are set in its bucket's union of positions.
#
# Cuckoo branch — CuckooSeenFilter(n_shards=16, m_indexes=4096,
# slots=4): fp = (h >> 32) & 0xFFFF (0 → 1); i1 = h & 4095;
# i2 = i1 XOR ((fp·0x5BD1E995) & 4095); shard = floor-mod(h, 16).
# Placement replay: round A ranks DISTINCT keys by h within
# (shard, i1) — ranks 0-3 take slots; the spill ranks by h within
# (shard, i2) against round-A occupancy; the rest is the exact stash.
# A candidate is maybe-seen iff some stored (shard, index, fp) matches
# at i1 or i2, or its full key sits in the stash.
ORACLE_BLOOM_UNSEEN = f"""
WITH seen_keys AS (
  SELECT cast(o_orderkey * 2654435761 as bigint) AS h FROM orders),
cand AS (
  SELECT {_url('skey')} AS url, cast(skey * 2654435761 as bigint) AS h
  FROM (
    SELECT case when c_custkey % 3 = 0 then c_custkey * 7 + 300000
                else c_custkey * 7 end AS skey
    FROM customer
  ) s),
bits AS (
  SELECT DISTINCT ((h % 16) + 16) % 16 AS bucket,
    ((h & 4294967295) + i * (((h >> 32) & 4294967295) | 1)) % 10000000
      AS pos
  FROM seen_keys, range(0, 7) t(i)),
probe AS (
  SELECT url, ((h % 16) + 16) % 16 AS bucket,
    ((h & 4294967295) + i * (((h >> 32) & 4294967295) | 1)) % 10000000
      AS pos
  FROM cand, range(0, 7) t(i)),
j AS (
  SELECT p.url,
         max(case when b.pos IS NULL then 1 else 0 end) AS missing
  FROM probe p
  LEFT JOIN bits b ON p.bucket = b.bucket AND p.pos = b.pos
  GROUP BY p.url),
ck AS (
  SELECT h, ((h % 16) + 16) % 16 AS shard,
         case when ((h >> 32) & 65535) = 0 then 1
              else (h >> 32) & 65535 end AS fp,
         h & 4095 AS i1
  FROM (SELECT DISTINCT h FROM seen_keys) k),
ck2 AS (SELECT *, xor(i1, (fp * 1540483477) & 4095) AS i2 FROM ck),
ra AS (
  SELECT *, row_number() OVER (PARTITION BY shard, i1 ORDER BY h) - 1
            AS r1
  FROM ck2),
placed_a AS (SELECT shard, i1 AS idx, fp FROM ra WHERE r1 < 4),
occ_a AS (SELECT shard, idx, count(*) AS occ FROM placed_a
          GROUP BY shard, idx),
rb AS (
  SELECT r.shard, r.h, r.fp, r.i2,
         row_number() OVER (PARTITION BY r.shard, r.i2 ORDER BY r.h) - 1
           AS r2,
         coalesce(o.occ, 0) AS occ2
  FROM (SELECT * FROM ra WHERE r1 >= 4) r
  LEFT JOIN occ_a o ON o.shard = r.shard AND o.idx = r.i2),
placed_b AS (SELECT shard, i2 AS idx, fp FROM rb WHERE r2 < 4 - occ2),
stash AS (SELECT shard, h FROM rb WHERE r2 >= 4 - occ2),
stored AS (
  SELECT DISTINCT shard, idx, fp FROM (
    SELECT * FROM placed_a UNION ALL SELECT * FROM placed_b) u),
cprobe AS (
  SELECT url, h, ((h % 16) + 16) % 16 AS shard,
         case when ((h >> 32) & 65535) = 0 then 1
              else (h >> 32) & 65535 end AS fp,
         h & 4095 AS i1
  FROM cand),
cprobe2 AS (
  SELECT url, h, shard, fp, i1 AS idx FROM cprobe
  UNION ALL
  SELECT url, h, shard, fp, xor(i1, (fp * 1540483477) & 4095) AS idx
  FROM cprobe),
chit AS (
  SELECT DISTINCT p.url FROM cprobe2 p
  JOIN stored s ON s.shard = p.shard AND s.idx = p.idx AND s.fp = p.fp
  UNION
  SELECT DISTINCT c.url FROM cprobe c
  JOIN stash t ON t.shard = c.shard AND t.h = c.h),
-- deletion replay (seen.py _remove, two deterministic rounds): every
-- delete key claims one stored OCCURRENCE of its fingerprint at i1
-- (rank within (shard, i1, fp) by key < occurrence count), the spill
-- at i2 against post-round-A counts, the rest remove their exact key
-- from the stash. scnt is the stored MULTISET (placed_a ∪all placed_b
-- — distinct keys can store the same (idx, fp) in different slots).
scnt AS (
  SELECT shard, idx, fp, count(*) AS cnt FROM (
    SELECT * FROM placed_a UNION ALL SELECT * FROM placed_b) u
  GROUP BY shard, idx, fp),
dck AS (
  SELECT h, ((h % 16) + 16) % 16 AS shard,
         case when ((h >> 32) & 65535) = 0 then 1
              else (h >> 32) & 65535 end AS fp,
         h & 4095 AS i1
  FROM (SELECT DISTINCT cast(o_orderkey * 2654435761 as bigint) AS h
        FROM orders WHERE o_orderkey % 7 = 0) d),
dck2 AS (SELECT *, xor(i1, (fp * 1540483477) & 4095) AS i2 FROM dck),
dra AS (
  SELECT *, row_number() OVER (PARTITION BY shard, i1, fp ORDER BY h)
            - 1 AS r1
  FROM dck2),
dtake_a AS (
  SELECT d.* FROM dra d
  JOIN scnt s ON s.shard = d.shard AND s.idx = d.i1 AND s.fp = d.fp
  WHERE d.r1 < s.cnt),
cons_a AS (SELECT shard, i1 AS idx, fp, count(*) AS c FROM dtake_a
           GROUP BY shard, i1, fp),
dspill AS (
  SELECT d.* FROM dra d
  LEFT JOIN scnt s ON s.shard = d.shard AND s.idx = d.i1 AND s.fp = d.fp
  WHERE d.r1 >= coalesce(s.cnt, 0)),
drb AS (
  SELECT *, row_number() OVER (PARTITION BY shard, i2, fp ORDER BY h)
            - 1 AS r2
  FROM dspill),
dtake_b AS (
  SELECT d.* FROM drb d
  LEFT JOIN scnt s ON s.shard = d.shard AND s.idx = d.i2 AND s.fp = d.fp
  LEFT JOIN cons_a a ON a.shard = d.shard AND a.idx = d.i2 AND a.fp = d.fp
  WHERE d.r2 < coalesce(s.cnt, 0) - coalesce(a.c, 0)),
cons_b AS (SELECT shard, i2 AS idx, fp, count(*) AS c FROM dtake_b
           GROUP BY shard, i2, fp),
dstash AS (
  SELECT d.* FROM drb d
  LEFT JOIN scnt s ON s.shard = d.shard AND s.idx = d.i2 AND s.fp = d.fp
  LEFT JOIN cons_a a ON a.shard = d.shard AND a.idx = d.i2 AND a.fp = d.fp
  WHERE d.r2 >= coalesce(s.cnt, 0) - coalesce(a.c, 0)),
post_stored AS (
  SELECT s.shard, s.idx, s.fp
  FROM scnt s
  LEFT JOIN cons_a a ON a.shard = s.shard AND a.idx = s.idx AND a.fp = s.fp
  LEFT JOIN cons_b b ON b.shard = s.shard AND b.idx = s.idx AND b.fp = s.fp
  WHERE s.cnt - coalesce(a.c, 0) - coalesce(b.c, 0) > 0),
post_stash AS (
  SELECT t.shard, t.h FROM stash t
  LEFT JOIN dstash d ON d.shard = t.shard AND d.h = t.h
  WHERE d.h IS NULL),
dhit AS (
  SELECT DISTINCT p.url FROM cprobe2 p
  JOIN post_stored s ON s.shard = p.shard AND s.idx = p.idx
                    AND s.fp = p.fp
  UNION
  SELECT DISTINCT c.url FROM cprobe c
  JOIN post_stash t ON t.shard = c.shard AND t.h = c.h)
SELECT 'bloom' AS filter, url FROM j WHERE missing = 1
UNION ALL
SELECT 'cuckoo' AS filter, url FROM cand
WHERE url NOT IN (SELECT url FROM chit)
UNION ALL
SELECT 'cuckoo_deleted' AS filter, url FROM cand
WHERE url NOT IN (SELECT url FROM dhit)
"""


def q_text_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.signatures import text_profile_signatures

    _views(spark, sf_dir, ["documents"])
    out = text_profile_signatures(spark.table("documents"))
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"), "profile", "signature"
    )


ORACLE_TEXT_PROFILE = """
WITH toks AS (
  SELECT doc_id, unnest(list_filter(
    string_split_regex(lower(text), '[^a-z0-9]+'),
    t -> length(t) > 2)) AS tok
  FROM documents),
counts AS (SELECT doc_id, tok, count(*) AS cnt FROM toks GROUP BY doc_id, tok),
mx AS (SELECT doc_id, max(cnt) AS maxf FROM counts GROUP BY doc_id),
q AS (
  SELECT c.doc_id, c.tok,
         cast(floor(c.cnt / qt) * qt as bigint) AS qcnt
  FROM (SELECT c.*, case when m.maxf > 1
                    then greatest(2, cast(floor(m.maxf * 0.01 + 0.5) as bigint))
                    else 1 end AS qt
        FROM counts c JOIN mx m ON c.doc_id = m.doc_id) c),
prof AS (
  SELECT doc_id,
         string_agg(concat(tok, ' ', cast(qcnt as string)), chr(10)
                    ORDER BY qcnt DESC, tok ASC) AS profile
  FROM q WHERE qcnt > 0 GROUP BY doc_id)
SELECT cast(doc_id as bigint) AS doc_id, profile, md5(profile) AS signature
FROM prof
"""


PARSE_FOR_INDEX_SQL = f"""
SELECT DISTINCT {_url('l_orderkey')} AS url,
       'T' AS title,
       concat('X-', {_url('l_orderkey')}) AS text,
       'seg' AS segment
FROM lineitem
"""


def q_index_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.index import index_documents
    from .operators.linkdb import invert_links

    _views(spark, sf_dir, ["orders", "lineitem"])
    fr = frontier_df(spark, sf_dir)
    pd_ = spark.sql(PARSE_FOR_INDEX_SQL)
    links = links_df(spark, sf_dir)
    outlinked = links.groupBy("from_url").agg(
        F.collect_list(F.struct("to_url", "anchor")).alias("outlinks")
    ).withColumnRenamed("from_url", "url")
    ldb = invert_links(outlinked, max_inlinks=1_000_000)
    out = index_documents(fr, pd_, ldb)
    return out.select(
        "url",
        "title",
        "text",
        F.array_join("anchors", ",").alias("anchors_str"),
        F.col("boost").cast("double").alias("boost"),
        F.col("db_fetch_time").cast("long").alias("db_fetch_time"),
        "db_signature",
        "segment",
    )


ORACLE_INDEX_DOCUMENTS = f"""
WITH frontier AS ({FRONTIER_SQL}),
links AS ({LINKS_SQL}),
pd AS ({PARSE_FOR_INDEX_SQL}),
anch AS (
  SELECT to_url AS url,
         array_to_string(list_sort(list_distinct(list(anchor))), ',')
           AS anchors_str
  FROM links GROUP BY to_url)
SELECT f.url, pd.title, pd.text,
       coalesce(anch.anchors_str, '') AS anchors_str,
       cast(f.score as double) AS boost,
       cast(f.fetch_time as bigint) AS db_fetch_time,
       f.signature AS db_signature,
       pd.segment
FROM frontier f
JOIN pd ON f.url = pd.url
LEFT JOIN anch ON f.url = anch.url
WHERE f.status IN (2, 6)
"""


# fetch_results whose pages carry `subdoc` spans for keys % 4 = 0 —
# exercises the fork's multi-entry parse: each subdoc span becomes a
# non-canonical parse entry and a synthesized fetch_success datum
# (ParseImpl.java:31-73; ParseOutputFormat.java:296-308).
def parse_fetch_sql(source: str) -> str:
    return f"""
SELECT
  {_url('o_orderkey')} AS url,
  cast(o_orderkey * 2654435761 as bigint) AS url_hash,
  {_host('o_orderkey')} AS host,
  cast(33 as int) AS status,
  cast({CUR_MS} as bigint) AS fetch_time,
  cast(0 as int) AS retries,
  cast(2592000 as int) AS fetch_interval,
  cast((o_orderkey % 41) * 0.25 as double) AS score,
  cast(null as string) AS redirect_to,
  case when o_orderkey % 4 = 0 then array(
    named_struct('kind', 'text',
                 'text', concat('page ', cast(o_orderkey as string),
                                ' href:', {_url('o_orderkey * 11 + 1')}),
                 'media_ref', cast(null as string), 'offset', 0),
    named_struct('kind', 'subdoc',
                 'text', concat('item one of ', cast(o_orderkey as string),
                                ' href:', {_url('o_orderkey * 13 + 2')}),
                 'media_ref', concat({_url('o_orderkey')}, '!/sub1'),
                 'offset', 1),
    named_struct('kind', 'subdoc',
                 'text', concat('item two of ', cast(o_orderkey as string)),
                 'media_ref', concat({_url('o_orderkey')}, '!/sub2'),
                 'offset', 2))
  else array(
    named_struct('kind', 'text',
                 'text', concat('page ', cast(o_orderkey as string),
                                ' href:', {_url('o_orderkey * 11 + 1')}),
                 'media_ref', cast(null as string), 'offset', 0))
  end AS spans
FROM {source}
"""


# outlink-pipeline pages: one text span, hrefs in document order —
#   1. A  = url(k+291): same host (291 = 3·97, so k+291 ≡ k mod 97 and
#      mod 3) — kept, order 1;
#   1b (k%10=0 only). 'HTTP' + A[4:]: uppercase-scheme variant — NOT
#      canonical, forces the page down the slow explode path, where it
#      normalizes back to A and the per-page dedup drops it (normalize-
#      BEFORE-dedup, ParseOutputFormat.java:321-396) — output identical
#      to the fast path, which is exactly the invariant under test;
#   2. A again: duplicate — first occurrence wins, dropped;
#   3. url(k+1): external host — dropped by ignore-external byHost;
#   4. E = url(k+2) + '-exempt': external BUT matches the exemption
#      rules — kept via URLExemptionFilters bypass, order 2;
#   5. url(k+582): internal — kept, order 3;
#   6. url(k+873): internal but over the max_outlinks=3 cap — dropped;
#   7. url(k): self-link — dropped.
_PL_A = _url("(o_orderkey + 291)")


def parse_links_sql(source: str) -> str:
    return f"""
SELECT
  {_url('o_orderkey')} AS url,
  cast(o_orderkey * 2654435761 as bigint) AS url_hash,
  {_host('o_orderkey')} AS host,
  cast(33 as int) AS status,
  cast({CUR_MS} as bigint) AS fetch_time,
  cast(0 as int) AS retries,
  cast(2592000 as int) AS fetch_interval,
  cast(0.25 as double) AS score,
  cast(null as string) AS redirect_to,
  cast(null as map<string,string>) AS metadata,
  array(named_struct('kind', 'text', 'text',
    concat('page ', cast(o_orderkey as string),
           ' href:', {_PL_A},
           case when o_orderkey % 10 = 0
                then concat(' href:HTTP', substring({_PL_A}, 5))
                else '' end,
           ' href:', {_PL_A},
           ' href:', {_url('(o_orderkey + 1)')},
           ' href:', {_url('(o_orderkey + 2)')}, '-exempt',
           ' href:', {_url('(o_orderkey + 582)')},
           ' href:', {_url('(o_orderkey + 873)')},
           ' href:', {_url('o_orderkey')}),
    'media_ref', cast(null as string), 'offset', 0)) AS spans
FROM {source}
"""


def q_parse_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL parse operator over pages with subdoc spans and
    emit the fork's canonical-key datums (fetch_success rows in
    crawl_parse) joined with each sub-entry's signature datum.

    Three more operator rows ride this gate by tag-union:
      * truncation check (ParseSegment.isTruncated + parser.skip.
        truncated): pages whose Content-Length header overclaims
        (k%5=0) are skipped, so their sub-entries vanish from the
        'canon' leg;
      * outlink pipeline (leg='link'): per-page normalize → filter →
        self-drop → ignore-external(byHost) → exemption bypass →
        first-occurrence dedup → max_outlinks cap, with k%10=0 pages
        forced down the slow explode path by a non-canonical href (see
        parse_links_sql) — fast and slow paths must produce identical
        ordered outlinks."""
    from .constants import STATUS_FETCH_SUCCESS, STATUS_SIGNATURE
    from .functions.urlplugins import ExemptionRules
    from .operators.parse import parse

    _views(spark, sf_dir, ["orders"])
    # The synthetic input is ONE small parquet scan (1-2 partitions at
    # gate scale), and both the span-construction SQL and parse's
    # span-extraction chain — the gate's whole cost — inherit that
    # width (parse preserves input partitioning; production fetch
    # segments arrive host-partitioned wide). Repartition the RAW scan
    # before any projection so the expression work parallelizes too
    # (post-projection repartition still ran the synthesis single-task:
    # a user repartition doesn't commute below its input projection).
    # Measured 30 s → ~6 s at sf0.1 on 32 cores.
    spark.table("orders").repartition(
        spark.sparkContext.defaultParallelism
    ).createOrReplaceTempView("orders_wide")
    fr = spark.sql(
        f"""
        SELECT b.*,
               case when cast(regexp_extract(b.url, '/p/([0-9]+)$', 1)
                         as bigint) % 5 = 0
                    then map('Content-Length', '9999999')
                    else cast(null as map<string,string>) end AS metadata
        FROM ({parse_fetch_sql("orders_wide")}) b
        """
    ).withColumn("segment", F.lit("seg"))
    _pd, cp = parse(fr, skip_truncated=True)
    # Checkpoint hygiene (same rationale as the crawl driver's
    # per-stage materialization, parse_pages docstring): the fused
    # plan references the span-construction + extraction chain up to
    # 14× (one parquet re-scan each — no subexpression elimination for
    # lambda-bearing exprs), so cut the lineage once after parse and
    # let the groupBy/union run over materialized rows.
    cp = cp.localCheckpoint()
    # Pair each url's fetch_success datum with its signature datum in a
    # ONE-PASS conditional aggregation: a filter/filter self-join here
    # would evaluate the whole parse stage (pandas-UDF work included)
    # once per branch plus shuffle both sides — 2× the cost for the
    # same inner-join-on-url semantics (each url carries at most one
    # datum of each status).
    fss, sgs = F.lit(STATUS_FETCH_SUCCESS), F.lit(STATUS_SIGNATURE)
    canon = (
        cp.filter(F.col("status").isin(STATUS_FETCH_SUCCESS, STATUS_SIGNATURE))
        .groupBy("url")
        .agg(
            F.max(
                F.when(F.col("status") == fss, F.col("fetch_time").cast("long"))
            ).alias("v1"),
            F.max(
                F.when(
                    F.col("status") == fss,
                    F.col("fetch_interval").cast("long"),
                )
            ).alias("v2"),
            F.max(
                F.when(F.col("status") == sgs, F.col("signature"))
            ).alias("s1"),
        )
        .filter(F.col("v1").isNotNull() & F.col("s1").isNotNull())
        .select(F.lit("canon").alias("leg"), "url", "v1", "v2", "s1")
    )

    lf = spark.sql(parse_links_sql("orders_wide")).withColumn(
        "segment", F.lit("seg")
    )  # see orders_wide above
    lpd = parse(
        lf,
        max_outlinks=3,
        ignore_external=True,
        external_mode="byHost",
        exemptions=ExemptionRules([r"-exempt$"]),
    )[0].localCheckpoint()  # same lineage cut as the canon leg
    links = lpd.select("url", F.explode("outlinks").alias("o")).select(
        F.lit("link").alias("leg"),
        "url",
        F.col("o.link_order").cast("long").alias("v1"),
        F.lit(None).cast("long").alias("v2"),
        F.col("o.to_url").alias("s1"),
    )
    return canon.unionByName(links)


ORACLE_PARSE_CANONICAL = f"""
WITH base AS (
  SELECT o_orderkey AS k FROM orders
  WHERE o_orderkey % 4 = 0 AND o_orderkey % 5 <> 0),
subs AS (
  SELECT concat({_url('k')}, '!/sub1') AS url,
         md5(concat('item one of ', cast(k as string))) AS signature
  FROM base
  UNION ALL
  SELECT concat({_url('k')}, '!/sub2') AS url,
         md5(concat('item two of ', cast(k as string))) AS signature
  FROM base)
SELECT 'canon' AS leg, url, cast({CUR_MS} as bigint) AS v1,
       cast(0 as bigint) AS v2, signature AS s1
FROM subs
UNION ALL
SELECT 'link' AS leg, {_url('o_orderkey')} AS url, cast(1 as bigint) AS v1,
       cast(NULL as bigint) AS v2, {_url('(o_orderkey + 291)')} AS s1
FROM orders
UNION ALL
SELECT 'link' AS leg, {_url('o_orderkey')} AS url, cast(2 as bigint) AS v1,
       cast(NULL as bigint) AS v2,
       concat({_url('(o_orderkey + 2)')}, '-exempt') AS s1
FROM orders
UNION ALL
SELECT 'link' AS leg, {_url('o_orderkey')} AS url, cast(3 as bigint) AS v1,
       cast(NULL as bigint) AS v2, {_url('(o_orderkey + 582)')} AS s1
FROM orders
"""


# homepage candidates: root URLs (fetched) for 1/50 of the keys
HOSTDB_ROOTS_SQL = f"""
SELECT concat('http://', {_host('o_orderkey')}, '/') AS url,
  cast(0 as bigint) AS url_hash,
  {_host('o_orderkey')} AS host,
  cast(2 as int) AS status,
  cast({CUR_MS} as bigint) AS fetch_time,
  cast(0 as int) AS retries,
  cast(2592000 as int) AS fetch_interval,
  cast(0.0 as double) AS score,
  cast(null as string) AS signature,
  cast(0 as bigint) AS modified_time
FROM orders WHERE o_orderkey % 50 = 0
"""

HOSTDB_DNS_FAILED_SQL = f"""
SELECT DISTINCT {_host('o_orderkey')} AS host
FROM orders WHERE o_orderkey % 97 % 5 = 0
"""

HOSTDB_PREV_SQL = f"""
SELECT DISTINCT {_host('o_orderkey')} AS host, cast(2 as int) AS dns_failures
FROM orders WHERE o_orderkey % 97 % 10 = 0
"""


def q_hostdb_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full UpdateHostDb over frontier + fetched root pages, with a
    previous hostdb and a deterministic resolver verdict — exercises
    connection-failure counts, homepage pick, dns-failure carry/reset,
    and last-check stamping (HostDatum.java:34-193)."""
    from .operators.linkdb import update_hostdb

    _views(spark, sf_dir, ["orders"])
    fr = frontier_df(spark, sf_dir).unionByName(
        _null_meta(spark.sql(HOSTDB_ROOTS_SQL))
    )
    out = update_hostdb(
        fr,
        prev_hostdb=spark.sql(HOSTDB_PREV_SQL),
        cur_time_ms=CUR_MS,
        dns_failed_hosts=spark.sql(HOSTDB_DNS_FAILED_SQL),
    )
    return out.select(
        "host",
        F.col("num_urls").cast("long").alias("num_urls"),
        F.col("n_db_fetched").cast("long").alias("n_db_fetched"),
        F.col("n_db_unfetched").cast("long").alias("n_db_unfetched"),
        F.col("n_db_gone").cast("long").alias("n_db_gone"),
        F.col("connection_failures").cast("long").alias("connection_failures"),
        F.col("dns_failures").cast("long").alias("dns_failures"),
        "homepage_url",
        F.col("last_check").cast("long").alias("last_check"),
    )


ORACLE_HOSTDB_UPDATE = f"""
WITH frontier AS ({FRONTIER_SQL}),
roots AS ({HOSTDB_ROOTS_SQL}),
allrows AS (SELECT * FROM frontier UNION ALL SELECT * FROM roots),
failed AS ({HOSTDB_DNS_FAILED_SQL}),
prev AS ({HOSTDB_PREV_SQL}),
g AS (
  SELECT host,
    count(*) AS num_urls,
    sum(case when status = 2 then 1 else 0 end) AS n_db_fetched,
    sum(case when status = 1 then 1 else 0 end) AS n_db_unfetched,
    sum(case when status = 3 then 1 else 0 end) AS n_db_gone,
    sum(case when retries <> 0 then 1 else 0 end) AS connection_failures,
    max(case when url = concat('http://', host, '/') AND status in (2, 6)
             then url end) AS homepage_url
  FROM allrows GROUP BY host
)
SELECT g.host,
  cast(num_urls as bigint) AS num_urls,
  cast(n_db_fetched as bigint) AS n_db_fetched,
  cast(n_db_unfetched as bigint) AS n_db_unfetched,
  cast(n_db_gone as bigint) AS n_db_gone,
  cast(connection_failures as bigint) AS connection_failures,
  cast(case when f.host IS NOT NULL then coalesce(p.dns_failures, 0) + 1
       else 0 end as bigint) AS dns_failures,
  homepage_url,
  cast({CUR_MS} as bigint) AS last_check
FROM g
LEFT JOIN failed f ON g.host = f.host
LEFT JOIN prev p ON g.host = p.host
"""


def q_hostdb_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ReadHostDb dump with a JEXL-style filter expression over the
    full update_hostdb output (ReadHostDb.java:66-158) — the hostdb
    query surface twin of readdb_dump."""
    from .operators.linkdb import read_hostdb, update_hostdb

    _views(spark, sf_dir, ["orders"])
    fr = frontier_df(spark, sf_dir).unionByName(
        _null_meta(spark.sql(HOSTDB_ROOTS_SQL))
    )
    out = update_hostdb(
        fr,
        prev_hostdb=spark.sql(HOSTDB_PREV_SQL),
        cur_time_ms=CUR_MS,
        dns_failed_hosts=spark.sql(HOSTDB_DNS_FAILED_SQL),
    )
    dumped = read_hostdb(
        out, expr="num_urls >= 2 AND dns_failures = 0"
    )
    return dumped.select(
        "host",
        F.col("num_urls").cast("long").alias("num_urls"),
        F.col("connection_failures").cast("long").alias(
            "connection_failures"
        ),
        "homepage_url",
    )


ORACLE_HOSTDB_DUMP = f"""
WITH full_dump AS ({ORACLE_HOSTDB_UPDATE})
SELECT host, num_urls, connection_failures, homepage_url
FROM full_dump
WHERE num_urls >= 2 AND dns_failures = 0
"""


def q_warc_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WARC export over span-bearing fetch results: record id, date,
    content length, and the full record hashed via its components
    (WARCExporter.java record layout, deterministic record ids).

    Tag-union second leg ('arc'): ArcSegmentCreator end-to-end over a
    REAL ARC file written to disk — fixture records (one gzip member
    each, filedesc:// file header first) are split, header-parsed,
    url-filtered (every 11th record carries a query-char URL the
    default filter gate drops), and shaped into fetch_results; the
    oracle reconstructs the surviving records' content type, payload
    length, and text-span/media-ref content
    (tools/arc/ArcSegmentCreator.java:300-355, ArcRecordReader.java)."""
    import tempfile

    from .sources.arc import arc_records, arc_segment, write_arc
    from .sources.warc import warc_records

    _views(spark, sf_dir, ["orders"])
    fr = spark.sql(parse_fetch_sql("orders")).withColumn("segment", F.lit("seg"))
    warc = warc_records(fr).select(
        F.lit("warc").alias("leg"),
        "url",
        F.col("content_length").cast("long").alias("v1"),
        F.col("warc_date").alias("s1"),
        F.col("record_id").alias("s2"),
    )

    arc_rows = []
    for k in range(1, 1201):
        url = f"http://host{k % 97}.example{k % 3}.com/p/{k}"
        if k % 11 == 0:
            url += "?x=1"  # query-char rule → dropped by the filter gate
        if k % 3:
            ctype = "text/html"
            payload = (
                f"arc page {k} href:http://host{(k + 291) % 97}"
                f".example{(k + 291) % 3}.com/p/{k + 291}"
            ).encode()
        else:
            ctype = "image/png"
            # never 0x0A: parse strips a trailing newline
            payload = b"\x89PNG" + bytes([65 + k % 26])
        arc_rows.append((url, "1.2.3.4", "20240101000000", ctype, payload))
    d = tempfile.mkdtemp(prefix="gate_arc_")
    write_arc(arc_rows, os.path.join(d, "fixture.arc.gz"))
    seg = arc_segment(arc_records(spark, d), CUR_MS, "arcseg")
    sp = F.element_at(F.col("spans"), 1)
    arc = seg.select(
        F.lit("arc").alias("leg"),
        "url",
        F.element_at("metadata", "arc.content.length")
        .cast("long")
        .alias("v1"),
        F.element_at("metadata", "Content-Type").alias("s1"),
        F.coalesce(sp["text"], sp["media_ref"]).alias("s2"),
    )
    return warc.unionByName(arc)


# payload = Spark to_json(struct(url, spans)): fields in struct order,
# no whitespace, null fields omitted — reconstructed literally from the
# same derivation expressions.
def _warc_payload_sql() -> str:
    u = _url("o_orderkey")
    u11 = _url("o_orderkey * 11 + 1")
    u13 = _url("o_orderkey * 13 + 2")
    k = "cast(o_orderkey as string)"
    text_span = (
        f"concat('{{\"kind\":\"text\",\"text\":\"page ', {k}, "
        f"' href:', {u11}, '\",\"offset\":0}}')"
    )
    sub1 = (
        f"concat('{{\"kind\":\"subdoc\",\"text\":\"item one of ', {k}, "
        f"' href:', {u13}, '\",\"media_ref\":\"', {u}, "
        f"'!/sub1\",\"offset\":1}}')"
    )
    sub2 = (
        f"concat('{{\"kind\":\"subdoc\",\"text\":\"item two of ', {k}, "
        f"'\",\"media_ref\":\"', {u}, '!/sub2\",\"offset\":2}}')"
    )
    return (
        f"concat('{{\"url\":\"', {u}, '\",\"spans\":[', {text_span}, "
        f"case when o_orderkey % 4 = 0 "
        f"then concat(',', {sub1}, ',', {sub2}) else '' end, ']}}')"
    )


ORACLE_WARC_EXPORT = f"""
WITH rec AS (
  SELECT {_url('o_orderkey')} AS url,
         {_warc_payload_sql()} AS payload,
         md5(concat({_url('o_orderkey')}, '|',
                    cast(cast({CUR_MS} as bigint) as string))) AS h
  FROM orders
),
arcrec AS (
  SELECT k, {_url('k')} AS url,
         case when k % 3 <> 0 then 'text/html' else 'image/png' end AS ct,
         case when k % 3 <> 0
              then concat('arc page ', cast(k as string),
                          ' href:', {_url('(k + 291)')})
              end AS body
  FROM (SELECT range AS k FROM range(1, 1201)) ks
  WHERE k % 11 <> 0
)
SELECT 'warc' AS leg, url,
  cast(octet_length(encode(payload)) as bigint) AS v1,
  strftime(to_timestamp({CUR_MS} / 1000), '%Y-%m-%dT%H:%M:%SZ') AS s1,
  concat('<urn:uuid:', substr(h, 1, 8), '-', substr(h, 9, 4), '-',
         substr(h, 13, 4), '-', substr(h, 17, 4), '-',
         substr(h, 21, 12), '>') AS s2
FROM rec
UNION ALL
SELECT 'arc' AS leg, url,
  cast(case when body IS NOT NULL then octet_length(encode(body))
            else 5 end as bigint) AS v1,
  ct AS s1,
  coalesce(body, url) AS s2
FROM arcrec
"""


def q_url_normalize_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Run the REAL RegexNormalizer (regex-normalize.xml rule table)
    end-to-end over URLs carrying session ids, '&&' runs, and trailing
    junk; the oracle constructs the expected rewrite directly (the rule
    table uses lookbehind, which RE2-based SQL engines can't run)."""
    from .functions.urlplugins import ScopedNormalizers, RegexNormalizer

    _views(spark, sf_dir, ["orders"])
    raw = spark.sql(
        f"""
        SELECT concat({_url('o_orderkey')}, ';jsessionid=',
                      md5(cast(o_orderkey as string)),
                      '?q=', cast(o_orderkey as string),
                      '&&r=', cast(o_orderkey % 7 as string), '.') AS url
        FROM orders
        """
    )
    sn = ScopedNormalizers()
    sn.set_chain("outlink", [RegexNormalizer()])
    return sn.with_normalized(raw, "url", "normalized", scope="outlink")


ORACLE_URL_NORMALIZE_REGEX = f"""
SELECT concat({_url('o_orderkey')}, ';jsessionid=',
              md5(cast(o_orderkey as string)),
              '?q=', cast(o_orderkey as string),
              '&&r=', cast(o_orderkey % 7 as string), '.') AS url,
       concat({_url('o_orderkey')},
              '?q=', cast(o_orderkey as string),
              '&r=', cast(o_orderkey % 7 as string)) AS normalized
FROM orders
"""


def q_urlfilter_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix + suffix(+I+P blocklist) + domain filter chain over URLs
    with mixed schemes/extensions/domains — accepted URLs only."""
    from .functions.urlplugins import (
        DomainFilter,
        FilterChain,
        PrefixFilter,
        SuffixFilter,
    )

    _views(spark, sf_dir, ["orders"])
    raw = spark.sql(
        f"""
        SELECT concat(
          case when o_orderkey % 5 = 4 then 'ftp://' else 'http://' end,
          'host', cast(o_orderkey % 97 as string),
          '.example', cast(o_orderkey % 3 as string), '.com/p/',
          cast(o_orderkey as string),
          case o_orderkey % 4 when 0 then '.gif' when 1 then '.GIF'
               when 2 then '.html' else '' end) AS url
        FROM orders
        """
    )
    chain = FilterChain(
        [
            PrefixFilter(["http://", "https://"]),
            SuffixFilter.from_rules("+I +P\n.gif\n.png\n"),
            DomainFilter(["example0.com", "example1.com"]),
        ]
    )
    return raw.filter(chain.udf()(F.col("url"))).select("url")


# accepted ⇔ http scheme (k%5≠4) ∧ suffix ∉ {gif} case-insens (k%4∉{0,1})
# ∧ registered domain ∈ allowlist (k%3∈{0,1})
ORACLE_URLFILTER_CHAIN = f"""
SELECT concat('http://', 'host', cast(o_orderkey % 97 as string),
              '.example', cast(o_orderkey % 3 as string), '.com/p/',
              cast(o_orderkey as string),
              case when o_orderkey % 4 = 2 then '.html' else '' end) AS url
FROM orders
WHERE o_orderkey % 5 <> 4
  AND o_orderkey % 4 in (2, 3)
  AND o_orderkey % 3 in (0, 1)
"""


def q_score_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ScoreUpdater over the frontier with fixed-point LinkRank scores:
    matched URLs take the node score, unmatched clear to 0
    (scoring/webgraph/ScoreUpdater.java:65-110)."""
    from .operators.linkdb import linkrank_quantized, update_scores

    edges = links_df(spark, sf_dir).select("from_url", "to_url")
    scores = linkrank_quantized(edges, iterations=3, checkpoint_partitions=8).select(
        "url", F.col("score_units").cast("double").alias("score")
    )
    out = update_scores(frontier_df(spark, sf_dir), scores)
    return out.select(
        "url", F.col("score").cast("double").alias("score")
    )


def _score_update_oracle() -> str:
    lr = _linkrank_oracle(iterations=3)
    body = lr.split("WITH ", 1)[1]
    ctes, tail = body.rsplit("\nSELECT", 1)
    assert tail.startswith(" url, u AS score_units")
    return (
        "WITH " + ctes + f""",
frontier AS ({FRONTIER_SQL})
SELECT f.url,
  cast(cast(coalesce(cast(s3.u as double), 0.0) as float) as double)
    AS score
FROM frontier f LEFT JOIN s3 ON f.url = s3.url
"""
    )


def q_link_dumper(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LinkDumper (webgraph/LinkDumper.java:68-73): inlinks per target
    annotated with the SOURCE node's LinkRank score — rank debugging."""
    from .operators.linkdb import link_dumper, linkrank_quantized

    edges = links_df(spark, sf_dir).select("from_url", "to_url")
    # scores over the RAW edge multiset (multiplicity counts, exactly
    # like the linkrank gate); the dump itself lists each distinct link
    scores = linkrank_quantized(edges, iterations=3, checkpoint_partitions=8)
    return link_dumper(edges.distinct(), scores)


def _link_dumper_oracle() -> str:
    lr = _linkrank_oracle(iterations=3)
    body = lr.split("WITH ", 1)[1]
    ctes, tail = body.rsplit("\nSELECT", 1)
    assert tail.startswith(" url, u AS score_units")
    return (
        "WITH " + ctes + f""",
raw_edges AS ({LINKS_SQL}),
uedges AS (SELECT DISTINCT from_url, to_url FROM raw_edges)
SELECT e.to_url AS url, e.from_url,
       cast(coalesce(s3.u, 0) as bigint) AS from_score_units
FROM uedges e LEFT JOIN s3 ON e.from_url = s3.url
"""
    )


def q_linkrank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point LinkRank (bigint micro-units, exact integer sums +
    floor divisions) — reduction-order independent, so it carries a
    FULL value-hash oracle; the double-precision `linkrank` variant
    remains pytest-covered for formula/convergence."""
    from .operators.linkdb import linkrank_quantized

    edges = links_df(spark, sf_dir).select("from_url", "to_url")
    return linkrank_quantized(edges, iterations=5, checkpoint_partitions=8).select(
        "url", F.col("score_units").cast("long").alias("score_units")
    )


def _linkrank_oracle(iterations: int = 5, scale: int = 1_000_000,
                     damping_pct: int = 85) -> str:
    """Unrolled fixed-point LinkRank as chained CTE layers — one
    (contrib, scores) pair per iteration, exact integer arithmetic."""
    base = (100 - damping_pct) * scale // 100
    ctes = [
        f"e0 AS (SELECT from_url, to_url FROM ({LINKS_SQL}) l)",
        "nodes AS (SELECT DISTINCT url FROM (SELECT from_url AS url "
        "FROM e0 UNION ALL SELECT to_url AS url FROM e0) nn)",
        "deg AS (SELECT from_url, count(*) AS out_degree FROM e0 "
        "GROUP BY from_url)",
        "ed AS (SELECT e0.from_url, e0.to_url, deg.out_degree FROM e0 "
        "JOIN deg ON e0.from_url = deg.from_url)",
        f"s0 AS (SELECT url, cast({scale} as bigint) AS u FROM nodes)",
    ]
    for i in range(iterations):
        ctes.append(
            f"c{i+1} AS (SELECT ed.to_url AS url, "
            f"sum(cast(floor(s{i}.u / ed.out_degree) as bigint)) AS insum "
            f"FROM ed JOIN s{i} ON ed.from_url = s{i}.url "
            f"GROUP BY ed.to_url)"
        )
        ctes.append(
            f"s{i+1} AS (SELECT n.url, cast({base} + "
            f"floor({damping_pct} * coalesce(c{i+1}.insum, 0) / 100) "
            f"as bigint) AS u FROM nodes n "
            f"LEFT JOIN c{i+1} ON n.url = c{i+1}.url)"
        )
    return (
        "WITH " + ",\n".join(ctes)
        + f"\nSELECT url, u AS score_units FROM s{iterations}"
    )


ORACLE_LINKRANK = _linkrank_oracle()
ORACLE_LINK_DUMPER = _link_dumper_oracle()
ORACLE_SCORE_UPDATE = _score_update_oracle()


# ---------------------------------------------------------------------
# index_plugins — IndexingFilter chain end-to-end
# (index-basic/more/static/metadata/tld/subcollection/replace/
#  mimetype-filter over the indexing join; indexplugins.py)
# ---------------------------------------------------------------------

# per-URL content metadata components (the simulated fetch's HTTP
# response headers); shared text so DuckDB sees the identical values
CONTENT_META_SQL = f"""
SELECT
  {_url('o_orderkey')} AS url,
  case cast(o_orderkey % 4 as int)
    when 0 then 'text/html; charset=utf-8'
    when 1 then 'image/png'
    when 2 then 'application/pdf'
    else 'text/plain' end AS ctype,
  case when o_orderkey % 3 = 0 then cast(o_orderkey * 10 as string) end
    AS clen,
  case when o_orderkey % 5 = 0 then 'Tue, 14 Nov 2023 22:13:20 GMT' end
    AS lastmod,
  case when o_orderkey % 7 = 0
       then concat('team', cast(o_orderkey % 3 as string)) end AS team,
  case when o_orderkey % 11 = 0 then 'NOINDEX,nofollow' end AS robots,
  case when o_orderkey % 2 = 0
       then concat('10.0.0.', cast(o_orderkey % 5 as string)) end AS ip
FROM orders
"""


# injectable geo table for the index-geoip plugin (MaxMind stand-in);
# IPs come from CONTENT_META_SQL's `_ip_` values, two left unknown
GEO_TABLE = {
    "10.0.0.0": ("Minneapolis", "US", "United States",
                 "44.9733,-93.2323", "America/Chicago"),
    "10.0.0.1": ("Berlin", "DE", "Germany",
                 "52.52,13.405", "Europe/Berlin"),
    "10.0.0.3": ("Tokyo", "JP", "Japan",
                 "35.6762,139.6503", "Asia/Tokyo"),
}


def q_index_plugins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.index import index_documents
    from .operators.indexplugins import (
        BasicFields,
        GeoIpFields,
        IndexingFilterChain,
        MetadataFields,
        MimeTypeFilter,
        MoreFields,
        ReplaceFields,
        ReplaceRule,
        StaticFields,
        Subcollection,
        SubcollectionFields,
        TldField,
    )

    _views(spark, sf_dir, ["orders", "lineitem"])
    fr = frontier_df(spark, sf_dir)
    pd_ = spark.sql(PARSE_FOR_INDEX_SQL)
    cm = spark.sql(CONTENT_META_SQL)
    fetch_meta = cm.select(
        "url",
        F.create_map(
            F.lit("Content-Type"), F.col("ctype"),
            F.lit("Content-Length"), F.col("clen"),
            F.lit("Last-Modified"), F.col("lastmod"),
            F.lit("X-Team"), F.col("team"),
            F.lit("_ip_"), F.col("ip"),
        ).alias("metadata"),
    )
    docs = index_documents(
        fr, pd_, None, fetch_results=fetch_meta, extended=True
    )
    chain = IndexingFilterChain(
        [
            BasicFields(add_domain=True, max_content_length=6),
            MoreFields(),
            TldField(),
            StaticFields({"source": "crawl"}),
            MetadataFields(content_md=["X-Team"]),
            SubcollectionFields(
                [
                    Subcollection("news", whitelist=["/p/1"]),
                    Subcollection(
                        "evens",
                        whitelist=["0", "2", "4", "6", "8"],
                        blacklist=["/p/13"],
                    ),
                ]
            ),
            ReplaceFields(
                [ReplaceRule("content", "^X-", "Y-", urlmatch="[02468]$")]
            ),
            GeoIpFields.from_dict(GEO_TABLE),
            MimeTypeFilter(["application/"]),
        ]
    )
    out = chain(docs)
    return out.select(
        "url",
        "doc_url",
        "host",
        "domain",
        "tld",
        "title",
        "content",
        F.col("tstamp").cast("long").alias("tstamp"),
        "type",
        "primary_type",
        "sub_type",
        "content_length",
        F.col("last_modified").cast("long").alias("last_modified"),
        F.col("date").cast("long").alias("date"),
        F.col("boost").cast("double").alias("boost"),
        "source",
        F.col("x_team").alias("x_team"),
        F.array_join("subcollection", ",").alias("subcoll"),
        "ip",
        "city_name",
        "country_iso_code",
        "lat_lon",
        "time_zone",
    )


ORACLE_INDEX_PLUGINS = f"""
WITH frontier AS ({FRONTIER_SQL}),
pd AS ({PARSE_FOR_INDEX_SQL}),
cm AS ({CONTENT_META_SQL}),
base AS (
  SELECT f.url, f.host, f.score, f.fetch_time, f.modified_time,
         pd.title, pd.text,
         cm.ctype, cm.clen, cm.lastmod, cm.team, cm.ip,
         lower(trim(split_part(cm.ctype, ';', 1))) AS mtype
  FROM frontier f
  JOIN pd ON f.url = pd.url
  LEFT JOIN cm ON f.url = cm.url
  WHERE f.status IN (2, 6)
),
fields AS (
  SELECT url,
    url AS doc_url,
    host,
    concat(split_part(host, '.', 2), '.', split_part(host, '.', 3))
      AS domain,
    split_part(host, '.', 3) AS tld,
    title,
    substr(text, 1, 6) AS content0,
    fetch_time AS tstamp,
    mtype AS type,
    regexp_extract(mtype, '^[^/]*') AS primary_type,
    case when contains(mtype, '/')
         then regexp_extract(mtype, '[^/]*$') end AS sub_type,
    case when length(trim(clen)) > 0 then trim(clen) end
      AS content_length,
    epoch_ms(strptime(lastmod, '%a, %d %b %Y %H:%M:%S GMT'))
      AS last_modified,
    coalesce(
      epoch_ms(strptime(lastmod, '%a, %d %b %Y %H:%M:%S GMT')),
      case when modified_time > 0 then modified_time end,
      fetch_time) AS date,
    cast(score as double) AS boost,
    'crawl' AS source,
    team AS x_team,
    ip,
    case ip when '10.0.0.0' then 'Minneapolis'
            when '10.0.0.1' then 'Berlin'
            when '10.0.0.3' then 'Tokyo' end AS city_name,
    case ip when '10.0.0.0' then 'US'
            when '10.0.0.1' then 'DE'
            when '10.0.0.3' then 'JP' end AS country_iso_code,
    case ip when '10.0.0.0' then '44.9733,-93.2323'
            when '10.0.0.1' then '52.52,13.405'
            when '10.0.0.3' then '35.6762,139.6503' end AS lat_lon,
    case ip when '10.0.0.0' then 'America/Chicago'
            when '10.0.0.1' then 'Europe/Berlin'
            when '10.0.0.3' then 'Asia/Tokyo' end AS time_zone,
    concat_ws(',',
      case when contains(url, '/p/1') then 'news' end,
      case when (contains(url, '0') OR contains(url, '2')
              OR contains(url, '4') OR contains(url, '6')
              OR contains(url, '8'))
            AND NOT contains(url, '/p/13') then 'evens' end
    ) AS subcoll
  FROM base
)
SELECT url, doc_url, host, domain, tld, title,
       case when url SIMILAR TO '.*[02468]'
            then regexp_replace(content0, '^X-', 'Y-')
            else content0 end AS content,
       tstamp, type, primary_type, sub_type, content_length,
       last_modified, date, boost, source, x_team, subcoll,
       ip, city_name, country_iso_code, lat_lon, time_zone
FROM fields
WHERE type IS NULL OR type NOT LIKE 'application/%'
"""


# ---------------------------------------------------------------------
# index_actions — IndexerMapReduce add/delete demux + robots noindex
# ---------------------------------------------------------------------


def q_index_actions(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.index import index_actions

    _views(spark, sf_dir, ["orders", "lineitem"])
    fr = frontier_df(spark, sf_dir)
    pd_ = spark.sql(PARSE_FOR_INDEX_SQL)
    cm = spark.sql(CONTENT_META_SQL)
    fetch = (
        spark.sql(FETCH_SQL)
        .join(cm.select("url", "ctype", "robots"), "url", "left")
        .withColumn(
            "metadata",
            F.create_map(
                F.lit("Content-Type"), F.col("ctype"),
                F.lit("robots"), F.col("robots"),
            ),
        )
        .drop("ctype", "robots")
    )
    out = index_actions(
        fr,
        pd_,
        fetch,
        delete_gone=True,
        delete_robots_noindex=True,
    )
    acts = out.select(
        "url",
        F.col("action").cast("int").alias("action"),
        "title",
        F.col("boost").cast("double").alias("boost"),
        "segment",
    )
    # IndexWriter exchange roundtrip (IndexWriters.java open→write→
    # commit→close): the action stream goes through the coordinator and
    # the ParquetIndexWriter sink, and the gate hashes what was read
    # BACK from the sink — so the pluggable-writer path itself is under
    # the value-hash oracle, not just the in-plan DataFrame.
    import tempfile

    from .operators.indexwriters import ParquetIndexWriter, write_index

    sink = os.path.join(tempfile.mkdtemp(prefix="gate_idxw_"), "out")
    write_index(acts, [ParquetIndexWriter(sink)])
    return spark.read.parquet(sink)


ORACLE_INDEX_ACTIONS = f"""
WITH frontier AS ({FRONTIER_SQL}),
pd AS ({PARSE_FOR_INDEX_SQL}),
cm AS ({CONTENT_META_SQL}),
fe AS (
  SELECT f2.url, f2.status AS fetch_status, cm.robots
  FROM ({FETCH_SQL}) f2
  LEFT JOIN cm ON f2.url = cm.url
  WHERE f2.status != 38
),
j AS (
  SELECT f.url, f.status AS db_status, f.score,
         fe.fetch_status, fe.robots,
         pd.title, pd.segment, (pd.url IS NOT NULL) AS has_parse
  FROM frontier f
  LEFT JOIN fe ON f.url = fe.url
  LEFT JOIN pd ON f.url = pd.url
),
cls AS (
  SELECT *,
    CASE
      WHEN contains(lower(coalesce(robots, '')), 'noindex') THEN 1
      WHEN fetch_status IS NOT NULL
           AND (fetch_status = 37 OR db_status = 3) THEN 1
      WHEN fetch_status IS NOT NULL
           AND (fetch_status IN (35, 36) OR db_status IN (4, 5)) THEN 1
      WHEN fetch_status IS NOT NULL AND has_parse
           AND db_status = 7 THEN 1
      WHEN fetch_status IS NOT NULL AND has_parse
           AND fetch_status = 33 THEN 0
    END AS action
  FROM j
)
SELECT url, cast(action as int) AS action,
       CASE WHEN action = 0 THEN title END AS title,
       CASE WHEN action = 0 THEN cast(score as double) END AS boost,
       CASE WHEN action = 0 THEN segment END AS segment
FROM cls
WHERE action IS NOT NULL
"""


# ---------------------------------------------------------------------
# scoring-similarity plugin (SimilarityScoringFilter.java:55-70;
# cosine/Model.java:103-166): page↔gold-standard term-frequency cosine
# ---------------------------------------------------------------------

# Fixed gold-standard doc built from the synthetic vocabulary — stands
# in for conf's cosine.goldstandard.file (Model.java:78-88).
SIMILARITY_GOLD = (
    "spark table scan join window agg table join shuffle partition "
    "hash merge row column value table"
)


def q_score_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.simscore import similarity_scores

    _views(spark, sf_dir, ["documents"])
    docs = spark.table("documents").select(F.col("doc_id").cast("long"), "text")
    # stem=False: the gate needs the pure-Column tokenizer so the DuckDB
    # oracle can replicate it in SQL (Porter stemming is not expressible
    # there); the public API defaults to the reference's stem=True.
    return similarity_scores(docs, SIMILARITY_GOLD, stem=False).select(
        "doc_id", "sim"
    )


def _similarity_oracle() -> str:
    from .functions.simscore import LUCENE_STOP_WORDS, gold_vector

    gold = gold_vector(SIMILARITY_GOLD)
    g2 = sum(c * c for c in gold.values())
    vals = ", ".join(f"('{t}', {c})" for t, c in sorted(gold.items()))
    stops = ", ".join(f"'{s}'" for s in sorted(LUCENE_STOP_WORDS))
    # Same integer-exact pieces as the Spark Column program: bigint
    # Σ tf·gtf and Σ tf², one double divide by sqrt·sqrt at the end.
    return f"""
WITH toks AS (
  SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z0-9]+')) AS t
  FROM documents
), tf AS (
  SELECT doc_id, t, count(*)::bigint AS c FROM toks
  WHERE t NOT IN ({stops}) GROUP BY 1, 2
), gold(t, gc) AS (VALUES {vals}),
num AS (SELECT tf.doc_id, sum(tf.c * gold.gc)::bigint AS n
        FROM tf JOIN gold USING (t) GROUP BY 1),
nrm AS (SELECT doc_id, sum(c * c)::bigint AS m FROM tf GROUP BY 1)
SELECT cast(d.doc_id as bigint) AS doc_id,
       CASE WHEN coalesce(nrm.m, 0) = 0 THEN 0.0
            ELSE coalesce(num.n, 0) / (sqrt(nrm.m) * sqrt({g2})) END AS sim
FROM (SELECT DISTINCT doc_id FROM documents) d
LEFT JOIN num USING (doc_id)
LEFT JOIN nrm USING (doc_id)
"""


ORACLE_SCORE_SIMILARITY = _similarity_oracle()


# ---------------------------------------------------------------------
# parsefilter-regex (RegexParseFilter.java:61-96): parse-metadata
# fields set true/false by regex find over raw content or extracted text
# ---------------------------------------------------------------------

PARSEFILTER_RULES = (
    "# gate rules: one text-source, one html-source (media refs only\n"
    "# appear in the raw span content), one multi-token text regex\n"
    "has_scan\ttext\tscan\n"
    "media_seven\thtml\tmedia\\.example\\.com/[0-9]*7$\n"
    "agg_then_join\ttext\tagg .*join\n"
)


def q_parsefilter_regex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HtmlParseFilter chain, two tag-union legs over the documents
    table:

      * 'regex' — parsefilter-regex rule table (text vs raw-span-html
        sources), v1..v3 = has_scan / media_seven / agg_then_join;
      * 'meta' — parse-metatags + headings over kind=meta/heading
        spans, chained AFTER the regex filter so the tika-compat
        mirror loop (MetaTagsParser.java:105-108) sees earlier-chain
        metadata: v1 = metatag.author (multi-value tab append, name
        lowercasing, null-content skip), v2 = metatag.has_scan (the
        MIRRORED regex entry), v3 = metatag.keywords (present in the
        spans but NOT configured — must stay absent), v4/v5 = h1/h2
        (whitespace collapse, first-element pick, empty-heading skip,
        absent-tag null)."""
    from .operators.parsefilters import (
        HeadingsParseFilter,
        MetaTagsParser,
        ParseFilterChain,
        RegexParseFilter,
    )

    _views(spark, sf_dir, ["documents"])
    # parse_data-shaped input: one text span + one media span per doc,
    # so the html source (= raw span content) differs from the text
    docs = spark.table("documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.col("text").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.lit(None).cast("string").alias("text"),
                F.concat(
                    F.lit("http://media.example.com/"), F.col("doc_id")
                ).alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
        ).alias("spans"),
    )
    chain = ParseFilterChain(
        (RegexParseFilter.from_text(PARSEFILTER_RULES),)
    )
    out = chain.apply(docs)
    regex = out.select(
        F.lit("regex").alias("leg"),
        "doc_id",
        F.element_at("parse_meta", F.lit("has_scan")).alias("v1"),
        F.element_at("parse_meta", F.lit("media_seven")).alias("v2"),
        F.element_at("parse_meta", F.lit("agg_then_join")).alias("v3"),
        F.lit(None).cast("string").alias("v4"),
        F.lit(None).cast("string").alias("v5"),
    )

    # -- meta leg: head spans (kind=meta name/content, kind=heading) --
    did = F.col("doc_id")
    span = lambda kind, ref, text, off: F.struct(  # noqa: E731
        F.lit(kind).alias("kind"),
        text.alias("text"),
        ref.alias("media_ref"),
        F.lit(off).alias("offset"),
    )
    head_docs = spark.table("documents").select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "text",
        F.filter(
            F.array(
                span("text", F.lit(None).cast("string"), F.col("text"), 0),
                # mixed-case name → lowercased key
                span("meta", F.lit("Author"),
                     F.concat(F.lit("auth-"), (did % 50).cast("string")), 1),
                # repeat of the same tag (doc_id%3=0) → tab-appended
                F.when(
                    did % 3 == 0,
                    span("meta", F.lit("AUTHOR"),
                         F.concat(F.lit("a2-"), (did % 11).cast("string")), 2),
                ),
                # null content (doc_id%5=0) → skipped by the filter
                F.when(
                    did % 5 == 0,
                    span("meta", F.lit("author"),
                         F.lit(None).cast("string"), 3),
                ),
                # present but NOT in the configured name set
                span("meta", F.lit("Keywords"),
                     F.concat(F.lit("kw-"), (did % 7).cast("string")), 4),
                # h1: whitespace-collapse target; blank for doc_id%7=0
                span("heading", F.lit("H1"),
                     F.when(did % 7 == 0, F.lit("   ")).otherwise(
                         F.concat(F.lit(" Title\t "), did.cast("string"), F.lit("  end "))
                     ), 5),
                # second h1 — multivalued=False must keep the first
                # non-empty only (so it's the pick exactly when the
                # first collapsed to empty)
                F.when(
                    did % 4 == 0,
                    span("heading", F.lit("h1"), F.lit("Second"), 6),
                ),
                # h2 only on even ids → odd ids get no h2 entry
                F.when(
                    did % 2 == 0,
                    span("heading", F.lit("h2"),
                         F.concat(F.lit("sub "), did.cast("string")), 7),
                ),
            ),
            lambda s: s.isNotNull(),
        ).alias("spans"),
    )
    meta_chain = ParseFilterChain(
        (
            RegexParseFilter.from_text(PARSEFILTER_RULES),
            MetaTagsParser(names=("author", "has_scan")),
            HeadingsParseFilter(headings=("h1", "h2"), multivalued=False),
        )
    )
    mout = meta_chain.apply(head_docs)
    meta = mout.select(
        F.lit("meta").alias("leg"),
        "doc_id",
        F.element_at("parse_meta", F.lit("metatag.author")).alias("v1"),
        F.element_at("parse_meta", F.lit("metatag.has_scan")).alias("v2"),
        F.element_at("parse_meta", F.lit("metatag.keywords")).alias("v3"),
        F.element_at("parse_meta", F.lit("h1")).alias("v4"),
        F.element_at("parse_meta", F.lit("h2")).alias("v5"),
    )
    return regex.unionByName(meta)


ORACLE_PARSEFILTER_REGEX = """
WITH scans AS (
  SELECT cast(doc_id as bigint) AS doc_id, text,
         CASE WHEN regexp_matches(text, 'scan')
              THEN 'true' ELSE 'false' END AS has_scan
  FROM documents)
SELECT 'regex' AS leg, doc_id, has_scan AS v1,
       CASE WHEN regexp_matches(
                text || ' http://media.example.com/' || doc_id,
                'media\\.example\\.com/[0-9]*7$')
            THEN 'true' ELSE 'false' END AS v2,
       CASE WHEN regexp_matches(text, 'agg .*join')
            THEN 'true' ELSE 'false' END AS v3,
       cast(NULL as varchar) AS v4, cast(NULL as varchar) AS v5
FROM scans
UNION ALL
SELECT 'meta' AS leg, doc_id,
       concat('auth-', doc_id % 50) ||
         CASE WHEN doc_id % 3 = 0
              THEN chr(9) || 'a2-' || (doc_id % 11) ELSE '' END AS v1,
       has_scan AS v2,
       cast(NULL as varchar) AS v3,
       CASE WHEN doc_id % 7 = 0 AND doc_id % 4 = 0 THEN 'Second'
            WHEN doc_id % 7 = 0 THEN cast(NULL as varchar)
            ELSE concat('Title ', doc_id, ' end') END AS v4,
       CASE WHEN doc_id % 2 = 0 THEN concat('sub ', doc_id)
            ELSE cast(NULL as varchar) END AS v5
FROM scans
"""


# ---------------------------------------------------------------------
# FileDumper (tools/FileDumper.java:140-300): content dump paths by
# url-MD5 two-level dirs / flat / reversed-host + SHA-256, mime filter
# ---------------------------------------------------------------------

# url with an extension for 1-in-4 rows so base/ext splitting is
# exercised (no-extension rows default to .html)
_FD_URL = f"case when o_orderkey % 4 = 1 then concat({_url('o_orderkey')}, '.png') else {_url('o_orderkey')} end"

FILEDUMP_INPUT_SQL = f"""
SELECT
  {_FD_URL} AS url,
  case cast(o_orderkey % 4 as int)
    when 0 then 'text/html; charset=utf-8'
    when 1 then 'image/png'
    when 2 then 'application/pdf'
    else 'text/plain' end AS ctype
FROM orders
"""


def q_file_dump(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .sources.filedump import dump_path_col, file_dump

    _views(spark, sf_dir, ["orders"])
    rows = spark.sql(FILEDUMP_INPUT_SQL).select(
        "url",
        F.create_map(F.lit("Content-Type"), F.col("ctype")).alias("metadata"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                F.concat(F.lit("doc "), F.col("url")).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    out = file_dump(rows, mime_types=["text/html", "application/pdf"])
    return out.select(
        "url",
        "mime_type",
        "path",
        "content",
        dump_path_col(F.col("url"), flat_dir=True).alias("flat_path"),
        dump_path_col(F.col("url"), reverse_url_dump=True).alias("rev_path"),
    )


ORACLE_FILE_DUMP = f"""
WITH rows0 AS ({FILEDUMP_INPUT_SQL}),
c AS (
  SELECT url,
         trim(string_split(ctype, ';')[1]) AS mime_type,
         'doc ' || url AS content,
         md5(url) AS m,
         string_split(url, '/')[-1] AS last
  FROM rows0
), named AS (
  SELECT *,
    CASE WHEN regexp_matches(last, '\\.[^.]+$')
         THEN regexp_extract(last, '^(.*)\\.[^.]*$', 1) ELSE last END AS base,
    CASE WHEN regexp_matches(last, '\\.[^.]+$')
         THEN regexp_extract(last, '\\.([^.]*)$', 1) ELSE 'html' END AS ext
  FROM c
), paths AS (
  SELECT url, mime_type, content,
    m || '_' || replace(substring(base, 1, 32), '?', '') || '.'
      || replace(substring(ext, 1, 5), '?', '') AS fname,
    substring(m, 1, 1) || substring(m, 9, 1) AS l1,
    substring(m, 17, 1) || substring(m, 25, 1) AS l2,
    replace(array_to_string(list_reverse(string_split(
      regexp_extract(url, '^[a-z][a-z0-9+.-]*://([^:/?#]*)', 1), '.')), '.'),
      '.', '/') AS revhost,
    upper(sha256(url)) AS sha
  FROM named
)
SELECT url, mime_type,
       'dump/' || l1 || '/' || l2 || '/' || fname AS path,
       content,
       'dump/' || fname AS flat_path,
       'dump/' || revhost || '/' || sha AS rev_path
FROM paths
WHERE mime_type IN ('text/html', 'application/pdf')
"""


# ---------------------------------------------------------------------
# score_depth — scoring-depth plugin (DepthScoringFilter.java): a
# depth-2-bounded two-cycle crawl over synthetic pages, with 1/3 of the
# seeds carrying a seed-file _maxdepth_=3 override. Exercises
# injectedScore (depth stamping), distributeScoreToOutlinks (outlink
# gate + target decorate), and updateDbScore (min-depth merge +
# first-link metadata inheritance). Depth/maxdepth columns are
# integer-exact; scores are exact powers of two.
# ---------------------------------------------------------------------

_DEPTH_T1 = CUR_MS + 1000
_DEPTH_T2 = CUR_MS + 2000

# seeds from customer keys; every third customer gets a bigger budget
DEPTH_SEEDS_SQL = f"""
SELECT {_url('c_custkey * 3')} AS url,
       case when c_custkey % 3 = 0 then '3' end AS custom
FROM customer
"""


def _depth_children(url_col, base: int):
    """Two child outlinks per page, keys 2k+base and 2k+base+1 of the
    page's url key — same derivation the oracle mirrors in SQL."""
    k = F.regexp_extract(url_col, r"/p/(\d+)$", 1).cast("long")
    return [k * 2 + F.lit(base), k * 2 + F.lit(base + 1)]


def _child_url(key_col):
    return F.concat(
        F.lit("http://host"),
        (key_col % 97).cast("string"),
        F.lit(".example"),
        (key_col % 3).cast("string"),
        F.lit(".com/p/"),
        key_col.cast("string"),
    )


def _depth_parse_data(pages: DataFrame, base: int) -> DataFrame:
    """Shape frontier rows as parse_data: each page 'parses' into two
    child outlinks (crawl_parse_from applies the REAL plugin hooks)."""
    kids = _depth_children(F.col("url"), base)
    return pages.select(
        "url",
        "host",
        "score",
        F.md5(F.col("url")).alias("signature"),
        F.array(
            *[
                F.struct(
                    _child_url(k).alias("to_url"),
                    F.lit("a").alias("anchor"),
                    F.lit("link").alias("kind"),
                    F.lit(i + 1).alias("link_order"),
                )
                for i, k in enumerate(kids)
            ]
        ).alias("outlinks"),
        F.lit(True).alias("is_canonical"),
        F.col("fetch_time"),
        "metadata",
    )


def _empty_redirects(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame(
        [], "url string, status int, redirect_to string"
    )


def q_score_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.depth import DEPTH_KEY, MAX_DEPTH_KEY, depth_hooks
    from .operators.inject import inject
    from .operators.parse import crawl_parse_from
    from .operators.updatedb import updatedb

    _views(spark, sf_dir, ["customer"])
    hooks = depth_hooks(max_depth=2)
    seeds = spark.sql(DEPTH_SEEDS_SQL).select(
        "url",
        F.when(
            F.col("custom").isNotNull(),
            F.create_map(F.lit(MAX_DEPTH_KEY), F.col("custom")),
        ).alias("metadata"),
    )
    # localCheckpoint between cycles: chained full-outer merges grow
    # the logical plan multiplicatively (same reason the crawl driver
    # cuts lineage per cycle). coalesce(8) first: the checkpoint
    # write/read pays per-task overhead on all 33 shuffle-width
    # partitions of a 15k-row frame — measured 4× on this gate.
    fr0 = inject(spark, None, seeds, CUR_MS, hooks=hooks).coalesce(
        8
    ).localCheckpoint()

    # cycle 1: every seed page parses into two children; depth-1 pages
    # pass the gate, targets stamped depth 2 (+ inherited budget)
    cp1 = crawl_parse_from(
        _depth_parse_data(fr0, 600_000), _empty_redirects(spark),
        hooks=hooks,
    )
    fr1 = updatedb(
        spark, fr0, None, cp1, _DEPTH_T1, hooks=hooks
    ).coalesce(8).localCheckpoint()

    # cycle 2: only the NEW segment (the children) parses; default-
    # budget children sit at depth = maxdepth = 2 and are gated, the
    # _maxdepth_=3 lineage emits one more generation
    kids1 = fr1.join(fr0.select("url"), "url", "left_anti")
    cp2 = crawl_parse_from(
        _depth_parse_data(kids1, 700_000), _empty_redirects(spark),
        hooks=hooks,
    )
    fr2 = updatedb(spark, fr1, None, cp2, _DEPTH_T2, hooks=hooks)

    return fr2.select(
        "url",
        F.col("status").cast("long").alias("status"),
        F.element_at("metadata", DEPTH_KEY).cast("long").alias("depth"),
        F.element_at("metadata", MAX_DEPTH_KEY)
        .cast("long")
        .alias("maxdepth"),
        F.col("score").cast("double").alias("score"),
        F.col("fetch_time").cast("long").alias("fetch_time"),
    )


# seeds: depth 1, budget coalesce(custom, 2), score 1.0 (injected),
# passthrough rows (no fetch). children: one inlink each → score =
# parent 1.0 / 2 outlinks = 0.5, depth 2, inherited budget, created at
# T1. grandchildren exist only under budget-3 children: score 0.25,
# depth 3, created at T2. All rows db_unfetched (status 1).
ORACLE_SCORE_DEPTH = f"""
WITH s AS (
  SELECT c_custkey * 3 AS k,
         coalesce(case when c_custkey % 3 = 0 then 3 end, 2) AS maxdepth
  FROM customer
),
ck AS (
  SELECT k * 2 + 600000 + i.i AS ckey, maxdepth
  FROM s CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1) i
),
gk AS (
  SELECT ckey * 2 + 700000 + i.i AS gkey
  FROM ck CROSS JOIN (SELECT 0 AS i UNION ALL SELECT 1) i
  WHERE maxdepth = 3
),
seeds AS (
  SELECT {_url('k')} AS url, 1 AS depth, maxdepth,
         cast(1.0 as double) AS score, cast({CUR_MS} as bigint) AS ft
  FROM s
),
kids AS (
  SELECT {_url('ckey')} AS url, 2 AS depth, maxdepth,
         cast(0.5 as double) AS score, cast({_DEPTH_T1} as bigint) AS ft
  FROM ck
),
gkids AS (
  SELECT {_url('gkey')} AS url, 3 AS depth, 3 AS maxdepth,
         cast(0.25 as double) AS score, cast({_DEPTH_T2} as bigint) AS ft
  FROM gk
)
SELECT url, cast(1 as bigint) AS status, cast(depth as bigint) AS depth,
       cast(maxdepth as bigint) AS maxdepth, score,
       ft AS fetch_time
FROM (
  SELECT * FROM seeds UNION ALL SELECT * FROM kids
  UNION ALL SELECT * FROM gkids
) allrows
"""


# ---------------------------------------------------------------------
# score_link — scoring-link plugin (LinkAnalysisScoringFilter.java):
# two legs tag-unioned. 'generate': the fetchlist ordered by the
# webgraph score that ScoreUpdater wrote into the frontier (ordering
# follows linkrank, NOT OPIC's crawl score). 'updatedb': the merge
# under link scoring — updateDbScore is a no-op, so targeted old rows
# KEEP their score (no inlink sum added) and brand-new linked rows
# start at initialScore 0.0.
# ---------------------------------------------------------------------


def q_score_link(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .functions.scoring import link_analysis_hooks
    from .operators.generate import generate
    from .operators.linkdb import linkrank_quantized, update_scores
    from .operators.updatedb import updatedb

    hooks = link_analysis_hooks()
    edges = links_df(spark, sf_dir).select("from_url", "to_url")
    scores = linkrank_quantized(edges, iterations=3, checkpoint_partitions=8).select(
        "url", F.col("score_units").cast("double").alias("score")
    )
    fr = update_scores(frontier_df(spark, sf_dir), scores)
    fl = generate(
        fr, CUR_MS, "seg0001", top_n=300, max_count=0, hooks=hooks
    )
    gen_leg = fl.select(
        F.lit("generate").alias("part"),
        "url",
        F.lit(None).cast("long").alias("status"),
        F.col("score").cast("double").alias("score"),
    )

    upd = updatedb(
        spark,
        frontier_df(spark, sf_dir),
        None,
        crawl_parse_df(spark, sf_dir).filter(F.col("status") == 67),
        CUR_MS,
        hooks=hooks,
    )
    upd_leg = upd.select(
        F.lit("updatedb").alias("part"),
        "url",
        F.col("status").cast("long").alias("status"),
        F.col("score").cast("double").alias("score"),
    )
    return gen_leg.unionByName(upd_leg)


def _score_link_oracle() -> str:
    lr = _linkrank_oracle(iterations=3)
    body = lr.split("WITH ", 1)[1]
    ctes, tail = body.rsplit("\nSELECT", 1)
    assert tail.startswith(" url, u AS score_units")
    return (
        "WITH " + ctes + f""",
frontier AS ({FRONTIER_SQL}),
upd AS (
  SELECT f.url,
    cast(cast(coalesce(cast(s3.u as double), 0.0) as float) as double)
      AS score,
    f.fetch_time, f.fetch_interval, f.url_hash
  FROM frontier f LEFT JOIN s3 ON f.url = s3.url
),
due AS (
  SELECT * FROM upd
  WHERE fetch_time - {CUR_MS} > 7776000000 OR fetch_time <= {CUR_MS}
),
gen AS (
  SELECT 'generate' AS part, url, cast(NULL as bigint) AS status, score
  FROM due ORDER BY score DESC, url_hash ASC LIMIT 300
),
linked AS ({LINKED_SQL}),
lagg AS (SELECT url, count(*) AS n FROM linked GROUP BY url),
updleg AS (
  SELECT 'updatedb' AS part, f.url,
         cast(f.status as bigint) AS status,
         cast(f.score as double) AS score
  FROM frontier f
  UNION ALL
  SELECT 'updatedb', l.url, cast(1 as bigint), cast(0.0 as double)
  FROM lagg l LEFT JOIN frontier f ON l.url = f.url
  WHERE f.url IS NULL
)
SELECT * FROM gen UNION ALL SELECT * FROM updleg
"""
    )


ORACLE_SCORE_LINK = _score_link_oracle()


# ---------------------------------------------------------------------
# parsefilter_nb — parsefilter-naivebayes (NaiveBayesParseFilter.java):
# the trained two-class filter over derived pages with a clear class
# margin. Relevant pages keep both outlinks; irrelevant pages keep
# only the wordlist-matching one. The NB arithmetic itself is pinned
# bit-exactly by tests/test_naivebayes.py (python ≡ Column parity +
# hand-computed goldens); the oracle predicts the end-to-end verdicts
# from the input derivation.
# ---------------------------------------------------------------------

NB_TRAIN_LINES = [
    "1\talpha beta gamma delta",
    "1\talpha beta epsilon",
    "1\tgamma delta alpha",
    "0\tnoise junk spam",
    "0\tjunk spam filler noise",
    "0\tspam noise filler",
]

# text by k % 3: 0 → clearly relevant; 1 → mixed but irrelevant-
# dominated (true NB weighting, verified stable in tests); 2 → clearly
# irrelevant
NB_TEXT_CASE = (
    "case o_orderkey % 3 "
    "when 0 then 'alpha beta gamma alpha beta' "
    "when 1 then 'alpha noise junk spam noise' "
    "else 'noise junk spam noise junk' end"
)


def q_parsefilter_nb(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .operators.parsefilters import (
        NaiveBayesParseFilter,
        ParseFilterChain,
    )

    _views(spark, sf_dir, ["orders"])
    pages = spark.sql(
        f"""
        SELECT {_url('o_orderkey')} AS url,
               {NB_TEXT_CASE} AS text,
               concat({_url('o_orderkey')}, '/keep/a') AS link_keep,
               concat({_url('o_orderkey')}, '/other/b') AS link_other
        FROM orders
        """
    ).select(
        "url",
        "text",
        F.array().cast(
            "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
        ).alias("spans"),
        F.array(
            F.struct(
                F.col("link_keep").alias("to_url"),
                F.lit("a").alias("anchor"),
                F.lit("link").alias("kind"),
                F.lit(1).alias("link_order"),
            ),
            F.struct(
                F.col("link_other").alias("to_url"),
                F.lit("b").alias("anchor"),
                F.lit("link").alias("kind"),
                F.lit(2).alias("link_order"),
            ),
        ).alias("outlinks"),
    )
    nb = NaiveBayesParseFilter.from_training(
        NB_TRAIN_LINES, wordlist=["/keep/"]
    )
    out = ParseFilterChain((nb,)).apply(pages)
    return out.select(
        "url",
        F.size("outlinks").cast("long").alias("n_outlinks"),
        F.concat_ws(
            ",", F.transform("outlinks", lambda o: o["to_url"])
        ).alias("kept_urls"),
    )


ORACLE_PARSEFILTER_NB = f"""
SELECT {_url('o_orderkey')} AS url,
  cast(case when o_orderkey % 3 = 0 then 2 else 1 end as bigint)
    AS n_outlinks,
  case when o_orderkey % 3 = 0
       then concat({_url('o_orderkey')}, '/keep/a', ',',
                   {_url('o_orderkey')}, '/other/b')
       else concat({_url('o_orderkey')}, '/keep/a') end AS kept_urls
FROM orders
"""


# ---------------------------------------------------------------------
# merged gates — the driver correctness-checks at most 50 queries, so
# gates that share an input scan and a natural key are merged into one
# row each: the merged Spark query unions/joins the SAME operator
# outputs the standalone gates ran, and the merged oracle wraps the
# standalone oracles verbatim as subqueries. Every operator keeps an
# oracle-checked gate row this way; nothing lost but registry slots.
# ---------------------------------------------------------------------


def q_updatedb_schedules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """updatedb under the ADAPTIVE and MIME-ADAPTIVE fetch schedules,
    tag-unioned — both variants run the full updatedb state machine
    with their own schedule arithmetic (see the standalone gates)."""
    ad = q_updatedb_adaptive(spark, sf_dir).select(
        F.lit("adaptive").alias("schedule"), "*"
    )
    mi = q_updatedb_mime_adaptive(spark, sf_dir).select(
        F.lit("mime").alias("schedule"), "*"
    )
    return ad.unionByName(mi)


ORACLE_UPDATEDB_SCHEDULES = f"""
SELECT 'adaptive' AS schedule, * FROM ({ORACLE_UPDATEDB_ADAPTIVE})
UNION ALL
SELECT 'mime' AS schedule, * FROM ({ORACLE_UPDATEDB_MIME_ADAPTIVE})
"""


def q_hostdb_tools(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UpdateHostDb joined with the ReadHostDb dump verdict: the full
    hostdb update output plus a `dumped` flag marking the rows the
    JEXL-filtered dump (num_urls >= 2 AND dns_failures = 0) selects —
    both operators run unmodified."""
    upd = q_hostdb_update(spark, sf_dir)
    dump = q_hostdb_dump(spark, sf_dir).select("host").withColumn(
        "dumped", F.lit(True)
    )
    return upd.join(dump, "host", "left").withColumn(
        "dumped", F.coalesce(F.col("dumped"), F.lit(False))
    )


ORACLE_HOSTDB_TOOLS = f"""
SELECT u.*, d.host IS NOT NULL AS dumped
FROM ({ORACLE_HOSTDB_UPDATE}) u
LEFT JOIN ({ORACLE_HOSTDB_DUMP}) d ON u.host = d.host
"""


def q_readdb_reports(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CrawlDbReader -stats plus the retry histogram, tag-unioned into
    one report table: report='status' rows carry the full per-status
    stats; report='retry' rows carry the retry histogram with the
    stats columns null."""
    st = q_readdb_stats(spark, sf_dir).select(
        F.lit("status").alias("report"),
        F.col("status").alias("key"),
        "status_name",
        "n_urls",
        "min_score",
        "max_score",
        "avg_score",
        "earliest_fetch_time",
        "latest_fetch_time",
        "max_retries",
    )
    rh = q_retry_histogram(spark, sf_dir).select(
        F.lit("retry").alias("report"),
        F.col("retries").alias("key"),
        F.lit(None).cast("string").alias("status_name"),
        "n_urls",
        F.lit(None).cast("double").alias("min_score"),
        F.lit(None).cast("double").alias("max_score"),
        F.lit(None).cast("double").alias("avg_score"),
        F.lit(None).cast("long").alias("earliest_fetch_time"),
        F.lit(None).cast("long").alias("latest_fetch_time"),
        F.lit(None).cast("long").alias("max_retries"),
    )
    return st.unionByName(rh)


ORACLE_READDB_REPORTS = f"""
SELECT 'status' AS report, status AS key, status_name, n_urls,
       min_score, max_score, avg_score,
       earliest_fetch_time, latest_fetch_time, max_retries
FROM ({ORACLE_READDB_STATS})
UNION ALL
SELECT 'retry' AS report, retries AS key, cast(NULL as varchar), n_urls,
       cast(NULL as double), cast(NULL as double), cast(NULL as double),
       cast(NULL as bigint), cast(NULL as bigint), cast(NULL as bigint)
FROM ({ORACLE_RETRY_HISTOGRAM})
"""


def q_completion_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DomainStatistics (domain mode) plus CrawlCompletionStats (host
    mode), tag-unioned — the two readdb reporting tools over the same
    frontier scan."""
    ds = q_domain_stats(spark, sf_dir).select(
        F.lit("domain").alias("report"),
        "key",
        F.lit(None).cast("string").alias("state"),
        "n_urls",
    )
    cc = q_crawl_completion(spark, sf_dir).select(
        F.lit("completion").alias("report"), "key", "state", "n_urls"
    )
    return ds.unionByName(cc)


ORACLE_COMPLETION_STATS = f"""
SELECT 'domain' AS report, key, cast(NULL as varchar) AS state, n_urls
FROM ({ORACLE_DOMAIN_STATS})
UNION ALL
SELECT 'completion' AS report, key, state, n_urls
FROM ({ORACLE_CRAWL_COMPLETION})
"""


# ---------------------------------------------------------------------
# registry
# ---------------------------------------------------------------------

CRAWL_QUERIES: dict[str, tuple] = {
    "readdb_stats": (q_readdb_reports, ORACLE_READDB_REPORTS),
    "readdb_topn": (q_readdb_topn, ORACLE_READDB_TOPN),
    "readdb_dump": (q_readdb_dump, ORACLE_READDB_DUMP),
    "hostdb": (q_hostdb, ORACLE_HOSTDB),
    "dedup_mark": (q_dedup_mark, ORACLE_DEDUP_MARK),
    "inject": (q_inject, ORACLE_INJECT),
    "generate_topn": (q_generate, ORACLE_GENERATE),
    "generate_multiseg": (q_generate_multiseg, ORACLE_GENERATE_MULTISEG),
    "linkdb_invert": (q_linkdb, ORACLE_LINKDB),
    "node_degrees": (q_node_degrees, ORACLE_NODE_DEGREES),
    "updatedb": (q_updatedb, ORACLE_UPDATEDB_LEGS),
    "crawldb_merge": (q_crawldb_merge, ORACLE_CRAWLDB_MERGE),
    "segment_merge": (q_segment_merge, ORACLE_SEGMENT_MERGE),
    "segment_list": (q_segment_list, ORACLE_SEGMENT_LIST),
    "completion_stats": (q_completion_stats, ORACLE_COMPLETION_STATS),
    "fetch_politeness": (q_fetch_politeness, ORACLE_FETCH_POLITENESS),
    "seen_exact": (q_seen_exact, ORACLE_SEEN_EXACT),
    "text_profile_signature": (q_text_profile, ORACLE_TEXT_PROFILE),
    "index_documents": (q_index_documents, ORACLE_INDEX_DOCUMENTS),
    "parse_canonical": (q_parse_canonical, ORACLE_PARSE_CANONICAL),
    "url_normalize_regex": (q_url_normalize_regex, ORACLE_URL_NORMALIZE_REGEX),
    "hostdb_tools": (q_hostdb_tools, ORACLE_HOSTDB_TOOLS),
    "warc_export": (q_warc_export, ORACLE_WARC_EXPORT),
    "urlfilter_chain": (q_urlfilter_chain, ORACLE_URLFILTER_CHAIN),
    "bloom_unseen": (q_bloom_unseen, ORACLE_BLOOM_UNSEEN),
    "linkrank": (q_linkrank, ORACLE_LINKRANK),
    "link_dumper": (q_link_dumper, ORACLE_LINK_DUMPER),
    "score_update": (q_score_update, ORACLE_SCORE_UPDATE),
    "updatedb_schedules": (q_updatedb_schedules, ORACLE_UPDATEDB_SCHEDULES),
    "index_plugins": (q_index_plugins, ORACLE_INDEX_PLUGINS),
    "index_actions": (q_index_actions, ORACLE_INDEX_ACTIONS),
    "score_similarity": (q_score_similarity, ORACLE_SCORE_SIMILARITY),
    "score_depth": (q_score_depth, ORACLE_SCORE_DEPTH),
    "score_link": (q_score_link, ORACLE_SCORE_LINK),
    "parsefilter_regex": (q_parsefilter_regex, ORACLE_PARSEFILTER_REGEX),
    "parsefilter_nb": (q_parsefilter_nb, ORACLE_PARSEFILTER_NB),
    "file_dump": (q_file_dump, ORACLE_FILE_DUMP),
}
