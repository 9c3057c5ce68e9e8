"""UpdateDb — merge fetch/parse results back into the frontier.

Re-expresses the reference CrawlDbReducer state machine
(crawl/CrawlDbReducer.java:64-322) as ONE declarative DataFrame program:

  frontier ⟗ latest-fetch ⟗ link-aggregates ⟗ signatures  (full outer on url)
  → when/otherwise column program (whole-stage codegen, no Python)

Exact semantics carried over:
  * latest fetch datum per URL wins by fetch_time (CrawlDbReducer.java:99-113);
  * linked contributions capped at db.update.max.inlinks=10000 top-by-score
    (InlinkPriorityQueue, CrawlDbReducer.java:57-58, 326-339) and consumed
    as Σ score by OPIC updateDbScore (OPICScoringFilter.java:95-105);
  * a lone link acts as the fetch datum (CrawlDbReducer.java:150-153):
    old row passes through (score-adjusted), new URL initialized as
    db_unfetched with score = Σ link contributions (initialScore=0 +
    adjust — OPICScoringFilter.java:83-86);
  * no new data → old row passes through UNCHANGED, including the
    generate-time marker (the early return at CrawlDbReducer.java:156-165);
  * signature compare decides modified/notmodified for fetch_success only
    — redirects are never signature-compared (NUTCH-1422,
    CrawlDbReducer.java:223-233); notmodified resets modifiedTime to the
    previous value and keeps the old signature (NUTCH-1341,
    CrawlDbReducer.java:239-247);
  * fetch schedules (default|adaptive) applied as column expressions
    (functions/schedules.py); retry → db_unfetched until retryMax then
    db_gone + gone schedule (CrawlDbReducer.java:282-295); gone → 1.5×
    interval growth (AbstractFetchSchedule.java:107-117);
  * fetchInterval > db.fetch.interval.max ⇒ forceRefetch(asap=false)
    (CrawlDbReducer.java:274-276, AbstractFetchSchedule.java:214-225);
  * metadata: old overlaid by fetch, generate-time marker stripped from
    every updated row (CrawlDbReducer.java:174-186, 318);
  * additionsAllowed=false drops never-seen URLs (CrawlDbReducer.java:145-147).

Scale: the three small sides aggregate BEFORE the join (map-side partial
aggs), the big frontier side joins once on url. AQE skew-join splits hot
URL-hash partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..constants import (
    Defaults,
    META_GENERATE_TIME,
    META_REPR_URL,
    STATUS_DB_GONE,
    STATUS_DB_NOTMODIFIED,
    STATUS_DB_REDIR_PERM,
    STATUS_DB_REDIR_TEMP,
    STATUS_DB_FETCHED,
    STATUS_DB_UNFETCHED,
    STATUS_FETCH_GONE,
    STATUS_FETCH_NOTMODIFIED,
    STATUS_FETCH_REDIR_PERM,
    STATUS_FETCH_REDIR_TEMP,
    STATUS_FETCH_RETRY,
    STATUS_FETCH_SUCCESS,
    STATUS_LINKED,
    STATUS_SIGNATURE,
)
from ..functions import schedules as sched
from ..functions.scoring import OPIC, ScoringHooks
from ..functions.urls import host_of, url_hash_col
from ..schema import FRONTIER

def _empty_meta():
    return F.create_map().cast("map<string,string>")


def updatedb(
    spark,
    frontier: DataFrame | None,
    fetch_results: DataFrame | None,
    crawl_parse: DataFrame | None,
    cur_time_ms: int,
    schedule: str = "default",  # default | adaptive | mime_adaptive
    mime_rates: dict | None = None,  # mime → (inc, dec); None = defaults
    retry_max: int = Defaults.RETRY_MAX,
    max_interval: int = Defaults.FETCH_INTERVAL_MAX,
    max_inlinks: int = Defaults.MAX_INLINKS,
    additions_allowed: bool = True,
    purge_404: bool = False,
    hooks: ScoringHooks = OPIC,
) -> DataFrame:
    if frontier is None:
        frontier = spark.createDataFrame([], FRONTIER)
    if purge_404:
        frontier = frontier.filter(F.col("status") != STATUS_DB_GONE)

    old = frontier.select(
        F.col("url"),
        F.struct(*[F.col(c) for c in frontier.columns if c != "url"]).alias("o"),
    )

    # --- latest fetch per url (CrawlDbReducer.java:99-113) ---
    # crawl_parse may carry synthesized fetch_success datums for
    # non-canonical parse keys (the fork's canonical-key datum,
    # ParseOutputFormat.java:296-308); they enter the reduce exactly
    # like a real fetch datum, so union them before the latest-wins
    # window.
    fetch_stream = None
    if fetch_results is not None:
        fetch_stream = fetch_results.select(
            "url", "status", "fetch_time", "retries", "fetch_interval",
            "score", F.col("prev_modified_time").alias("modified_time"),
            "metadata",
        )
    if crawl_parse is not None and "fetch_time" in crawl_parse.columns:
        synth = crawl_parse.filter(
            F.col("status") == STATUS_FETCH_SUCCESS
        ).select(
            "url",
            "status",
            F.coalesce(F.col("fetch_time"), F.lit(cur_time_ms)).alias(
                "fetch_time"
            ),
            F.lit(0).alias("retries"),
            F.col("fetch_interval"),
            F.col("score"),
            F.lit(0).cast("long").alias("modified_time"),
            F.col("metadata"),
        )
        fetch_stream = (
            synth
            if fetch_stream is None
            else fetch_stream.unionByName(synth)
        )
    if fetch_stream is not None:
        w = Window.partitionBy("url").orderBy(
            F.desc("fetch_time"), F.desc("status")
        )
        fetch = (
            fetch_stream.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select(
                F.col("url"),
                F.struct(
                    F.col("status"),
                    F.col("fetch_time"),
                    F.col("retries"),
                    F.col("fetch_interval"),
                    F.col("score"),
                    F.col("modified_time"),
                    F.col("metadata"),
                ).alias("f"),
            )
        )
    else:
        fetch = None

    # --- link aggregates + signatures from crawl_parse ---
    links = sigs = None
    if crawl_parse is not None:
        lk = crawl_parse.filter(F.col("status") == STATUS_LINKED)
        # db.update.max.inlinks cap (top-K by score, CrawlDbReducer.java:
        # 57-58): a window over every link row would shuffle+sort the
        # whole link stream just in case some URL exceeds K=10000. Do a
        # plain hash agg first (map-side partials, one light shuffle)
        # and re-rank ONLY the over-cap URLs — normally none, and when a
        # mega-page exists this confines the sort to exactly the skewed
        # keys.
        # metadata-aware scorers (scoring-depth) aggregate a per-link
        # metadata value with min (updateDbScore iterates `inlinked` for
        # the smallest depth). Computed over ALL links, not the top-K
        # capped list — diverges only past max_inlinks (doc'd in
        # functions/depth.py).
        meta_aggs = []
        if hooks.link_meta_agg is not None:
            meta_aggs.append(
                F.min(hooks.link_meta_agg(F.col("metadata"))).alias(
                    "link_meta_min"
                )
            )
        if hooks.update_db_metadata is not None:
            # brand-new linked-only rows inherit the promoted first-link
            # datum's metadata (CrawlDbReducer.java:150-153 makes
            # linked.get(0) — the max-score link — the result datum, so
            # its whole metadata map survives; scoring-depth's
            # _maxdepth_ budget propagates this way). Tie-break on
            # (from_url, anchor) for determinism where the reference's
            # queue order is arbitrary.
            meta_aggs.append(
                F.max_by(
                    F.col("metadata"),
                    F.struct(
                        F.col("score"), F.col("from_url"), F.col("anchor")
                    ),
                ).alias("link_meta_first")
            )
        agg0 = lk.groupBy("url").agg(
            F.sum("score").alias("_sum_all"),
            F.count("*").alias("link_count"),
            *meta_aggs,
            # the promoted first-link datum is the HIGHEST-score link
            # (InlinkPriorityQueue pops lowest first, the reversed
            # linkList's get(0) is the max — CrawlDbReducer.java:
            # 140-153); its score seeds brand-new linked URLs before
            # initialScore runs. Unaffected by the top-K cap: the max
            # is always inside the top K.
            F.max("score").alias("link_max"),
            # repr-URL carried on redirect-linked datums
            # (URLUtil.chooseRepr; CrawlDbReducer keeps the repr from
            # the link datum's metadata) — max picks deterministically
            # if several links carry one
            F.max(
                F.element_at(
                    F.coalesce(F.col("metadata"), _empty_meta()),
                    META_REPR_URL,
                )
            ).alias("link_repr"),
        )
        hot = agg0.filter(F.col("link_count") > max_inlinks).select("url")
        wl = Window.partitionBy("url").orderBy(
            F.desc("score"), F.asc("from_url"), F.asc("anchor")
        )
        hot_sums = (
            lk.join(hot, "url", "left_semi")
            .withColumn("_r", F.row_number().over(wl))
            .filter(F.col("_r") <= max_inlinks)
            .groupBy("url")
            .agg(F.sum("score").alias("_sum_topk"))
        )
        links = (
            agg0.join(hot_sums, "url", "left_outer")
            .select(
                "url",
                F.coalesce(F.col("_sum_topk"), F.col("_sum_all"))
                .cast("float")
                .alias("link_adjust"),
                F.least(F.col("link_count"), F.lit(max_inlinks).cast("long"))
                .alias("link_count"),
                F.col("link_max").cast("float").alias("link_max"),
                "link_repr",
                *(
                    ["link_meta_min"]
                    if hooks.link_meta_agg is not None
                    else []
                ),
                *(
                    ["link_meta_first"]
                    if hooks.update_db_metadata is not None
                    else []
                ),
            )
        )
        sigs = (
            crawl_parse.filter(F.col("status") == STATUS_SIGNATURE)
            .groupBy("url")
            .agg(F.max("signature").alias("parse_signature"))
        )

    j = old
    j = j.join(fetch, "url", "full_outer") if fetch is not None else j.withColumn(
        "f", F.lit(None).cast("struct<status:int,fetch_time:bigint,retries:int,fetch_interval:int,score:float,modified_time:bigint,metadata:map<string,string>>")
    )
    if links is not None:
        j = j.join(links, "url", "full_outer")
    else:
        j = j.withColumn("link_adjust", F.lit(None).cast("float")).withColumn(
            "link_count", F.lit(None).cast("long")
        ).withColumn("link_max", F.lit(None).cast("float")).withColumn(
            "link_repr", F.lit(None).cast("string")
        )
    if sigs is not None:
        j = j.join(sigs, "url", "left_outer")
    else:
        j = j.withColumn("parse_signature", F.lit(None).cast("string"))
    if hooks.link_meta_agg is not None and "link_meta_min" not in j.columns:
        j = j.withColumn("link_meta_min", F.lit(None))
    if (
        hooks.update_db_metadata is not None
        and "link_meta_first" not in j.columns
    ):
        j = j.withColumn(
            "link_meta_first", F.lit(None).cast("map<string,string>")
        )

    old_set = F.col("o").isNotNull()
    fetch_set = F.col("f").isNotNull()
    has_links = F.coalesce(F.col("link_count"), F.lit(0)) > 0
    adjust = F.coalesce(F.col("link_adjust"), F.lit(0.0)).cast("float")

    # effective fetch status: real fetch, else a lone link acts as fetch
    eff = F.when(fetch_set, F.col("f.status")).when(
        has_links, F.lit(STATUS_LINKED)
    )

    prev_modified = F.when(old_set, F.col("o.modified_time")).otherwise(F.lit(0))
    prev_fetch_time = F.when(old_set, F.col("o.fetch_time")).otherwise(F.lit(0))
    signature = F.coalesce(F.col("parse_signature"))  # fetch datum carries none
    f_fetch_time = F.col("f.fetch_time")
    f_modified = F.col("f.modified_time")

    # result seed = fetch datum, modifiedTime backfilled from old
    seed_interval = F.col("f.fetch_interval")
    seed_retries = F.col("f.retries")
    seed_score = F.col("f.score")
    seed_modified = F.when(
        old_set & (F.col("o.modified_time") > 0) & (F.coalesce(f_modified, F.lit(0)) == 0),
        F.col("o.modified_time"),
    ).otherwise(F.coalesce(f_modified, F.lit(0)))
    seed_meta = F.when(
        old_set,
        F.map_concat(
            F.map_filter(
                F.coalesce(F.col("o.metadata"), _empty_meta()),
                lambda k, _v: ~F.map_contains_key(
                    F.coalesce(F.col("f.metadata"), _empty_meta()), k
                ),
            ),
            F.coalesce(F.col("f.metadata"), _empty_meta()),
        ),
    ).otherwise(F.coalesce(F.col("f.metadata"), _empty_meta()))

    # --- modification state (success only; NUTCH-1422) ---
    is_success_family = eff.isin(
        STATUS_FETCH_SUCCESS,
        STATUS_FETCH_REDIR_TEMP,
        STATUS_FETCH_REDIR_PERM,
        STATUS_FETCH_NOTMODIFIED,
    )
    state = (
        F.when(eff == STATUS_FETCH_NOTMODIFIED, F.lit(sched.STATE_NOTMODIFIED))
        .when(
            (eff == STATUS_FETCH_SUCCESS)
            & old_set
            & F.col("o.signature").isNotNull()
            & signature.isNotNull(),
            F.when(
                F.col("o.signature") != signature, F.lit(sched.STATE_MODIFIED)
            ).otherwise(F.lit(sched.STATE_NOTMODIFIED)),
        )
        .otherwise(F.lit(sched.STATE_UNKNOWN))
    )

    # --- schedule application for the success family ---
    if schedule == "mime_adaptive":
        sch = sched.set_fetch_schedule_mime_adaptive(
            seed_interval, f_fetch_time, f_modified, state, seed_meta,
            mime_rates=mime_rates,
        )
    elif schedule == "adaptive":
        sch = sched.set_fetch_schedule_adaptive(
            seed_interval, f_fetch_time, f_modified, state, seed_meta
        )
    else:
        sch = sched.set_fetch_schedule_default(
            seed_interval, f_fetch_time, seed_modified
        )

    notmod = state == sched.STATE_NOTMODIFIED
    succ_status = (
        F.when(notmod, F.lit(STATUS_DB_NOTMODIFIED))
        .when(eff == STATUS_FETCH_SUCCESS, F.lit(STATUS_DB_FETCHED))
        .when(eff == STATUS_FETCH_REDIR_PERM, F.lit(STATUS_DB_REDIR_PERM))
        .when(eff == STATUS_FETCH_REDIR_TEMP, F.lit(STATUS_DB_REDIR_TEMP))
    )
    succ_signature = F.when(
        notmod, F.when(old_set, F.col("o.signature"))
    ).otherwise(signature)
    succ_modified = F.when(notmod, prev_modified).otherwise(sch["modified_time"])

    # forceRefetch(asap=false) when interval exceeds the max
    force = sch["fetch_interval"] > F.lit(max_interval)
    succ_status = F.when(force, F.lit(STATUS_DB_UNFETCHED)).otherwise(succ_status)
    succ_interval = F.when(
        force, sched.force_refetch_interval(sch["fetch_interval"], max_interval)
    ).otherwise(sch["fetch_interval"])
    succ_signature = F.when(force, F.lit(None).cast("string")).otherwise(succ_signature)
    succ_modified = F.when(force, F.lit(0)).otherwise(succ_modified)
    succ_retries = F.when(force, F.lit(0)).otherwise(sch["retries"])

    # --- retry branch (CrawlDbReducer.java:282-295) ---
    retry_sched = sched.set_page_retry_schedule(seed_retries, f_fetch_time)
    new_retries = retry_sched["retries"]
    retry_exceeded = new_retries >= F.lit(retry_max)
    gone_after_retry = sched.set_page_gone_schedule(seed_interval, f_fetch_time, max_interval)
    retry_status = F.when(retry_exceeded, F.lit(STATUS_DB_GONE)).otherwise(
        F.lit(STATUS_DB_UNFETCHED)
    )
    retry_fetch_time = F.when(
        retry_exceeded, gone_after_retry["fetch_time"]
    ).otherwise(retry_sched["fetch_time"])
    retry_interval = F.when(
        retry_exceeded, gone_after_retry["fetch_interval"]
    ).otherwise(seed_interval)

    # --- gone branch ---
    gone_sched = sched.set_page_gone_schedule(seed_interval, f_fetch_time, max_interval)

    # --- linked-only branch ---
    linked_new_status = F.lit(STATUS_DB_UNFETCHED)

    is_linked = eff == STATUS_LINKED
    is_retry = eff == STATUS_FETCH_RETRY
    is_gone = eff == STATUS_FETCH_GONE

    def branch(success_col, retry_col, gone_col, linked_old_col, linked_new_col, seed_col):
        return (
            F.when(is_linked & old_set, linked_old_col)
            .when(is_linked, linked_new_col)
            .when(is_success_family, success_col)
            .when(is_retry, retry_col)
            .when(is_gone, gone_col)
            .otherwise(seed_col)
        )

    out_status = branch(
        succ_status, retry_status, F.lit(STATUS_DB_GONE), F.col("o.status"), linked_new_status, F.col("f.status")
    )
    out_fetch_time = branch(
        sch["fetch_time"],
        retry_fetch_time,
        gone_sched["fetch_time"],
        F.col("o.fetch_time"),
        F.lit(cur_time_ms),
        f_fetch_time,
    )
    out_interval = branch(
        succ_interval,
        retry_interval,
        gone_sched["fetch_interval"],
        F.col("o.fetch_interval"),
        F.lit(Defaults.FETCH_INTERVAL),
        seed_interval,
    )
    out_retries = branch(
        succ_retries, new_retries, seed_retries, F.col("o.retries"), F.lit(0), seed_retries
    )
    out_signature = branch(
        succ_signature,
        F.when(old_set, F.col("o.signature")),
        F.when(old_set, F.col("o.signature")),
        F.col("o.signature"),
        F.lit(None).cast("string"),
        F.lit(None).cast("string"),
    )
    out_modified = branch(
        succ_modified,
        seed_modified,
        seed_modified,
        F.col("o.modified_time"),
        F.lit(0),
        seed_modified,
    )
    # linked rows carry the repr-URL (if any link datum brought one)
    repr_entry = F.when(
        F.col("link_repr").isNotNull(),
        F.create_map(F.lit(META_REPR_URL), F.col("link_repr")),
    ).otherwise(_empty_meta())
    # only overwrite an existing repr when a link datum brought a new one
    linked_old_meta = F.when(
        F.col("link_repr").isNotNull(),
        F.map_concat(
            F.map_filter(
                F.coalesce(F.col("o.metadata"), _empty_meta()),
                lambda k, _v: k != META_REPR_URL,
            ),
            repr_entry,
        ),
    ).otherwise(F.coalesce(F.col("o.metadata"), _empty_meta()))
    # brand-new linked-only rows: default path carries only the repr
    # entry; with a metadata-carrying scorer active they inherit the
    # promoted first-link datum's metadata (repr still overrides)
    if hooks.update_db_metadata is not None:
        linked_new_meta = F.map_concat(
            F.map_filter(
                F.coalesce(F.col("link_meta_first"), _empty_meta()),
                lambda k, _v: k != META_REPR_URL,
            ),
            repr_entry,
        )
    else:
        linked_new_meta = repr_entry
    out_meta = branch(
        seed_meta, seed_meta, seed_meta, linked_old_meta, linked_new_meta,
        seed_meta,
    )

    # ScoringFilter.updateDbScore / initialScore hook points
    # (OPICScoringFilter.java:83-105: score = base + Σ link contribs,
    # new linked URLs start at initialScore)
    base_score = (
        F.when(is_linked & old_set, F.col("o.score"))
        .when(is_linked, hooks.initial_score(F.col("link_max")))
        .when(old_set, F.col("o.score"))
        .otherwise(F.coalesce(seed_score, F.lit(0.0)))
    )
    out_score = hooks.update_db_score(base_score, adjust).cast("float")

    # strip generate-time marker from every updated row
    out_meta = F.map_filter(out_meta, lambda k, _v: k != META_GENERATE_TIME)

    # metadata-rewrite hook point (the metadata half of
    # ScoringFilter.updateDbScore — scoring-depth writes the new min
    # depth into the result row); runs only on rows with new data,
    # like the reference's reducer path (CrawlDbReducer.java:311)
    if hooks.update_db_metadata is not None:
        out_meta = hooks.update_db_metadata(
            out_meta,
            F.when(old_set, F.col("o.metadata")),
            F.col("link_meta_min")
            if hooks.link_meta_agg is not None
            else F.lit(None),
        )

    has_new_data = fetch_set | has_links
    updated = F.struct(
        out_status.cast("int").alias("status"),
        out_fetch_time.cast("long").alias("fetch_time"),
        out_retries.cast("int").alias("retries"),
        out_interval.cast("int").alias("fetch_interval"),
        out_score.alias("score"),
        out_signature.alias("signature"),
        out_modified.cast("long").alias("modified_time"),
        out_meta.alias("metadata"),
    )
    # passthrough keeps the old row byte-for-byte (incl. _ngt_ marker)
    passthrough = F.struct(
        F.col("o.status").alias("status"),
        F.col("o.fetch_time").alias("fetch_time"),
        F.col("o.retries").alias("retries"),
        F.col("o.fetch_interval").alias("fetch_interval"),
        F.col("o.score").alias("score"),
        F.col("o.signature").alias("signature"),
        F.col("o.modified_time").alias("modified_time"),
        F.coalesce(F.col("o.metadata"), _empty_meta()).alias("metadata"),
    )
    r = F.when(has_new_data, updated).otherwise(passthrough)

    res = j.select(
        "url",
        F.coalesce(F.col("o.url_hash"), url_hash_col(F.col("url"))).alias("url_hash"),
        F.coalesce(F.col("o.host"), host_of(F.col("url"))).alias("host"),
        r.alias("r"),
        old_set.alias("_old_set"),
        (fetch_set | has_links | old_set).alias("_any"),
    ).filter(F.col("_any"))
    if not additions_allowed:
        res = res.filter(F.col("_old_set"))

    return res.select(
        "url",
        "url_hash",
        "host",
        F.col("r.status").alias("status"),
        F.col("r.fetch_time").alias("fetch_time"),
        F.col("r.retries").alias("retries"),
        F.col("r.fetch_interval").alias("fetch_interval"),
        F.col("r.score").alias("score"),
        F.col("r.signature").alias("signature"),
        F.col("r.modified_time").alias("modified_time"),
        F.col("r.metadata").alias("metadata"),
    )


def updatedb_seen_split(
    spark,
    frontier: DataFrame | None,
    fetch_results: DataFrame | None,
    crawl_parse: DataFrame,
    cur_time_ms: int,
    seen_filter,
    seen_table: DataFrame,
    audit: bool = False,
    insert_created: bool = False,
    **updatedb_kwargs,
) -> tuple[DataFrame, DataFrame]:
    """UpdateDb with the URL-seen filter pruning the frontier join —
    the shared core behind Crawler cycles and the streaming merge.

    Routing (per URL — every datum of a URL shares its probe verdict,
    so a URL's whole reduce group lands on one side):

      * maybe_seen=True datums take the normal frontier full-outer
        merge; false positives land here too and are created by the
        lone-link branch — identical semantics, just via the big join;
      * maybe_seen=False datums are DEFINITELY absent from the
        frontier (bloom/cuckoo have no false negatives while the
        filter ⊇ frontier invariant holds), so they run the same
        reduce against an EMPTY frontier: zero frontier-side shuffle
        for the dominant mostly-new outlink stream.

    The probe is NARROW: only the cycle's distinct url_hashes cross
    Arrow; the verdict localCheckpoints (one probe feeds both outputs)
    and joins back JVM-side. Fetch datums need no probe — every
    fetched URL came off the fetchlist ⊆ frontier.

    Returns (merged frontier, next seen table): the filter learns the
    definitely-new keys; false-positive creations are already reported
    seen — that is what a false positive is — so by default they are
    NOT re-inserted (for the bloom their bits already read set; for the
    cuckoo a second copy only costs a slot).

    `insert_created=True` additionally add()s the keys of rows the big
    join CREATED (probed maybe_seen but absent from the frontier — the
    false positives of this cycle). Required whenever delete() will
    run against the filter (crawl purge_404 + cuckoo): a cuckoo delete
    is only membership-safe for keys that were actually inserted
    (paper §3.2) — deleting a never-inserted false positive would
    consume ANOTHER key's only stored fingerprint copy, and that key
    (still in the frontier) would then probe definitely-new and be
    double-created by a later cycle. With every created row owning one
    inserted copy, each purge removes a copy its own row accounted
    for, and surviving frontier rows always retain ≥ 1 matching copy.
    Cost: one broadcast-semi-join SCAN of the frontier's url_hash
    column (the cycle's seen-probing keys broadcast; no shuffle),
    paid only when the flag is on. Relies on the engine invariant
    frontier.url_hash = xxhash64(url) (inject.py:92, updatedb
    url_hash coalesce above).
    """
    cp = crawl_parse.withColumn("__uh", url_hash_col(F.col("url")))
    keys = cp.select(F.col("__uh").alias("url_hash")).distinct()
    marked_keys = seen_filter.mark_seen(keys, seen_table).localCheckpoint(
        eager=False
    )
    cp = cp.join(
        marked_keys.select(F.col("url_hash").alias("__uh"), "maybe_seen"),
        "__uh",
    )
    cp_seen = cp.filter(F.col("maybe_seen")).drop("maybe_seen", "__uh")
    cp_new = cp.filter(~F.col("maybe_seen")).drop("maybe_seen", "__uh")
    if audit and frontier is not None:
        leaked = (
            cp_new.select("url").distinct()
            .join(frontier.select("url"), "url", "inner")
            .count()
        )
        if leaked:
            raise AssertionError(
                f"seen filter reported {leaked} frontier URL(s) as "
                "definitely-new (false negative) — filter/frontier out "
                "of sync"
            )
    fr2 = updatedb(
        spark, frontier, fetch_results, cp_seen, cur_time_ms,
        **updatedb_kwargs,
    ).unionByName(
        updatedb(spark, None, None, cp_new, cur_time_ms,
                 **updatedb_kwargs)
    )
    delta = marked_keys.filter(~F.col("maybe_seen")).select("url_hash")
    if insert_created and frontier is not None:
        seen_keys = marked_keys.filter(F.col("maybe_seen")).select("url_hash")
        present = frontier.select("url_hash").join(
            F.broadcast(seen_keys), "url_hash", "left_semi"
        )
        created = seen_keys.join(present, "url_hash", "left_anti")
        delta = delta.unionByName(created)
    return fr2, seen_filter.add(seen_table, delta)
