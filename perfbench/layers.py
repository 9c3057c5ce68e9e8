"""Per-layer metrics of a traced run, from its spans, its Spark event
log and a few counts taken after the timed region.

Stage wall times and counts are per timed cycle (averaged when a run
timed more than one); `store.*` figures are per timed operation, cycle
or request; server latencies are medians over the run's requests;
the `seen.*` timings come from the seen filter run over the last
cycle's own tables after the timed region (the cycle itself runs with
the filter off). A layer the workload never calls reports 0: the
crawl layers on `crawldb_query`, whose timed region only reads, and
the server layers on `steady_cycle`.
"""

from __future__ import annotations

import glob
import os
import statistics

from perfbench import eventlog
from perfbench.host import dir_bytes
from perfbench.trace import self_time

STAGES = ("generate", "mark_generated", "fetch", "parse_text", "parse_data",
          "crawl_parse", "updatedb")
PARSE = ("parse_text", "parse_data", "crawl_parse")
# request kind → per-layer latency metric
ROUTES = {
    "stats": "readdb.stats_ms", "topn": "readdb.topn_ms",
    "url_known": "readdb.url_ms", "url_unknown": "readdb.url_ms",
    "dump": "readdb.dump_ms", "hostdb": "hostdb.ms",
    "linkdb": "linkdb.url_ms", "segments": "segments.ms",
}


# figures read back after the timed region; 0 when no cycle ran
COUNTS = ("generate.rows_in", "generate.rows_out", "fetch.rows",
          "fetch.ok_share", "parse.rows_out", "seen.new_share", "seen.fp_share",
          "seen.build_s", "seen.probe_s", "seen.write_s")


def counts(spark, runner) -> dict:
    """Row counts and seen-filter shares of the last timed cycle, read
    back from its warehouse outside the timed region."""
    from pyspark.sql import functions as F

    from nutch_spark.constants import STATUS_FETCH_SUCCESS
    from nutch_spark.store import SnapshotStore
    from perfbench.workloads import seen_layer

    if not runner.cycles:
        return dict.fromkeys(COUNTS, 0)
    post = SnapshotStore(runner.cycles[-1][0].attrs["root"])
    fetched = post.read(spark, "fetch_results")
    n_fetched, n_ok = fetched.agg(
        F.count("*"),
        F.sum((F.col("status") == STATUS_FETCH_SUCCESS).cast("long")),
    ).first()
    return {
        **seen_layer(spark, runner.template, post,
                     os.path.join(runner.work, "seen-scratch")),
        "generate.rows_in": runner.template.read(spark, "frontier").count(),
        "generate.rows_out": post.read(spark, "fetchlist").count(),
        "fetch.rows": n_fetched,
        "fetch.ok_share": (n_ok or 0) / n_fetched if n_fetched else 0.0,
        "parse.rows_out": post.read(spark, "parse_data").count(),
    }


def event_log(directory: str) -> eventlog.EventLog:
    paths = [p for p in glob.glob(os.path.join(directory, "*"))
             if not os.path.basename(p).startswith(".")]
    if len(paths) != 1:
        raise RuntimeError(f"expected one event log in {directory}, found {paths}")
    return eventlog.read(paths[0])


def per_layer(runner, cnt: dict, log: eventlog.EventLog) -> dict:
    tracer = runner.tracer
    cycles = [sp for sp, _ in runner.cycles]
    n = max(1, len(cycles))
    inside = [s for c in cycles for s in tracer.descendants(c)]

    def wall(name: str) -> float:
        return sum(s.duration for s in inside if s.name == name) / n

    # the store is the one layer both operations call
    ops = cycles or [sp for sp, *_ in runner.requests]
    store_spans = [s for op in ops for s in tracer.descendants(op)]
    n_ops = len(ops)
    writes = [s for s in store_spans if "path" in s.attrs and s.name != "metrics.append"]
    appends = [s for s in inside if s.name == "metrics.append"]
    reads = [s for s in store_spans if s.name == "store.read"]
    cycle_wall = sum(c.duration for c in cycles)
    off = tracer.epoch_offset
    windows = [(c.start + off, c.end + off) for c in cycles]
    jobs, tasks = eventlog.window_counts(log, windows)
    fetch = eventlog.group_stats(log, {"fetch"}, windows)
    parse = eventlog.group_stats(log, set(PARSE), windows)
    upd = eventlog.group_stats(log, {"updatedb"}, windows)

    m = {f"{stage}.wall_s": wall(stage) for stage in STAGES}
    m.update({k: cnt[k] for k in COUNTS})
    m.update({
        "fetch.task_skew": fetch.task_skew,
        "fetch.python_s": fetch.python_s / n,
        "parse.writes": sum(1 for s in writes if s.name in PARSE) / n,
        "parse.python_mb_in": parse.python_mb_in / n,
        "parse.python_mb_out": parse.python_mb_out / n,
        "parse.python_s": parse.python_s / n,
        "updatedb.shuffle_write_mb": upd.shuffle_write_mb / n,
        "updatedb.spill_mb": upd.spill_mb / n,
        "updatedb.gc_s": upd.gc_s / n,
        "store.write_s": sum(s.duration for s in writes) / n_ops,
        "store.writes": len(writes) / n_ops,
        "store.files_written": sum(_files(s.attrs["path"]) for s in writes) / n_ops,
        "store.mb_written": sum(dir_bytes(s.attrs["path"]) for s in writes) / n_ops / 1e6,
        "store.read_s": sum(s.duration for s in reads) / n_ops,
        "store.files_read": sum(_files_read(s) for s in reads) / n_ops,
        "store.commit_s": wall("store.commit"),
        "metrics.append_s": sum(s.duration for s in appends) / n,
        "metrics.appends": len(appends) / n,
        "crawl.wall_s": cycle_wall / n,
        "crawl.self_s": sum(self_time(c, tracer.children(c)) for c in cycles) / n,
        "crawl.jobs": jobs / n,
        "crawl.tasks": tasks / n,
        "crawl.stage_cover": (sum(s.duration for c in cycles for s in tracer.children(c))
                              / cycle_wall if cycle_wall else 0.0),
    })
    by_metric: dict[str, list[float]] = {name: [] for name in ROUTES.values()}
    for sp, kind, *_ in runner.requests:
        by_metric[ROUTES[kind]] += [s.duration * 1e3 for s in tracer.children(sp)]
    for name, values in by_metric.items():
        m[name] = statistics.median(values) if values else 0.0
    return m


def _files(path: str) -> int:
    """Data files under `path`: Spark skips names starting with _ or ."""
    return sum(1 for _root, _dirs, files in os.walk(path)
               for name in files if not name.startswith(("_", ".")))


def _files_read(span) -> int:
    """Data files of the snapshot a `store.read` span read: an
    append-mode table reads every committed snapshot up to it."""
    from nutch_spark.store import SnapshotStore

    snap = span.attrs.get("snapshot")  # unset when the read raised
    if snap is None:
        return 0
    store, table = SnapshotStore(span.attrs["root"]), span.attrs["table"]
    snaps = range(snap + 1) if store._is_append(table) else [snap]
    return sum(_files(store.snapshot_path(table, i)) for i in snaps)
