"""REST query/admin service — the NutchServer surface over a
SnapshotStore warehouse.

Reference: service/NutchServer.java + resources/{Admin,Db,Reader,
Seed,Job}Resource.java expose an embedded HTTP API over the crawl
state. Re-expressed as a Flask app factory over the Spark-native
engine (same read surface; job control simplified to synchronous
cycle execution — the reference's async job manager exists to babysit
MapReduce jobs, which Spark's driver supersedes):

  GET  /admin                 server + warehouse status (AdminResource)
  POST /db/crawldb            readdb queries: {"type": "stats"|"dump"|
                              "topN"|"url", ...} (DbResource.readdb)
  GET  /segments              per-segment stats (SegmentReader -list)
  GET  /hostdb                hostdb rows (ReaderResouce-style dump)
  GET  /linkdb/<url>          inlinks of one URL (LinkDbReader -url)
  POST /seed                  {"urls": [...]} → inject into the
                              frontier (SeedResource + Injector); the
                              seen table is invalidated
  POST /job/cycle             run ONE generate→fetch→parse→updatedb
                              cycle synchronously; returns its stats
                              (JobResource, synchronous simplification)
  GET  /job                   job history (JobResource.getJobs)
  GET  /job/<id>              one job's record (JobResource.getInfo)
  GET  /config                named config ids (ConfigResource:50-60)
  GET  /config/<id>           one config's properties (:62-73)
  GET  /config/<id>/<prop>    single property value (:75-87)
  POST /config/<id>           create/replace a named config (:89-...)
  DELETE /config/<id>         drop a named config

Configs are in-memory property maps keyed by id (the reference's
ConfigManager holds NutchConfigurations the same way); "default"
reflects the bound CrawlConfig and cannot be deleted. /job/cycle takes
an optional {"config": id} whose properties override CrawlConfig
fields for that run — JobResource's per-job config binding.

Every response is JSON. The app holds one SparkSession; requests run
queries against the CURRENT snapshots, so a concurrent crawl's atomic
pointer swaps are always observed consistently.
"""

from __future__ import annotations

import time
from typing import Any

from pyspark.sql import functions as F


def _rows(df, limit: int = 1000) -> list[dict[str, Any]]:
    return [r.asDict(recursive=True) for r in df.limit(limit).collect()]


def create_app(spark, store, web=None, cfg=None):
    """Build the Flask app over (spark, SnapshotStore[, synthetic web +
    CrawlConfig for the job endpoint])."""
    from flask import Flask, jsonify, request

    app = Flask("nutch_spark")
    started = time.time()

    def frontier():
        return store.read(spark, "frontier")

    @app.get("/admin")
    def admin():
        tables = {}
        for t in ("frontier", "fetchlist", "fetch_results", "parse_data",
                  "crawl_parse", "metrics"):
            snap = store.current_snapshot(t)
            if snap is not None:
                tables[t] = snap
        return jsonify(
            {
                "engine": "nutch_spark",
                "uptime_sec": round(time.time() - started, 1),
                "warehouse": store.root,
                "tables": tables,
                "manifest": store.read_manifest(),
            }
        )

    @app.post("/db/crawldb")
    def readdb():
        from .operators.readdb import dump, read_url, stats, topn

        q = request.get_json(force=True) or {}
        qtype = q.get("type", "stats")
        fr = frontier()
        if qtype == "stats":
            return jsonify(_rows(stats(fr, by_host=bool(q.get("byHost")))))
        if qtype == "dump":
            return jsonify(
                _rows(
                    dump(
                        fr,
                        status=q.get("status"),
                        min_retries=q.get("minRetries"),
                        url_regex=q.get("regex"),
                        expr=q.get("expr"),
                    ),
                    limit=int(q.get("limit", 1000)),
                )
            )
        if qtype == "topN":
            return jsonify(
                _rows(topn(fr, int(q.get("n", 10)), q.get("minScore")))
            )
        if qtype == "url":
            return jsonify(_rows(read_url(fr, q["url"])))
        return jsonify({"error": f"unknown query type {qtype!r}"}), 400

    @app.get("/segments")
    def segments():
        from .operators.segment import segment_stats

        def _read(t):
            try:
                return store.read(spark, t)
            except FileNotFoundError:
                return None

        out = segment_stats(
            _read("fetchlist"), _read("fetch_results"), _read("parse_data")
        )
        return jsonify(_rows(out.orderBy("segment")))

    @app.get("/hostdb")
    def hostdb_route():
        from .operators.linkdb import hostdb

        return jsonify(_rows(hostdb(frontier()).orderBy("host")))

    @app.get("/linkdb/<path:url>")
    def linkdb_route(url):
        from .operators.linkdb import invert_links, linkdb_get

        try:
            pd_ = store.read(spark, "parse_data")
        except FileNotFoundError:
            return jsonify([])
        return jsonify(_rows(linkdb_get(invert_links(pd_), url)))

    @app.post("/seed")
    def seed():
        from .operators.inject import inject
        from .operators.seen import SeenTable

        body = request.get_json(force=True) or {}
        urls = body.get("urls") or []
        if not urls:
            return jsonify({"error": "no urls"}), 400
        seeds = spark.createDataFrame(
            [(u, None) for u in urls], "url string, metadata map<string,string>"
        )
        fr = store.read(spark, "frontier") if store.exists("frontier") else None
        now = int(body.get("now", time.time() * 1000))
        # the injected keys are not in the stored seen table: the commit
        # invalidates it, so the next filtered cycle rebuilds it
        SeenTable(spark, store, None).commit_frontier(
            inject(spark, fr, seeds, now))
        return jsonify({"frontier": store.read(spark, "frontier").count()})

    # --- ConfigResource: named in-memory property maps ---
    from dataclasses import asdict, fields, is_dataclass, replace

    def _default_props() -> dict:
        from .crawl import CrawlConfig

        base = cfg if (cfg is not None and is_dataclass(cfg)) else CrawlConfig()
        return {
            k: v
            for k, v in asdict(base).items()
            if isinstance(v, (int, float, str, bool)) or v is None
        }

    configs: dict[str, dict] = {"default": _default_props()}

    @app.get("/config")
    def config_ids():
        return jsonify(sorted(configs))

    @app.get("/config/<cid>")
    def config_get(cid):
        if cid not in configs:
            return jsonify({"error": "unknown config"}), 404
        return jsonify(configs[cid])

    @app.get("/config/<cid>/<prop>")
    def config_prop(cid, prop):
        if cid not in configs or prop not in configs[cid]:
            return jsonify({"error": "unknown property"}), 404
        return jsonify(configs[cid][prop])

    @app.post("/config/<cid>")
    def config_put(cid):
        if cid == "default":
            return jsonify({"error": "default is read-only"}), 400
        body = request.get_json(force=True) or {}
        configs[cid] = {**_default_props(), **body}
        return jsonify(cid)

    @app.delete("/config/<cid>")
    def config_delete(cid):
        if cid == "default":
            return jsonify({"error": "default is read-only"}), 400
        configs.pop(cid, None)
        return jsonify(True)

    # --- JobResource: synchronous cycles + a job history log ---
    jobs: list[dict] = []

    @app.get("/job")
    def job_list():
        return jsonify(jobs)

    @app.get("/job/<int:jid>")
    def job_get(jid):
        if jid < 0 or jid >= len(jobs):
            return jsonify({"error": "unknown job"}), 404
        return jsonify(jobs[jid])

    @app.post("/job/cycle")
    def job_cycle():
        if web is None:
            return jsonify({"error": "no web config bound"}), 400
        from .crawl import CrawlConfig, Crawler

        body = request.get_json(force=True) or {}
        run_cfg = cfg or CrawlConfig()
        cid = body.get("config")
        if cid is not None:
            if cid not in configs:
                return jsonify({"error": "unknown config"}), 404
            known = {f.name for f in fields(CrawlConfig)}
            overrides = {
                k: v for k, v in configs[cid].items()
                if k in known and v is not None
            }
            run_cfg = replace(
                run_cfg if is_dataclass(run_cfg) else CrawlConfig(),
                **overrides,
            )
        rec = {
            "id": len(jobs), "type": "cycle", "config": cid or "default",
            "state": "RUNNING", "started_ms": int(time.time() * 1000),
        }
        jobs.append(rec)
        try:
            crawler = Crawler(spark, store, web, run_cfg)
            stats_out = crawler.cycle(int(body.get("depth", 0)))
            rec.update(state="FINISHED", result=stats_out)
        except Exception as e:  # report like JobInfo's FAILED state
            rec.update(state="FAILED", msg=str(e))
            return jsonify(rec), 500
        # return the full job record (id included) so clients can
        # correlate the run with its /job history entry, mirroring the
        # FAILED path (reference JobResource returns the JobInfo).
        return jsonify(rec)

    return app


def main(argv: list[str] | None = None) -> None:
    """`python -m nutch_spark.server --warehouse W [--port 8081]`
    (NutchServer.main's embedded server)."""
    import argparse

    from .session import get_spark
    from .store import SnapshotStore

    ap = argparse.ArgumentParser(description="nutch_spark REST service")
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--port", type=int, default=8081)
    args = ap.parse_args(argv)
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    app = create_app(spark, SnapshotStore(args.warehouse))
    app.run(port=args.port)


if __name__ == "__main__":
    main()
