"""Crawl benchmark: one workload per run, or every workload.

    python3 perfbench/run.py --workload steady_cycle --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 1

Run from the repository root. A run starts one local-mode SparkSession
with every core, prepares the workload's warehouse (set-up), times the
workload's operations — crawl cycles, or rounds of read requests —
that --seconds buys (about --seconds of work on a 4-core box, at least
one operation), checks every output outside the timed region, and
prints as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics of BENCHMARK.json (--trace 0) or its
per-layer metrics (--trace 1). The line before it is a JSON object
{"context": ...} with the host context and sample counts. Everything a
run writes goes under .perfbench-work/ (removed at the end) and
.perfbench-out/ (the run's spans).
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from contextlib import nullcontext

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench import host  # noqa: E402
from perfbench.stats import percentile, tail_percentile, valid_metric_name  # noqa: E402

WARM_UP_ROUNDS = 2  # untimed rounds of the request mix in set-up


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for m in spec["end_to_end"] + spec["per_layer"]:
        if not valid_metric_name(m["name"]):
            raise ValueError(f"invalid metric name {m['name']!r}")
    return spec


def configure_env(work: str, plan: host.Plan, trace: bool) -> None:
    """Point every scratch path of this process, the JVM and the Python
    workers inside `work`; with tracing, turn on Spark's event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    os.environ["NUTCH_SPARK_LOCAL_DIR"] = os.environ["SPARK_LOCAL_DIRS"] = (
        os.path.join(work, "spark-local"))
    os.environ["SPARK_DRIVER_MEM"] = f"{plan.driver_mb}m"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    # no hsperfdata: the JVM would write it to /tmp whatever java.io.tmpdir says
    os.environ["SPARK_SUBMIT_OPTS"] = (
        os.environ.get("SPARK_SUBMIT_OPTS", "")
        + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip()
    conf = {"spark.ui.showConsoleProgress": "false"}
    if trace:
        eventlog = os.path.join(work, "eventlog")
        os.makedirs(eventlog)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{eventlog}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf {k}={v}" for k, v in conf.items()) + " pyspark-shell"


def stop_spark(spark) -> None:
    """Stop the session, its JVM and the JVM's Python workers, and wait
    until every one of them has ended."""
    from pyspark import SparkContext

    pids = host.process_tree(os.getpid())[1:]
    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            proc.wait(timeout=60)
    for pid in host.wait_gone(pids, 30):
        os.kill(pid, signal.SIGKILL)
    host.wait_gone(pids, 10)


class Runner:
    """One workload run: set-up, timed region, checks, metrics."""

    def __init__(self, args, plan: host.Plan, work: str):
        from perfbench.trace import Tracer
        from perfbench.workloads import WORKLOADS

        self.args = args
        self.plan = plan
        self.work = work
        self.workload = WORKLOADS[args.workload]
        self.web, self.cfg = self.workload.shape(args.seed, plan.cores)
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{args.trace}")
        self.rng = random.Random(args.seed)
        self.cycles: list[tuple[object, dict]] = []  # (span, stats)
        self.requests: list[tuple[object, str, int, object, str | None]] = []
        self.failures: dict[str, list[str]] = {}  # operation → problems

    def setup(self):
        from nutch_spark.session import get_spark
        from perfbench.workloads import prepare

        spark = get_spark(cores=self.plan.cores)
        spark.sparkContext.setLogLevel("ERROR")
        if self.args.trace:
            self.tracer.sc = spark.sparkContext
        query = self.workload.op == "query"
        self.template = prepare(spark, os.path.join(self.work, "template"),
                                self.web, self.cfg, crawl=query)
        if query:
            self.client = self._client(spark, self.template)
            self._warm_up()
        return spark

    def _warm_up(self) -> None:
        """Untimed rounds of the request mix: a server answers many
        requests per start, so the timed ones should not pay the query
        compilation and JIT warm-up of the first ones."""
        from perfbench.workloads import draw_request, query_round

        rng = random.Random(-self.args.seed)
        for kind in (k for i in range(WARM_UP_ROUNDS) for k in query_round(i)):
            method, path, body, _key = draw_request(kind, self.web, rng)
            resp = self.client.open(path, method=method, json=body)
            if resp.status_code != 200:
                raise RuntimeError(f"warm-up {kind}: HTTP {resp.status_code}")

    def timed(self, spark, seconds: float):
        """Run the operations --seconds buys; returns the store the last
        one used."""
        from perfbench.workloads import query_round

        n = max(1, round(seconds / self.workload.op_s))
        if self.workload.op == "query":
            for i in range(n):
                for kind in query_round(i):
                    self._request(self.client, kind)
            return self.template
        for _ in range(n):
            store = self._cycle(spark)
        return store

    def _cycle(self, spark):
        from nutch_spark.crawl import Crawler
        from perfbench.workloads import fresh_copy

        store = fresh_copy(self.template.root,
                           os.path.join(self.work, f"live{len(self.cycles)}"))
        with self.tracer.span("cycle", root=store.root) as sp:
            stats = Crawler(spark, store, self.web, self.cfg).cycle(0)
        self.cycles.append((sp, stats))
        return store

    def _client(self, spark, store):
        from nutch_spark.server import create_app
        from perfbench.trace import instrument_app

        app = create_app(spark, store, self.web, self.cfg)
        if self.args.trace:
            instrument_app(self.tracer, app)
        return app.test_client()

    def _request(self, client, kind: str) -> None:
        from perfbench.workloads import draw_request

        method, path, body, key = draw_request(kind, self.web, self.rng)
        with self.tracer.span(f"request.{kind}") as sp:
            try:
                resp = client.open(path, method=method, json=body)
                status, payload = resp.status_code, resp.get_json()
            except Exception:  # a raising request is a failed operation
                status, payload = -1, traceback.format_exc(limit=3)
        self.requests.append((sp, kind, status, payload, key))

    def check(self, spark, store) -> None:
        from nutch_spark.store import SnapshotStore
        from perfbench.workloads import check_cycle, check_response

        for i, (sp, stats) in enumerate(self.cycles):
            problems = check_cycle(spark, self.web, self.cfg, self.template,
                                   SnapshotStore(sp.attrs["root"]), stats)
            if problems:
                self.failures[f"cycle{i}"] = problems
        if self.requests:
            rows = store.read(spark, "frontier").count()
        for i, (_sp, kind, status, payload, key) in enumerate(self.requests):
            problem = check_response(kind, status, payload, key, rows)
            if problem:
                self.failures[f"request{i}"] = [problem]

    @property
    def attempted(self) -> int:
        return len(self.cycles) + len(self.requests)

    def _latencies_ms(self) -> list[float]:
        ops = self.cycles if self.workload.op == "cycle" else self.requests
        return [op[0].duration * 1e3 for op in ops]

    def end_to_end(self, setup_s: float, warehouse_bytes: int, peak_memory: int) -> dict:
        lat = self._latencies_ms()
        if self.workload.op == "cycle":
            items = sum(st["fetched"] for _sp, st in self.cycles)  # fetched URLs
        else:
            items = len(self.requests)  # answered requests
        return {
            "throughput_per_s": items / (sum(lat) / 1e3),
            "latency_p50_ms": statistics.median(lat),
            "warehouse_mb": warehouse_bytes / 1e6,
            "peak_pss_mb": peak_memory / 1e6,
            "setup_s": setup_s,
        }

    def context(self, setup_s: float, steal: float) -> dict:
        lat = self._latencies_ms()
        tail = tail_percentile(len(lat))
        return {
            "workload": self.args.workload,
            "seed": self.args.seed,
            "trace": self.args.trace,
            "nproc": self.plan.cores,
            "mem_available_mb": self.plan.mem_available_mb,
            "driver_mb": self.plan.driver_mb,
            "medium": host.filesystem_of(self.work),
            "steal_share": round(steal, 4),
            "setup_s": round(setup_s, 3),
            "operations": len(lat),
            "op_p50_ms": round(statistics.median(lat), 1),
            "cycle_s": [round(sp.duration, 3) for sp, _ in self.cycles],
            "fetched": [st["fetched"] for _, st in self.cycles],
            "latency_tail": (f"p{tail}={percentile(lat, tail):.1f}ms" if tail
                             else "none: under 11 operations"),
            "error_ratio": len(self.failures) / self.attempted,
            "failures": dict(list(self.failures.items())[:10]),
        }


def run_one(args) -> int:
    from perfbench import layers
    from perfbench.trace import instrument

    spec = load_spec()
    plan = host.plan()
    if not plan.runnable:
        print(f"perfbench: {args.workload} not runnable here: {plan.reason}",
              file=sys.stderr)
        return 3
    work = os.path.join(ROOT, ".perfbench-work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    configure_env(work, plan, bool(args.trace))
    runner = Runner(args, plan, work)
    memory = host.MemorySampler().start()
    t0 = time.perf_counter()
    spark = None
    try:
        spark = runner.setup()
        setup_s = time.perf_counter() - t0
        cpu0 = host.cpu_times()
        with instrument(runner.tracer) if args.trace else nullcontext():
            store = runner.timed(spark, args.seconds)
        steal = host.steal_share(cpu0, host.cpu_times())
        warehouse = host.dir_bytes(store.root)
        peak = memory.stop()
        runner.check(spark, store)
        counts = layers.counts(spark, runner) if args.trace else None
    finally:
        memory.stop()
        if spark is not None:
            stop_spark(spark)

    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    runner.tracer.dump(os.path.join(out_dir, f"{runner.tracer.run}.spans.json"))
    if args.trace:
        log = layers.event_log(os.path.join(work, "eventlog"))
        metrics, names = layers.per_layer(runner, counts, log), spec["per_layer"]
    else:
        metrics = runner.end_to_end(setup_s, warehouse, peak)
        names = spec["end_to_end"]
    shutil.rmtree(work, ignore_errors=True)

    missing = [m["name"] for m in names if m["name"] not in metrics]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    ctx = runner.context(setup_s, steal)
    print(json.dumps({"context": ctx}))
    print(json.dumps({
        "correct": not runner.failures,
        "attempted": runner.attempted,
        "failed": len(runner.failures),
        "metrics": {m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
                    for m in names},
    }))
    return 0


def run_all(args) -> int:
    """Every workload in its own process, untraced and (with --trace 1)
    traced, then every metric by name and unit."""
    from perfbench.workloads import WORKLOADS

    results: dict[tuple[str, int], dict] = {}
    rc = 0
    for name in WORKLOADS:
        for trace in ([0, 1] if args.trace else [0]):
            cmd = [sys.executable, os.path.abspath(__file__), "--workload", name,
                   "--seed", str(args.seed), "--seconds", str(args.seconds),
                   "--trace", str(trace)]
            proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode or len(lines) < 2:
                print(f"{name} trace={trace}: exit {proc.returncode}")
                rc = rc or proc.returncode or 1
                continue
            results[name, trace] = {**json.loads(lines[-2]), **json.loads(lines[-1])}
    summary = {"correct": rc == 0, "attempted": 0, "failed": 0, "metrics": {}}
    for (name, trace), res in results.items():
        ctx = res["context"]
        print(f"== {name} ({'traced' if trace else 'untraced'}): "
              f"{ctx['operations']} operations, tail {ctx['latency_tail']}, "
              f"medium {ctx['medium']}, steal {ctx['steal_share']:.1%}")
        print(f"   {'error_ratio':28s} {ctx['error_ratio']:>14.4f} ratio")
        for metric, m in res["metrics"].items():
            print(f"   {metric:28s} {m['value']:>14.4f} {m['unit']}")
            summary["metrics"][f"{name}.{metric}"] = m
        if trace and (name, 0) in results:
            untraced = results[name, 0]["context"]["op_p50_ms"]
            print(f"   tracing overhead on the median operation: "
                  f"{ctx['op_p50_ms'] / untraced - 1:+.1%}")
        summary["correct"] &= res["correct"]
        summary["attempted"] += res["attempted"]
        summary["failed"] += res["failed"]
    print(json.dumps(summary))
    return rc


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, help="a workload name, or all")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    try:
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: cannot import the crawl engine ({e}); run from "
              "the root of a checkout of the repository", file=sys.stderr)
        return 2
    if args.workload == "all":
        return run_all(args)
    if args.workload not in WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)} or all")
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
