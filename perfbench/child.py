"""One benchmark run in a fresh process: warm a session, run one workload,
check it, and write its figures (and, when traced, spans, the per-layer
table and the event log fold) as JSON to ``--out``.

Started by run.py, which owns the watchdog, the memory sampler and the
final result line. Run from the root of a checkout.
"""

from __future__ import annotations

import argparse
import faulthandler
import glob
import json
import os
import signal
import sys
import time
import traceback

import pandas as pd  # module level: the pandas-UDF type hints resolve here

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from ledger import Ledger, median, read_event_log  # noqa: E402
from tracer import NullTracer, Tracer  # noqa: E402
import workloads  # noqa: E402


def warm_session(cpus: int, event_dir: str | None):
    """The SparkSession every workload starts from: session up and one
    Arrow pandas-UDF job done, so the Python worker pool exists."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    from sher_look_spark.session import get_spark

    extra = {}
    if event_dir:
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + os.path.abspath(event_dir),
            "spark.eventLog.rolling.enabled": "false",
            # SQL-start events carry the formatted plan (~1 MB each for the
            # PageRank loop); the ledger reads jobs and tasks only
            "spark.sql.maxPlanStringLength": "2048",
            "spark.sql.ui.explainMode": "simple",
        }
    spark = get_spark(
        "perfbench", master=f"local[{cpus}]",
        shuffle_partitions=max(2 * cpus, 8), extra_conf=extra,
    )

    @pandas_udf(T.LongType())
    def ident(v: pd.Series) -> pd.Series:
        return v

    spark.range(10_000, numPartitions=cpus).select(F.sum(ident("id"))).collect()
    return spark


def patch_layers(tracer) -> None:
    """Spans around the public calls the workloads reach only indirectly."""
    from sher_look_spark.crawler.storage import SnapshotStore
    from sher_look_spark.operators import query_parse, ranking, webindex

    for attr in ("stage_write", "commit", "read"):
        tracer.patch(SnapshotStore, attr, f"storage.{attr}")
    tracer.patch(query_parse, "search", "search.query_parse")
    tracer.patch(ranking, "snippets", "search.snippets")

    # the HTTP handler collects what search_pages returns: run the collect
    # inside the span, so the span covers planning and execution
    real = webindex.search_pages

    class _Rows:
        def __init__(self, rows):
            self.rows = rows

        def collect(self):
            return self.rows

    def search_pages(spark, state_dir, query, page=1, per_page=10):
        with tracer.span("search.pages", key=f"{query}|{page}"):
            return _Rows(real(spark, state_dir, query, page, per_page).collect())

    tracer.patch(webindex, "search_pages", "search.pages", wrapper=search_pages)


def _p50(xs):
    return median(list(xs))


def layer_metrics(ctx, led: Ledger) -> dict[str, float]:
    """Every per-layer metric; layers the workload never entered read 0."""
    m: dict[str, float] = {}
    crawl = ctx.info.get("crawl")
    waves = led.named("engine.run_wave")
    runs = led.named("engine.run")
    m["engine.init_s"] = sum(s["end"] - s["start"] for s in led.named("engine.init"))
    m["engine.waves"] = float(len(waves))
    m["engine.wave_s.p50"] = _p50(s["end"] - s["start"] for s in waves)
    m["engine.wave_s.max"] = max((s["end"] - s["start"] for s in waves), default=0.0)
    m["engine.wave_jobs.p50"] = _p50(float(len(led.inclusive_jobs(s))) for s in waves)
    m["engine.driver_gap_s"] = sum(led.driver_gap(s) for s in waves)
    t = led.totals(runs + led.named("engine.init"))
    m["engine.task_cpu_s"] = t["cpu_s"]
    m["engine.gc_s"] = t["gc_s"]
    m["engine.shuffle_bytes"] = float(t["shuffle_bytes"])
    m["engine.spill_bytes"] = float(t["spill_bytes"])
    m["engine.python_s"] = t["python_s"]
    if crawl:
        cands = sum(w["candidates"] for w in crawl["waves"])
        m["engine.commit_ratio"] = crawl["committed"] / max(cands, 1)
        m["engine.fetch_yield"] = crawl["committed"] / max(crawl["seen_rows"], 1)
    else:
        m["engine.commit_ratio"] = m["engine.fetch_yield"] = 0.0

    under_crawl = {s["id"] for r in runs for s in _descendants(led, r)}
    for op in ("stage_write", "commit", "read"):
        ss = [s for s in led.named(f"storage.{op}") if s["id"] in under_crawl]
        m[f"storage.{op}_s"] = sum(s["end"] - s["start"] for s in ss)
        if op == "stage_write":
            m["storage.stage_write_calls"] = float(len(ss))
    for k in ("manifest_dirs", "files", "bytes_per_url"):
        m[f"storage.{k}"] = float(crawl[k]) if crawl else 0.0

    graph = ctx.info.get("graph", {})
    t = led.totals(led.named("index.incremental"))
    m["index.jobs"] = float(t["jobs"])
    m["index.task_cpu_s"] = t["cpu_s"]
    m["index.python_s"] = t["python_s"]
    m["index.postings_rows"] = float(graph.get("postings_rows", 0))
    pr = led.named("pagerank.store")
    t = led.totals(pr)
    m["pagerank.jobs"] = float(t["jobs"])
    m["pagerank.task_cpu_s"] = t["cpu_s"]
    m["pagerank.python_s"] = t["python_s"]
    m["pagerank.driver_gap_s"] = sum(led.driver_gap(s) for s in pr)
    m["pagerank.vertices"] = float(graph.get("vertices", 0))
    m["pagerank.edges"] = float(graph.get("edges", 0))

    sp = led.named("search.pages")
    m["search.pages_ms.p50"] = _p50((s["end"] - s["start"]) * 1e3 for s in sp)
    m["search.jobs.p50"] = _p50(float(len(led.inclusive_jobs(s))) for s in sp)
    m["search.driver_gap_ms.p50"] = _p50(led.driver_gap(s) * 1e3 for s in sp)
    m["search.python_ms.p50"] = _p50(led.totals([s])["python_s"] * 1e3 for s in sp)
    cold = ctx.info.get("search", {}).get("cold_ms_by_key", {})
    m["http.overhead_ms.p50"] = _p50(
        cold[s["key"]] - (s["end"] - s["start"]) * 1e3 for s in sp if s.get("key") in cold
    )
    for k in ("http.cached_p50_ms", "http.non200"):
        m[k] = float(ctx.figures.get(k, 0.0))
    # a request the handler's result cache answers never reaches search_pages
    requests = ctx.info.get("search", {}).get("requests", 0)
    m["http.cache_hit_ratio"] = 1.0 - len(sp) / requests if requests else 0.0

    m["q.token_cache_s"] = float(ctx.figures.get("q.token_cache_s", 0.0))
    for name in workloads.HEADLINE:
        t = led.totals(led.named(f"q.{name}"))
        m[f"q.{name}_s"] = float(ctx.figures.get(f"q.{name}_s", 0.0))
        m[f"q.{name}.tasks"] = float(t["tasks"])
        m[f"q.{name}.cpu_s"] = t["cpu_s"]
        m[f"q.{name}.python_s"] = t["python_s"]
        m[f"q.{name}.shuffle_bytes"] = float(t["shuffle_bytes"])

    # jobs charged to the workload's spans only: not the warm-up, the output
    # checks or the count() history
    m["spark.gc_s"] = led.totals([s for s in led.spans if s.get("parent") is None])["gc_s"]
    for k in ("crawl_urls_per_s", "index_s", "pagerank_s", "search_cold_p50_ms",
              "search_cold_tail_ms", "analytics_s"):
        m[k] = float(ctx.figures.get(k, 0.0))
    m["error_rate"] = ctx.failed / max(ctx.attempted, 1)
    return m


def _descendants(led: Ledger, span: dict) -> list[dict]:
    out, todo = [], [span]
    while todo:
        s = todo.pop()
        kids = led.children.get(s["id"], [])
        out.extend(kids)
        todo.extend(kids)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--cpus", type=int, required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--trace-dir", required=True)
    ap.add_argument("--data", default=None)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    t_start = float(os.environ.get("PERFBENCH_T0", time.time()))
    # the watchdog's SIGUSR1 dumps every thread's Python stack here
    stacks = open(os.path.join(os.path.dirname(args.out), "python-stacks.txt"), "w")
    faulthandler.register(signal.SIGUSR1, file=stacks, all_threads=True)

    event_dir = os.path.join(args.trace_dir, "eventlog") if args.trace else None
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
    spark = warm_session(args.cpus, event_dir)
    setup_s = time.time() - t_start

    tracer = Tracer(spark, f"{args.workload}-{args.seed}") if args.trace else NullTracer()
    if args.trace:
        patch_layers(tracer)
    ctx = workloads.Ctx(spark, tracer, args.seed, args.seconds, args.work, args.data)
    ctx.info["jvm"] = spark.sparkContext._jvm.System.getProperty("java.vm.version")
    error = None
    try:
        getattr(workloads, args.workload)(ctx)
    except Exception:  # the run is reported as failed, with its traceback
        error = traceback.format_exc()
        print(error, file=sys.stderr)
    finally:
        tracer.restore()
        spark.stop()

    result = {
        "setup_s": setup_s,
        "work_s": ctx.work_s,
        "work_end": ctx.work_end,
        "op_p50_ms": median(ctx.ops_ms),
        "attempted": ctx.attempted,
        "failed": ctx.failed + (1 if error else 0),
        "checks": ctx.checks,
        "figures": ctx.figures,
        "info": ctx.info,
        "error": error,
    }
    if args.trace:
        tracer.dump(os.path.join(args.trace_dir, "spans.json"))
        logs = glob.glob(os.path.join(event_dir, "*"))
        with open(logs[0]) as fh:
            jobs = read_event_log(fh)
        led = Ledger(tracer.spans, jobs)
        table = led.table()
        result["layers"] = layer_metrics(ctx, led)
        result["layer_table"] = table
        with open(os.path.join(args.trace_dir, "layers.json"), "w") as fh:
            json.dump({"metrics": result["layers"], "table": table}, fh, indent=1)
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main())
