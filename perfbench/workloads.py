"""The benchmark workloads. Each runs inside the child process on a warm
session, times its work, marks where the timed work ends (``Ctx.end_work``),
then checks its outputs and fills ``ctx`` with figures; ``child.py`` turns
those into metrics.

The checks run after ``end_work``, so the memory peak and the traced jobs
charged to the workload leave them out. ``web_pipeline`` reads its committed
tables with pyarrow; ``analytics`` compares the rows each timed query
returned with DuckDB.
"""

from __future__ import annotations

import glob
import json
import os
import random
import statistics
import sys
import threading
import time
import urllib.error
import urllib.request
from urllib.parse import urlencode

import pyarrow.dataset as pads
import pyarrow.parquet as pq

# web_pipeline: bench.py's synthetic web and crawl shape, run to a fixed
# committed target (two waves: the seeds, then a pre-trimmed slice of the
# ~5-10k depth-1 candidates)
WEB_SEEDS = 500
WEB_TARGET = 600
# cold /search keys per run, by kind. At 2-3 s per cold request, 6 keys
# keep a whole run near a minute on a 4-core host; with fewer than 21
# samples the tail (the highest percentile with >= 10 samples beyond it)
# is the median
QUERY_MIX = {"single": 2, "multi": 2, "phrase": 1, "negation": 1}
CACHED_PER_COLD = 3
# analytics: bench.py's headline queries
HEADLINE = [
    "rel_pricing_summary", "rel_region_revenue", "rel_running_window",
    "c3_url_normalize", "c9_content_dedup", "c11_topk_children",
    "i4_tokenize_positions", "i11_idf", "q4_tfidf", "q8_pagerank",
    "q11_snippets", "dedup_minhash_lsh", "dedup_simhash", "sim_topk_cosine",
    "text_fingerprint", "text_quality",
]
TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench +{time.perf_counter() - _T0:.1f}s] {msg}", file=sys.stderr, flush=True)


class Ctx:
    """What a workload needs and what it reports back."""

    def __init__(self, spark, tracer, seed: int, seconds: float, work: str,
                 data: str | None = None):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.data = data                      # generated tables (analytics)
        self.figures: dict[str, float] = {}   # workload figures, by metric name
        self.ops_ms: list[float] = []         # unit operations -> op_p50_ms
        self.work_s = 0.0
        self.work_end: float | None = None    # epoch seconds, see end_work
        self.attempted = 0
        self.failed = 0
        self.checks: list[dict] = []
        self.info: dict = {}                  # layer inputs for the traced fold

    def step(self, name: str, fn, *args, **kwargs):
        """Run one operation; a raise counts as a failure and propagates."""
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        except BaseException:
            self.failed += 1
            self.checks.append({"check": name, "ok": False, "detail": "raised"})
            raise
        finally:
            # progress in the run's log, for a reader after a watchdog kill
            log(f"{name} {time.perf_counter() - t0:.3f}s")

    def end_work(self) -> None:
        """Mark the end of the timed work: what follows (output checks,
        history timings) is left out of the run's memory peak."""
        self.work_end = time.time()

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        log(f"check {name} ok={ok} {detail}")
        self.attempted += 1
        if not ok:
            self.failed += 1
        self.checks.append({"check": name, "ok": bool(ok), "detail": detail})


# ------------------------------------------------------------------ helpers

def _manifest(state: str) -> dict:
    snaps = sorted(glob.glob(os.path.join(state, "_snapshots", "snap-*.json")))
    with open(snaps[-1]) as fh:
        return json.load(fh)


def _wave_metrics(state: str) -> list[dict]:
    out = []
    for p in sorted(glob.glob(os.path.join(state, "_snapshots", "snap-*.json"))):
        with open(p) as fh:
            m = json.load(fh).get("state", {}).get("metrics")
        if m:
            out.append(m)
    return out


def read_table(state: str, table: str, columns: list[str]):
    """A snapshot table as one Arrow table (hive partitions resolved)."""
    dirs = _manifest(state)["tables"].get(table, [])
    parts = [
        pads.dataset(os.path.join(state, d), format="parquet", partitioning="hive")
        .to_table(columns=columns)
        for d in dirs
    ]
    import pyarrow as pa

    return pa.concat_tables(parts, promote_options="default") if parts else None


def table_rows(state: str, table: str) -> int:
    dirs = _manifest(state)["tables"].get(table, [])
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for d in dirs
        for f in glob.glob(os.path.join(state, d, "**", "*.parquet"), recursive=True)
    )


def storage_facts(state: str, committed: int) -> dict:
    files = glob.glob(os.path.join(state, "**", "*.parquet"), recursive=True)
    size = sum(os.path.getsize(f) for f in files)
    return {
        "manifest_dirs": sum(len(v) for v in _manifest(state)["tables"].values()),
        "files": len(files),
        "bytes_per_url": size / max(committed, 1),
    }


def _crawl(ctx: Ctx, state: str, cfg, seeds: list[str]):
    """Engine construction through run() returning, as one timed window."""
    from sher_look_spark.crawler.engine import CrawlEngine

    t0 = time.perf_counter()
    with ctx.tracer.span("engine.init"):
        eng = CrawlEngine(ctx.spark, state, cfg)
    ctx.tracer.patch(eng, "run_wave", "engine.run_wave")
    with ctx.tracer.span("engine.run"):
        out = eng.run(seeds, max_waves=100)
    secs = time.perf_counter() - t0
    committed = int(out.get("committed", 0))
    ctx.figures["crawl_urls_per_s"] = committed / secs
    waves = _wave_metrics(state)
    ctx.info["crawl"] = {
        "committed": committed,
        "secs": secs,
        "waves": waves,
        "seen_rows": table_rows(state, "seen"),
        **storage_facts(state, committed),
    }
    return eng, committed, secs


def _crawl_checks(ctx: Ctx, state: str, sim) -> None:
    images = read_table(state, "images", ["url", "wave", "rank"]).to_pylist()
    images.sort(key=lambda r: (r["wave"], r["rank"]))
    got = [r["url"] for r in images]
    want = [c["url"] for c in sim.committed]
    ctx.check("crawl_order_equals_simulator", got == want,
              f"{len(got)} committed vs {len(want)} simulated")
    seen = set(read_table(state, "seen", ["url"]).column("url").to_pylist())
    ctx.check("seen_set_equals_simulator", seen == sim.visited,
              f"{len(seen)} seen vs {len(sim.visited)} simulated")


# ------------------------------------------------------------ web_pipeline

def _query_keys(seed: int) -> list[tuple[str, int]]:
    """Seeded (query, page) keys over the synthetic web's vocabulary."""
    from sher_look_spark.crawler.synth import _VOCAB

    rng = random.Random(seed)
    keys: list[tuple[str, int]] = []
    seen: set[tuple[str, int]] = set()
    for kind, n in QUERY_MIX.items():
        made = 0
        while made < n:
            a, b = rng.sample(_VOCAB, 2)
            q = {"single": a, "multi": f"{a} {b}", "phrase": f'"{a} {b}"',
                 "negation": f'"{a}" NOT "{b}"'}[kind]
            key = (q, rng.randint(1, 3))
            if key not in seen:
                seen.add(key)
                keys.append(key)
                made += 1
    rng.shuffle(keys)
    return keys


def _request(port: int, key: tuple[str, int]) -> tuple[int, float, bytes]:
    q = urlencode({"query": key[0], "page": key[1], "resultsPerPage": 10})
    t0 = time.perf_counter()
    try:
        with urllib.request.urlopen(f"http://127.0.0.1:{port}/search?{q}", timeout=60) as r:
            body, status = r.read(), r.status
    except urllib.error.HTTPError as e:
        body, status = b"", e.code
    except (urllib.error.URLError, OSError):
        body, status = b"", 0
    return status, (time.perf_counter() - t0) * 1e3, body


def _well_formed(body: bytes, key: tuple[str, int]) -> bool:
    try:
        doc = json.loads(body)
    except ValueError:
        return False
    return (
        doc.get("query") == key[0] and doc.get("page") == key[1]
        and isinstance(doc.get("results"), list) and len(doc["results"]) <= 10
        and all(set(r) == {"url", "title", "score", "snippet"} for r in doc["results"])
    )


def tail_percentile(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with >= 10 samples
    beyond it; the median when there are fewer than 21 samples."""
    xs = sorted(samples)
    n = len(xs)
    k = max(n - 11, (n - 1) // 2)
    return 100.0 * (k + 1) / n, xs[k]


def _serve(ctx: Ctx, state: str) -> None:
    from http.server import ThreadingHTTPServer

    sys.path.insert(0, os.path.join(os.getcwd(), "scripts"))
    from serve_http import make_handler

    server = ThreadingHTTPServer(("127.0.0.1", 0), make_handler(ctx.spark, state))
    port = server.server_address[1]
    th = threading.Thread(target=server.serve_forever, daemon=True)
    th.start()
    keys = _query_keys(ctx.seed)
    rng = random.Random(ctx.seed + 1)
    cold: dict[tuple, tuple[float, bytes]] = {}
    cached: list[tuple[tuple, float, bytes]] = []
    statuses: list[int] = []

    def issue(key):
        ctx.attempted += 1
        status, ms, body = _request(port, key)
        statuses.append(status)
        if status != 200:
            ctx.failed += 1
        return ms, body

    def zipf_key(issued):
        w = [1.0 / (i + 1) for i in range(len(issued))]
        return rng.choices(issued, weights=w)[0]

    try:
        t0 = time.perf_counter()
        issued: list[tuple] = []
        for key in keys:
            cold[key] = issue(key)
            issued.append(key)
            for _ in range(CACHED_PER_COLD):
                k = zipf_key(issued)
                cached.append((k, *issue(k)))
        ctx.figures["search_sweep_s"] = time.perf_counter() - t0
        # closed loop, one client, cached keys only, for --seconds
        t1 = time.perf_counter()
        while time.perf_counter() - t1 < ctx.seconds:
            k = zipf_key(issued)
            cached.append((k, *issue(k)))
    finally:
        server.shutdown()
        server.server_close()
        th.join(timeout=30)
    cold_ms = [v[0] for v in cold.values()]
    pct, tail = tail_percentile(cold_ms)
    ctx.ops_ms = cold_ms
    ctx.figures.update({
        "search_cold_p50_ms": statistics.median(cold_ms),
        "search_cold_tail_ms": tail,
        "http.cached_p50_ms": statistics.median(ms for _, ms, _ in cached),
        "http.non200": float(sum(s != 200 for s in statuses)),
    })
    ctx.info["search"] = {
        "cold_samples": len(cold_ms), "tail_percentile": pct,
        "cold_ms_by_key": {f"{k[0]}|{k[1]}": v[0] for k, v in cold.items()},
        "cached_samples": len(cached), "requests": len(statuses),
    }
    ctx.check("search_all_200", all(s == 200 for s in statuses),
              f"{sum(s != 200 for s in statuses)} non-200 of {len(statuses)}")
    ctx.check("search_well_formed",
              all(_well_formed(b, k) for k, (_, b) in cold.items()))
    ctx.check("search_cached_equals_cold",
              all(b == cold[k][1] for k, _, b in cached))


def web_pipeline(ctx: Ctx) -> None:
    from sher_look_spark.crawler import synth
    from sher_look_spark.crawler.engine import CrawlConfig
    from sher_look_spark.crawler.simulator import simulate_crawl
    from sher_look_spark.crawler.storage import SnapshotStore
    from sher_look_spark.operators.webindex import index_incremental, store_pagerank

    web = synth.SynthWebConfig(
        n_hosts=500, pages_per_host=400, seed=ctx.seed,
        min_links=10, max_links=24, img_min=64, img_max=128,
    )
    seeds = synth.seed_urls(web, WEB_SEEDS)
    state = os.path.join(ctx.work, "web-state")
    cfg = CrawlConfig(max_pages=WEB_TARGET, max_depth=3, queue_cap=10**9, web=web)
    t_all = time.perf_counter()
    _, committed, _ = ctx.step("crawl", _crawl, ctx, state, cfg, seeds)

    # the reference's `index` and `serve` run modes, each on its own store
    t0 = time.perf_counter()
    with ctx.tracer.span("index.incremental"):
        indexed = ctx.step("index", index_incremental, ctx.spark, SnapshotStore(state))
    ctx.figures["index_s"] = time.perf_counter() - t0
    t_serve = time.perf_counter()
    _serve(ctx, state)
    ctx.end_work()
    ctx.work_s = (t_serve - t_all) + ctx.figures["search_sweep_s"]

    if ctx.tracer.enabled:
        # the `page-rank` run mode, after the timed work and in traced runs
        # only: store_pagerank costs a near-constant 50-80 s (300-650 Spark
        # jobs) on any graph, more than a whole untraced run
        t0 = time.perf_counter()
        with ctx.tracer.span("pagerank.store"):
            ctx.step("pagerank", store_pagerank, ctx.spark, SnapshotStore(state))
        ctx.figures["pagerank_s"] = time.perf_counter() - t0

    sim = simulate_crawl(web, seeds, max_pages=WEB_TARGET, max_depth=3, queue_cap=10**9)
    _crawl_checks(ctx, state, sim)
    meta_rows = table_rows(state, "documents_meta")
    ctx.check("documents_meta_rows_equal_committed", meta_rows == committed,
              f"{meta_rows} rows vs {committed} committed ({indexed})")
    links = read_table(state, "links", ["parent_url", "child_url"])
    crawled = set(read_table(state, "images", ["url"]).column("url").to_pylist())
    ctx.info["graph"] = {
        "vertices": table_rows(state, "page_rank"),
        "edges": sum(c in crawled for c in links.column("child_url").to_pylist()),
        "postings_rows": table_rows(state, "postings"),
    }


# --------------------------------------------------------------- analytics

def _rows_equal(spark_cols, spark_rows, duck_cols, duck_rows) -> bool:
    """Order-insensitive row equality, floats to 9 significant digits (the
    tier-1 oracle parity rule)."""
    import math

    def cell(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.9g}"
        return str(v)

    def norm(cols, rows):
        order = sorted(range(len(cols)), key=lambda i: cols[i])
        return sorted(tuple(cell(r[i]) for i in order) for r in rows)

    return sorted(spark_cols) == sorted(duck_cols) and norm(spark_cols, spark_rows) == norm(
        duck_cols, duck_rows
    )


def analytics(ctx: Ctx) -> None:
    from sher_look_spark.queries import _spark_tokens, oracle_sql, queries

    data_dir = ctx.data
    qs = queries()
    t_all = time.perf_counter()
    with ctx.tracer.span("q.token_cache"):
        ctx.step("token_cache", lambda: _spark_tokens(ctx.spark, data_dir).count())
    ctx.figures["q.token_cache_s"] = time.perf_counter() - t_all
    # each query's rows come back to the driver as Arrow: every column is
    # materialised (count() would let Catalyst prune), and the checks below
    # compare the timed run's own rows, with no second Spark pass
    results = {}
    for name in HEADLINE:
        t0 = time.perf_counter()
        with ctx.tracer.span(f"q.{name}"):
            results[name] = ctx.step(name, lambda n=name: qs[n](ctx.spark, data_dir).toArrow())
        ctx.figures[f"q.{name}_s"] = time.perf_counter() - t0
    ctx.work_s = ctx.figures["analytics_s"] = time.perf_counter() - t_all
    ctx.end_work()
    ctx.ops_ms = [ctx.figures[f"q.{n}_s"] * 1e3 for n in HEADLINE]

    if ctx.tracer.enabled:
        # history only: the count() sink the BENCH_r01..r06 series used
        hist = {}
        for name in HEADLINE:
            t0 = time.perf_counter()
            qs[name](ctx.spark, data_dir).count()
            hist[name] = time.perf_counter() - t0
        ctx.info["count_sink_history_s"] = hist

    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')"
        )
    oracles = oracle_sql()
    for name in HEADLINE:
        got = results[name]
        rows = list(zip(*(c.to_pylist() for c in got.columns)))
        res = con.execute(oracles[name])
        ok = _rows_equal(got.column_names, rows, [d[0] for d in res.description],
                         res.fetchall())
        ctx.check(f"oracle_{name}", ok, f"{len(rows)} rows")
    con.close()
