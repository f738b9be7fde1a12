"""One benchmark run inside one Spark session; started by ``run.py``.

Drives the engine only through its public API: ``Crawler`` (``run``,
``compact``, ``resume_point``, ``read_documents``, ``read_frontier``),
``rank.rank_and_persist``, ``operators.search.search``, the ``fixtures``
corpus and the ``__spark_entry__`` query registry.  Writes a JSON result
to ``--out``.
"""

from __future__ import annotations

import argparse
import contextlib
import dataclasses
import json
import os
import random
import re
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# Fixed, not derived from the core count.  It is also the state tables'
# bucket count, so it sets the number of files every append and shuffle
# writes; at 16 a 6k-page crawl left ~1.2k files whose deletion alone took
# 10-24 s on a discard-mounted ext4 disk, and at 8 still up to 26 s.
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "3g"
SETUPS = 7  # set-ups per crawl; setup_s is their median
WARM_ITERATIONS = 1  # iterations of the untimed warm-up crawl
N_HOSTS, SKEW, OUT_LINKS = 200, 0.4, 10

# pages in the crawl corpus, per workload (smoke mode: SMOKE_PAGES)
CRAWL_PAGES = {"bfs_drain": 6_000, "steady_extract": 40_000}
SMOKE_PAGES = 2_000
BFS_SEED_FRACTION = 0.05
# RNG seeds of the BFS entry-point draws; --seed picks one.  Each of these
# drains the 6k-page corpus in 8 iterations, where other draws take 7 or 9:
# that alone moved throughput by 23% between seeds.
BFS_DRAWS = (11, 12, 13, 14, 15, 21, 23)
STEADY_ITERATIONS = 2  # fat iterations before the drain pass
COMPACT_INTERVAL = 4
EXTRACT_SAMPLE = 400  # pages in the traced extract-UDF replay
SERVE_RANK_CALLS = 3  # rank_and_persist calls in the traced serve replay
SERVE_SEARCHES = 16  # searches in the traced serve replay

OPS_DATA = os.path.join(HERE, "data", "sf0.01")
SMOKE_OPS_DATA = os.path.join(HERE, "data", "sf0.001")
SMOKE_QUERIES = 4
OPS_TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
# the 40 operator queries the repository's bench.py times
OPS_QUERIES = (
    "agg_pricing_summary", "star_join_revenue", "anti_join_unseen",
    "politeness_topk_per_key", "events_daily_rollup", "token_counts",
    "dedup_exact_survivors", "dedup_minhash_pairs", "dedup_simhash_pairs",
    "dedup_minhash_components", "ann_brute_force_topk", "knn_join_exact",
    "semantic_dedup_survivors", "paragraph_dedup_docs", "lm_perplexity_scores",
    "nb_quality_scores", "dsir_log_weights", "url_gate_survivors",
    "c4_cleaned_pages", "gopher_quality_signals", "corpus_mixture",
    "pack_assignments", "incremental_exact_survivors",
    "incremental_neardup_matches", "bpe_merges", "packed_sequences",
    "tfidf_top_terms", "user_sessions", "duplicate_spans", "contamination_spans",
    "repetition_stats", "repetition_merged_coverage", "gopher_repetition_full",
    "corpus_prepared", "pii_scrubbed", "text_quality_stats",
    "search_bm25_ranked", "search_or_ranked", "search_phrase_ranked",
    "pagerank_scores",
)


class GateError(AssertionError):
    """A correctness gate failed."""


T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"perfbench [{time.perf_counter() - T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def gate(cond: bool, msg: str) -> None:
    if not cond:
        raise GateError(msg)


def cpus() -> int:
    return len(os.sched_getaffinity(0))


# -- process-tree memory ------------------------------------------------------


def _tree_rss_bytes(root_pid: int) -> int:
    """RSS of ``root_pid`` and all its descendants, from /proc."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(entry)
        children.setdefault(int(fields[1]), []).append(pid)
        rss[pid] = int(fields[21]) * os.sysconf("SC_PAGE_SIZE")
    total, stack = 0, [root_pid]
    while stack:
        pid = stack.pop()
        total += rss.get(pid, 0)
        stack.extend(children.get(pid, []))
    return total


class PeakRss:
    """Samples the RSS of this process tree (driver JVM + Python workers)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(os.getpid()))
            self._stop.wait(self.interval)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


# -- session ------------------------------------------------------------------


def make_spark(run_dir: str, event_dir: str | None):
    from go_crawler_spark.session import get_spark

    conf = {
        # everything the session writes stays inside the run directory
        "spark.local.dir": os.path.join(run_dir, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "spark-warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -XX:-UsePerfData"
        ),
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.ui.showConsoleProgress": "false",
    }
    if event_dir:
        os.makedirs(event_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": event_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(
        "perfbench", cpus=cpus(), shuffle_partitions=SHUFFLE_PARTITIONS, extra_conf=conf
    )


def warmup(spark) -> None:
    """JVM code paths and the Python worker pool, before anything is timed."""
    from go_crawler_spark.functions.textops import udf_extract_text
    import pyspark.sql.functions as F

    spark.range(2_000_000).selectExpr("sum(id)").collect()
    (
        spark.range(64, numPartitions=cpus())
        .select(udf_extract_text(F.lit(b"<p>x</p>")).alias("t"))
        .collect()
    )


# -- crawl workloads ----------------------------------------------------------


def ensure_corpus(spark, n_pages: int) -> str:
    """The synthetic pages corpus as parquet, cached across runs in the
    work directory (it does not depend on the seed)."""
    from go_crawler_spark.fixtures import synth_pages

    cache = os.path.join(ROOT, ".perfbench", "cache")
    path = os.path.join(cache, f"pages_n{n_pages}_h{N_HOSTS}_l{OUT_LINKS}")
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp{os.getpid()}"
        synth_pages(
            spark, n_pages, n_hosts=N_HOSTS, skew=SKEW, out_links=OUT_LINKS,
            num_partitions=SHUFFLE_PARTITIONS,
        ).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    return path


def crawl_config(workload: str, n_pages: int):
    from go_crawler_spark.crawl import CrawlConfig

    steady = workload == "steady_extract"
    return CrawlConfig(
        # far above the drain depth: the drain gate must see the crawl
        # finish by itself, never by hitting the cap
        max_iterations=50,
        max_urls_per_iter=-(-n_pages // STEADY_ITERATIONS) if steady else None,
        bloom_buckets=64,
        bloom_capacity_per_bucket=max(n_pages // 16, 1000),
        default_host_budget=n_pages if steady else max(n_pages // 3, 500),
        salt_buckets=16,
        politeness_mode="salted_quota",
        compact_interval=COMPACT_INTERVAL,
    )


def bfs_seeds(n_pages: int, seed: int) -> list[str]:
    from go_crawler_spark.fixtures import url_of

    k = max(16, int(n_pages * BFS_SEED_FRACTION))
    ids = random.Random(BFS_DRAWS[seed % len(BFS_DRAWS)]).sample(range(n_pages), k)
    return [url_of(i, n_pages, N_HOSTS, SKEW) for i in ids]


def warehouse_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files if f.endswith(".parquet"))
    return total


def live_snapshots(path: str) -> tuple[int, int]:
    """Data dirs composing the current snapshot of every state table (the
    read amplification a fresh reader pays) and their parquet bytes."""
    n = size = 0
    for table in sorted(os.listdir(path)):
        p = os.path.join(path, table, "MANIFEST.json")
        if os.path.exists(p):
            with open(p) as f:
                m = json.load(f)
            if m.get("current"):
                dirs = m["snapshots"][m["current"]]["data_dirs"]
                n += len(dirs)
                size += sum(warehouse_bytes(os.path.join(path, table, d)) for d in dirs)
    return n, size


def check_crawl(workload, crawler, metrics, pages, fetchable: int) -> None:
    """Correctness gates of one crawl; raises GateError."""
    import pyspark.sql.functions as F

    last = metrics[-1]
    gate(
        last["selected"] == 0 and last["new_urls"] == 0,
        f"crawl stopped after {len(metrics)} iterations without draining",
    )
    fetched = sum(m["fetched"] for m in metrics)
    if workload == "steady_extract":
        gate(all(m["new_urls"] == 0 for m in metrics), "steady crawl discovered new URLs")
        gate(fetched == fetchable, f"fetched {fetched} of {fetchable} fetchable pages")
    docs = crawler.read_documents()
    expected = pages.select("url", F.col("text").alias("_want"))
    n_docs, bad = (
        docs.join(expected, "url", "left")
        .agg(
            F.count(F.lit(1)),
            F.sum(F.when(F.col("text").eqNullSafe(F.col("_want")), 0).otherwise(1)),
        )
        .first()
    )
    gate(n_docs == fetched, f"{n_docs} documents for {fetched} fetched pages")
    gate((bad or 0) == 0, f"{bad} documents whose text differs from the corpus text")
    frontier = crawler.read_frontier()
    rows, keys = frontier.agg(F.count(F.lit(1)), F.countDistinct("url_hash")).first()
    gate(rows == keys, f"frontier has {rows} rows for {keys} url_hash keys")


def set_up(spark, wh: str, pages, cfg):
    """A ``Crawler`` with its prepared, partitioned corpus cached, built
    ``SETUPS`` times; returns the last one and the median set-up time."""
    from go_crawler_spark.crawl import Crawler

    times, crawler = [], None
    for _ in range(SETUPS):
        if crawler is not None:
            crawler.pages.unpersist(blocking=True)
        t0 = time.perf_counter()
        crawler = Crawler(spark, wh, pages, cfg)
        crawler.pages.count()
        times.append(time.perf_counter() - t0)
    return crawler, statistics.median(times)


def start_crawl(crawler, seeds: list[str] | None, pages) -> list[dict]:
    """A crawl from the BFS seeds, or from every corpus URL."""
    if seeds is not None:
        return crawler.run(seed_urls=seeds)
    return crawler.run(seed_df=pages.select("url"))


def run_crawl(spark, args, tracer) -> dict:
    """Crawls from a fresh warehouse, back to back, until ``--seconds``
    would be exceeded.  An operation is one crawl iteration."""
    import pyspark.sql.functions as F

    from go_crawler_spark.crawl import Crawler
    from layers import IterationClock

    workload = args.workload
    n_pages = SMOKE_PAGES if args.smoke else CRAWL_PAGES[workload]
    pages = spark.read.parquet(ensure_corpus(spark, n_pages))
    fetchable = pages.where(
        (F.col("status") == 200) & F.col("content_type").startswith("text/html")
    ).count()
    cfg = crawl_config(workload, n_pages)
    seeds = bfs_seeds(n_pages, args.seed) if workload == "bfs_drain" else None
    warmup(spark)
    # an untimed crawl iteration first: JIT compilation and the Python
    # worker pool settle on the crawl's own code paths
    warm = Crawler(spark, os.path.join(args.run_dir, "warm"), pages,
                   dataclasses.replace(cfg, max_iterations=WARM_ITERATIONS))
    start_crawl(warm, seeds, pages)
    warm.pages.unpersist(blocking=True)
    if tracer:
        tracer.captured.clear()
    log("corpus ready, warmed up")
    clock = IterationClock()
    clock.install()

    res = new_result()
    res.update(layer=[], n_pages=n_pages)
    t_start = time.perf_counter()
    k = 0
    while True:
        k += 1
        op = f"op{k}"
        wh = os.path.join(args.run_dir, "warehouses", op)
        if tracer:
            tracer.op = op
        t0 = time.perf_counter()
        crawler, setup_s = set_up(spark, wh, pages, cfg)
        t1 = time.perf_counter()
        try:
            metrics = start_crawl(crawler, seeds, pages)
            t2 = time.perf_counter()
            iter_wall = clock.take()
            res["attempted"] += len(metrics)
            if tracer:
                tracer.op = "bench"
            log(f"{op}: crawled {len(metrics)} iterations in {t2 - t1:.2f}s: " + ", ".join(
                f"{m['fetched']}/{m['new_urls']} in {w:.2f}s" for m, w in zip(metrics, iter_wall)
            ))
            check_crawl(workload, crawler, metrics, pages, fetchable)
            log(f"{op}: gates passed")
        except GateError as exc:
            print(f"gate failed: {exc}", file=sys.stderr)
            res["failed"] += 1
            break
        except Exception as exc:  # an engine failure is a failed operation
            print(f"crawl failed: {exc!r}", file=sys.stderr)
            res["attempted"] += 1
            res["failed"] += 1
            break
        res["setup"].append(setup_s)
        res["op_s"].extend(iter_wall)
        res["units"] += sum(m["fetched"] + m["new_urls"] for m in metrics)
        res["wall"] += t2 - t1
        layer = {"op": op, "metrics": metrics, "wall": t2 - t1, "iter_wall": iter_wall,
                 "warehouse_bytes": warehouse_bytes(wh)}
        layer["live_dirs"], layer["live_bytes"] = live_snapshots(wh)
        if tracer:
            layer["replay"] = tracer.replay_crawl_layers(cfg.bloom_buckets)
        if tracer and workload == "steady_extract" and k == 1:
            # resume, compact, the rank calls and the searches
            res["attempted"] += 2 + SERVE_RANK_CALLS + SERVE_SEARCHES
            try:
                res["serve"] = replay_serve(spark, wh, pages, cfg, args.seed, tracer)
            except Exception as exc:  # a gate or an engine failure
                print(f"serve replay failed: {exc!r}", file=sys.stderr)
                res["failed"] += 1
                break
            finally:
                # the resume's iteration and plans belong to no crawl
                clock.take()
                tracer.captured.clear()
        res["layer"].append(layer)
        elapsed = time.perf_counter() - t_start
        if args.smoke or elapsed + (t2 - t0) > args.seconds:
            break  # run.py removes the run directory
        log(f"{op}: cleaning up")
        shutil.rmtree(wh, ignore_errors=True)
        spark.catalog.clearCache()
    if tracer:
        res["extract_us_per_page"] = extract_replay(pages, args.seed)
    return res


def query_terms(docs, seed: int, n: int) -> list[str]:
    """One alphabetic token from each of ``n`` seed-chosen documents."""
    import pyspark.sql.functions as F

    rng = random.Random(seed)
    texts = [
        r.text
        for r in docs.select("text").orderBy(F.xxhash64("url", F.lit(seed))).limit(n).collect()
    ]
    return [rng.choice([t for t in tokens(text) if t.isalpha()]) for text in texts]


def tokens(text: str | None) -> list[str]:
    """The search analyzer's tokens: runs of letters and digits, lower-cased."""
    return re.findall(r"[^\W_]+", (text or "").lower())


def replay_serve(spark, wh: str, pages, cfg, seed: int, tracer) -> dict[str, float]:
    """The read and rewrite side of a finished crawl's state tables, run
    once in a traced run: a fresh ``Crawler`` resuming from disk, a
    compaction, PageRank persisted into the documents table (median of
    ``SERVE_RANK_CALLS``), then a closed loop of ``SERVE_SEARCHES``
    searches from one client.  Raises GateError on a wrong answer."""
    import pyspark.sql.functions as F

    from go_crawler_spark.crawl import Crawler
    from go_crawler_spark.operators.search import search
    from go_crawler_spark.rank import rank_and_persist

    tracer.op = "serve"
    crawler = Crawler(spark, wh, pages, cfg)
    crawler.pages.count()
    n_docs = crawler.read_documents().count()
    metrics, resume_s = tracer.run_tagged("resume", lambda: crawler.run(resume=True))
    gate(sum(m["fetched"] for m in metrics) == 0, "resume of a drained crawl fetched pages")
    last = crawler.resume_point()["iteration"]
    _, compact_s = tracer.run_tagged("compact", lambda: crawler.compact(last))

    rank_s, pagerank_s, supersteps = [], [], 0
    for _ in range(SERVE_RANK_CALLS):
        result, secs = tracer.run_tagged("rank", lambda: rank_and_persist(crawler))
        rank_s.append(secs)
        pagerank_s.append(tracer.span_seconds("serve", "rank.rank") - sum(pagerank_s))
        supersteps = result.supersteps
    docs = crawler.read_documents()
    total, n_after = docs.agg(F.sum("pagerank"), F.count(F.lit(1))).first()
    gate(n_after == n_docs, f"{n_after} documents after rank, {n_docs} before")
    gate(total is not None and 0 < total <= 1 + 1e-6, f"persisted PageRank sums to {total}")

    search_s = []
    for term in query_terms(docs, seed, SERVE_SEARCHES):
        rows, secs = tracer.run_tagged("search", search(docs, term).collect)
        search_s.append(secs)
        gate(0 < len(rows) <= 10, f"search {term!r}: {len(rows)} rows")
        gate(
            all(term in tokens(r.text) + tokens(r.title) for r in rows),
            f"search {term!r}: a result does not contain the term",
        )
    return {
        "serve.resume_s": resume_s,
        "serve.compact_s": compact_s,
        "serve.rank_s": statistics.median(rank_s),
        "rank.supersteps": supersteps,
        "rank.pagerank_s": statistics.median(pagerank_s),
        "rank.persist_s": statistics.median(r - p for r, p in zip(rank_s, pagerank_s)),
        "search.p50_s": statistics.median(search_s),
    }


def extract_replay(pages, seed: int) -> float:
    """Median microseconds per page of the extract UDF's Python function,
    called in the driver on a seed-chosen sample of corpus pages."""
    import pandas as pd
    import pyspark.sql.functions as F

    from go_crawler_spark.functions.textops import udf_extract_page

    sample = (
        pages.select("url", "html")
        .orderBy(F.xxhash64("url", F.lit(seed)))
        .limit(EXTRACT_SAMPLE)
        .toPandas()
    )
    fn = udf_extract_page.func
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        fn(pd.Series(sample["url"]), pd.Series(sample["html"]))
        times.append(time.perf_counter() - t0)
    return statistics.median(times) / len(sample) * 1e6


# -- corpus_ops -----------------------------------------------------------------


def fingerprint(rows: list[dict], columns: list[str]) -> str:
    """Order-insensitive hash of a result, doubles rounded to 6 places
    (the normalisation the repository's oracle tests use)."""
    import hashlib
    import math

    norm = []
    for row in rows:
        vals = []
        for c in sorted(columns):
            v = row[c]
            if isinstance(v, float):
                v = "nan" if math.isnan(v) else round(v, 6)
            vals.append(str(v))
        norm.append(repr(tuple(vals)))
    return hashlib.sha256("\n".join([",".join(sorted(columns))] + sorted(norm)).encode()).hexdigest()


def oracle_fingerprint(sql: str, data: str) -> str:
    """Fingerprint of the DuckDB oracle's answer, cached across runs by
    the hash of the SQL text and the data directory (a few oracles take
    tens of seconds)."""
    import hashlib

    import duckdb

    key = hashlib.sha256(f"{os.path.basename(data)}\n{sql}".encode()).hexdigest()[:24]
    path = os.path.join(ROOT, ".perfbench", "cache", "oracle", f"{key}.txt")
    if os.path.exists(path):
        with open(path) as f:
            return f.read().strip()
    con = duckdb.connect()
    try:
        for t in OPS_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data, t)}.parquet'")
        odf = con.execute(sql).df()
    finally:
        con.close()
    fp = fingerprint(odf.to_dict("records"), list(odf.columns))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(f"{path}.tmp", "w") as f:
        f.write(fp)
    os.replace(f"{path}.tmp", path)
    return fp


def check_query(name: str, rows: list[dict], columns: list[str], oracle_sql: dict,
                data: str) -> None:
    """The query's rows must match the DuckDB oracle's fingerprint;
    queries with no oracle must return rows."""
    gate(len(rows) > 0, f"{name}: no rows")
    if name in oracle_sql:
        got = fingerprint(rows, columns)
        gate(got == oracle_fingerprint(oracle_sql[name], data), f"{name}: rows differ from oracle")


def run_ops(spark, args, tracer) -> dict:
    """Passes over the queries until ``--seconds`` would be exceeded.  An
    operation is one query, timed from building it to collecting its rows,
    then checked outside the timing.  The first pass times each query's
    first execution in the session, as ``bench.py`` does.  The order is
    fixed: a query's time depends on the queries before it (ROADMAP:
    in-suite vs isolated times)."""
    import __spark_entry__ as entry

    data = SMOKE_OPS_DATA if args.smoke else OPS_DATA
    qs = {**entry.legacy_queries(), **entry.queries()}
    oracle_sql = {**entry.legacy_oracle_sql(), **entry.oracle_sql()}
    names = list(OPS_QUERIES[:SMOKE_QUERIES] if args.smoke else OPS_QUERIES)
    res = new_result()
    res["per_query"] = {n: [] for n in names}
    warmup(spark)
    for _ in range(SETUPS):
        t0 = time.perf_counter()
        for t in OPS_TABLES:
            spark.read.parquet(os.path.join(data, f"{t}.parquet")).count()
        res["setup"].append(time.perf_counter() - t0)

    def execute(name: str):
        df = qs[name](spark, data)
        return df.columns, [r.asDict() for r in df.collect()]

    t_start = time.perf_counter()
    while True:
        t_pass = time.perf_counter()
        for name in names:
            res["attempted"] += 1
            try:
                t0 = time.perf_counter()
                if tracer:
                    tracer.op = f"ops:{name}"
                    (columns, rows), _ = tracer.run_tagged("query", lambda: execute(name))
                else:
                    columns, rows = execute(name)
                dt = time.perf_counter() - t0
                check_query(name, rows, columns, oracle_sql, data)
            except GateError as exc:
                print(f"gate failed: {exc}", file=sys.stderr)
                res["failed"] += 1
                continue
            except Exception as exc:  # an engine failure is a failed operation
                print(f"query failed: {name}: {exc!r}", file=sys.stderr)
                res["failed"] += 1
                continue
            res["op_s"].append(dt)
            res["per_query"][name].append(dt)
            res["units"] += 1
            res["wall"] += dt
        elapsed = time.perf_counter() - t_start
        if res["failed"] or args.smoke or elapsed + (time.perf_counter() - t_pass) > args.seconds:
            break
    return res


# -- metrics --------------------------------------------------------------------


def new_result() -> dict:
    return {"setup": [], "op_s": [], "units": 0, "wall": 0.0, "attempted": 0, "failed": 0}


def e2e_metrics(res: dict) -> dict[str, float]:
    return {
        "setup_s": statistics.median(res["setup"]),
        "op_p50_s": statistics.median(res["op_s"]),
        "throughput_per_s": res["units"] / res["wall"],
    }


CRAWL_LAYER = (
    "crawl.iterations", "crawl.floor_iter_s", "crawl.jobs_per_iter",
    "crawl.stages_per_iter", "crawl.tasks_per_iter", "crawl.phase.extract_s",
    "crawl.phase.state_refresh_s", "crawl.phase.sink_writes_s",
    "crawl.task_core_s", "crawl.slot_util",
    "lakehouse.append_counted.s", "lakehouse.append_counted.stages",
    "lakehouse.append_tagged.s", "lakehouse.append_tagged.stages",
    "lakehouse.append.s", "lakehouse.append.stages",
    "lakehouse.compact_table.s", "lakehouse.compact_table.stages",
    "lakehouse.live_dirs", "lakehouse.bytes_written_mb", "lakehouse.files_written",
    "lakehouse.write_amp", "lakehouse.warehouse_mb",
    "frontier.selected", "frontier.select_s", "fetch.fetched", "fetch.yield",
    "seen.candidates", "seen.new", "seen.new_ratio", "seen.bloom_pass_ratio",
    "seen.filter_unseen_s", "seen.update_bloom_s",
    "textops.extract_us_per_page",
    "serve.resume_s", "serve.compact_s", "serve.rank_s", "rank.supersteps",
    "rank.pagerank_s", "rank.persist_s", "search.p50_s", "search.stages_per_query",
)
COMMON_LAYER = ("mem.peak_rss_mb", "trace.op_p50_s", "trace.throughput_per_s")


def per_layer_names() -> list[str]:
    ops = [f"ops.{q}.{m}" for q in OPS_QUERIES for m in ("s", "stages")]
    return list(CRAWL_LAYER) + ops + list(COMMON_LAYER)


def unit_of(name: str) -> str:
    if name.endswith("_per_s"):
        return "1/s"
    if name.endswith(("_s", ".s")):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_us_per_page"):
        return "us"
    if name.endswith(("_ratio", "yield", "slot_util", "write_amp")):
        return "ratio"
    return "count"


def crawl_layer_metrics(res: dict, groups: dict, tracer) -> dict[str, float]:
    """Per-layer values of each crawl, then the median over the crawls."""
    from layers import sum_groups

    per_op: dict[str, list[float]] = {}

    def add(name, value):
        per_op.setdefault(name, []).append(value)

    floor_limit = 0.01 * res["n_pages"]
    for layer in res["layer"]:
        metrics, op, wall = layer["metrics"], layer["op"], layer["wall"]
        crawl = sum_groups(groups, op, ("crawl", "lh."))
        iters = len(metrics)
        add("crawl.iterations", iters)
        small = [w for w, m in zip(layer["iter_wall"], metrics) if m["fetched"] < floor_limit]
        add("crawl.floor_iter_s", statistics.median(small) if small else 0.0)
        for k in ("jobs", "stages", "tasks"):
            add(f"crawl.{k}_per_iter", crawl.get(k, 0) / iters)
        for ph in ("extract", "state_refresh", "sink_writes"):
            add(f"crawl.phase.{ph}_s", sum(m["phases"].get(ph, 0.0) for m in metrics))
        add("crawl.task_core_s", crawl.get("task_core_s", 0.0))
        add("crawl.slot_util", crawl.get("task_core_s", 0.0) / (wall * cpus()))
        for m in ("append_counted", "append_tagged", "append", "compact_table"):
            add(f"lakehouse.{m}.s", tracer.span_seconds(op, f"lh.{m}"))
            add(f"lakehouse.{m}.stages", sum_groups(groups, op, (f"lh.{m}",)).get("stages", 0))
        written = crawl.get("bytes_written", 0.0)
        add("lakehouse.live_dirs", layer["live_dirs"])
        add("lakehouse.bytes_written_mb", written / 2**20)
        add("lakehouse.files_written", crawl.get("files_written", 0))
        add("lakehouse.write_amp", written / max(layer["live_bytes"], 1))
        add("lakehouse.warehouse_mb", layer["warehouse_bytes"] / 2**20)
        selected = sum(m["selected"] for m in metrics)
        fetched = sum(m["fetched"] for m in metrics)
        add("frontier.selected", selected)
        add("fetch.fetched", fetched)
        add("fetch.yield", fetched / max(selected, 1))
        rp = layer["replay"]
        cand = rp.get("seen.candidates", 0)
        add("frontier.select_s", rp.get("frontier.select_s", 0.0))
        add("seen.candidates", cand)
        add("seen.new", rp.get("seen.new", 0))
        add("seen.new_ratio", rp.get("seen.new", 0) / max(cand, 1))
        add("seen.bloom_pass_ratio", rp.get("seen.bloom_definite_new", 0) / max(cand, 1))
        add("seen.filter_unseen_s", rp.get("seen.filter_unseen_s", 0.0))
        add("seen.update_bloom_s", rp.get("seen.update_bloom_s", 0.0))
    out = {name: statistics.median(vals) for name, vals in per_op.items()}
    out["textops.extract_us_per_page"] = res["extract_us_per_page"]
    if "serve" in res:
        out.update(res["serve"])
        searches = sum_groups(groups, "serve", ("search",)).get("stages", 0)
        out["search.stages_per_query"] = searches / SERVE_SEARCHES
    return out


def ops_layer_metrics(res: dict, groups: dict) -> dict[str, float]:
    from layers import sum_groups

    out = {}
    for name, times in res["per_query"].items():
        out[f"ops.{name}.s"] = statistics.median(times)
        stages = sum_groups(groups, f"ops:{name}", ("",)).get("stages", 0)
        out[f"ops.{name}.stages"] = stages / len(times)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()

    event_dir = os.path.join(args.run_dir, "events") if args.trace else None
    # the /proc sampling is per-layer only: untraced runs do not pay for it
    with PeakRss() if args.trace else contextlib.nullcontext() as rss:
        spark = make_spark(args.run_dir, event_dir)
        log("session started")
        tracer = None
        if args.trace:
            from layers import Tracer

            tracer = Tracer(spark)
            tracer.install()
        try:
            if args.workload == "corpus_ops":
                res = run_ops(spark, args, tracer)
            else:
                res = run_crawl(spark, args, tracer)
        finally:
            log("stopping the session")
            spark.stop()
            log("session stopped")
    correct = res["failed"] == 0 and bool(res["op_s"])
    result = {
        "correct": correct,
        "attempted": max(res["attempted"], 1),
        "failed": res["failed"] if correct else max(res["failed"], 1),
        "metrics": {},
        "config": {"master": f"local[{cpus()}]", "shuffle_partitions": SHUFFLE_PARTITIONS,
                   "ops": len(res["op_s"])},
    }
    if correct:
        if args.trace:
            from layers import read_event_log

            groups = read_event_log(event_dir)
            values = dict.fromkeys(per_layer_names(), 0.0)
            if args.workload == "corpus_ops":
                values.update(ops_layer_metrics(res, groups))
            else:
                values.update(crawl_layer_metrics(res, groups, tracer))
            e2e = e2e_metrics(res)
            values["trace.op_p50_s"] = e2e["op_p50_s"]
            values["trace.throughput_per_s"] = e2e["throughput_per_s"]
            values["mem.peak_rss_mb"] = rss.peak / 2**20
        else:
            values = e2e_metrics(res)
        result["metrics"] = {k: {"value": v, "unit": unit_of(k)} for k, v in values.items()}
    with open(args.out, "w") as f:
        json.dump(result, f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
