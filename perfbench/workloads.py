"""The benchmark's workloads and the metrics they report.

Each workload drives the engine only through its public entry points
(``index_build.build_index``, the ``http_api`` server,
``serving.Searcher.search``, ``lifecycle.ingest_round``,
``tombstones.delete_docs``), times them at the caller, and checks their
outputs. Sizes are fixed here, so a run's inputs depend only on the seed.
"""

from __future__ import annotations

import http.client
import itertools
import json
import math
import os
import shutil
import statistics
import subprocess
import threading
import time
from contextlib import contextmanager, nullcontext
from urllib.parse import urlencode

import numpy as np

from perfbench import corpus, eventlog, stats, tracing
from perfbench.rss import tree_pids

BUILD_DOCS = 2_000
QUERIES_PER_BUILD = 30  # build_search alternates one build and this many queries
MIN_CYCLES = 4  # so at least 4 builds and 120 queries are timed
MAX_QUERIES = 2_000  # more than HARD_STOP_S leaves time for
SPARK_SAMPLE = 2  # build_search queries re-run on the distributed plan
INGEST_BASE_DOCS = 1_000
DELTA_DOCS = 100
UPSERTS_PER_ROUND = 25  # a quarter of each delta re-uses live urls
DELETES_PER_ROUND = 5
READS_PER_ROUND = 30
MIN_ROUNDS = 4  # two merge cycles, 120 reads
# reads draw from a Zipf-popular pool: 10% of the reads of a four-round
# run repeat an earlier read of their round (5-95%: 5-14%), so the median
# read is a cache miss and the varying hit share barely moves it
READ_POOL = 300
READ_ZIPF_S = 0.6
MAX_GENS = 2  # merge policy: every second ingest round merges
BUILD_SHARDS = 32  # cli.py build's default
INGEST_SHARDS = 8  # cli.py ingest's default
SETUP_REPS = 3
SCORE_REL_TOL = 1e-9  # BM25 scores are float64 on both sides
DRIVER_MEM = "2g"  # JVM heap; runs peak at 2.1-2.5 GB of process-tree RSS
HARD_STOP_S = 120  # no timed loop runs longer, whatever --seconds says

# the end-to-end metrics: they repeat from run to run on a shared host
E2E_UNITS = {
    "setup_s": "s",
    "index_bytes_per_doc": "B/doc",
    "peak_rss_mb": "MB",
}
# measured with tracing off and printed in the report, but not end-to-end
# metrics: on a shared 4-core host they drift by a fifth or more between
# runs a few minutes apart, with the host's speed (see LAYERS.md)
TIMING_UNITS = {
    "docs_per_s": "docs/s",
    "query_p50_ms": "ms",
    "query_p90_ms": "ms",
}

# per-layer metrics of the traced run; see perfbench/LAYERS.md
LAYER_UNITS = {
    "index_build.extract_task_s": "s",
    "index_build.tokenize_task_s": "s",
    "index_build.postings_task_s": "s",
    "index_build.write_task_s": "s",
    "index_build.stage2_s": "s",
    "index.segments_bytes": "B",
    "index.postings_flat_bytes": "B",
    "index.docs_bytes": "B",
    "index.generations": "count",
    "spark.jobs": "count",
    "spark.tasks": "count",
    "spark.task_s": "s",
    "spark.gc_s": "s",
    "spark.shuffle_bytes": "B",
    "spark.spill_bytes": "B",
    "spark.driver_s": "s",
    "spark.local_query_jobs": "count",
    "spark.dist_query_jobs": "count",
    "spark.dist_query_driver_s": "s",
    "spark.dist_query_ms": "ms",
    "http_api.overhead_ms": "ms",
    "http_api.switch_ms": "ms",
    "serving.analyze_ms": "ms",
    "serving.self_ms": "ms",
    "serving.cache_hit_ratio": "ratio",
    "serving.local_plan_share": "ratio",
    "local_search.segment_read_ms": "ms",
    "local_search.segment_rows": "count",
    "wand.score_ms": "ms",
    "wand.doc_fetch_ms": "ms",
    "suggest.ms": "ms",
    "expand.ms": "ms",
    "lifecycle.append_s": "s",
    "merge.merge_s": "s",
    "merge.bytes_rewritten": "B",
    "tombstones.delete_ms": "ms",
    "setup.spark_session_s": "s",
    "setup.index_build_s": "s",
    "setup.searcher_load_s": "s",
    "trace.attributed_share": "ratio",
    "trace.unattributed_s": "s",
    **{f"traced.{k}": v for k, v in (E2E_UNITS | TIMING_UNITS).items()},
}
# the operation whose Spark jobs the spark.* metrics average over
PRIMARY_OP = {"build_search": "build", "ingest_mixed": "round"}


class Run:
    """One run of one workload: its Spark session, counters and results."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.work = work
        self.spark = None
        self.tracer: tracing.Tracer | None = None
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.ops: list[tuple[str, str]] = []  # (op id, kind)
        self.metrics: dict[str, float] = {}
        self.layers: dict[str, float] = dict.fromkeys(LAYER_UNITS, 0.0)
        self.notes: list[str] = []
        self.timed: list[tuple[float, float]] = []  # timed loops, epoch bounds
        self.build_stats: list[dict] = []
        self.phases: dict[str, float] = {}

    # ------------------------------------------------------ bookkeeping
    def fail(self, msg: str) -> None:
        self.failed += 1
        if len(self.failures) < 10:
            self.failures.append(msg)

    @contextmanager
    def op(self, kind: str, root: str | None = None):
        """One timed operation: counts as attempted, gets its own Spark
        job group and root span when tracing."""
        op_id = f"{kind}-{len(self.ops)}"
        self.ops.append((op_id, kind))
        if kind != "setup":
            self.attempted += 1
        if self.tracer is None:
            yield
        else:
            with self.tracer.op(op_id, root or f"bench.{kind}"):
                yield

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else nullcontext()

    @contextmanager
    def phase(self, name: str):
        """Wall time of one phase of the run, for the report."""
        t0 = time.perf_counter()
        try:
            yield
        finally:
            self.phases[name] = self.phases.get(name, 0.0) + time.perf_counter() - t0

    # ---------------------------------------------------------- spark
    def start_spark(self) -> float:
        from uci_searchengine_spark.session import get_spark

        cpus = len(os.sched_getaffinity(0))
        local = os.path.join(self.work, "local")
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(local)
        os.makedirs(tmp)
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": local,
        }
        if self.trace:
            self.event_dir = os.path.join(self.work, "events")
            os.makedirs(self.event_dir)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.event_dir,
                # Spark 4 defaults to zstd, which this Python cannot read
                "spark.eventLog.compress": "false",
            })
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tmp
        # also reaches the launcher JVM that spark-submit starts first
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        t0 = time.perf_counter()
        with self.phase("session"):
            self.spark = get_spark(master=f"local[{cpus}]", extra_conf=conf)
            self.spark.sparkContext.setLogLevel("ERROR")
        dt = time.perf_counter() - t0
        self.layers["setup.spark_session_s"] = dt
        if self.trace:
            self.app_id = self.spark.sparkContext.applicationId
            self.tracer = tracing.Tracer(self.spark.sparkContext)
            self.tracer.install()
        return dt

    def stop_spark(self) -> None:
        """Stop Spark, the JVM and its Python workers, and wait for them."""
        from pyspark import SparkContext

        if self.tracer is not None:
            self.tracer.restore()
        if self.spark is None:
            return
        gateway = SparkContext._gateway
        self.spark.stop()
        if gateway is not None:
            proc = getattr(gateway, "proc", None)
            gateway.shutdown()
            if proc is not None:
                proc.stdin.close()  # the JVM exits when its stdin closes
                try:
                    proc.wait(timeout=30)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=30)
            SparkContext._gateway = None
            SparkContext._jvm = None
        deadline = time.time() + 30
        while len(tree_pids(os.getpid())) > 1 and time.time() < deadline:
            time.sleep(0.1)


# ------------------------------------------------------------- helpers
def _stage1(root: str) -> dict:
    """Sum the stage-1 phase timings of every build manifest under
    ``root``; ``end`` is the last manifest's commit time."""
    out = {"extract": 0.0, "tokenize": 0.0, "postings": 0.0, "write": 0.0, "end": 0.0}
    for dirpath, _dirs, files in os.walk(root):
        if os.path.basename(dirpath) != "_manifest":
            continue
        for fn in files:
            p = os.path.join(dirpath, fn)
            if not fn.endswith(".json"):
                continue
            with open(p) as f:
                m = json.load(f)
            if "secs_extract" not in m:
                continue
            for k in ("extract", "tokenize", "postings", "write"):
                out[k] += m[f"secs_{k}"]
            out["end"] = max(out["end"], os.path.getmtime(p))
    return out


def _record_index(run: Run, index_dir: str) -> None:
    """Traced runs: on-disk bytes of each plane, over all generations."""
    from uci_searchengine_spark.operators.index_build import generation_dirs

    if run.trace:
        for plane in ("segments", "postings_flat", "docs"):
            run.layers[f"index.{plane}_bytes"] = sum(
                tracing.dir_bytes(os.path.join(d, plane)) for d in generation_dirs(index_dir)
            )


def _build_index(run: Run, pages_path: str, index_dir: str, snapshot: str):
    """``cli.py build``'s call, timed; returns (meta, seconds)."""
    from uci_searchengine_spark.operators import index_build

    t0 = time.perf_counter()
    meta = index_build.build_index(
        run.spark, run.spark.read.parquet(pages_path), index_dir,
        num_shards=BUILD_SHARDS, input_snapshot=snapshot,
    )
    dt = time.perf_counter() - t0
    if run.trace:
        s1 = _stage1(index_dir)
        s1["stage2"] = time.time() - s1["end"]
        run.build_stats.append(s1)
    return meta, dt


class Server:
    """The engine's HTTP server on an ephemeral local port."""

    def __init__(self, spark, index_dir=None, registry=None):
        from uci_searchengine_spark import http_api

        self.srv = http_api.make_server(spark, index_dir, port=0, registry=registry)
        self.port = self.srv.server_address[1]
        self.engine = self.srv.RequestHandlerClass.engine
        self.thread = threading.Thread(target=self.srv.serve_forever, daemon=True)
        self.thread.start()

    def request(self, method: str, path: str, body: dict | None = None):
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            payload = json.dumps(body).encode() if body is not None else None
            conn.request(method, path, body=payload)
            r = conn.getresponse()
            data = r.read()
        finally:
            conn.close()
        return r.status, (json.loads(data) if r.status == 200 else None)

    def search(self, q: corpus.Query):
        return self.request("GET", "/api/search?" + urlencode({"query": q.text, "mode": q.mode}))

    def close(self) -> None:
        self.srv.shutdown()
        self.srv.server_close()
        self.thread.join(timeout=30)


def _start_frontend(run: Run, frontend):
    """Start the workload's front end ``SETUP_REPS`` times (``frontend() ->
    (handle, close)``), keeping the last; returns (median start seconds,
    handle)."""
    starts, handle, close = [], None, None
    for _ in range(SETUP_REPS):
        if close is not None:
            close()
        with run.phase("setup"), run.op("setup"):
            t0 = time.perf_counter()
            handle, close = frontend()
            starts.append(time.perf_counter() - t0)
    run.layers["setup.searcher_load_s"] = statistics.median(starts)
    return statistics.median(starts), handle


def _close(a: float, b: float, rel: float = SCORE_REL_TOL) -> bool:
    return math.isclose(a, b, rel_tol=rel, abs_tol=1e-12)


def check_against_oracle(env: dict, q: corpus.Query, oracle, url_ids: dict) -> str | None:
    """Compare one search envelope with the single-node oracle: the same
    total, and at every rank a doc whose oracle score equals the oracle's
    score at that rank (so exact score ties may come in either order)."""
    from uci_searchengine_spark.functions.tokenize import tokenize_py
    from uci_searchengine_spark.operators.prefix import MAX_EXPANSIONS, parse_wildcards

    if q.kind == "wildcard":
        literals, prefixes = parse_wildcards(q.text)
        terms = tokenize_py(" ".join(literals))
        for p in prefixes:
            cands = sorted(
                (t for t in oracle.postings if t.startswith(p)),
                key=lambda t: (-len(oracle.postings[t]), t),
            )
            terms += cands[:MAX_EXPANSIONS]
        scores = oracle.score(" ".join(dict.fromkeys(terms)))
    else:
        scores = oracle.score(q.text)
        if q.mode == "and":
            terms = list(dict.fromkeys(tokenize_py(q.text)))
            scores = {
                d: s for d, s in scores.items()
                if all(d in oracle.postings.get(t, ()) for t in terms)
            }
    want = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    if env["total_results"] != len(want):
        return f"{q.text!r}: total {env['total_results']} != oracle {len(want)}"
    got = env["results"]
    if len(got) != min(len(want), 10):
        return f"{q.text!r}: {len(got)} results, oracle {min(len(want), 10)}"
    if len({r["url"] for r in got}) != len(got):
        return f"{q.text!r}: duplicate urls"
    for rank, r in enumerate(got):
        d = url_ids.get(r["url"])
        ws = want[rank][1]
        if d not in scores or not _close(scores[d], ws) or not _close(r["score"], ws):
            return f"{q.text!r}: rank {rank} {r['url']} score {r['score']} != oracle {ws}"
    if not want and q.kind == "misspell" and not env.get("did_you_mean"):
        return f"{q.text!r}: zero hits without did_you_mean"
    return None


def same_envelope(a: dict, b: dict) -> bool:
    """Rank-identical: same total, urls in the same order, same scores."""
    if a["total_results"] != b["total_results"] or len(a["results"]) != len(b["results"]):
        return False
    return all(
        x["url"] == y["url"] and _close(x["score"], y["score"], 1e-12)
        for x, y in zip(a["results"], b["results"])
    )


def _latency_metrics(run: Run, lat_s: list[float]) -> None:
    ms = [x * 1000 for x in lat_s]
    run.metrics["query_p50_ms"] = stats.percentile(ms, 50)
    run.metrics["query_p90_ms"] = stats.percentile(ms, 90)
    top = stats.highest_supported_percentile(len(ms))
    run.notes.append(
        f"queries timed: {len(ms)}; ms at p10/p25/p50/p75/p90: "
        + "/".join(f"{stats.percentile(ms, q):.1f}" for q in (10, 25, 50, 75, 90))
        + f"; highest percentile with >=10 samples beyond it: {f'p{top}' if top else 'none'}"
        + (f" = {stats.percentile(ms, top):.2f} ms" if top else "")
    )


def _timed_loop(run: Run, name: str, minimum: int, step: int = 1):
    """Yield operation indexes until ``--seconds`` have passed and at least
    ``minimum`` operations ran, stopping only after a multiple of ``step``
    operations (never beyond ``HARD_STOP_S``)."""
    t0, start = time.perf_counter(), time.time()
    i = 0
    while True:
        yield i
        i += 1
        el = time.perf_counter() - t0
        if (el >= run.seconds and i >= minimum and i % step == 0) or el >= HARD_STOP_S:
            break
    run.timed.append((start, time.time()))
    run.phases[name] = time.perf_counter() - t0


def _read_pdf(path: str, columns=None):
    import pyarrow.parquet as pq

    return pq.read_table(path, columns=columns).to_pandas()


# ------------------------------------------------------------ workloads
def build_search(run: Run) -> None:
    """Bulk builds of a parquet pages table alternating with batches of
    unique HTTP ``/api/search`` queries over a resident index, then a few
    of the queries again on the distributed plan."""
    from uci_searchengine_spark.operators.index_build import build_metrics
    from uci_searchengine_spark.oracle.oracle import OracleIndex

    session_s = run.start_spark()
    pages = os.path.join(run.work, "pages")
    with run.phase("corpus"):
        corpus.write_pages(BUILD_DOCS, run.seed, pages)
        n_urls = _read_pdf(pages, ["url"])["url"].nunique()
    # the first build in a JVM pays class loading and JIT, so it is not
    # timed: it makes the index the server holds, and the timed builds run
    # the way a resident service runs them
    served = os.path.join(run.work, "served-idx")
    with run.phase("warm-up"):
        meta, run.layers["setup.index_build_s"] = _build_index(
            run, pages, served, f"synth:{run.seed}:served"
        )
    run.build_stats.clear()
    want_shape = (meta.n_docs, meta.avgdl, build_metrics(served)["postings"])
    if meta.n_docs != n_urls:
        run.fail(f"served build: n_docs {meta.n_docs} != distinct urls {n_urls}")
    run.metrics["index_bytes_per_doc"] = tracing.dir_bytes(served) / n_urls
    _record_index(run, served)

    def frontend():
        srv = Server(run.spark, served)
        return srv, srv.close

    start_s, srv = _start_frontend(run, frontend)
    run.metrics["setup_s"] = session_s + start_s
    queries = iter(corpus.unique_queries(run.seed, 5 + MAX_QUERIES))
    for q in itertools.islice(queries, 5):  # warm-up: footers, vocabulary, first parses
        srv.search(q)

    # builds and query batches alternate, so each metric's median is taken
    # over the whole timed window and a slow spell of the host hits both
    times, lat, got, idx = [], [], [], None
    try:
        for i in _timed_loop(run, "timed", MIN_CYCLES):
            if idx is not None:
                shutil.rmtree(idx)
            idx = os.path.join(run.work, f"idx-{i}")
            with run.op("build"):
                meta, dt = _build_index(run, pages, idx, f"synth:{run.seed}:{i}")
            times.append(dt)
            shape = (meta.n_docs, meta.avgdl, build_metrics(idx)["postings"])
            if shape != want_shape:
                run.fail(f"build {i}: {shape} differs from the served build {want_shape}")
            for q in itertools.islice(queries, QUERIES_PER_BUILD):
                with run.op("query", "http_api.request"):
                    t0 = time.perf_counter()
                    status, env = srv.search(q)
                    lat.append(time.perf_counter() - t0)
                got.append((q, status, env))
    finally:
        srv.close()
    run.metrics["docs_per_s"] = n_urls / statistics.median(times)
    run.notes.append(
        f"builds timed: {len(times)} of {BUILD_DOCS} pages ({n_urls} urls), s: "
        + " ".join(f"{t:.2f}" for t in times)
    )
    _latency_metrics(run, lat)

    with run.phase("check"):
        oracle = OracleIndex(_read_pdf(pages))
        url_ids = {u: i for i, u in enumerate(oracle.urls)}
        for q, status, env in got:
            err = f"{q.text!r}: HTTP {status}" if status != 200 else check_against_oracle(
                env, q, oracle, url_ids
            )
            if err:
                run.fail(err)

    # the distributed plan (chosen once pruned shard bytes exceed the local
    # budget, an index size out of reach here) must rank identically; the
    # traced run reads its jobs and driver time per query from this sample
    searcher = srv.engine.searcher
    sample = [(q, env) for q, status, env in got if status == 200][: SPARK_SAMPLE + 1]
    with run.phase("spark-sample"):
        for i, (q, env) in enumerate(sample):
            with run.op("dist_query") if i else nullcontext():  # the first warms up
                env_spark = searcher.search(q.text, mode=q.mode, plan="spark")
            if not same_envelope(env, env_spark):
                run.fail(f"{q.text!r}: spark plan differs from local plan")


def ingest_mixed(run: Run) -> None:
    """Ingest rounds (append + policy merge + switch + deletes) with HTTP
    reads from a small popular query pool in between."""
    from pyspark.sql import functions as F

    from uci_searchengine_spark import http_api
    from uci_searchengine_spark.operators import lifecycle, tombstones
    from uci_searchengine_spark.operators.index_build import IndexMeta, load_docs
    from uci_searchengine_spark.registry import IndexRegistry

    session_s = run.start_spark()
    base = os.path.join(run.work, "pages")
    with run.phase("corpus"):
        corpus.write_pages(INGEST_BASE_DOCS, run.seed, base)

    reg = IndexRegistry(os.path.join(run.work, "registry"))
    with run.phase("setup"), run.op("setup"):
        t0 = time.perf_counter()
        lifecycle.ingest_round(
            run.spark, run.spark.read.parquet(base), reg, num_shards=INGEST_SHARDS,
            max_gens=MAX_GENS, input_snapshot=f"base:{run.seed}",
        )
        build_s = time.perf_counter() - t0
    run.layers["setup.index_build_s"] = build_s

    def frontend():
        srv = Server(run.spark, registry=reg)
        return srv, srv.close

    start_s, srv = _start_frontend(run, frontend)
    run.metrics["setup_s"] = session_s + build_s + start_s

    live = dict.fromkeys(_read_pdf(base, ["url"])["url"])  # insertion-ordered set
    expected_title: dict[str, str] = {}
    deleted: set[str] = set()
    pool = corpus.unique_queries(run.seed, READ_POOL)
    rng = np.random.default_rng([run.seed, 11])
    next_id = INGEST_BASE_DOCS
    write_s, docs_written, lat = 0.0, 0, []

    def check_read(q, status, env) -> str | None:
        if status != 200:
            return f"read {q.text!r}: HTTP {status}"
        urls = [r["url"] for r in env["results"]]
        if len(set(urls)) != len(urls):
            return f"read {q.text!r}: duplicate urls"
        for r in env["results"]:
            if r["url"] in deleted:
                return f"read {q.text!r}: deleted {r['url']} returned"
            want = expected_title.get(r["url"])
            if want is not None and r["title"] != want:
                return f"read {q.text!r}: superseded version of {r['url']} returned"
        return None

    try:
        # stop only after whole merge cycles (MAX_GENS rounds each)
        for rnd in _timed_loop(run, "rounds", MIN_ROUNDS, MAX_GENS):
            with run.span("bench.prepare"):
                pdf, titles = corpus.delta_pages(
                    run.seed, next_id, DELTA_DOCS, list(live), UPSERTS_PER_ROUND, rng
                )
                next_id += DELTA_DOCS
                delta = os.path.join(run.work, f"delta-{rnd}")
                os.makedirs(delta)
                corpus.write_parquet(pdf, os.path.join(delta, "part-00000.parquet"))
                stage1_before = _stage1(reg.root) if run.trace else None
            with run.op("round"):
                t0 = time.perf_counter()
                cur = lifecycle.ingest_round(
                    run.spark, run.spark.read.parquet(delta), reg, num_shards=INGEST_SHARDS,
                    max_gens=MAX_GENS, input_snapshot=f"round:{rnd}",
                )
                status, _ = srv.request(
                    "POST", "/api/databases/switch",
                    {"db_name": cur, "secret_key": http_api.SECRET_KEY},
                )
                write_s += time.perf_counter() - t0
            docs_written += DELTA_DOCS
            if status != 200:
                run.fail(f"round {rnd}: switch to {cur} returned HTTP {status}")
            if run.trace:
                after = _stage1(reg.root)
                run.build_stats.append({
                    k: after[k] - stage1_before[k]
                    for k in ("extract", "tokenize", "postings", "write")
                })
            for u in pdf["url"]:
                # a page re-ingested under a deleted or upserted url (not one
                # of this round's upserts) is live again with unchecked title
                deleted.discard(u)
                if u not in titles:
                    expected_title.pop(u, None)
                live[u] = None
            expected_title.update(titles)

            with run.span("bench.prepare"):
                urls = list(live)
                victims = [urls[i] for i in rng.choice(len(urls), DELETES_PER_ROUND, replace=False)]
                index_dir = reg.path(cur)
                tomb = set(tombstones.load_tombstone_ids(index_dir).tolist())
                ids: dict[str, list[int]] = {}
                for r in (
                    load_docs(run.spark, index_dir)
                    .filter(F.col("url").isin(victims))
                    .select("doc_id", "url")
                    .collect()
                ):
                    if r["doc_id"] not in tomb:
                        ids.setdefault(r["url"], []).append(r["doc_id"])
            for u in victims:
                if len(ids.get(u, ())) != 1:
                    run.fail(f"round {rnd}: {u} has {len(ids.get(u, ()))} live versions")
            with run.op("delete"):
                tombstones.delete_docs(index_dir, [i for u in victims for i in ids.get(u, ())])
            for u in victims:
                live.pop(u)
                expected_title.pop(u, None)
                deleted.add(u)

            for j in corpus.zipf_draws(rng, READ_POOL, READS_PER_ROUND, READ_ZIPF_S):
                q = pool[j]
                with run.op("query", "http_api.request"):
                    t0 = time.perf_counter()
                    status, env = srv.search(q)
                    lat.append(time.perf_counter() - t0)
                err = check_read(q, status, env)
                if err:
                    run.fail(err)
            q = pool[int(rng.integers(READ_POOL))]
            with run.span("bench.check"):
                a = srv.engine.searcher.search(q.text, mode=q.mode, plan="local")
            with run.op("dist_query"):
                b = srv.engine.searcher.search(q.text, mode=q.mode, plan="spark")
            if not same_envelope(a, b):
                run.fail(f"round {rnd}: {q.text!r} spark plan differs from local plan")
    finally:
        srv.close()
    final = reg.path(reg.current())
    n_docs = IndexMeta.load(final).n_docs
    run.metrics["docs_per_s"] = docs_written / write_s
    run.metrics["index_bytes_per_doc"] = tracing.dir_bytes(final) / n_docs
    _record_index(run, final)
    _latency_metrics(run, lat)
    run.notes.append(f"ingest: {docs_written} pages written, {len(lat)} reads")


WORKLOADS = {"build_search": build_search, "ingest_mixed": ingest_mixed}


# ------------------------------------------------------------ traced run
def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def layer_metrics(run: Run) -> dict[str, float]:
    """Per-layer metrics from the spans and the build manifests."""
    L = run.layers
    spans = [s for s in run.tracer.spans if s.op and not s.op.startswith("setup")]
    by_op: dict[str, list] = {}
    for s in spans:
        by_op.setdefault(s.op, []).append(s)
    kinds = dict(run.ops)
    selfs = tracing.self_times(spans)

    def per_op(kind: str, name: str, value=lambda s: s.t1 - s.t0) -> float:
        """Mean over ops of ``kind`` of the summed ``value`` of spans named
        ``name`` (ops without such a span count as 0)."""
        ops = [o for o, k in run.ops if k == kind]
        return _mean(sum(value(s) for s in by_op.get(o, ()) if s.name == name) for o in ops)

    def per_span(name: str, value=lambda s: s.t1 - s.t0) -> float:
        return _mean(value(s) for s in spans if s.name == name)

    # build layers, averaged per build (or per ingest round)
    for k in ("extract", "tokenize", "postings", "write"):
        L[f"index_build.{k}_task_s"] = _mean(b[k] for b in run.build_stats)
    L["index_build.stage2_s"] = _mean(b["stage2"] for b in run.build_stats if "stage2" in b)

    searches = [s for s in spans if s.name == "serving.search" and kinds[s.op] == "query"]
    if searches:
        L["index.generations"] = _mean(s.attrs["gens"] for s in searches)
        L["serving.cache_hit_ratio"] = _mean(s.attrs["hit"] for s in searches)
        misses = [s for s in searches if not s.attrs["hit"]]
        L["serving.local_plan_share"] = _mean(s.attrs["plan"] == "local" for s in misses)
        L["serving.self_ms"] = 1000 * _mean(selfs[s.sid] for s in searches)
    ms = lambda name: 1000 * per_op("query", name)  # noqa: E731
    L["serving.analyze_ms"] = ms("serving.analyze")
    L["local_search.segment_read_ms"] = ms("local_search.segment_read")
    L["local_search.segment_rows"] = per_op(
        "query", "local_search.segment_read", lambda s: s.attrs["rows"]
    )
    L["wand.score_ms"] = ms("wand.score")
    L["wand.doc_fetch_ms"] = ms("wand.doc_fetch")
    L["suggest.ms"] = 1000 * _mean(
        s.t1 - s.t0 for s in spans if s.name.startswith("suggest.")
    )
    L["expand.ms"] = 1000 * _mean(s.t1 - s.t0 for s in spans if s.name.startswith("expand."))
    http = [s for s in spans if s.name == "http_api.request" and kinds.get(s.op) == "query"]
    if http:
        inner = {s.op: s.t1 - s.t0 for s in spans if s.name == "http_api.search"}
        L["http_api.overhead_ms"] = 1000 * _mean((s.t1 - s.t0) - inner.get(s.op, 0.0) for s in http)
    L["http_api.switch_ms"] = 1000 * per_span("http_api.switch")
    L["lifecycle.append_s"] = per_op("round", "lifecycle.append_index")
    L["merge.merge_s"] = per_span("merge.merge_generations")
    L["merge.bytes_rewritten"] = per_span("merge.merge_generations", lambda s: s.attrs["bytes"])
    L["tombstones.delete_ms"] = 1000 * per_span("tombstones.delete_docs")

    # layer self times over the timed loops
    wall = sum(t1 - t0 for t0, t1 in run.timed)
    in_loops = [
        s for s in run.tracer.spans if any(t0 <= s.t0 and s.t1 <= t1 for t0, t1 in run.timed)
    ]
    rep = tracing.layer_report(in_loops, wall)
    L["trace.unattributed_s"] = rep["unattributed"]
    L["trace.attributed_share"] = 1 - rep["unattributed"] / wall
    run.notes.append(
        "layer self time (s) over the timed loops' %.2f s: " % wall
        + ", ".join(f"{k}={v:.3f}" for k, v in sorted(rep.items(), key=lambda kv: -kv[1]))
    )
    return L


def spark_metrics(run: Run) -> None:
    """spark.* per primary operation, from the event log (read after the
    session stopped, when the log is complete)."""
    L = run.layers
    groups = eventlog.parse_event_log(eventlog.find_log(run.event_dir, run.app_id))
    primary = PRIMARY_OP[run.workload]
    ops = [o for o, k in run.ops if k == primary]
    roots = {s.op: s for s in run.tracer.spans if s.parent is None and s.op}
    empty = eventlog.GroupStats()

    def driver_s(op: str) -> float:
        """The operation's wall time not covered by its Spark jobs."""
        wall = roots[op].t1 - roots[op].t0
        return wall - tracing.union_length(groups.get(op, empty).job_intervals)

    g = [groups.get(o, empty) for o in ops]
    L["spark.jobs"] = _mean(x.jobs for x in g)
    L["spark.tasks"] = _mean(x.tasks for x in g)
    L["spark.task_s"] = _mean(x.task_s for x in g)
    L["spark.gc_s"] = _mean(x.gc_s for x in g)
    L["spark.shuffle_bytes"] = _mean(x.shuffle_bytes for x in g)
    L["spark.spill_bytes"] = _mean(x.spill_bytes for x in g)
    L["spark.driver_s"] = _mean(driver_s(o) for o in ops)
    local = [groups.get(o, empty) for o, k in run.ops if k == "query"]
    L["spark.local_query_jobs"] = _mean(x.jobs for x in local)
    dist = [o for o, k in run.ops if k == "dist_query"]
    L["spark.dist_query_jobs"] = _mean(groups.get(o, empty).jobs for o in dist)
    L["spark.dist_query_driver_s"] = _mean(driver_s(o) for o in dist)
    L["spark.dist_query_ms"] = 1000 * _mean(roots[o].t1 - roots[o].t0 for o in dist)
    run.notes.append(
        f"spark per {primary}: jobs={L['spark.jobs']:.2f} tasks={L['spark.tasks']:.1f} "
        f"task_s={L['spark.task_s']:.3f} driver_s={L['spark.driver_s']:.3f}; per "
        f"distributed-plan query ({len(dist)}): jobs={L['spark.dist_query_jobs']:.2f} "
        f"driver_s={L['spark.dist_query_driver_s']:.3f} wall_ms={L['spark.dist_query_ms']:.0f}"
    )
