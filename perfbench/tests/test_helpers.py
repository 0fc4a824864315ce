"""Tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import pickle
import statistics
import subprocess
import sys
import threading

import numpy as np
import pandas as pd
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import corpus, eventlog, stats, tracing  # noqa: E402
from perfbench.rss import PeakRssSampler, tree_pids, tree_rss_bytes  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.json")


# ------------------------------------------------------------- percentiles
@pytest.mark.parametrize("n,want", [(100, 90), (150, 93), (1000, 99), (20, 52), (10, None)])
def test_highest_supported_percentile(n, want):
    assert stats.highest_supported_percentile(n) == want


def test_percentile_rule_matches_counting():
    for n in range(11, 400):
        xs = list(range(n))
        q = stats.highest_supported_percentile(n)
        assert sum(x > stats.percentile(xs, q) for x in xs) >= 10
        if q < 99:
            assert sum(x > stats.percentile(xs, q + 1) for x in xs) < 10


def test_percentile_interpolates_like_median():
    for xs in ([3.0, 1.0, 2.0], [4.0, 1.0, 3.0, 2.0]):
        assert stats.percentile(xs, 50) == statistics.median(xs)
    assert stats.percentile([1.0, 2.0], 90) == pytest.approx(1.9)


# ------------------------------------------------------------------- spans
def _span(sid, parent, t0, t1, name="x.y"):
    return tracing.Span("op-1", sid, parent, name, t0, t1)


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(1, None, 0, 10, "bench.query"),
        _span(2, 1, 1, 4, "serving.search"),
        _span(3, 1, 3, 6, "wand.score"),  # overlaps its sibling
        _span(4, 2, 1, 2, "serving.analyze"),
    ]
    assert tracing.self_times(spans) == {1: 5, 2: 2, 3: 3, 4: 1}
    assert tracing.layer_report(spans, 12) == {
        "bench": 5, "serving": 3, "wand": 3, "unattributed": 1,
    }


def test_union_length():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6), (5.5, 5.7)]) == 4
    assert tracing.union_length([]) == 0


def test_tracer_parents_spans_of_serving_threads():
    tr = tracing.Tracer()
    with tr.op("query-0", "http_api.request"):
        with tr.span("client.wait"):
            t = threading.Thread(target=lambda: tr.span("http_api.search").__enter__())
            t.start()
            t.join(timeout=10)
        assert not t.is_alive()
    with tr.span("bench.check"):
        pass
    by_name = {s.name: s for s in tr.spans}
    assert by_name["http_api.request"].parent is None
    assert by_name["client.wait"].parent == by_name["http_api.request"].sid
    assert by_name["bench.check"].op == "" and by_name["bench.check"].parent is None
    assert by_name["client.wait"].op == "query-0"


def test_wrapper_records_spans_and_pickles_as_original(tmp_path):
    from uci_searchengine_spark.operators import tombstones

    original = tombstones.delete_docs
    tr = tracing.Tracer()
    tr.wrap(tombstones, "delete_docs", "tombstones.delete_docs")
    try:
        assert tombstones.delete_docs(str(tmp_path), [3, 1]) == 2
        payload = pickle.dumps(tombstones.delete_docs)
    finally:
        tr.restore()
    assert tombstones.delete_docs is original
    # a Spark worker has no wrappers installed: it unpickles the original
    assert pickle.loads(payload) is original
    assert [s.name for s in tr.spans] == ["tombstones.delete_docs"]


def test_wrapper_binds_methods():
    class Box:
        def get(self, x):
            return (self, x)

    tr = tracing.Tracer()
    tr.wrap(Box, "get", "box.get", on_exit=lambda attrs, _e, a, k, out: attrs.update(n=a[1]) or out)
    b = Box()
    assert b.get(7) == (b, 7)
    assert tr.spans[0].attrs == {"n": 7}


# ------------------------------------------------------------------ inputs
def test_query_mix_is_deterministic_and_unique():
    a = corpus.unique_queries(5, 500)
    assert a == corpus.unique_queries(5, 500)
    assert a != corpus.unique_queries(6, 500)
    assert len({(q.text, q.mode) for q in a}) == 500
    assert corpus.unique_queries(5, 50, exclude=a[:50]) == a[50:100]


def test_query_mix_shares():
    mix = corpus.QueryMix(3)
    qs = [mix.next() for _ in range(4000)]
    for block in range(0, 4000, 20):
        kinds = [q.kind for q in qs[block : block + 20]]
        assert sorted(kinds) == sorted(corpus.KIND_BLOCK)
    ors = [len(q.text.split()) for q in qs if q.kind == "or"]
    assert all(ors.count(n) == len(ors) // 5 for n in corpus.OR_LENGTHS)
    assert all(q.mode == "and" for q in qs if q.kind == "and")
    assert all(q.text.endswith("*") for q in qs if q.kind == "wildcard")
    assert all(1 <= len(q.text.split()) <= 5 for q in qs)


def test_corpus_is_deterministic():
    from uci_searchengine_spark.sources.synth import gen_rows

    # write_pages runs gen_rows per part file: rows depend on the seed
    # and the page number only, never on the partitioning
    ids = np.arange(60, dtype=np.int64)
    whole = gen_rows(ids, 9)
    parts = pd.concat([gen_rows(p, 9) for p in np.array_split(ids, 7)], ignore_index=True)
    assert whole.equals(parts)
    assert not whole.equals(gen_rows(ids, 10))


def test_write_pages_is_deterministic(tmp_path):
    a, b = str(tmp_path / "a"), str(tmp_path / "b")
    corpus.write_pages(60, 9, a, parts=3)
    corpus.write_pages(60, 9, b, parts=3)
    assert sorted(os.listdir(a)) == [f"part-0000{i}.parquet" for i in range(3)]
    read = lambda p: pd.read_parquet(p).sort_values("url", kind="stable", ignore_index=True)  # noqa: E731
    assert read(a).equals(read(b)) and len(read(a)) == 60


def test_delta_pages_is_deterministic_and_upserts_live_urls():
    live = [f"https://x.example.edu/doc/{i}" for i in range(50)]
    a, ta = corpus.delta_pages(4, 1000, 40, live, 10, np.random.default_rng(1))
    b, tb = corpus.delta_pages(4, 1000, 40, live, 10, np.random.default_rng(1))
    assert a.equals(b) and ta == tb
    assert len(ta) == 10 and set(ta) <= set(live)
    assert sum(u in live for u in a["url"]) == 10
    assert all(t.startswith("Page ") for t in ta.values())


def test_zipf_draws_favour_the_head():
    d = corpus.zipf_draws(np.random.default_rng(0), 200, 5000, 0.8)
    assert min(d) >= 0 and max(d) < 200
    assert d.count(0) > d.count(199) * 5


# ---------------------------------------------------------------- event log
def test_event_log_groups_by_job_group():
    g = eventlog.parse_event_log(FIXTURE)
    q = g["query-1"]
    assert (q.jobs, q.tasks) == (2, 3)
    assert q.task_s == pytest.approx(0.55) and q.gc_s == pytest.approx(0.015)
    assert (q.shuffle_bytes, q.spill_bytes) == (100, 96)
    assert q.job_intervals == [(1.0, 1.5), (1.6, 1.7)]
    b = g["build-2"]
    assert (b.jobs, b.tasks, b.shuffle_bytes) == (1, 2, 8192)
    assert b.task_s == pytest.approx(2.0)
    assert g[""].jobs == 1  # a job outside any group


def test_event_log_reads_rolling_directory(tmp_path):
    lines = open(FIXTURE).read().splitlines(keepends=True)
    d = tmp_path / "eventlog_v2_local-1"
    d.mkdir()
    # index 10 sorts after 2 only numerically
    (d / "events_2_local-1").write_text("".join(lines[:6]))
    (d / "events_10_local-1").write_text("".join(lines[6:]))
    (d / "appstatus_local-1").write_text("")
    assert eventlog.find_log(str(tmp_path), "local-1") == str(d)
    assert eventlog.parse_event_log(str(d)) == eventlog.parse_event_log(FIXTURE)


# --------------------------------------------------------------------- rss
def test_rss_covers_the_process_tree():
    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(5)"])
    try:
        assert child.pid in tree_pids(os.getpid())
        assert tree_rss_bytes(os.getpid()) > tree_rss_bytes(child.pid) > 0
        sampler = PeakRssSampler(interval=0.01).start()
        peak = sampler.stop()
        assert peak >= tree_rss_bytes(child.pid)
    finally:
        child.kill()
        child.wait(timeout=10)


# ---------------------------------------------------------- output checks
def test_oracle_check_accepts_oracle_envelopes_and_rejects_others():
    from uci_searchengine_spark.oracle.oracle import OracleIndex
    from uci_searchengine_spark.sources.synth import synth_pages_local

    from perfbench.workloads import check_against_oracle, same_envelope

    oracle = OracleIndex(synth_pages_local(80, seed=2))
    ids = {u: i for i, u in enumerate(oracle.urls)}
    q = corpus.Query("stop0 stop1", "or", "or")
    env = oracle.search(q.text)
    assert check_against_oracle(env, q, oracle, ids) is None
    assert same_envelope(env, env)
    swapped = dict(env, results=env["results"][::-1])
    assert check_against_oracle(swapped, q, oracle, ids)
    assert not same_envelope(env, swapped)
    assert check_against_oracle(dict(env, total_results=1), q, oracle, ids)
    miss = corpus.Query("zzqx", "or", "misspell")
    empty = oracle.search(miss.text)
    assert check_against_oracle(dict(empty, did_you_mean=None), miss, oracle, ids)
    assert check_against_oracle(dict(empty, did_you_mean="stop0"), miss, oracle, ids) is None


def test_benchmark_json_lists_the_reported_metrics():
    import json

    from perfbench.workloads import E2E_UNITS, LAYER_UNITS, WORKLOADS

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == E2E_UNITS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)


# ---------------------------------------------------------------- overhead
def test_overhead_reads_metric_lines_of_both_reports(tmp_path, capsys):
    from perfbench import overhead

    plain, traced = tmp_path / "plain.out", tmp_path / "traced.out"
    plain.write_text("# docs_per_s = 700 docs/s\n# failed_share = 0 (0 of 9 operations)\n{}\n")
    traced.write_text("# docs_per_s = 630 docs/s\n# traced.docs_per_s = 630 docs/s\n{}\n")
    assert overhead.report_metrics(str(plain)) == {"docs_per_s": (700.0, "docs/s")}
    overhead.main(str(plain), str(traced))
    assert "traced/untraced 0.900" in capsys.readouterr().out
