"""Smoke tests of the benchmark's own code (no Spark session).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import re
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

from perfbench import corpus, crawl, eventlog, harness, metrics

ROOT = Path(__file__).resolve().parent.parent
NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.fixture(scope="module")
def bench_json():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def test_benchmark_json_matches_catalogue(bench_json):
    assert set(bench_json) == {
        "command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer",
    }
    assert bench_json["paths"] == ["perfbench"]
    assert [w["name"] for w in bench_json["workloads"]] == list(metrics.WORKLOADS)
    e2e = {m["name"]: m for m in bench_json["end_to_end"]}
    assert list(e2e) == list(metrics.END_TO_END)
    for name, (unit, better, bound, _) in metrics.END_TO_END.items():
        assert e2e[name] == {"name": name, "unit": unit, "better": better, "bound": bound}
    layer = {m["name"]: m for m in bench_json["per_layer"]}
    assert list(layer) == list(metrics.PER_LAYER)
    for name, (unit, better, *_rest) in metrics.PER_LAYER.items():
        assert layer[name] == {"name": name, "unit": unit, "better": better}


def test_benchmark_json_within_limits(bench_json):
    assert 1 <= bench_json["run_seconds"] <= 60
    assert 2 <= len(bench_json["workloads"]) <= 8
    assert 1 <= len(bench_json["end_to_end"]) <= 16
    assert 1 <= len(bench_json["per_layer"]) <= 128
    names = [
        m["name"]
        for key in ("workloads", "end_to_end", "per_layer")
        for m in bench_json[key]
    ]
    assert len(names) == len(set(names))
    assert all(NAME.match(n) for n in names)
    for w in bench_json["workloads"]:
        assert set(w) == {"name", "why"} and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in bench_json["end_to_end"] + bench_json["per_layer"]:
        assert UNIT.match(m["unit"]) and m["better"] in ("lower", "higher")
    bounds = {m["name"]: m["bound"] for m in bench_json["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert len(json.dumps(bench_json)) <= 64 * 1024


def test_every_moves_target_is_an_end_to_end_metric_and_workload():
    for name, (_, _, _, moves, flat, on) in metrics.LAYERS.items():
        for metric, workload in moves:
            assert metric in metrics.END_TO_END, name
            assert workload in metrics.WORKLOADS, name
        assert set(flat) <= set(metrics.WORKLOADS), name
        assert set(on) <= set(metrics.WORKLOADS), name
    # the driver-facing list holds only figures every workload measures
    assert all(v[5] == metrics.WORKLOADS for v in metrics.PER_LAYER.values())
    assert set(metrics.PER_LAYER) | set(metrics.DETAIL) == set(metrics.LAYERS)


def test_event_log_fold_by_label():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Submission Time": 1000, "Properties": {"spark.job.description": "write frontier r3"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Submission Time": 2000, "Properties": {"spark.job.description": "fetch+extract stats r2"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3],
         "Submission Time": 2500, "Properties": {}},
    ]
    for stage, run_ms, launch, finish in ((0, 100, 0, 150), (1, 200, 0, 400), (2, 50, 0, 60), (3, 10, 0, 20)):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task Info": {"Launch Time": launch, "Finish Time": finish},
            "Task Metrics": {
                "Executor Run Time": run_ms, "Executor CPU Time": run_ms * 10**6,
                "Shuffle Read Metrics": {"Remote Bytes Read": 1, "Local Bytes Read": 2},
                "Shuffle Write Metrics": {"Shuffle Bytes Written": 5},
                "Disk Bytes Spilled": 7,
            },
        })
    events += [
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1500},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2600},
    ]
    stages, jobs = eventlog.fold(json.dumps(e) for e in events)
    # stage 1 belongs to the first job that submitted it
    assert stages["write_frontier"]["run_s"] == pytest.approx(0.3)
    assert stages["write_frontier"]["cpu_s"] == pytest.approx(0.3)
    assert stages["write_frontier"]["task_s.max"] == pytest.approx(0.4)
    assert stages["write_frontier"]["shuffle_read_b"] == 6
    assert stages["write_frontier"]["shuffle_write_b"] == 10
    assert stages["write_frontier"]["spill_b"] == 14
    assert stages["fetch_extract_stats"]["tasks"] == 1
    assert stages["unlabelled"]["run_s"] == pytest.approx(0.01)
    assert [(j["label"], j["start"], j["end"]) for j in jobs] == [
        ("write_frontier", 1.0, 1.5), ("fetch_extract_stats", 2.0, 2.6),
    ]
    total = eventlog.total(stages)
    assert total["tasks"] == 4 and total["task_s.max"] == pytest.approx(0.4)
    assert total["run_s"] == pytest.approx(0.36)
    # a window keeps only the tasks launched inside it
    events[3]["Task Info"] = {"Launch Time": 5000, "Finish Time": 5100}
    windowed, _ = eventlog.fold((json.dumps(e) for e in events), window=(4.0, 6.0))
    assert list(windowed) == ["write_frontier"] and windowed["write_frontier"]["tasks"] == 1


def test_labels_cover_the_engine_descriptions():
    assert eventlog.label_of("write_small host_state r1") == "write_small_host_state"
    assert eventlog.label_of("write bloom r12") == "write_bloom"
    assert eventlog.label_of(None) == "unlabelled"
    engine = Path(ROOT / "scalpel_ts_spark/plans/frontier.py").read_text()
    assert 'f"write {table} r{rnd}"' in engine
    assert 'f"write_small {table} r{rnd}"' in engine
    assert 'f"fetch+extract stats r{r}"' in engine


def test_crawl_digests():
    rows = [(1, 0, 5, "http://h1.test/p/5", 4), (0, 0, 3, "http://h0.test/p/3", 6),
            (0, 0, 2, "http://h0.test/p/2", 5)]
    d = crawl.log_digests(rows)
    assert set(d) == {0, 1}
    assert d == crawl.log_digests(list(reversed(rows)))
    assert d[0] != crawl.log_digests(rows[1:2])[0]
    urls = ["http://h0.test/p/1", "http://h0.test/p/2"]
    assert crawl.seen_digest(urls) == crawl.seen_digest(reversed(urls))
    assert crawl.seen_digest(urls)[0] == 2


def test_crawl_inputs_come_from_the_seed():
    assert crawl.page_base(1) == crawl.page_base(1)
    assert crawl.page_base(1) != crawl.page_base(2)
    base = crawl.page_base(3)
    urls = crawl.seed_urls(base)
    assert len(urls) == len(set(urls)) == crawl.n_seeds()
    assert urls[0] == f"http://h0.test/p/{base}"
    assert urls[-1] == f"http://h{crawl.N_HOSTS - 1}.test/p/{base + crawl.PAGES_PER_HOST - 1}"


def test_corpus_inputs_come_from_the_seed(tmp_path):
    a, b = corpus.documents(1), corpus.documents(1)
    assert a["text"] == b["text"] and a["lang"] == b["lang"]
    assert a["text"] != corpus.documents(2)["text"]
    assert list(a["n_chars"]) == [len(t) for t in a["text"]]
    # the pairwise-oracle slice holds near-duplicates to find
    assert any(t.endswith(" dup") for t in a["text"][: corpus.SLICE_DOCS])
    rows = corpus.write_tables(1, tmp_path)
    assert rows["documents"] == corpus.N_DOCS and set(rows) == set(corpus.TABLES)
    assert sorted(corpus.query_order(5)) == sorted(metrics.CORPUS_QUERIES)


def test_corpus_queries_are_bench_pipeline_plus_extract():
    import __spark_entry__ as E
    import bench

    extra = [q for q in E.queries() if q.startswith("extract_") and q not in bench.PIPELINE_QUERIES]
    assert list(metrics.CORPUS_QUERIES) == list(bench.PIPELINE_QUERIES) + extra
    assert set(metrics.DEDUP_QUERIES) | set(metrics.ANN_QUERIES) <= set(metrics.CORPUS_QUERIES)


def test_rows_digest_ignores_row_and_column_order():
    d = harness.rows_digest(["a", "b"], [(1, 2.0), (3, float("nan"))])
    assert d == harness.rows_digest(["b", "a"], [(float("nan"), 3), (2.0, 1)])
    assert d != harness.rows_digest(["a", "b"], [(1, 2.0), (3, 4.0)])


def test_tracer_spans_and_noop():
    t = harness.Tracer(True)
    with t.span("round", trace="r1") as outer:
        with t.span("write") as inner:
            pass
    assert inner["parent"] == outer["id"] and inner["trace"] == "r1"
    assert outer["start"] <= inner["start"] <= inner["end"] <= outer["end"]
    off = harness.Tracer(False)
    with off.span("round") as span:
        assert span is None
    assert off.spans == []


def test_result_line_shape():
    line = json.loads(harness.result_line(True, 3, 0, {"setup_s": 1.5}, {"setup_s": "s"}))
    assert line == {"correct": True, "attempted": 3, "failed": 0,
                    "metrics": {"setup_s": {"value": 1.5, "unit": "s"}}}


def test_fails_fast_without_the_program(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(ROOT / "perfbench", tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "corpus", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
    assert "program files missing" in p.stderr
