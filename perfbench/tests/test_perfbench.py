"""Tests for the benchmark's own helpers.

    python3 -m pytest perfbench/tests -q

The smoke tests start a local Spark session and run each workload at a tiny
size; the rest are pure Python.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.checks import Checks, jaccard, xxhash64_long_int  # noqa: E402
from perfbench.trace import (  # noqa: E402
    Span,
    event_log_metrics,
    highest_supported_percentile,
    percentile,
    self_time_by_name,
    self_times,
    valid_name,
)


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


# -- generator determinism ---------------------------------------------------

def test_caption_list_same_seed_same_bytes_other_seed_other_bytes():
    a = gen.caption_list_bytes(gen.gen_captions(7, 500))
    assert a == gen.caption_list_bytes(gen.gen_captions(7, 500))
    assert a != gen.caption_list_bytes(gen.gen_captions(8, 500))


@pytest.mark.parametrize("shape", sorted(gen.SHAPES))
def test_caption_shapes_are_deterministic(shape):
    a, b = gen.gen_captions(3, 200, shape), gen.gen_captions(3, 200, shape)
    assert a.captions.tolist() == b.captions.tolist() and a.files.tolist() == b.files.tolist()


def test_dedup_corpus_same_seed_same_bytes_other_seed_other_bytes():
    a, b, c = gen.gen_dedup(5, 500, 100), gen.gen_dedup(5, 500, 100), gen.gen_dedup(6, 500, 100)
    assert a.texts.tolist() == b.texts.tolist() and a.vectors.tobytes() == b.vectors.tobytes()
    assert a.texts.tolist() != c.texts.tolist() and a.vectors.tobytes() != c.vectors.tobytes()


def test_caption_ground_truth_matches_the_text():
    c = gen.gen_captions(11, 400)
    for text, n_tok in zip(c.captions, c.num_tok):
        assert len(text.split(" ")) == n_tok
    assert any(ch in "".join(c.captions) for ch in gen.CONTROL_CHARS)
    assert any(not t.endswith(".") for t in c.captions)
    assert any(t.endswith("..") for t in c.captions)
    assert len(set(c.ids.tolist())) == len(c.ids)


def test_planted_duplicates_are_what_they_claim():
    d = gen.gen_dedup(2, 1000, 200)
    text = dict(zip(d.ids.tolist(), d.texts.tolist()))
    assert all(text[a] == text[b] for a, b in d.exact_pairs.tolist())
    for a, b in d.near_pairs.tolist():
        ta, tb = text[a].split(), text[b].split()
        assert len(ta) == len(tb) and sum(x != y for x, y in zip(ta, tb)) == 1
    vec = dict(zip(d.vec_ids.tolist(), d.vectors))
    for a, b in d.vec_pairs.tolist():
        cos = vec[a] @ vec[b] / np.linalg.norm(vec[a]) / np.linalg.norm(vec[b])
        assert cos > 0.99


def test_fetcher_fails_exactly_on_the_recorded_names():
    fetch = gen.make_fetcher()
    files = gen.gen_captions(4, 2000).files
    fails = [gen.fetch_fails(gen.canonical_name(f)) for f in files]
    assert 0.02 < sum(fails) / len(fails) < 0.08
    for f, fail in zip(files[:300], fails[:300]):
        url = "https://upload.wikimedia.org/x/640px-" + gen.canonical_name(f)
        assert (fetch(url, None) is None) == fail


# -- percentiles, spans, names -------------------------------------------------

def test_highest_percentile_with_ten_samples_beyond():
    assert highest_supported_percentile(100) == 90
    assert highest_supported_percentile(40) == 75
    assert highest_supported_percentile(20) == 50
    assert highest_supported_percentile(19) is None
    for n in (20, 37, 100, 1000):
        p = highest_supported_percentile(n)
        xs = list(range(n))
        assert sum(x > percentile(xs, p) for x in xs) >= 10
        assert p == 99 or sum(x > percentile(xs, p + 1) for x in xs) < 10


def test_self_time_subtracts_children_once():
    spans = [
        Span(0, None, "plans.extract", 0.0, 10.0, "r"),
        Span(1, 0, "functions.caption_stats", 1.0, 4.0, "r"),
        Span(2, 0, "operators.apply_filters", 3.0, 6.0, "r"),  # overlaps span 1
        Span(3, 2, "inner", 3.5, 4.5, "r"),
        Span(4, 0, "functions.caption_stats", 8.0, 12.0, "r"),  # runs past the parent
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 5 - 2)
    assert st[2] == pytest.approx(2.0)
    assert st[3] == pytest.approx(1.0)
    assert self_time_by_name(spans)["functions.caption_stats"] == pytest.approx(3.0 + 4.0)


def test_metric_name_grammar():
    for good in ("setup_s", "operators.lsh.useful_ratio", "spark.peak_rss_mb", "9a-b"):
        assert valid_name(good)
    for bad in ("", "_x", ".x", "a b", "a/b", "x" * 65):
        assert not valid_name(bad)
    spec = _spec()
    names = [m["name"] for m in spec["end_to_end"] + spec["per_layer"]] + [w["name"] for w in spec["workloads"]]
    assert all(valid_name(n) for n in names) and len(names) == len(set(names))


def test_event_log_attributes_tasks_to_span_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "r:1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [2], "Properties": {"spark.jobGroup.id": "other"}},
    ]
    for stage, launch, finish in ((0, 0, 10), (0, 0, 30), (0, 0, 20), (1, 0, 5), (2, 0, 99)):
        events.append(
            {
                "Event": "SparkListenerTaskEnd",
                "Stage ID": stage,
                "Task Info": {"Launch Time": launch, "Finish Time": finish},
                "Task Metrics": {
                    "Executor Run Time": finish,
                    "Executor CPU Time": finish * 1_000_000,
                    "JVM GC Time": 1,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 100},
                },
            }
        )
    for stage, wall in ((0, 40), (1, 5), (2, 99)):
        events.append({"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage, "Submission Time": 0, "Completion Time": wall}})
    log = tmp_path / "events_1_app"
    log.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    m = event_log_metrics([str(log)], {"r:1"})
    assert (m["spark.jobs"], m["spark.stages"], m["spark.tasks"]) == (1, 2, 4)
    assert m["spark.executor_run_ms"] == 65 and m["spark.executor_cpu_ms"] == 65
    assert m["spark.shuffle_write_bytes"] == 400 and m["spark.gc_ms"] == 4
    assert m["spark.task_skew"] == pytest.approx(30 / 20)


# -- independent reference implementations -------------------------------------

def test_jaccard_recheck():
    assert jaccard("a b c d", "a b c d") == 1.0
    assert jaccard("a b c d", "a b c e") == round(1 / 3, 6)
    assert jaccard("a b", "a b") == 0.0  # no 3-shingles


def test_checks_count_failures_and_recall():
    c = Checks()
    c.check(True, "fine")
    c.check(False, "broken")
    c.items(3, 4)
    assert c.failures == ["broken"] and c.run == 2 and c.recall == 0.75


# -- Spark-backed ---------------------------------------------------------------

@pytest.fixture(scope="module")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "2")
    from wicsmmiretl_spark.session import get_spark

    s = get_spark("perfbench-tests")
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_xxhash64_matches_spark(spark):
    from pyspark.sql import functions as F

    ids = np.array([1, 2, -5, 10**12, 2**62, -(2**63)], dtype=np.int64)
    df = spark.createDataFrame([(int(i),) for i in ids], "id long")
    for seed in (1312, 7, -3):
        got = [r.h for r in df.select(F.xxhash64("id", F.lit(seed)).alias("h")).collect()]
        assert got == xxhash64_long_int(ids, seed).tolist()


@pytest.mark.parametrize("name", ["caption_etl", "caption_analytics", "near_dup_dedup"])
def test_workload_smoke(spark, tmp_path, name):
    from perfbench.trace import Tracer
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[name](spark, str(tmp_path / "work"), str(tmp_path / "cache"), seed=3, scale=0.05)
    os.makedirs(wl.work, exist_ok=True)
    wl.prepare()
    tracer = Tracer("t", spark.sparkContext)
    n = 6 if name == "caption_analytics" else 2
    for i in range(n):
        wl.op(i, tracer if i % 2 else None)
        wl.settle(i)
    c = Checks()
    wl.check(c)
    assert c.failures == [] and c.run > 0 and c.recall > 0.5
    metrics = wl.layer_metrics(tracer, n // 2)
    assert metrics and all(valid_name(k) for k in metrics)
    assert set(metrics) <= {m["name"] for m in _spec()["per_layer"]}


def _cli(cwd, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args], cwd=cwd, capture_output=True, text=True, timeout=300
    )


@pytest.mark.parametrize("trace", ["0", "1"])
def test_cli_prints_every_declared_metric(trace):
    out = _cli(ROOT, "--workload", "near_dup_dedup", "--seed", "9", "--seconds", "1", "--trace", trace, "--scale", "0.1")
    assert out.returncode == 0, out.stderr[-2000:]
    result = json.loads(out.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    declared = _spec()["per_layer" if trace == "1" else "end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {m["name"]: m["unit"] for m in declared}
    stamp = json.loads(out.stdout.strip().splitlines()[-2])["stamp"]
    assert stamp["seed"] == 9 and stamp["nproc"] >= 1 and "load1_end" in stamp


def test_cli_refuses_to_run_without_the_program(tmp_path):
    """In a directory holding only the benchmark, the command exits non-zero
    without printing a result."""
    import shutil

    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = _cli(tmp_path, "--workload", "caption_etl", "--seed", "1", "--seconds", "1", "--trace", "0")
    assert out.returncode != 0 and '"correct"' not in out.stdout
