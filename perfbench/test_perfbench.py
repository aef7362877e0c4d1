"""Tests of the benchmark itself: the oracle check catches a wrong
crawl, the event-log parser charges work to the right span, a
checkout without the engine refuses to run, and the smoke mode runs
every workload once with its checks.

    python3 -m pytest perfbench -q            # all
    python3 -m pytest perfbench -q -m "not slow"
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import tracing as T  # noqa: E402
import workloads as W  # noqa: E402

FIXDIR = os.path.join(ROOT, "fixtures", "t-smoke")


@pytest.fixture(scope="module")
def crawl():
    from crawler_spark.engine.config import CrawlConfig
    from crawler_spark.oracle.simulator import run_oracle

    res = run_oracle(FIXDIR, CrawlConfig(max_depth=3))
    rows = [(v.rank, v.url, v.url_hash, v.host, v.depth, v.parent_url,
             v.link_index, v.prio, v.status_code, v.batch_id)
            for v in res.visits]
    oracle = {"visits": len(rows), "digest": W.digest(rows)}
    return res, rows, oracle


def test_exact_visits_pass(crawl):
    _, rows, oracle = crawl
    assert W.check_visits(list(rows), len(rows), oracle) == []


@pytest.mark.parametrize("perturb", [
    "swap_order", "depth", "parent", "batch", "drop_last", "extra_row",
])
def test_perturbed_visit_list_is_caught(crawl, perturb):
    _, rows, oracle = crawl
    got = [list(r) for r in rows]
    if perturb == "swap_order":
        got[3][1], got[4][1] = got[4][1], got[3][1]
    elif perturb == "depth":
        got[5][4] += 1
    elif perturb == "parent":
        got[6][5] = got[2][1]
    elif perturb == "batch":
        got[7][9] += 1
    elif perturb == "drop_last":
        got.pop()
    else:
        got.append(got[-1])
    assert W.check_visits([tuple(r) for r in got], len(got), oracle)


def test_caption_attribution_digest_is_order_sensitive(crawl):
    res, _, _ = crawl
    caps = W.caption_rows_oracle(res)
    assert caps, "the smoke fixture references images"
    moved = [(s, c, r + 1 if i == 0 else r)
             for i, (s, c, r) in enumerate(caps)]
    assert W.digest(moved) != W.digest(caps)


def _log_lines():
    def job(jid, span, t0, t1, stages):
        return [{"Event": "SparkListenerJobStart", "Job ID": jid,
                 "Submission Time": t0, "Stage IDs": stages,
                 "Properties": ({"spark.job.description": f"span:{span}"}
                                if span is not None else {})},
                {"Event": "SparkListenerJobEnd", "Job ID": jid,
                 "Completion Time": t1}]

    def task(stage, run_ms, failed=False, spill=0):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
                "Stage Attempt ID": 0, "Task Info": {"Failed": failed},
                "Task Metrics": {
                    "Executor Run Time": run_ms,
                    "Executor CPU Time": run_ms * 500_000,
                    "JVM GC Time": 1, "Memory Bytes Spilled": spill,
                    "Disk Bytes Spilled": 0,
                    "Shuffle Write Metrics": {"Shuffle Bytes Written": 2**20},
                    "Shuffle Read Metrics": {"Remote Bytes Read": 0,
                                             "Local Bytes Read": 2**19}}}

    # span 0 = timed job [1000, 1010] s; span 1 = child [1002, 1006] s
    return (job(0, 1, 1_003_000, 1_004_000, [0])
            + [task(0, 400), task(0, 100), task(0, 100, failed=True)]
            + job(1, 0, 1_008_000, 1_009_000, [1])
            + [task(1, 1000, spill=2**20)]
            + job(2, None, 1_020_000, 1_021_000, [2]) + [task(2, 999)])


def test_event_log_charges_tasks_to_the_enclosing_job(tmp_path):
    path = tmp_path / "app-1"
    path.write_text("".join(json.dumps(e) + "\n" for e in _log_lines()))
    spans = [{"id": 0, "parent": None, "name": "job",
              "start": 1000.0, "end": 1010.0},
             {"id": 1, "parent": 0, "name": "frontier.explore",
              "start": 1002.0, "end": 1006.0}]
    log = T.read_event_log(str(path))
    m = T.spark_metrics(spans, log, [0], cores=4)[0]
    assert m["jobs"] == 2            # the untagged job is not charged
    assert m["tasks"] == 4 and m["failed_tasks"] == 1
    assert m["task_s"] == pytest.approx(1.6)
    assert m["cpu_s"] == pytest.approx(0.8)
    assert m["shuffle_write_mb"] == pytest.approx(4.0)
    assert m["shuffle_read_mb"] == pytest.approx(2.0)
    assert m["spill_mb"] == pytest.approx(1.0)
    assert m["driver_only_s"] == pytest.approx(8.0)
    assert m["busy_frac"] == pytest.approx(1.6 / 40)
    assert m["task_skew"] == pytest.approx(4.0)
    table = {r["id"]: r for r in T.span_table(spans, log)}
    assert table[0]["self_s"] == pytest.approx(6.0)
    assert table[1]["task_s"] == pytest.approx(0.6)


def test_union_clips_and_merges():
    assert T.union_len([(0, 2), (1, 3), (5, 6)], 0.5, 5.5) == \
        pytest.approx(3.0)


def test_untraced_tracer_records_nothing():
    tr = T.Tracer()
    with tr.span("x") as s:
        assert s is None
    assert tr.spans == []


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload",
         "crawl_html_polite", "--seed", "1", "--seconds", "1",
         "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60)
    assert out.returncode != 0
    assert out.stdout.strip() == ""


@pytest.mark.slow
def test_smoke_runs_every_workload_with_its_checks():
    out = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                          "--smoke"], capture_output=True, text=True,
                         timeout=900)
    assert out.returncode == 0, out.stderr[-4000:]
    lines = [json.loads(x) for x in out.stdout.splitlines()]
    assert {x["workload"] for x in lines} == set(W.WORKLOADS)
    assert all(x["attempted"] == 1 and x["failed"] == 0 for x in lines)
