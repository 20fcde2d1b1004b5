"""Tests of the benchmark harness itself (not of the engine).

    python -m pytest crawlbench/tests -q

The first two tests need no Spark; the others share one local session.
"""

from __future__ import annotations

import json
import os
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path[:0] = [BENCH, ROOT]

import gen  # noqa: E402
from workloads import Crawl, PageDedup  # noqa: E402

# the sizes of each workload's warm-up repetition
TINY_CRAWL = Crawl.WARMUP_SIZES
TINY_PAGES = PageDedup.WARMUP_SIZES


def _frames(d: dict) -> dict:
    return {k: v for k, v in d.items() if isinstance(v, (pd.DataFrame,
                                                         pd.Series))}


@pytest.mark.parametrize("make,kw", [(gen.crawl_web, TINY_CRAWL),
                                     (gen.page_corpus, TINY_PAGES)])
def test_same_seed_same_inputs_other_seed_other_inputs(make, kw):
    a, b, c = make(3, **kw), make(3, **kw), make(4, **kw)
    for name, frame in _frames(a).items():
        other = _frames(b)[name]
        if isinstance(frame, pd.Series):
            pd.testing.assert_series_equal(frame, other)
        else:
            pd.testing.assert_frame_equal(frame, other)
    assert any(not frame.equals(_frames(c)[name])
               for name, frame in _frames(a).items())


def test_generators_report_shares():
    web = gen.crawl_web(5, **TINY_CRAWL)
    pages = gen.page_corpus(5, **TINY_PAGES)
    assert 0 < web["shares"]["hot_root_rows"] < 1
    assert 0 < web["shares"]["redirect_rows"] < 1
    assert pages["shares"]["hot_bucket_docs"] == 60 / 300
    # every planted set is a real exact duplicate
    docs = pages["docs"].set_index("doc_id")["text"]
    for ids in pages["exact_doc_sets"]:
        assert docs.loc[ids].nunique() == 1 and len(ids) >= 2


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    import run

    scratch = str(tmp_path_factory.mktemp("bench"))
    s = run.build_spark(scratch)
    yield s, scratch
    run.stop_spark(s)


@pytest.fixture(scope="module")
def traced(spark):
    """Tiny crawl repetitions run as the traced phase of a run."""
    import eventlog
    import procmon
    import run

    s, scratch = spark
    w = Crawl(s, 7, os.path.join(scratch, "input"))
    w.sizes = TINY_CRAWL
    w.setup()
    runner = run.Runner(w, scratch)
    tree = procmon.ProcTree()
    with procmon.RssSampler(tree) as sampler:
        host0 = procmon.host_cpu()
        with eventlog.EventLog(s, os.path.join(scratch, "events")) as ev:
            phase = runner.timed(0, tree, sampler)
        host1 = procmon.host_cpu()
        metrics = run.trace_metrics(w, phase, phase["items_per_s"], sampler,
                                    ev, host0, host1)
    return w, runner, phase, ev, metrics


def test_event_log_fold_on_tiny_crawl(traced):
    import eventlog

    w, runner, phase, ev, _ = traced
    assert runner.failed == 0
    spans = phase["reps"][0].spans
    f = eventlog.fold(ev.events(), spans)
    assert f.jobs > 0 and f.stages > 0 and f.tasks >= f.stages
    rounds = len(phase["reps"][0].info["round_walls"])
    assert sum(v for k, v in f.jobs_by_label.items()
               if k.startswith("round")) >= rounds
    assert 0 < f.job_busy_ms <= f.span_ms
    assert f.arrow_to_py_bytes > 0 and f.arrow_from_py_bytes > 0


def test_emitted_names_match_benchmark_json(traced):
    import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    *_, metrics = traced
    assert sorted(metrics) == sorted(m["name"] for m in spec["per_layer"])
    phase = traced[2]
    e2e = run.e2e_metrics(1.0, phase, type("S", (), {"peak_total": 1})())
    assert sorted(e2e) == sorted(m["name"] for m in spec["end_to_end"])
    for m in spec["end_to_end"]:
        assert e2e[m["name"]]["unit"] == m["unit"]


def test_forced_check_failure_counts_as_failed_op(traced):
    import run

    w, runner, *_ = traced
    fresh = run.Runner(w, os.path.join(runner.scratch, "forced"))
    good = w.want_hash
    w.want_hash = "0" * 64
    try:
        assert fresh.one() is None
    finally:
        w.want_hash = good
    assert (fresh.attempted, fresh.failed) == (1, 1)
    assert "check failed" in fresh.errors[0]
    assert fresh.one() is not None
    assert (fresh.attempted, fresh.failed) == (2, 1)


def test_timed_phase_with_no_good_repetition_reports_failures(traced):
    import procmon
    import run

    w, runner, *_ = traced
    fresh = run.Runner(w, os.path.join(runner.scratch, "all_failed"))
    good = w.want_hash
    w.want_hash = "0" * 64
    try:
        tree = procmon.ProcTree()
        with procmon.RssSampler(tree) as sampler:
            assert fresh.timed(0, tree, sampler) is None
    finally:
        w.want_hash = good
    assert fresh.failed == fresh.attempted > 0
