"""Tests for the benchmark's own helpers: the tail-percentile rule, the
chain generator, the status-store reader and the reference comparators.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd
import pytest

import harness as H
import reference as R
from workloads import TRADE_COUNTERS, JobOut, TradeAnalytics, chain_edges, chain_text

# ---------------------------------------------------------- percentile rule --


@pytest.mark.parametrize(
    "n, pct", [(19, None), (20, 50), (99, 50), (100, 90), (999, 90), (1000, 99), (10_000, 99.9)]
)
def test_tail_percentile_keeps_ten_samples_beyond(n, pct):
    got_pct, val = H.tail_percentile(range(1, n + 1))
    assert got_pct == pct
    if pct is None:
        assert val is None
    else:
        assert n - val >= 10  # at least ten samples lie beyond the value
        assert val == pytest.approx(pct / 100 * n, abs=1)


def test_tail_percentile_is_order_free():
    xs = list(np.random.default_rng(0).random(200))
    assert H.tail_percentile(xs) == H.tail_percentile(sorted(xs, reverse=True))


# --------------------------------------------------------------- generator --


def test_chain_generator_is_deterministic_per_seed():
    a, b, c = (chain_text(chain_edges(s, layers=6, width=50)) for s in (7, 7, 8))
    assert a == b
    assert c != a
    ea, ec = chain_edges(7, layers=6, width=50), chain_edges(8, layers=6, width=50)
    assert ea.shape == ec.shape == (5 * 50 * 4, 3)
    for e in (ea, ec):
        # every edge goes one layer down, each source has 4 distinct targets
        assert (e[:, 1] // 50 == e[:, 0] // 50 + 1).all()
        pairs = {(s, d) for s, d, _ in e.tolist()}
        assert len(pairs) == len(e)
        assert set(np.bincount(e[:, 0])[: 5 * 50]) == {4}
        assert e[:, 2].min() >= 1 and e[:, 2].max() <= 99


# ------------------------------------------------------- status-store reader --


@pytest.fixture(scope="module")
def tiny_session(tmp_path_factory):
    work = str(tmp_path_factory.mktemp("work"))
    H.configure_process_env(os.path.dirname(os.path.dirname(H.__file__)), work)
    conf = H.session_conf(work, cores=2, mem_mb=4096)
    # low retention, so the test can watch old stages being evicted
    conf["spark.ui.retainedJobs"] = "5"
    conf["spark.ui.retainedStages"] = "5"
    spark = H.start_session(conf)
    yield spark
    H.stop_session(spark)


def test_status_reader_counts_a_group_and_flags_evicted_stages(tiny_session):
    spark = tiny_session
    reader = H.JobGroupReader(spark)
    reader.set_group("first")
    spark.range(0, 10_000, numPartitions=2).selectExpr("id % 7 AS k").groupBy("k").count().collect()
    reader.clear_group()
    got = reader.read("first")
    assert got["jobs"] >= 1 and got["tasks"] >= 2 and len(got["job_s"]) == got["jobs"]
    assert got["executor_run_s"] >= 0 and got["shuffle_write_mb"] > 0
    for i in range(30):  # push the first group's jobs out of retention
        reader.set_group(f"later{i}")
        spark.range(0, 100, numPartitions=2).selectExpr("id % 3 AS k").groupBy("k").count().collect()
    reader.clear_group()
    # eviction runs on the status store's own thread; wait for it
    deadline = time.monotonic() + 30
    while tiny_session.sparkContext.statusTracker().getJobIdsForGroup("first"):
        assert time.monotonic() < deadline, "retention never evicted the first group"
        time.sleep(0.2)
    for group in ("first", "later29"):  # gone, and no longer trustworthy
        with pytest.raises(H.EvictedStageError):
            reader.read(group)


# ------------------------------------------------------------- comparators --


def test_frames_match_accepts_reordered_and_rejects_perturbed():
    want = pd.DataFrame({"u": [1, 2, 3], "v": [4, 5, 6], "weight": [0.5, 1.25, 2.0]})
    got = want.iloc[::-1].reset_index(drop=True)
    assert R.frames_match(got, want)[0]
    off = got.copy()
    off.loc[0, "weight"] += 0.01
    assert not R.frames_match(off, want)[0]
    assert not R.frames_match(got.assign(v=[4, 5, 7]), want)[0]
    assert not R.frames_match(got.iloc[:2], want)[0]
    assert not R.frames_match(got.rename(columns={"weight": "w"}), want)[0]


def test_id_values_match_rejects_wrong_missing_and_unreached():
    edges = np.array([[0, 1, 5], [1, 2, 5], [3, 2, 5]])
    levels = R.networkx_levels(edges, 0)
    assert levels == {0: 0, 1: 1, 2: 2}
    vertices = np.unique(edges[:, :2])
    good = {0: "0", 1: "1", 2: "2", 3: "-1"}
    assert R.id_values_match(good, vertices, levels, -1.0)[0]
    assert not R.id_values_match({**good, 2: "3"}, vertices, levels, -1.0)[0]
    assert not R.id_values_match({**good, 3: "4"}, vertices, levels, -1.0)[0]
    missing = {k: v for k, v in good.items() if k != 1}
    assert not R.id_values_match(missing, vertices, levels, -1.0)[0]


def test_read_id_values_reads_every_part_file(tmp_path):
    (tmp_path / "part-00000").write_text("0\t0\n1\t1\n")
    (tmp_path / "part-00001").write_text("2\t-1\n")
    (tmp_path / "_SUCCESS").write_text("")
    assert R.read_id_values(str(tmp_path)) == {0: "0", 1: "1", 2: "-1"}


def test_trade_check_rejects_counters_off_the_record():
    want = pd.DataFrame({"id": [1, 2], "component": [1, 1]})
    wl = TradeAnalytics()
    ok = JobOut(frame=want.copy(), counters=dict(TRADE_COUNTERS["wcc"]))
    assert wl.check("wcc", ok, want)[0]
    off = JobOut(frame=want.copy(), counters={**TRADE_COUNTERS["wcc"], "messages": 1})
    assert not wl.check("wcc", off, want)[0]
    wrong = JobOut(frame=want.assign(component=[1, 2]), counters=dict(TRADE_COUNTERS["wcc"]))
    assert not wl.check("wcc", wrong, want)[0]
