"""The benchmark's own tests: seeded inputs, summary statistics, and the
output checkers. None of them starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from decimal import Decimal

import numpy as np
import pytest

from perfbench import gen, run, stats, workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _ctx(seed, root="/nonexistent"):
    return workloads.Ctx(spark=None, root=root, seed=seed, tracer=None)


# -- seeded inputs -----------------------------------------------------------


def test_tpch_tables_follow_the_seed():
    a, b, c = (gen.tpch_tables(s, 0.001) for s in (7, 7, 8))
    for name in a:
        assert a[name].equals(b[name]), name
    assert not a["lineitem"].equals(c["lineitem"])
    assert not a["documents"].equals(c["documents"])
    assert len(a["lineitem"]) == len(c["lineitem"]) == 6000


def test_market_days_follow_the_seed():
    a, b, c = (gen.Market(s, 300, 5, 10) for s in (7, 7, 8))
    for d in (6, 9):
        assert a.offered(d)[0].equals(b.offered(d)[0])
        assert a.delisted_html(d, "KOSPI") == b.delisted_html(d, "KOSPI")
        assert a.fdr_listing(d, "KOSDAQ").equals(b.fdr_listing(d, "KOSDAQ"))
    assert not a.offered(6)[0].equals(c.offered(6)[0])
    assert a.codes != c.codes


def test_query_order_follows_the_seed():
    def orders(seed):
        wl = workloads.PriceAnalytics(_ctx(seed))
        return [wl.round_order() for _ in range(3)]

    assert orders(1) == orders(1)
    assert orders(1) != orders(2)
    pool = workloads.query_pool()
    assert sorted(orders(1)[0]) == sorted(pool)
    assert {workloads._family(n) for n in pool} == set(workloads.PA_FAMILIES)


def test_resent_rows_are_already_stored():
    m = gen.Market(5, 200, 3, 6)
    batch, n_new = m.offered(5)
    today = set(m.prices(5).symbol)
    resent = batch[batch.trade_date == m.days[4]]
    assert n_new == len(today) == len(batch) - len(resent)
    assert len(resent) == int(len(m.prices(4)) * gen.RESEND_SHARE)


def test_timed_days_fall_mid_month():
    m = gen.Market(1, 10, workloads.DI_BACKFILL_DAYS, workloads.DI_MAX_DAYS)
    first = workloads.DI_BACKFILL_DAYS + 2  # set-up runs two days untimed
    month = m.days[first].month
    assert sum(m.days[d].month == month for d in range(first)) >= 10
    assert all(m.days[d].month == month for d in range(first, first + 10))


def test_market_counts_track_listings_and_delistings():
    m = gen.Market(5, 200, 3, 6)
    assert m.expected_master(3) == {"total": 200, "active": 200, "delisted": 0}
    assert m.expected_master(5) == {"total": 206, "active": 200, "delisted": 6}
    assert len(m.active_on(5)) == 200


# -- summary statistics --------------------------------------------------------


def test_percentiles_match_numpy():
    rng = np.random.default_rng(0)
    for n in (1, 2, 7, 100):
        xs = list(rng.exponential(1.0, n))
        for q in (0, 25, 50, 90, 100):
            assert stats.percentile(xs, q) == pytest.approx(float(np.percentile(xs, q)))


def test_summary_counts_failures_and_throughput():
    s = stats.summarize([1.0, 2.0, 3.0, 4.0], failed=1, window_s=30.0)
    assert s["op_p50_s"] == 2.5
    assert s["op_p90_s"] == pytest.approx(3.7)
    assert s["ops_per_min"] == pytest.approx(8.0)
    assert s["ok_op_frac"] == pytest.approx(0.8)
    with pytest.raises(ValueError):
        stats.summarize([], failed=3, window_s=10.0)


# -- output checkers -----------------------------------------------------------


def test_price_check_rejects_a_wrong_result(tmp_path):
    duckdb = pytest.importorskip("duckdb")
    from market_data_pipeline_spark.plans.driver_queries import ORACLES

    wl = workloads.PriceAnalytics(_ctx(1, str(tmp_path)))
    gen.write_tables(gen.tpch_tables(1, 0.001), wl.dir)
    name = "w2_calculate_returns"
    con = duckdb.connect()
    for t in os.listdir(wl.dir):
        con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(wl.dir, t)}'")
    duck = con.execute(ORACLES[name]).fetch_arrow_table()
    rows = duck.to_pylist()
    assert rows
    wl.results = {name: (duck.column_names, rows)}
    assert wl.check() == []
    bad = [dict(r) for r in rows]
    col = next(c for c, v in bad[0].items() if isinstance(v, float))
    bad[0][col] += 1.0
    wl.results = {name: (duck.column_names, bad)}
    assert len(wl.check()) == 1
    wl.results = {name: (duck.column_names, rows[1:])}
    assert "rowcount" in wl.check()[0]


def _ingest_day(m, d):
    p = m.prices(d)
    summary = {
        "trade_date": m.days[d],
        "n_rows": len(p),
        "avg_close": float(sum(Decimal(f"{c:.2f}") for c in p.close_price)) / len(p),
        "total_volume": int(p.volume.sum()),
        "min_close": float(p.close_price.min()),
        "max_close": float(p.close_price.max()),
    }
    return {"report": m.expected_master(d), "inserted": (len(p), len(p)), "summary": [summary]}


def test_ingest_check_rejects_wrong_days():
    wl = workloads.DailyIngest.__new__(workloads.DailyIngest)
    wl.market = gen.Market(2, 300, 3, 5)
    wl.days = {d: _ingest_day(wl.market, d) for d in (4, 5)}
    assert wl.check_days() == []
    wl.days[5]["report"] = {**wl.days[5]["report"], "delisted": 0}
    wl.days[4]["inserted"] = (wl.days[4]["inserted"][0] + 3, wl.days[4]["inserted"][1])
    assert len(wl.check_days()) == 2
    wl.days = {5: _ingest_day(wl.market, 5)}
    wl.days[5]["summary"][0]["max_close"] += 0.01
    assert len(wl.check_days()) == 1


# -- BENCHMARK.json and the runner ---------------------------------------------


def test_benchmark_json_matches_the_runner():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert {w["name"] for w in bench["workloads"]} <= set(workloads.WORKLOADS)


def test_fails_without_the_program(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench")
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "daily_ingest", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=60,
    )
    assert p.returncode != 0
    assert p.stdout == ""
