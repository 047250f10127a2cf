"""The workloads. Each one stages seeded inputs and warms up in
``setup``, runs one closed-loop operation per ``run_op`` call, and checks
every output it kept in ``check`` (after the timed window).

Layer calls are wrapped in tracer spans named after the program's modules:
``sources``, ``plans``, ``storage`` (``operators`` run inside the plans and
are reached through them). Spans cost nothing when tracing is off.
"""

from __future__ import annotations

import datetime as dt
import os
import re
import sys
from dataclasses import dataclass

import numpy as np

from perfbench import gen
from perfbench.stats import median

# Input sizes. Kept small enough that one run of every workload fits the
# benchmark's time budget on a 4-core box; see perfbench/NOTES.md.
PA_SCALE = 0.01  # TPC-H-ish tables: 60k lineitem rows, 2k symbols
PA_FAMILIES = ("ts", "a", "w", "r", "j", "apx", "fx")
PA_POOL_STRIDE = 9  # about one query in nine of each family
DI_SYMBOLS = 4500
DI_BACKFILL_DAYS = 20  # days of prices stored before the first batch (see gen.FIRST_DAY)
DI_MAX_DAYS = 80


@dataclass
class Ctx:
    spark: object  # the SparkSession
    root: str  # scratch directory of this run
    seed: int
    tracer: object  # perfbench.trace.Tracer


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _family(name: str) -> str:
    return re.match(r"[a-z]+", name).group(0)


# ---------------------------------------------------------------------------
# price_analytics: the read path over the staged price fact
# ---------------------------------------------------------------------------


def query_pool() -> list[str]:
    """A fixed, seed-independent sample of the oracle-checked stock-domain
    read queries: about one in ``PA_POOL_STRIDE`` of each family, spread
    evenly over the family's registry order (at least one per family)."""
    from market_data_pipeline_spark.plans.driver_queries import ORACLES, QUERIES

    pool = []
    for fam in PA_FAMILIES:
        names = [n for n in QUERIES if _family(n) == fam and n in ORACLES]
        k = max(1, round(len(names) / PA_POOL_STRIDE))
        pool += [names[int((i + 0.5) * len(names) / k)] for i in range(k)]
    return pool


class PriceAnalytics:
    name = "price_analytics"

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.pool = query_pool()
        self.round_len = len(self.pool)  # the window holds whole rounds
        self.rng = np.random.default_rng([ctx.seed, 10])
        self.order: list[str] = []
        self.results: dict[str, tuple[list[str], list[dict]]] = {}
        self.errors: dict[str, str] = {}
        self.families: dict[int, str] = {}
        self.dir = os.path.join(ctx.root, "tables")
        self.input_rows = 0
        self.input_bytes = 0

    def round_order(self) -> list[str]:
        return [self.pool[i] for i in self.rng.permutation(len(self.pool))]

    def setup(self) -> None:
        from market_data_pipeline_spark.plans.driver_queries import QUERIES

        tables = gen.tpch_tables(self.ctx.seed, PA_SCALE)
        self.input_bytes = gen.write_tables(tables, self.dir)
        self.input_rows = len(tables["lineitem"])
        # warm-up: every pool query once, collected — the rows are what
        # check() compares against the DuckDB oracles
        for name in self.round_order():
            try:
                df = QUERIES[name](self.ctx.spark, self.dir)
                self.results[name] = (list(df.columns), [r.asDict() for r in df.collect()])
            except Exception as e:  # a boundary: check() reports it
                self.errors[name] = repr(e)

    def run_op(self, i: int) -> None:
        from market_data_pipeline_spark.plans.driver_queries import QUERIES

        if not self.order:
            self.order = self.round_order()
        name = self.order.pop()
        self.families[i] = _family(name)
        tr = self.ctx.tracer
        with tr.span("plans.build", i):
            df = QUERIES[name](self.ctx.spark, self.dir)
        with tr.span("plans.exec", i):
            _noop(df)

    def check(self) -> list[str]:
        import duckdb

        from market_data_pipeline_spark.plans.driver_queries import ORACLES

        compare = _oracle_compare()
        con = duckdb.connect()
        for t in os.listdir(self.dir):
            con.execute(f"CREATE VIEW {t[:-8]} AS SELECT * FROM '{os.path.join(self.dir, t)}'")
        bad = [f"{n}: spark error {e}" for n, e in self.errors.items()]
        for name, (cols, rows) in self.results.items():
            duck = con.execute(ORACLES[name]).fetch_arrow_table()
            status, msg = compare(name, cols, rows, duck.column_names, duck.to_pylist())
            if status != "PASS":
                bad.append(f"{name}: {msg}")
        return bad

    def extra_metrics(self, n_ok: int, window_s: float) -> dict[str, float]:
        # Neither figure is evidence on its own here: every run measures whole
        # rounds of the same sample, so rows_per_s is ops_per_min times the
        # lineitem row count, and stored_bytes_per_row is the size of the
        # generator's own parquet. They are reported because every run prints
        # every end-to-end metric.
        return {
            "rows_per_s": n_ok * self.input_rows / window_s,
            "stored_bytes_per_row": self.input_bytes / self.input_rows,
        }

    def layer_metrics(self, ops: list[int]) -> dict[str, float]:
        tr = self.ctx.tracer
        out = {}
        for fam in PA_FAMILIES:
            mine = {i for i in ops if self.families.get(i) == fam}
            xs = tr.durations("plans.exec", mine)
            out[f"family.{fam}.exec_p50_s"] = _med(xs)
        return out


def _oracle_compare():
    """The repository's own oracle comparison (scripts/check_oracle.py)."""
    import importlib.util

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "_check_oracle", os.path.join(here, "scripts", "check_oracle.py")
    )
    mod = importlib.util.module_from_spec(spec)
    if here not in sys.path:
        sys.path.insert(0, here)
    spec.loader.exec_module(mod)
    return mod.compare


# ---------------------------------------------------------------------------
# daily_ingest: the daily batch, one trading day per operation
# ---------------------------------------------------------------------------


class DailyIngest:
    name = "daily_ingest"
    round_len = 1

    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.market = gen.Market(ctx.seed, DI_SYMBOLS, DI_BACKFILL_DAYS, DI_MAX_DAYS)
        self.next_day = DI_BACKFILL_DAYS
        self.days: dict[int, dict] = {}  # day -> what the batch sent and returned
        self.backfill_rows = 0

    def setup(self) -> None:
        import pandas as pd

        from market_data_pipeline_spark.schemas import STOCK_PRICE
        from market_data_pipeline_spark.storage.table import (
            stock_master_table,
            stock_price_table,
        )

        spark, m = self.ctx.spark, self.market
        self.master = stock_master_table(spark, os.path.join(self.ctx.root, "stock_master"))
        self.prices = stock_price_table(spark, os.path.join(self.ctx.root, "stock_price"))
        backfill = pd.concat([m.prices(d) for d in range(DI_BACKFILL_DAYS)], ignore_index=True)
        self.backfill_rows = len(backfill)
        self.prices.overwrite(spark.createDataFrame(backfill, STOCK_PRICE))
        # the first day bootstraps the master table; the second is the first
        # to take every update path (anti-joins against a stored master, real
        # delistings). With only the first day untimed, the next two days ran
        # up to 20% slower than the one after them.
        self.run_op(None)
        self.run_op(None)

    def run_op(self, op) -> None:
        """Run the next trading day through the daily batch and keep the
        run report, the inserted count and the read-after-write summary."""
        from pyspark.sql import functions as F

        from market_data_pipeline_spark.operators import incremental
        from market_data_pipeline_spark.plans.pipelines import run_daily_update
        from market_data_pipeline_spark.schemas import STOCK_PRICE
        from market_data_pipeline_spark.sources.fdr import FdrListingSource
        from market_data_pipeline_spark.sources.krx import (
            KrxDelistedSource,
            KrxNewListingSource,
        )

        d = self.next_day
        self.next_day += 1
        if d > DI_BACKFILL_DAYS + DI_MAX_DAYS:
            raise RuntimeError("daily_ingest ran out of generated trading days")
        spark, tr, m = self.ctx.spark, self.ctx.tracer, self.market
        # inputs are generated before any call into the program
        listings = {mk: m.fdr_listing(d, mk) for mk in gen.MARKETS}
        transport = m.transport(d)
        batch, n_new = m.offered(d)

        def fetcher(market: str):
            return listings[market]  # KeyError for ETF: a tolerated failure

        with tr.span("sources.crawl_parse", op):
            per_market = FdrListingSource(spark, fetcher).fetch_all()
            raw_new = KrxNewListingSource(spark, transport).fetch_all()
            raw_del = KrxDelistedSource(spark, transport).fetch_all()
        with tr.span("plans.daily_update", op):
            report = run_daily_update(
                self.master, per_market, raw_new, raw_del,
                now=dt.datetime.combine(m.days[d], dt.time(20, 0)),
            )
        day = m.days[d]
        with tr.span("storage.upsert", op):
            inserted = self.prices.upsert_absent(spark.createDataFrame(batch, STOCK_PRICE))
        with tr.span("storage.compact", op):
            self.prices.compact(partitions=[day.strftime("%Y%m")])
        with tr.span("storage.read_after_write", op):
            with tr.span("plans.build", op):
                summary = incremental.finalize_summary(
                    incremental.daily_summary_partial(
                        self.prices.read_current().filter(F.col("trade_date") == F.lit(day))
                    )
                )
            with tr.span("plans.exec", op):
                rows = [r.asDict() for r in summary.collect()]
        self.days[d] = {
            "report": report,
            "inserted": (inserted, n_new),
            "offered": len(batch),
            "summary": rows,
        }

    def check(self) -> list[str]:
        return self.check_days() + self.check_table()

    def check_days(self) -> list[str]:
        """Each day's master counts, inserted rows and summary against what
        the generator emitted."""
        from decimal import Decimal

        bad = []
        m = self.market
        for d, got in sorted(self.days.items()):
            want = m.expected_master(d)
            have = {k: got["report"][k] for k in want}
            if have != want:
                bad.append(f"day {d}: master counts {have} != {want}")
            inserted, n_new = got["inserted"]
            if inserted != n_new:
                bad.append(f"day {d}: inserted {inserted} price rows, expected {n_new}")
            p = m.prices(d)
            exp = {
                "trade_date": m.days[d],
                "n_rows": len(p),
                "avg_close": float(sum(Decimal(f"{c:.2f}") for c in p.close_price)) / len(p),
                "total_volume": int(p.volume.sum()),
                "min_close": float(p.close_price.min()),
                "max_close": float(p.close_price.max()),
            }
            rows = got["summary"]
            if len(rows) != 1 or any(
                not _close(rows[0][k], v) for k, v in exp.items()
            ):
                bad.append(f"day {d}: summary {rows} != {exp}")
        return bad

    def check_table(self) -> list[str]:
        """Every price row ever offered is stored exactly once."""
        from pyspark.sql import functions as F

        m = self.market
        raw = self.prices.read_raw()
        stats = raw.agg(
            F.count("*").alias("n"),
            F.count_distinct("symbol", "trade_date").alias("keys"),
        ).collect()[0]
        want_rows = self.backfill_rows + sum(len(m.prices(d)) for d in self.days)
        if stats["n"] != want_rows or stats["keys"] != want_rows:
            return [
                f"price table holds {stats['n']} rows / {stats['keys']} keys, expected {want_rows}"
            ]
        return []

    def _timed_days(self, n_ok: int) -> list[dict]:
        return list(self.days.values())[-n_ok:] if n_ok else []

    def extra_metrics(self, n_ok: int, window_s: float) -> dict[str, float]:
        size, _files, _parts = _dir_stats(self.prices.path)
        stored = self.backfill_rows + sum(v["inserted"][0] for v in self.days.values())
        return {
            # rows upsert_absent reports as inserted
            "rows_per_s": sum(v["inserted"][0] for v in self._timed_days(n_ok)) / window_s,
            "stored_bytes_per_row": size / stored,
        }

    def layer_metrics(self, ops: list[int]) -> dict[str, float]:
        tr = self.ctx.tracer
        timed = self._timed_days(len(ops))
        offered = sum(v["offered"] for v in timed)
        inserted = sum(v["inserted"][0] for v in timed)
        _size, files, parts = _dir_stats(self.prices.path)
        return {
            **{
                f"{span}_s": _med(tr.durations(span, set(ops)))
                for span in (
                    "sources.crawl_parse",
                    "plans.daily_update",
                    "storage.upsert",
                    "storage.compact",
                    "storage.read_after_write",
                )
            },
            "storage.inserted_per_offered": inserted / offered if offered else 0.0,
            "storage.files_per_partition": files / parts if parts else 0.0,
        }


def _dir_stats(path: str) -> tuple[int, int, int]:
    """(data bytes, data files, partition directories) under a table."""
    size = files = 0
    parts = set()
    for root, _dirs, names in os.walk(path):
        for n in names:
            if n.startswith(("_", ".")):
                continue
            files += 1
            size += os.path.getsize(os.path.join(root, n))
            parts.add(root)
    return size, files, len(parts)


def _close(a, b) -> bool:
    if isinstance(b, float):
        return a is not None and abs(a - b) <= 1e-9 * max(1.0, abs(b))
    return a == b


def _med(xs: list[float]) -> float:
    return median(xs) if xs else 0.0


WORKLOADS = {w.name: w for w in (PriceAnalytics, DailyIngest)}
