"""Seeded input generators for the workloads.

Everything here is plain numpy/pandas/pyarrow: the program under test only
ever sees the files and frames these functions produce. The same seed gives
byte-identical inputs; a different seed changes every value (sizes stay put,
so timings stay comparable across seeds).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# TPC-H-ish tables (the shape plans.driver_queries was written against)
# ---------------------------------------------------------------------------

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = ["en"] * 4 + ["de", "es", "fr", "zh"]


def _days(start: str, end: str) -> tuple[np.datetime64, int]:
    s = np.datetime64(start, "D")
    return s, int((np.datetime64(end, "D") - s).astype(int))


def _ts(rng: np.random.Generator, n: int, start: str, end: str) -> np.ndarray:
    s, span = _days(start, end)
    return (s + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def tpch_tables(seed: int, sf: float) -> dict[str, pd.DataFrame]:
    """The TPC-H-ish tables at scale factor ``sf`` (sf=1 ~ 6M lineitem rows)."""
    rng = np.random.default_rng([seed, 1])
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), int(15_000 * sf)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    t: dict[str, pd.DataFrame] = {}
    t["region"] = pd.DataFrame(
        {
            "r_regionkey": np.arange(5, dtype="int32"),
            "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
        }
    )
    t["nation"] = pd.DataFrame(
        {
            "n_nationkey": np.arange(25, dtype="int32"),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype("int32"),
        }
    )
    t["customer"] = pd.DataFrame(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
        }
    )
    t["supplier"] = pd.DataFrame(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": money(-999.99, 9999.99, n_supp),
        }
    )
    t["part"] = pd.DataFrame(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": [
                f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
                for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
            ],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PART_TYPES, n_part),
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
        }
    )
    t["orders"] = pd.DataFrame(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000.0, 500_000.0, n_ord),
            "o_orderdate": _ts(rng, n_ord, "1995-01-01", "2001-08-01"),
            "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
        }
    )
    t["lineitem"] = pd.DataFrame(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": money(900.0, 105_000.0, n_li),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": rng.choice(["A", "N", "R"], n_li),
            "l_linestatus": rng.choice(["F", "O"], n_li),
            "l_shipdate": _ts(rng, n_li, "1995-01-02", "2001-11-04"),
        }
    )
    ev_start = np.datetime64("2024-01-01T00:00:00", "us")
    ev_ts = np.sort(ev_start + rng.integers(0, 30 * 86_400 * 10**6, n_ev).astype("timedelta64[us]"))
    t["events"] = pd.DataFrame(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": ev_ts,
            "user_id": rng.integers(0, n_users, n_ev).astype("int64"),
            "event_type": rng.choice(_EVENT_TYPES, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    t["documents"] = documents(seed, int(500_000 * sf))
    return t


def documents(seed: int, n: int) -> pd.DataFrame:
    """Whitespace-token documents over a small vocabulary: ~5% are near
    duplicates (an earlier document plus one token) and a few are exact
    copies, so MinHash LSH and exact dedup both have clusters to find."""
    rng = np.random.default_rng([seed, 2])
    texts: list[str] = []
    for i in range(n):
        roll = rng.random()
        if i > 10 and roll < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 10 and roll < 0.052:
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, k)))
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype="int64"),
            "text": texts,
            "lang": rng.choice(_LANGS, n),
            "source": [f"src{i}" for i in rng.integers(0, 20, n)],
            "n_chars": np.array([len(s) for s in texts], dtype="int64"),
        }
    )


def write_tables(tables: dict[str, pd.DataFrame], out_dir: str) -> int:
    """One single-row-group parquet file per table, as ``load_table`` reads them.
    Returns the total bytes written."""
    os.makedirs(out_dir, exist_ok=True)
    total = 0
    for name, df in tables.items():
        path = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(
            pa.Table.from_pandas(df, preserve_index=False), path, row_group_size=len(df) + 1
        )
        total += os.path.getsize(path)
    return total


# ---------------------------------------------------------------------------
# Daily ingest: a listing universe evolving day by day, plus its price rows
# ---------------------------------------------------------------------------

MARKETS = ("KOSPI", "KOSDAQ", "KONEX")
_HANGUL = list("가나다라마바사아자차카타파하강남동서성신한국전자화학")
_REASONS = ["감사의견거절", "자본전액잠식", "합병", "신청에의한상장폐지", "기업가치미달"]
_DATE_FMTS = ("%Y.%m.%d", "%Y%m%d", "%Y-%m-%d")
LISTINGS_PER_DAY = 3
DELISTINGS_PER_DAY = 3
RESEND_SHARE = 0.1  # share of the previous day's rows sent again with each day
# The calendar (weekdays) starts 12 trading days before May 2024. With the
# daily_ingest workload's 20 backfill days and two untimed set-up days, the
# backfill ends on May 10, set-up runs May 13 and 14, and the timed days start
# on May 15 in a partition that already holds ten days, with 13 trading days
# left before the month ends: every timed day compacts a populated month and
# re-sends rows into that same month.
FIRST_DAY = dt.date(2024, 4, 15)


def trading_days(start: dt.date, n: int) -> list[dt.date]:
    out, d = [], start
    while len(out) < n:
        if d.weekday() < 5:
            out.append(d)
        d += dt.timedelta(days=1)
    return out


class Market:
    """The simulated exchange: a universe of listed symbols that gains a few
    listings and loses a few to delisting every trading day, with one OHLCV
    row per listed symbol per day. Every input of a day is a pure function
    of (seed, day), so any day can be regenerated for checking."""

    def __init__(self, seed: int, n_symbols: int, n_backfill: int, n_days: int):
        self.seed = seed
        rng = np.random.default_rng([seed, 3])
        codes = rng.choice(np.arange(100_000, 999_999), n_symbols + n_days * LISTINGS_PER_DAY,
                           replace=False)
        self.codes = [f"{c:06d}" for c in codes]
        self.names = ["".join(rng.choice(_HANGUL, int(rng.integers(2, 6)))) + f"{i}"
                      for i in range(len(self.codes))]
        self.market_of = list(rng.choice(MARKETS, len(self.codes), p=[0.45, 0.45, 0.10]))
        self.base_price = np.round(rng.lognormal(9.0, 1.0, len(self.codes)), 0)
        self.days = trading_days(FIRST_DAY, n_backfill + n_days + 1)
        self.n_backfill = n_backfill
        self.n_initial = n_symbols
        # day index -> symbol indices listed / delisted on that day; listed
        # symbols appear in the FDR listing from that day on, delisted ones
        # disappear from it
        self.listed_on: dict[int, list[int]] = {}
        self.delisted_on: dict[int, list[int]] = {}
        active = list(range(n_symbols))
        nxt = n_symbols
        for d in range(n_backfill + 1, n_backfill + n_days + 1):
            self.listed_on[d] = list(range(nxt, nxt + LISTINGS_PER_DAY))
            nxt += LISTINGS_PER_DAY
            gone = rng.choice(len(active), DELISTINGS_PER_DAY, replace=False)
            self.delisted_on[d] = [active[g] for g in sorted(gone)]
            for g in sorted(gone, reverse=True):
                active.pop(g)
            active += self.listed_on[d]

    # -- universe state ------------------------------------------------------
    def listed_through(self, d: int) -> list[int]:
        """Every symbol index ever listed up to and including day ``d``."""
        return list(range(self.n_initial)) + [
            s for k in range(self.n_backfill + 1, d + 1) for s in self.listed_on.get(k, [])
        ]

    def delisted_through(self, d: int) -> list[int]:
        return [s for k in range(self.n_backfill + 1, d + 1) for s in self.delisted_on.get(k, [])]

    def active_on(self, d: int) -> list[int]:
        gone = set(self.delisted_through(d))
        return [s for s in self.listed_through(d) if s not in gone]

    def expected_master(self, d: int) -> dict[str, int]:
        total = len(self.listed_through(d))
        delisted = len(self.delisted_through(d))
        return {"total": total, "active": total - delisted, "delisted": delisted}

    # -- crawl-shaped inputs ---------------------------------------------------
    def fdr_listing(self, d: int, market: str) -> pd.DataFrame:
        """What ``fdr.StockListing(market)`` returns on day ``d``. The day's
        new listings only reach it the next day (the KRX crawl has them
        first)."""
        new_today = set(self.listed_on.get(d, []))
        idx = [s for s in self.active_on(d) if self.market_of[s] == market and s not in new_today]
        return pd.DataFrame(
            {
                "Code": [self.codes[s] for s in idx],
                "Name": [self.names[s] for s in idx],
                "Sector": [None if s % 7 == 0 else f"섹터{s % 11}" for s in idx],
                "Industry": [None if s % 5 == 0 else f"업종{s % 13}" for s in idx],
            }
        )

    def _html(self, header: list[str], rows: list[list[str]]) -> bytes:
        def table(hdr, body):
            cells = "".join(f"<th>{h}</th>" for h in hdr)
            trs = "".join("<tr>" + "".join(f"<td>{c}</td>" for c in r) + "</tr>" for r in body)
            return f"<table><tr>{cells}</tr>{trs}</table>"

        # a decoy layout table first: the parser keeps the largest table
        decoy = table(["구분"], [])
        return f"<html><body>{decoy}{table(header, rows)}</body></html>".encode("euc-kr")

    def new_listing_html(self, d: int, market: str) -> bytes:
        header = ["번호", "회사명", "종목코드", "상장일", "시장구분", "상장유형", "업종",
                  "액면가", "공모가", "상장주식수"]
        rows = []
        for s in self.listed_on.get(d, []):
            if self.market_of[s] != market:
                continue
            fmt = _DATE_FMTS[s % 3]
            code = ("A" if s % 2 else "") + self.codes[s]
            rows.append([str(len(rows) + 1), self.names[s], code, self.days[d].strftime(fmt),
                         market, "신규상장", f"업종{s % 13}", "500원", f"{(s % 50 + 1) * 1000:,}원",
                         f"{(s % 90 + 10) * 100_000:,}주"])
        return self._html(header, rows)

    def delisted_html(self, d: int, market: str) -> bytes:
        """The delisting board is cumulative: every delisting so far."""
        header = ["번호", "회사명", "종목코드", "폐지일자", "폐지사유", "비고"]
        rows = []
        for k in range(self.n_backfill + 1, d + 1):
            for s in self.delisted_on.get(k, []):
                if self.market_of[s] != market:
                    continue
                rows.append([str(len(rows) + 1), self.names[s], self.codes[s],
                             self.days[k].strftime(_DATE_FMTS[s % 3]),
                             _REASONS[s % len(_REASONS)], ""])
        return self._html(header, rows)

    def transport(self, d: int):
        """An injectable ``transport(url, form) -> bytes`` serving day ``d``."""
        from_code = {"stockMkt": "KOSPI", "kosdaqMkt": "KOSDAQ", "konexMkt": "KONEX"}

        def serve(url: str, form: dict) -> bytes:
            market = from_code[form["marketType"]]
            if "searchType" in form:
                return self.delisted_html(d, market)
            return self.new_listing_html(d, market)

        return serve

    # -- price rows ------------------------------------------------------------
    def prices(self, d: int) -> pd.DataFrame:
        """One OHLCV row per symbol listed on day ``d`` (STOCK_PRICE shape)."""
        idx = np.array(self.active_on(d), dtype=np.int64)
        rng = np.random.default_rng([self.seed, 4, d])
        close = np.round(self.base_price[idx] * rng.uniform(0.9, 1.1, len(idx)), 2)
        open_ = np.round(close * rng.uniform(0.97, 1.03, len(idx)), 2)
        high = np.round(np.maximum(open_, close) * rng.uniform(1.0, 1.02, len(idx)), 2)
        low = np.round(np.minimum(open_, close) * rng.uniform(0.98, 1.0, len(idx)), 2)
        volume = rng.integers(1_000, 5_000_000, len(idx))
        stamp = dt.datetime.combine(self.days[d], dt.time(18))
        return pd.DataFrame(
            {
                "symbol": [self.codes[s] for s in idx],
                "trade_date": [self.days[d]] * len(idx),
                "open_price": open_,
                "high_price": high,
                "low_price": low,
                "close_price": close,
                "volume": volume,
                "amount": np.round(volume * close).astype("int64"),
                "market_cap": (close * 1e6).astype("int64"),
                "change_rate": np.round(rng.normal(0.0, 2.0, len(idx)), 2),
                "create_dt": [stamp] * len(idx),
                "update_dt": [stamp] * len(idx),
            }
        )

    def offered(self, d: int) -> tuple[pd.DataFrame, int]:
        """The day's price batch as sent: all of day ``d`` plus a seeded
        share of day ``d-1`` re-sent (already stored, must not land twice).
        Returns (frame, number of genuinely new rows)."""
        today = self.prices(d)
        prev = self.prices(d - 1)
        rng = np.random.default_rng([self.seed, 5, d])
        resent = prev.iloc[np.sort(rng.choice(len(prev), int(len(prev) * RESEND_SHARE),
                                              replace=False))]
        batch = pd.concat([today, resent], ignore_index=True)
        return batch.iloc[rng.permutation(len(batch))].reset_index(drop=True), len(today)
