"""KRX web sources (SURVEY §2.1 S1-S3, S5) — driver-side adapters.

The reference crawls kind.krx.co.kr with a browser-headed session, POSTs a
search form sized to defeat pagination, POSTs the Excel-export endpoint,
and decodes the body through an encoding-fallback chain
(reference: src/crawlers/krx_delisted_crawler.py:51-135 and
src/crawlers/krx_new_listing_crawler.py:60-162). That is 3 small HTTP
round-trips per market — driver-side work by design: the network I/O stays
out of executors, and only the parsed rows enter Spark via
``spark.createDataFrame`` with the explicit RAW_* string schemas.

Everything network-shaped is behind an injectable ``transport`` callable,
exactly how the reference's tests mock ``_download_excel_data``
(reference: tests/test_sync_delisted_stocks.py:371-410): tests pass a
function returning fixture HTML bytes and never touch the network.

At scale: if staged HTML ever became large (millions of files), the parse
moves into ``spark.read.text`` + ``mapInPandas`` over the staged files;
the row-shape contract (RAW_* schemas) is unchanged.
"""

from __future__ import annotations

import datetime as dt
import io
import os
import time
from collections.abc import Callable
from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from market_data_pipeline_spark.schemas import RAW_DELISTED, RAW_NEW_LISTING

Transport = Callable[[str, dict], bytes]

SEARCH_URL = "https://kind.krx.co.kr/investwarn/delcompany.do"
LISTING_URL = "https://kind.krx.co.kr/listinvstg/listingcompany.do"

BROWSER_HEADERS = {
    "User-Agent": (
        "Mozilla/5.0 (Windows NT 10.0; Win64; x64) AppleWebKit/537.36 "
        "(KHTML, like Gecko) Chrome/120.0 Safari/537.36"
    ),
    "Accept": "text/html,application/xhtml+xml,application/xml;q=0.9,*/*;q=0.8",
    "Accept-Language": "ko-KR,ko;q=0.9,en;q=0.8",
}

# Header translations (Korean KRX column names -> canonical English).
DELISTED_RENAME = {
    "회사명": "company_name",
    "종목코드": "company_code",
    "폐지일": "delisting_date",
    "폐지일자": "delisting_date",
    "폐지사유": "delisting_reason",
    "비고": "remarks",
    "번호": "sequence",
}
NEW_LISTING_RENAME = {
    "회사명": "company_name",
    "종목코드": "company_code",
    "상장일": "listing_date",
    "시장구분": "market_type",
    "상장유형": "listing_type",
    "업종": "industry",
    "액면가": "par_value",
    "공모가": "ipo_price",
    "공모금액": "ipo_amount",
    "주요제품": "main_products",
    "상장주식수": "listed_shares",
    "상장주선인": "listing_advisor",
    "국적": "nationality",
    "번호": "sequence",
}

MARKETS = ("KOSPI", "KOSDAQ", "KONEX")
# the export form's marketType value per market
_MARKET_TYPES = {"KOSPI": "stockMkt", "KOSDAQ": "kosdaqMkt", "KONEX": "konexMkt"}


def decode_krx_bytes(data: bytes) -> str:
    """Encoding-fallback decode: euc-kr -> utf-8 -> cp949 -> latin1
    (reference: src/crawlers/krx_delisted_crawler.py:109-120 — KRX exports
    are nominally euc-kr but drift)."""
    for enc in ("euc-kr", "utf-8", "cp949"):
        try:
            return data.decode(enc)
        except (UnicodeDecodeError, LookupError):
            continue
    return data.decode("latin1", errors="replace")


class _TableCollector(HTMLParser):
    """Stdlib HTML table extractor (no bs4 in this environment).

    Collects every <table> as rows of cell strings; nested tables are
    attributed to the innermost table (matches how data tables appear in
    the KRX export markup).
    """

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tables: list[list[list[str]]] = []
        self._tstack: list[list[list[str]]] = []
        self._row: list[str] | None = None
        self._cell: io.StringIO | None = None

    def handle_starttag(self, tag, attrs):
        if tag == "table":
            self._tstack.append([])
        elif tag == "tr" and self._tstack:
            self._row = []
        elif tag in ("td", "th") and self._row is not None:
            self._cell = io.StringIO()

    def handle_endtag(self, tag):
        if tag in ("td", "th") and self._cell is not None and self._row is not None:
            self._row.append(self._cell.getvalue().strip())
            self._cell = None
        elif tag == "tr" and self._row is not None and self._tstack:
            if self._row:
                self._tstack[-1].append(self._row)
            self._row = None
        elif tag == "table" and self._tstack:
            self.tables.append(self._tstack.pop())

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.write(data)


def parse_html_table(html: str) -> tuple[list[str], list[list[str]]]:
    """S3 — parse the data table out of a KRX HTML export: the table with
    the most rows is the data table, its first row is the header, and every
    data row is padded/truncated to the header width
    (reference: src/crawlers/krx_delisted_crawler.py:137-194, the
    "largest <table>" heuristic at :154).

    Returns (header, rows) of plain strings; empty -> ([], []).
    """
    collector = _TableCollector()
    collector.feed(html)
    tables = [t for t in collector.tables if t]
    if not tables:
        return [], []
    data = max(tables, key=len)
    header, *rows = data
    width = len(header)
    fixed = [(r + [""] * width)[:width] for r in rows]
    return header, fixed


def _requests_transport(headers: dict, polite_sleep: float = 1.0) -> Transport:
    """Production transport: browser-headed session, search POST (page size
    5000 to defeat pagination) then Excel-export POST, polite sleeps
    between calls (reference: src/crawlers/krx_delisted_crawler.py:51-101;
    currentPageSize=5000 at :58, sleeps at :78,94)."""
    import requests

    session = requests.Session()
    session.headers.update(headers)

    def transport(url: str, form: dict) -> bytes:
        search_form = dict(form, currentPageSize="5000", method="searchList")
        session.post(url, data=search_form, timeout=30)
        time.sleep(polite_sleep)
        export_form = dict(form, method="download", forward="download")
        resp = session.post(url, data=export_form, timeout=60)
        time.sleep(polite_sleep)
        resp.raise_for_status()
        return resp.content

    return transport


def _rows_to_df(
    spark: SparkSession,
    header: list[str],
    rows: list[list[str]],
    rename: dict[str, str],
    schema,
    market: str,
) -> DataFrame:
    """Map parsed string rows onto the canonical RAW_* schema: translate
    headers, keep known columns, inject the market literal, leave unknown
    headers behind. Missing canonical columns become null (the crawler
    schemas are dynamically discovered upstream — SURVEY §1.2)."""
    canon = [f.name for f in schema.fields]
    translated = [rename.get(h.strip(), h.strip()) for h in header]
    idx = {name: i for i, name in enumerate(translated) if name in canon}
    out_rows = [
        tuple(
            market if name == "market" else (r[idx[name]] if name in idx else None)
            for name in canon
        )
        for r in rows
    ]
    return spark.createDataFrame(out_rows, schema)


class _KrxSource:
    """One KRX export crawl per market (S3): POST the market's form, parse
    the export's data table, map it onto the RAW_* ``schema``; then union
    the markets and drop duplicate rows on ``dedup_keys``.
    ``transport(url, form) -> bytes`` is injectable; the default does the
    real 2-POST protocol."""

    url: str
    rename: dict[str, str]
    schema: StructType
    dedup_keys: list[str]
    form_fields: dict[str, str]

    def __init__(self, spark: SparkSession, transport: Transport | None = None):
        self.spark = spark
        self.transport = transport or _requests_transport(BROWSER_HEADERS)

    def form(self, market: str) -> dict:
        return {"marketType": _MARKET_TYPES[market], **self.form_fields}

    def fetch_market(self, market: str) -> DataFrame:
        body = self.transport(self.url, self.form(market))
        header, rows = parse_html_table(decode_krx_bytes(body))
        return _rows_to_df(self.spark, header, rows, self.rename, self.schema, market)

    def fetch_all(self, markets=MARKETS) -> DataFrame:
        """Per-market fetch + union-by-name; a failing market is skipped
        with the others kept (reference tolerates partial market failure,
        tests/test_sync_delisted_stocks.py:399-410)."""
        frames = []
        for m in markets:
            try:
                frames.append(self.fetch_market(m))
            except Exception:
                continue
        if not frames:
            return self.spark.createDataFrame([], self.schema)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f)
        return out.dropDuplicates(self.dedup_keys)


class KrxDelistedSource(_KrxSource):
    """S1+S3 — delisted-company source."""

    url = SEARCH_URL
    rename = DELISTED_RENAME
    schema = RAW_DELISTED
    dedup_keys = ["company_code", "delisting_date"]
    form_fields = {"searchType": "delisted"}


class KrxNewListingSource(_KrxSource):
    """S2+S3 — new-listing source with market + listing-type flags
    (NEW/TRANSFER/RELIST; reference:
    src/crawlers/krx_new_listing_crawler.py:60-162)."""

    url = LISTING_URL
    rename = NEW_LISTING_RENAME
    schema = RAW_NEW_LISTING
    dedup_keys = ["company_code", "listing_date"]
    form_fields = {"listingTypes": "NEW,TRANSFER,RELIST"}


def backup_parquet(
    df: DataFrame,
    backup_dir: str,
    prefix: str,
    timestamp: dt.datetime | None = None,
) -> str:
    """S5 — timestamped parquet backup of a crawl/validation result
    (reference: src/crawlers/krx_delisted_crawler.py:359-369 et al.).
    ``timestamp`` is injectable so goldens stay deterministic (SURVEY §7
    hard-point 5)."""
    ts = (timestamp or dt.datetime.now()).strftime("%Y%m%d_%H%M%S")
    path = os.path.join(backup_dir, f"{prefix}_{ts}.parquet")
    df.write.mode("overwrite").parquet(path)
    return path
