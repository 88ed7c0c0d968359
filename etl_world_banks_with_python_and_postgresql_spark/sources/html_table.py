"""HTML table source (reference operators S1-S5, SURVEY §2.1).

The reference scrapes two HTML pages with BeautifulSoup
(Python/etl_project_world_banks.ipynb:78-84 takes `tbody[2]` of the
Wikipedia banks page; :146-154 takes the first tbody of the IRS rates
page; :86-90 reads the page's last-modified footer; :126-140 sniffs the
year column from `<thead>`). This module re-implements that surface on the
Python stdlib (html.parser) -- no bs4 dependency -- and hands rows to Spark
via ``createDataFrame`` with explicit string columns; typed casts happen in
the transform layer.

Scale note: scraped config/reference pages are tiny driver-side inputs by
nature. For bulk HTML corpora use ``documents``-style parquet plus
``mapInPandas`` parsing instead; this source intentionally stays a
driver-side adapter in front of `spark.createDataFrame`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from html.parser import HTMLParser

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


@dataclass
class HtmlTable:
    """One parsed <table>: header cells (from thead/th) + body rows."""

    headers: list[str] = field(default_factory=list)
    rows: list[list[str]] = field(default_factory=list)


class _TableParser(HTMLParser):
    """Collect text content of table cells; tolerant of nested markup."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.tables: list[HtmlTable] = []
        self._stack: list[HtmlTable] = []
        self._row: list[str] | None = None
        self._cell: list[str] | None = None
        self._cell_tag: str | None = None
        self._in_thead = False
        self._elements_by_id: dict[str, list[str]] = {}
        self._id_capture: list[tuple[str, list[str]]] = []

    def handle_starttag(self, tag, attrs):
        attrs = dict(attrs)
        if "id" in attrs:
            bucket: list[str] = []
            self._elements_by_id[attrs["id"]] = bucket
            self._id_capture.append((tag, bucket))
        if tag == "table":
            t = HtmlTable()
            self.tables.append(t)
            self._stack.append(t)
        elif tag == "thead":
            self._in_thead = True
        elif tag == "tr" and self._stack:
            self._row = []
        elif tag in ("td", "th") and self._row is not None:
            self._cell = []
            self._cell_tag = tag

    def handle_endtag(self, tag):
        if tag in ("td", "th") and self._cell is not None:
            text = "".join(self._cell).strip()
            self._row.append(text)
            if (tag == "th" or self._in_thead) and self._stack:
                self._stack[-1].headers.append(text)
            self._cell = None
            self._cell_tag = None
        elif tag == "tr" and self._row is not None:
            # data rows = rows containing at least one td-derived cell;
            # mirror the reference's `len(row.find_all('td')) > 0` filter
            # (ipynb:98,162) by checking we are not a pure header row
            if self._row and not self._in_thead:
                self._stack[-1].rows.append(self._row)
            self._row = None
        elif tag == "thead":
            self._in_thead = False
        elif tag == "table" and self._stack:
            self._stack.pop()
        if self._id_capture and self._id_capture[-1][0] == tag:
            self._id_capture.pop()

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)
        for _tag, bucket in self._id_capture:
            bucket.append(data)


def parse_html(html: str) -> tuple[list[HtmlTable], dict[str, str]]:
    """Parse all tables + text content of elements with an id attribute."""
    p = _TableParser()
    p.feed(html)
    elements = {k: "".join(v).strip() for k, v in p._elements_by_id.items()}
    return p.tables, elements


def element_text(html: str, element_id: str) -> str | None:
    """S4 page-metadata scan: text of the element with the given id
    (the reference reads id='footer-info-lastmod', ipynb:86-90)."""
    _, elements = parse_html(html)
    return elements.get(element_id)


def sniff_year(headers: list[str]) -> int | None:
    """S5 header scan: first header cell that is a 4-digit number
    (ipynb:126-140)."""
    for h in headers:
        h = h.strip()
        if h.isdigit() and len(h) == 4:
            return int(h)
    return None


def read_html_table(
    spark: SparkSession,
    html: str,
    table_index: int = 0,
    columns: list[str] | None = None,
    positions: list[int] | None = None,
) -> DataFrame:
    """S2/S3 table scan: rows of table ``table_index`` as a string-typed
    DataFrame (``parse_html`` + ``table_frame``)."""
    tables, _ = parse_html(html)
    return table_frame(spark, tables, table_index, columns, positions)


def table_frame(
    spark: SparkSession,
    tables: list[HtmlTable],
    table_index: int = 0,
    columns: list[str] | None = None,
    positions: list[int] | None = None,
) -> DataFrame:
    """Rows of already-parsed table ``table_index`` as a string-typed
    DataFrame, so a caller that also needs the page's headers or element
    texts parses the page once.

    ``positions`` selects/reorders cells per row (the reference keeps
    td[1], td[2] for banks -- dropping the rank column -- and td[0..2] for
    rates, ipynb:92-98,155-162); rows lacking those positions are skipped,
    mirroring the non-data-row filter (P3).
    """
    if table_index >= len(tables):
        raise ValueError(f"page has {len(tables)} tables; index {table_index} out of range")
    t = tables[table_index]
    rows = t.rows
    if positions is not None:
        need = max(positions) + 1
        rows = [[r[i].strip() for i in positions] for r in rows if len(r) >= need]
    ncols = len(positions) if positions is not None else max((len(r) for r in rows), default=0)
    if columns is None:
        columns = [f"c{i}" for i in range(ncols)]
    schema = T.StructType([T.StructField(c, T.StringType(), True) for c in columns])
    rows = [r[: len(columns)] for r in rows if len(r) == len(columns)]
    if not rows:
        return spark.createDataFrame([], schema)
    # hand rows to the JVM via Arrow (pandas) -- a plain list createDataFrame
    # pickles through Python workers, which taxes every downstream stage
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(rows, columns=columns), schema)


def fetch_url(url: str, timeout: int = 30) -> str:
    """S1 HTTP source. Fails loudly on non-200, like ipynb:72-74.

    Network access is environment-dependent; tests use local fixture files
    via ``read_text_source``.
    """
    import urllib.request

    with urllib.request.urlopen(url, timeout=timeout) as resp:  # noqa: S310
        if resp.status != 200:
            raise RuntimeError(f"failed to fetch {url}: HTTP {resp.status}")
        return resp.read().decode("utf-8", errors="replace")


def read_text_source(source: str) -> str:
    """Fetch a URL or read a local file path, whichever ``source`` is."""
    if source.startswith(("http://", "https://")):
        return fetch_url(source)
    with open(source, encoding="utf-8") as f:
        return f.read()
