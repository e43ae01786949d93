"""REST as a first-class Spark data source (Python Data Source API, Spark 4).

The reference wraps REST polling in its own runtime because Kafka Connect-
style sources can't express "next request depends on my state". Spark 4's
Python Data Source API can:

- **batch**: ``spark.read.format("tamer_rest")`` plans one InputPartition
  per page — fetches run *in executors*, in parallel (the reference
  declares a ``parallelism`` parameter it never uses; here it's real),
- **streaming**: ``spark.readStream.format("tamer_rest")`` implements
  ``SimpleDataSourceStreamReader`` whose offset IS the pagination cursor —
  Spark's own checkpoint/offset log then provides exactly-once consumption
  and crash-resume (the engine loop's guarantees, natively).

A page is fetched exactly as the engine's ``PaginatedRestSource`` fetches
it — rest.py's ``page_url``, ``fetch_with_auth_retry`` (5xx and connection
errors retried with backoff) and ``json_lines_decoder`` — only in the
executor that reads the page's partition.

Options: ``url`` (with ``{page}`` placeholder or ``page_param``),
``pages`` (batch: page count), ``start_page``, ``page_param``,
``batch_pages`` (stream: max pages per micro-batch). Payloads are JSON
arrays; rows must match the user-provided schema's column order.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

from tamer_spark.sources.rest import Authentication, fetch_with_auth_retry, json_lines_decoder, page_url


def _fetch_page(url_template: str, page_param: str, page: int) -> list:
    body = fetch_with_auth_retry(page_url(url_template, page_param, page), Authentication())
    rows, _ = json_lines_decoder(body)
    return [tuple(r.values()) if isinstance(r, dict) else (r,) for r in rows]


class RestDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "tamer_rest"

    def schema(self) -> str:
        return self.options.get("schema", "value string")

    def reader(self, schema) -> "RestBatchReader":
        return RestBatchReader(self.options)

    def simpleStreamReader(self, schema) -> "RestStreamReader":
        return RestStreamReader(self.options)


class RestBatchReader(DataSourceReader):
    def __init__(self, options):
        self.url = options["url"]
        self.page_param = options.get("page_param", "page")
        self.pages = int(options.get("pages", "1"))
        self.start = int(options.get("start_page", "0"))

    def partitions(self):
        # one partition per page → executor-parallel fetch
        return [InputPartition(p) for p in range(self.start, self.start + self.pages)]

    def read(self, partition: InputPartition) -> Iterator[tuple]:
        yield from _fetch_page(self.url, self.page_param, partition.value)


class RestStreamReader(SimpleDataSourceStreamReader):
    """Micro-batch REST tailing; offset = next page to fetch.

    ``read(start)`` pulls up to ``batch_pages`` pages, stopping early at the
    first empty page (caught-up). Spark persists the returned offset in the
    stream checkpoint — restart resumes exactly where it stopped.
    """

    def __init__(self, options):
        self.url = options["url"]
        self.page_param = options.get("page_param", "page")
        self.batch_pages = int(options.get("batch_pages", "10"))
        self.start_page = int(options.get("start_page", "0"))

    def initialOffset(self) -> dict:
        return {"page": self.start_page}

    def read(self, start: dict):
        page = int(start["page"])
        rows: list[tuple] = []
        for _ in range(self.batch_pages):
            got = _fetch_page(self.url, self.page_param, page)
            if not got:
                break
            rows.extend(got)
            page += 1
        return iter(rows), {"page": page}

    def readBetweenOffsets(self, start: dict, end: dict):
        # deterministic replay of a committed range (crash recovery)
        rows: list[tuple] = []
        for page in range(int(start["page"]), int(end["page"])):
            rows.extend(_fetch_page(self.url, self.page_param, page))
        return iter(rows)


def register(spark) -> None:
    spark.dataSource.register(RestDataSource)
