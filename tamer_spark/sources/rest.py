"""REST source: paginated/authenticated HTTP polling.

Re-expresses the reference `rest` module (rest/src/main/scala/tamer/rest/
RESTSetup.scala):

- **offset pagination** (RESTSetup.scala:153-229): state =
  ``Offset(offset, next_index)``; a full page (``fixed_page_element_count``
  rows) advances ``offset += increment, next_index = 0``; a partial page
  stays on the same offset with ``next_index = len(rows)`` so the re-fetch
  drops the already-seen prefix (``filter_page``, RESTSetup.scala:181-184) —
  exactly-once over growing pages,
- a decoder may override the next state entirely (HATEOAS ``nextState``,
  model.scala:44-48),
- **periodic re-scan** (RESTSetup.scala:231-299): state =
  ``PeriodicOffset(offset, period_start)``; pages advance until the period
  expires (``max_period``) or an empty page arrives after ``min_period``,
  then the cursor resets to page 0 with a new period (re-ingesting a mutable
  window; downstream dedup by key is the user's contract, same as the
  reference),
- **auth strategies** (model.scala:31-42): header injection + token cache;
  on 401/403 the token is refreshed once and the request retried
  (RESTSetup.scala:85-93),
- **one reader**: ``PaginatedRestSource`` is the only REST reader. It
  builds each page's URL with ``page_url`` (``param=N`` appended, or a
  ``{page}`` placeholder filled) and fetches it with
  ``fetch_with_auth_retry`` (the auth retry above, plus 5xx/connection
  retries whose delays are ``engine.RetryPolicy``'s).

The reference spins with exponential backoff on an empty page — a known
can-hang-forever FIXME (RESTSetup.scala:214); here an empty page is a normal
"no progress" result and the engine loop polls.

Fetching happens on the driver, one page per iteration: pages are small by
construction, and the *records* distribute via ``spark.createDataFrame``.
"""

from __future__ import annotations

import base64
import time
import urllib.request
from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from tamer_spark.engine import RetryPolicy
from tamer_spark.errors import TamerError
from tamer_spark.state import fingerprint


# ---------------------------------------------------------------------------
# pure pagination folds (unit-testable cursor math)
# ---------------------------------------------------------------------------

@dataclass(frozen=True)
class Offset:
    """rest/model.scala:54-60."""

    offset: int
    next_index: int = 0

    def to_state(self) -> dict:
        return {"offset": self.offset, "next_index": self.next_index}

    @staticmethod
    def from_state(d: dict) -> "Offset":
        return Offset(int(d["offset"]), int(d.get("next_index", 0)))


@dataclass(frozen=True)
class PeriodicOffset:
    """rest/model.scala:62-67; period_start as epoch seconds."""

    offset: int
    period_start: float

    def to_state(self) -> dict:
        return {"offset": self.offset, "period_start": self.period_start}

    @staticmethod
    def from_state(d: dict) -> "PeriodicOffset":
        return PeriodicOffset(int(d["offset"]), float(d["period_start"]))


def filter_page(rows: list, state: Offset, fixed_page_element_count: int | None) -> list:
    """Drop the already-ingested prefix of a re-fetched page
    (RESTSetup.scala:181-184)."""
    if fixed_page_element_count is None:
        return rows
    return rows[state.next_index:]


def advance_offset(
    state: Offset,
    page_len: int,
    fixed_page_element_count: int | None,
    increment: int = 1,
) -> Offset:
    """Offset fold (RESTSetup.scala:171-179). ``page_len`` is the raw page
    length (before filter_page)."""
    if fixed_page_element_count is not None and page_len >= fixed_page_element_count:
        return Offset(state.offset + increment, 0)
    if fixed_page_element_count is not None:
        return Offset(state.offset, page_len)
    if page_len > 0:
        return Offset(state.offset + increment, 0)
    return state


def advance_periodic_offset(
    state: PeriodicOffset,
    page_len: int,
    now: float,
    min_period_s: float = 300.0,   # reference defaults: 5 min / 1 h
    max_period_s: float = 3600.0,  # (RESTSetup.scala:238-239)
    increment: int = 1,
) -> PeriodicOffset:
    """Periodic re-scan fold (RESTSetup.scala:264-290)."""
    elapsed = now - state.period_start
    if elapsed > max_period_s or (page_len == 0 and elapsed > min_period_s):
        return PeriodicOffset(0, now)  # new period: re-ingest from page 0
    if page_len > 0:
        return PeriodicOffset(state.offset + increment, state.period_start)
    return state


# ---------------------------------------------------------------------------
# auth strategies (rest/model.scala:31-42)
# ---------------------------------------------------------------------------

class Authentication:
    """Base: no auth."""

    def headers(self) -> dict[str, str]:
        return {}

    def refresh(self) -> None:
        """Called once on 401/403; default no-op."""


@dataclass
class BasicAuth(Authentication):
    user: str
    password: str

    def headers(self) -> dict[str, str]:
        tok = base64.b64encode(f"{self.user}:{self.password}".encode()).decode()
        return {"Authorization": f"Basic {tok}"}


@dataclass
class BearerAuth(Authentication):
    """Bearer token with lazy fetch + refresh-on-auth-failure.

    ``token_provider`` is user code hitting the auth endpoint; the token is
    cached driver-side (the reference caches in a Ref, rest/package.scala:32)
    and re-fetched once when the API answers 401/403
    (RESTSetup.scala:85-93)."""

    token_provider: Callable[[], str]
    _token: str | None = field(default=None, repr=False)

    def headers(self) -> dict[str, str]:
        if self._token is None:
            self._token = self.token_provider()
        return {"Authorization": f"Bearer {self._token}"}

    def refresh(self) -> None:
        self._token = self.token_provider()


def http_get(url: str, auth: Authentication, timeout: float = 30.0) -> tuple[int, str]:
    req = urllib.request.Request(url, headers=auth.headers())
    try:
        with urllib.request.urlopen(req, timeout=timeout) as resp:
            return resp.status, resp.read().decode("utf-8")
    except urllib.error.HTTPError as e:  # type: ignore[attr-defined]
        return e.code, e.read().decode("utf-8", "replace")


def fetch_with_auth_retry(
    url: str,
    auth: Authentication,
    timeout: float = 30.0,
    retries: int = 3,
    backoff_base_s: float = 0.5,
) -> str:
    """GET with one refresh-and-retry on 401/403/404 (RESTSetup.scala:85-93)
    plus ``retries`` retries on 5xx/connection errors after the delays of
    ``RetryPolicy(retries, backoff_base_s)`` — 0.5, 1 and 2 s at the
    defaults (the reference's optional per-request retry Schedule,
    RESTSetup.scala:64-72 — configurable here rather than hard-coded)."""
    last_err: Exception | None = None
    for delay in [0.0, *RetryPolicy(retries, backoff_base_s).delays()]:
        if delay:
            time.sleep(delay)
        try:
            status, body = http_get(url, auth, timeout)
            if status in (401, 403, 404):
                auth.refresh()
                status, body = http_get(url, auth, timeout)
        except OSError as e:  # connection-level failure → retry
            last_err = e
            continue
        if status >= 500:  # server-side transient → retry
            last_err = TamerError(f"GET {url} failed with HTTP {status}")
            continue
        if status >= 400:
            raise TamerError(f"GET {url} failed with HTTP {status}")
        return body
    raise TamerError(f"GET {url} failed after {retries} retries") from last_err


def page_url(base_url: str, param: str, page: int) -> str:
    """The URL of page ``page``: ``base_url`` with its ``{page}``
    placeholder filled in, or else with ``param=page`` appended to its
    query (RESTSetup.scala:158)."""
    if "{page}" in base_url:
        return base_url.format(page=page)
    sep = "&" if "?" in base_url else "?"
    return f"{base_url}{sep}{param}={page}"


# ---------------------------------------------------------------------------
# engine source
# ---------------------------------------------------------------------------

@dataclass
class PaginatedRestSource:
    """Offset-paginated REST source.

    ``page_decoder(body) -> (rows, next_state_dict | None)``: rows as a list
    of dicts (or tuples matching ``schema``); a non-None second element is a
    HATEOAS override of the next state.
    """

    base_url: str
    page_decoder: Callable[[str], tuple[list, dict | None]]
    schema: str  # DDL, e.g. "value string" — stable across empty pages
    offset_parameter_name: str = "page"  # RESTSetup.scala:158
    increment: int = 1
    fixed_page_element_count: int | None = None
    initial_offset: int = 0
    auth: Authentication = field(default_factory=Authentication)
    periodic: bool = False
    min_period_s: float = 300.0
    max_period_s: float = 3600.0
    now_fn: Callable[[], float] = time.time

    def initial_state(self) -> Any:
        if self.periodic:
            return PeriodicOffset(self.initial_offset, self.now_fn()).to_state()
        return Offset(self.initial_offset).to_state()

    def state_fingerprint(self) -> str:
        return fingerprint(
            "rest-paginated", self.base_url, self.offset_parameter_name,
            self.increment, self.fixed_page_element_count, self.initial_offset, self.periodic,
        )

    def page_url(self, offset: int) -> str:
        return page_url(self.base_url, self.offset_parameter_name, offset)

    def iteration(self, state: Any, spark: SparkSession) -> tuple[DataFrame | None, Any]:
        if self.periodic:
            st = PeriodicOffset.from_state(state)
            body = fetch_with_auth_retry(self.page_url(st.offset), self.auth)
            rows, _ = self.page_decoder(body)
            new = advance_periodic_offset(
                st, len(rows), self.now_fn(), self.min_period_s, self.max_period_s, self.increment
            )
            df = spark.createDataFrame(rows, self.schema) if rows else None
            return df, new.to_state()

        st = Offset.from_state(state)
        body = fetch_with_auth_retry(self.page_url(st.offset), self.auth)
        rows, override = self.page_decoder(body)
        fresh = filter_page(rows, st, self.fixed_page_element_count)
        new_state = (
            override
            if override is not None
            else advance_offset(st, len(rows), self.fixed_page_element_count, self.increment).to_state()
        )
        df = spark.createDataFrame(fresh, self.schema) if fresh else None
        return df, new_state
