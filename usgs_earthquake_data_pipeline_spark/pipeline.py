"""Ingest orchestration (C1-C5): month windows, offset pagination,
week-granularity fallback, HTTP status classification, and the
two-phase ETL main.

Mirrors /root/reference/usgs-earthquake-data-ingestion-prod.py:295-455
(month loop 316-371, week fallback 339-369, pagination 377-455,
status classification 439-445, two-phase main 568-575) as plain
driver-side Python — orchestration never belongs inside the engine.
The fetch transport is injectable end-to-end so tests drive the whole
pipeline from local fixtures. Each window is atomic: all of its pages
are fetched first, then the window lands in bronze with one write.

The pager (``fetch_pages``, C3) and the month -> week fallback
(``with_week_fallback``, C2) are the package's only ones: the driver
ingest here and the ``usgs_geojson`` data source
(``sources/usgs_datasource.py``) both go through them.

Fixed vs the reference: its ``if ETLIngestion:`` truthiness bug
(silver unconditionally ran on the function object, :568-575) — here
the silver phase runs only after ingest actually completes.
"""

from __future__ import annotations

import json
import logging
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field
from datetime import date, timedelta

from pyspark.sql import Observation, SparkSession

from .observability import job_description, quality_metrics
from .sources.geojson import events_from_geojson_strings
from .sources.rest import FetchError, HttpGet, fetch_earthquake_data_limit_offset
from .operators.silver import build_silver_layer
from .schema import USGS_EVENTS_SCHEMA
from .sinks import read_partitioned_table, save_partitioned_table, upsert_partitions

logger = logging.getLogger(__name__)

USGS_API_URL = "https://earthquake.usgs.gov/fdsnws/event/1/query"

#: FDSN page size: every pager in the package asks for this many
#: features per request (FDSN caps a query at 20 000)
PAGE_LIMIT = 15000


def month_windows(start_year: int, end_year: int) -> list[tuple[str, str]]:
    """C1: [start_year-01-01, end_year+1-01-01) in 1-month windows.

    Each window ends at the NEXT month's first day, so the final
    window covers all of December (FDSN start/end are inclusive; an
    end pinned to 12-31T00:00 would drop Dec-31 events). A boundary
    instant (exactly 00:00 on the 1st) is therefore served to both
    adjacent windows: append mode lands it twice (a documented
    at-least-once), while idempotent ingest lands only the rows in
    ``[start, end)``, so the instant lands with its own month.
    """
    windows = []
    current = date(start_year, 1, 1)
    end = date(end_year + 1, 1, 1)
    while current < end:
        nxt = (current.replace(day=1) + timedelta(days=32)).replace(day=1)
        windows.append((current.isoformat(), min(nxt, end).isoformat()))
        current = nxt
    return windows


def week_windows(month_start: str, month_end: str) -> list[tuple[str, str]]:
    """C2 granularity fallback: a month split into 1-week windows."""
    start, end = date.fromisoformat(month_start), date.fromisoformat(month_end)
    windows = []
    current = start
    while current < end:
        nxt = min(current + timedelta(days=7), end)
        windows.append((current.isoformat(), nxt.isoformat()))
        current = nxt
    return windows


def is_retryable(exc: Exception) -> bool:
    """C4: HTTP status classification — 4xx/5xx trigger the
    granularity fallback; anything else re-raises."""
    return isinstance(exc, FetchError) and 400 <= exc.status < 600


def fetch_pages(
    api_url: str,
    start_time: str,
    end_time: str,
    *,
    limit: int = PAGE_LIMIT,
    http_get: HttpGet | None = None,
) -> Iterator[dict]:
    """C3: the decoded pages of one window, by 1-based offset
    pagination; stops on an empty page or a short page (reference
    usgs-earthquake-data-ingestion-prod.py:392-437). A failed page
    raises ``FetchError`` for the caller to classify (C4)."""
    offset = 1  # FDSN offsets are 1-based
    while True:
        doc = fetch_earthquake_data_limit_offset(
            api_url, start_time, end_time, limit, offset, http_get
        )
        features = doc.get("features") or []
        if not features:  # F4: empty page ends pagination
            return
        yield doc
        if len(features) < limit:  # short page: final one
            return
        offset += limit


def with_week_fallback(
    run_window: Callable[[str, str], object], month_start: str, month_end: str
) -> list[tuple[str, str, FetchError]]:
    """C2: ``run_window(start, end)`` on the month; on a retryable
    failure, on each of its weeks instead. Returns each week that still
    failed, with its error; a non-retryable error propagates.

    ``run_window`` must keep nothing from a window that raises, or the
    weeks re-deliver what the failed month already handed on."""
    try:
        run_window(month_start, month_end)
        return []
    except FetchError as exc:
        if not is_retryable(exc):
            raise
        logger.warning("month %s failed (%s); retrying weekly", month_start, exc)
    failed = []
    for w_start, w_end in week_windows(month_start, month_end):
        try:
            run_window(w_start, w_end)
        except FetchError as exc:
            if not is_retryable(exc):
                raise
            logger.warning("week %s failed (%s)", w_start, exc)
            failed.append((w_start, w_end, exc))
    return failed


@dataclass
class IngestStats:
    pages: int = 0
    events: int = 0
    failed_windows: list[tuple[str, str]] = field(default_factory=list)
    # one Observation-API metric dict per landed window (rows,
    # null-rates, event-time span) — collected from the write job
    # itself, never a second scan (observability.py)
    window_metrics: list[dict] = field(default_factory=list)


def ingest_window_paged(
    spark: SparkSession,
    api_url: str,
    start_time: str,
    end_time: str,
    bronze_path: str,
    *,
    limit: int = PAGE_LIMIT,
    http_get: HttpGet | None = None,
    stats: IngestStats | None = None,
    idempotent: bool = False,
) -> int:
    """Fetch every page of one window (``fetch_pages``) and land it.

    The window is ATOMIC with respect to bronze: every page is fetched
    on the driver first, and only then is the whole window flattened
    and landed with ONE write. A mid-window fetch failure therefore
    leaves bronze and ``stats`` untouched, so the week-granularity
    retry (C2) can re-fetch the month without duplicating the pages
    the failed attempt already saw; a failed write is covered by the
    sink's commit protocol. The price is driver memory: the driver
    holds one window's page bodies (at most pages x ``limit``
    features) until the landing, rather than one page.

    The landing costs one Spark job whatever the page count: the
    write, which counts its own rows, so the sink needs no ``isEmpty``
    probe. The flattened window is driver-held, so one task writes it
    with no range exchange (``sinks.clustering_sort``). The job carries
    the description ``ingest <start>..<end>``.

    ``idempotent=True`` lands the window with a partition-level upsert
    instead of an append: re-running the same window replaces its
    (year, month) partition rather than duplicating rows — the fix
    for the reference's append-forever semantics (and its per-chunk
    S3 overwrite bug, SURVEY §3.1 step 8). The upsert replaces every
    partition its rows touch, so the window must be one
    ``month_windows`` window (``ValueError`` otherwise: a week would
    replace its whole month), and only rows with ``start <= eventtime
    < end`` land (FDSN's inclusive ``endtime`` also serves the next
    month's 00:00 instant, which would replace that month).
    """
    if idempotent and (start_time, end_time) not in month_windows(
        int(start_time[:4]), int(start_time[:4])
    ):
        raise ValueError(
            f"idempotent ingest needs one month window, got {start_time}..{end_time}"
        )
    stats = stats if stats is not None else IngestStats()
    pages = list(
        fetch_pages(api_url, start_time, end_time, limit=limit, http_get=http_get)
    )
    if pages:
        with job_description(spark, f"ingest {start_time}..{end_time}"):
            events = events_from_geojson_strings(spark, [json.dumps(p) for p in pages])
            # quality counters ride the landing job — no second scan
            obs = Observation(f"window_{start_time}")
            kwargs = dict(observation=obs, metrics=quality_metrics())
            if idempotent:
                keep = f"eventtime >= '{start_time}' AND eventtime < '{end_time}'"
                written = upsert_partitions(events.filter(keep), bronze_path, **kwargs)
            else:
                written = save_partitioned_table(
                    events, bronze_path, mode="append", **kwargs
                )
        if written:
            stats.window_metrics.append(obs.get)
    total = sum(len(p["features"]) for p in pages)
    stats.pages += len(pages)
    stats.events += total
    return total


def ingest_range(
    spark: SparkSession,
    start_year: int,
    end_year: int,
    bronze_path: str,
    *,
    api_url: str = USGS_API_URL,
    limit: int = PAGE_LIMIT,
    http_get: HttpGet | None = None,
) -> IngestStats:
    """C1+C2: iterate month windows through ``with_week_fallback``; a
    week that still fails is recorded in ``failed_windows`` and
    skipped (the run continues)."""
    stats = IngestStats()

    def land(start: str, end: str) -> None:
        ingest_window_paged(
            spark, api_url, start, end, bronze_path,
            limit=limit, http_get=http_get, stats=stats,
        )

    for m_start, m_end in month_windows(start_year, end_year):
        failed = with_week_fallback(land, m_start, m_end)
        stats.failed_windows += [(s, e) for s, e, _ in failed]
    return stats


def run_etl(
    spark: SparkSession,
    start_year: int,
    end_year: int,
    bronze_path: str,
    yearly_path: str,
    monthly_path: str,
    *,
    api_url: str = USGS_API_URL,
    limit: int = PAGE_LIMIT,
    http_get: HttpGet | None = None,
) -> IngestStats:
    """C5: two-phase main — ingest, then silver (which actually runs
    after ingest, unlike the reference's truthiness-bugged guard).
    Silver runs only once a window has landed: fetched pages whose
    features are all invalid never create the bronze table. Bronze is
    read by its declared schema, so the read launches no
    schema-inference job."""
    stats = ingest_range(
        spark, start_year, end_year, bronze_path,
        api_url=api_url, limit=limit, http_get=http_get,
    )
    if stats.window_metrics:
        with job_description(spark, "silver read bronze"):
            events = read_partitioned_table(
                spark, bronze_path, schema=USGS_EVENTS_SCHEMA
            )
        build_silver_layer(events, yearly_path, monthly_path)
    return stats
