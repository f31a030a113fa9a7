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

Fixed vs the reference: its ``if ETLIngestion:`` truthiness bug
(silver unconditionally ran on the function object, :568-575) — here
the silver phase runs only after ingest actually completes.
"""

from __future__ import annotations

import json
import logging
from dataclasses import dataclass, field
from datetime import date, timedelta

from pyspark.sql import Observation, SparkSession

from .observability import quality_metrics
from .sources.geojson import events_from_geojson_strings
from .sources.rest import FetchError, HttpGet, fetch_earthquake_data_limit_offset
from .operators.silver import build_silver_layer
from .sinks import read_partitioned_table, save_partitioned_table, upsert_partitions

logger = logging.getLogger(__name__)

USGS_API_URL = "https://earthquake.usgs.gov/fdsnws/event/1/query"


def month_windows(start_year: int, end_year: int) -> list[tuple[str, str]]:
    """C1: [start_year-01-01, end_year+1-01-01) in 1-month windows.

    Each window ends at the NEXT month's first day, so the final
    window covers all of December (FDSN start/end are inclusive; an
    end pinned to 12-31T00:00 would drop Dec-31 events). A boundary
    instant (exactly 00:00 on the 1st) is matched by both adjacent
    windows — harmless under idempotent ingest (the later window's
    upsert converges the partition) and a documented at-least-once
    in append mode.
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
    limit: int = 15000,
    http_get: HttpGet | None = None,
    stats: IngestStats | None = None,
    idempotent: bool = False,
) -> int:
    """C3: offset-pagination loop for one time window; terminates on
    an empty page or a short page (reference
    usgs-earthquake-data-ingestion-prod.py:392-437).

    The window is ATOMIC with respect to bronze: every page is fetched
    on the driver first, and only then is the whole window flattened
    and landed with ONE write. A mid-window fetch failure therefore
    leaves bronze and ``stats`` untouched, so the week-granularity
    retry (C2) can re-fetch the month without duplicating the pages
    the failed attempt already saw; a failed write is covered by the
    sink's commit protocol. The price is driver memory: the driver
    holds one window's page bodies (at most pages x ``limit``
    features) until the landing, rather than one page.

    ``idempotent=True`` lands the window with a partition-level upsert
    instead of an append: re-running the same window replaces its
    (year, month) partitions rather than duplicating rows — the fix
    for the reference's append-forever semantics (and its per-chunk
    S3 overwrite bug, SURVEY §3.1 step 8).
    """
    stats = stats if stats is not None else IngestStats()
    offset = 1  # FDSN offsets are 1-based
    docs: list[str] = []
    total = 0
    while True:
        doc = fetch_earthquake_data_limit_offset(
            api_url, start_time, end_time, limit, offset, http_get
        )
        features = doc.get("features") or []
        if not features:  # F4: empty page ends pagination
            break
        docs.append(json.dumps(doc))
        total += len(features)
        if len(features) < limit:  # short page: final one
            break
        offset += limit
    if docs:
        events = events_from_geojson_strings(spark, docs)
        # quality counters ride the landing job — no second scan
        obs = Observation(f"window_{start_time}")
        kwargs = dict(observation=obs, metrics=quality_metrics())
        if idempotent:
            written = upsert_partitions(events, bronze_path, **kwargs)
        else:
            written = save_partitioned_table(
                events, bronze_path, mode="append", **kwargs
            )
        if written:
            stats.window_metrics.append(obs.get)
    stats.pages += len(docs)
    stats.events += total
    return total


def ingest_range(
    spark: SparkSession,
    start_year: int,
    end_year: int,
    bronze_path: str,
    *,
    api_url: str = USGS_API_URL,
    limit: int = 15000,
    http_get: HttpGet | None = None,
) -> IngestStats:
    """C1+C2: iterate month windows; on a retryable failure, retry the
    month in week windows; a window that still fails is recorded and
    skipped (the run continues)."""
    stats = IngestStats()
    for m_start, m_end in month_windows(start_year, end_year):
        try:
            ingest_window_paged(
                spark, api_url, m_start, m_end, bronze_path,
                limit=limit, http_get=http_get, stats=stats,
            )
        except Exception as exc:
            if not is_retryable(exc):
                raise
            logger.warning("month %s failed (%s); retrying weekly", m_start, exc)
            for w_start, w_end in week_windows(m_start, m_end):
                try:
                    ingest_window_paged(
                        spark, api_url, w_start, w_end, bronze_path,
                        limit=limit, http_get=http_get, stats=stats,
                    )
                except Exception as wexc:
                    if not is_retryable(wexc):
                        raise
                    logger.warning("week %s failed (%s); skipped", w_start, wexc)
                    stats.failed_windows.append((w_start, w_end))
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
    limit: int = 15000,
    http_get: HttpGet | None = None,
) -> IngestStats:
    """C5: two-phase main — ingest, then silver (which actually runs
    after ingest, unlike the reference's truthiness-bugged guard).
    Silver runs only once a window has landed: fetched pages whose
    features are all invalid never create the bronze table."""
    stats = ingest_range(
        spark, start_year, end_year, bronze_path,
        api_url=api_url, limit=limit, http_get=http_get,
    )
    if stats.window_metrics:
        events = read_partitioned_table(spark, bronze_path)
        build_silver_layer(events, yearly_path, monthly_path)
    return stats
