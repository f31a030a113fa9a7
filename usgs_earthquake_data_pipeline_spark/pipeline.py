"""Ingest orchestration (C1-C5): month windows, offset pagination,
week-granularity fallback, HTTP status classification, and the
two-phase ETL main.

Mirrors /root/reference/usgs-earthquake-data-ingestion-prod.py:295-455
(month loop 316-371, week fallback 339-369, pagination 377-455,
status classification 439-445, two-phase main 568-575) as plain
driver-side Python — orchestration never belongs inside the engine.
The fetch transport is injectable end-to-end so tests drive the whole
pipeline from local fixtures.

The FDSN month is the one landing unit. ``fetch_month`` is the
package's one month fetch: the pager (``fetch_pages``, C3), the month
-> week fallback (C2) and one half-open cut (``cut``) to the events
with ``start <= properties.time < end``, since FDSN's ``endtime`` is
inclusive and also serves the next month's 00:00 instant. The driver
ingest here and the ``usgs_geojson`` batch reader
(``sources/usgs_datasource.py``) both fetch through it; the stream
reader pages its slices with ``fetch_pages`` and the same ``cut``.

``ingest_window_paged`` lands one whole month with one write: an
append when the month's bronze partition is absent, a partition
upsert when it exists, so a rerun replaces the month instead of
adding it again. A rerun that finds the month empty drops its
partition, so bronze mirrors the source. A month with a week that
still fails lands nothing and is recorded; a rerun fills it.

Fixed vs the reference: its ``if ETLIngestion:`` truthiness bug
(silver unconditionally ran on the function object, :568-575) — here
the silver phase runs only after ingest actually completes.
"""

from __future__ import annotations

import json
import logging
from collections.abc import Iterator
from dataclasses import dataclass, field
from datetime import date, datetime, timedelta, timezone

from pyspark.sql import Observation, SparkSession

from .observability import job_description, quality_metrics
from .sources.geojson import events_from_geojson_strings
from .sources.rest import FetchError, HttpGet, fetch_earthquake_data_limit_offset
from .operators.silver import build_silver_layer
from .schema import USGS_EVENTS_SCHEMA
from .sinks import (
    drop_partition,
    partition_exists,
    read_partitioned_table,
    save_partitioned_table,
    upsert_partitions,
)

logger = logging.getLogger(__name__)

USGS_API_URL = "https://earthquake.usgs.gov/fdsnws/event/1/query"

#: FDSN page size: every pager in the package asks for this many
#: features per request (FDSN caps a query at 20 000)
PAGE_LIMIT = 15000


def month_windows(start_year: int, end_year: int) -> list[tuple[str, str]]:
    """C1: [start_year-01-01, end_year+1-01-01) in 1-month windows.

    Each window ends at the NEXT month's first day, so the final
    window covers all of December. FDSN's ``endtime`` is inclusive, so
    a query for a window also serves the instant 00:00 on the next
    month's first day; ``fetch_month`` cuts it away, and the instant
    lands with its own month only.
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


def _day_ms(day: str) -> int:
    """An FDSN date parameter (``YYYY-MM-DD``, UTC) in epoch ms."""
    d = date.fromisoformat(day)
    return int(datetime(d.year, d.month, d.day, tzinfo=timezone.utc).timestamp()) * 1000


def cut(doc: dict, start_ms: int, end_ms: int) -> dict:
    """``doc`` keeping only the features whose ``properties.time`` lies
    in the half-open ``[start_ms, end_ms)``: FDSN's ``endtime`` is
    inclusive, so adjacent windows both serve their shared instant.
    A feature without a time belongs to no window and is dropped."""

    def inside(feature: dict) -> bool:
        t = (feature.get("properties") or {}).get("time")
        return t is not None and start_ms <= t < end_ms

    return {**doc, "features": [f for f in doc.get("features") or [] if inside(f)]}


def fetch_month(
    api_url: str,
    month_start: str,
    month_end: str,
    *,
    limit: int = PAGE_LIMIT,
    http_get: HttpGet | None = None,
) -> tuple[list[dict], list[tuple[str, str, FetchError]]]:
    """C2+C3: every page of one month window, each cut to the month
    (``cut``), and the weeks that still failed, each with its error.

    The month is paged whole (``fetch_pages``). On a retryable failure
    (C4) it is paged again week by week instead, and nothing the failed
    month returned is kept, so no event is handed on twice. A week that
    fails too is returned with its error, after every other week was
    tried; a non-retryable error propagates."""

    def fetch(start: str, end: str) -> list[dict]:
        return list(fetch_pages(api_url, start, end, limit=limit, http_get=http_get))

    failed = []
    try:
        pages = fetch(month_start, month_end)
    except FetchError as exc:
        if not is_retryable(exc):
            raise
        logger.warning("month %s failed (%s); retrying weekly", month_start, exc)
        pages = []
        for w_start, w_end in week_windows(month_start, month_end):
            try:
                pages += fetch(w_start, w_end)
            except FetchError as week_exc:
                if not is_retryable(week_exc):
                    raise
                logger.warning("week %s failed (%s)", w_start, week_exc)
                failed.append((w_start, w_end, week_exc))
    lo, hi = _day_ms(month_start), _day_ms(month_end)
    return [cut(doc, lo, hi) for doc in pages], failed


@dataclass
class IngestStats:
    pages: int = 0
    events: int = 0
    failed_windows: list[tuple[str, str]] = field(default_factory=list)
    # months whose existing bronze partition was dropped because the
    # source now serves no row of them
    emptied_windows: list[tuple[str, str]] = field(default_factory=list)
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
) -> int:
    """Fetch one ``month_windows`` window whole (``fetch_month``) and
    land it with one write; returns the month's events. Any other
    window raises ``ValueError``.

    The month is ATOMIC with respect to bronze: every page is fetched
    on the driver first, the week fallback included, and only then is
    the month flattened and landed. If a week still fails, the month
    lands nothing: its weeks go into ``stats.failed_windows`` and its
    pages and events are not counted, so a rerun fills the month and
    an existing partition is never cut down to the weeks that worked.
    A failed write is covered by the sink's commit protocol. The price
    is driver memory: the driver holds one month's page bodies.

    After the cut, every row of the month falls in its one
    ``(year, month)`` partition. The flatten derives the partition in
    the session time zone and FDSN months are UTC, so any other session
    time zone raises ``ValueError`` before the fetch: there a month's
    first hours fall in a neighbouring partition, which a rerun's
    upsert would then replace with those hours alone (``get_spark``
    sets UTC). The write is an append when that partition's directory
    is absent and a partition upsert when it exists (file-system calls
    only, ``sinks.partition_exists``), so a rerun replaces the month:
    on a fresh partition both give the same table, and the append is
    the cheaper write. Either way the landing costs one Spark job, the
    write, which counts its own rows, so the sink needs no ``isEmpty``
    probe. The flattened month is driver-held, so one task writes it
    with no range exchange (``sinks.clustering_sort``). The job carries
    the description ``ingest <start>..<end>``.

    A month that fetches with no failed week but lands no row (no
    feature served, or none with an ``id``) while its partition exists
    has lost every event at the source: its partition directory is
    deleted (``sinks.drop_partition``, file-system calls only) and the
    window goes into ``stats.emptied_windows``, since a write of zero
    rows would replace nothing.
    """
    year = int(start_time[:4])
    if (start_time, end_time) not in month_windows(year, year):
        raise ValueError(
            f"ingest lands one month window, got {start_time}..{end_time}"
        )
    tz = spark.conf.get("spark.sql.session.timeZone")
    if tz != "UTC":
        raise ValueError(f"ingest needs a UTC session time zone, got {tz}")
    stats = stats if stats is not None else IngestStats()
    pages, failed = fetch_month(
        api_url, start_time, end_time, limit=limit, http_get=http_get
    )
    if failed:
        stats.failed_windows += [(s, e) for s, e, _ in failed]
        return 0
    total = sum(len(p["features"]) for p in pages)
    month = (year, int(start_time[5:7]))
    landed = partition_exists(spark, bronze_path, month)
    written = False
    if total:
        with job_description(spark, f"ingest {start_time}..{end_time}"):
            events = events_from_geojson_strings(spark, [json.dumps(p) for p in pages])
            # quality counters ride the landing job — no second scan
            obs = Observation(f"window_{start_time}")
            kwargs = dict(observation=obs, metrics=quality_metrics())
            if landed:
                written = upsert_partitions(events, bronze_path, **kwargs)
            else:
                written = save_partitioned_table(
                    events, bronze_path, mode="append", **kwargs
                )
        if written:
            stats.window_metrics.append(obs.get)
    if landed and not written:
        drop_partition(spark, bronze_path, month)
        stats.emptied_windows.append((start_time, end_time))
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
    """C1: land each month window (``ingest_window_paged``); a month
    with a week that still fails is recorded in ``failed_windows`` and
    skipped (the run continues)."""
    stats = IngestStats()
    for m_start, m_end in month_windows(start_year, end_year):
        ingest_window_paged(
            spark, api_url, m_start, m_end, bronze_path,
            limit=limit, http_get=http_get, stats=stats,
        )
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
    Silver runs only once a window has landed or an emptied month's
    partition was dropped: fetched pages whose features are all invalid
    never create the bronze table. Bronze is read by its declared
    schema, so the read launches no schema-inference job. A rerun over
    the same years replaces each month it lands and drops each month
    the source has emptied, so bronze and both facts mirror the
    source."""
    stats = ingest_range(
        spark, start_year, end_year, bronze_path,
        api_url=api_url, limit=limit, http_get=http_get,
    )
    if stats.window_metrics or stats.emptied_windows:
        with job_description(spark, "silver read bronze"):
            events = read_partitioned_table(
                spark, bronze_path, schema=USGS_EVENTS_SCHEMA
            )
        build_silver_layer(events, yearly_path, monthly_path)
    return stats
