"""REST GeoJSON page fetch (S2) with injectable transport.

The reference fetches the USGS FDSN API with requests
(usgs-earthquake-data-ingest.py:76-85; prod twins
usgs-earthquake-data-ingestion-prod.py:87-148). Here the HTTP call is
injected (``http_get``) so tests and offline runs use local fixtures;
the default transport is urllib (stdlib).

This module fetches one page. Paging a window (C3) and the month ->
week fallback (C2) live in ``pipeline.py`` (``fetch_pages``,
``fetch_month``); the driver ingest and the ``usgs_geojson`` data
source both use them. The reference's time-range (S1) and
newest-N (S3) fetches, which returned ``{}`` on any error, are that
pager: a failed page raises ``FetchError`` instead.
"""

from __future__ import annotations

import json
import urllib.parse
import urllib.request
from collections.abc import Callable

#: http_get(url) -> (status_code, body_text)
HttpGet = Callable[[str], tuple[int, str]]


class FetchError(Exception):
    """HTTP failure carrying the status code (for C4 classification)."""

    def __init__(self, status: int, message: str = ""):
        super().__init__(f"HTTP {status} {message}")
        self.status = status


def _default_http_get(url: str) -> tuple[int, str]:
    try:
        with urllib.request.urlopen(url, timeout=60) as resp:  # noqa: S310
            return resp.status, resp.read().decode("utf-8")
    except urllib.error.HTTPError as exc:
        return exc.code, ""


def fetch_earthquake_data_limit_offset(
    api_url: str,
    start_time: str,
    end_time: str,
    limit: int,
    offset: int,
    http_get: HttpGet | None = None,
) -> dict:
    """S2: time-range fetch with limit/offset pagination. Raises
    FetchError so the caller can classify (C4) and fall back (C2) —
    the prod reference distinguishes failures rather than swallowing
    them (usgs-earthquake-data-ingestion-prod.py:103-123, 439-445).

    HTTP 204 is FDSN's answer to a query that matches nothing (its
    ``nodata`` parameter defaults to 204), so it returns an empty
    FeatureCollection, which ends the pager like any empty page. Every
    other status but 200 raises."""
    params = {
        "format": "geojson",
        "starttime": start_time,
        "endtime": end_time,
        "limit": limit,
        "offset": offset,
    }
    url = f"{api_url}?{urllib.parse.urlencode(params)}"
    status, body = (http_get or _default_http_get)(url)
    if status == 204:  # FDSN's "no data": the query matched no event
        return {"type": "FeatureCollection", "features": []}
    if status != 200:
        raise FetchError(status, url)
    return json.loads(body)
