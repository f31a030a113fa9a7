"""Seeded in-process FDSN event service, injected into the pipeline as
its ``HttpGet`` transport (``sources/rest.py``).

It honours ``starttime``, ``endtime`` (both inclusive, as FDSN does),
``limit`` and 1-based ``offset``, and orders events newest first like
FDSN's default ``orderby=time``. Month-granularity requests for an
"outage" month answer 503; the same month asked for week by week
succeeds, which drives the pipeline's week fallback.

Page bodies are rendered ahead of time by :meth:`FakeFdsn.prerender`
(set-up), keyed by ``(starttime, endtime, offset, limit)``; a request
for a key that was not rendered is rendered on demand and counted in
``misses``. ``busy_s`` is the time spent serving, so page serving
never hides inside a program layer.
"""

from __future__ import annotations

import bisect
import json
import random
import time
import urllib.parse
from datetime import date, datetime, timedelta, timezone

URL = "http://fake-fdsn.invalid/fdsnws/event/1/query"

NETWORKS = ["us", "ak", "ci", "nc", "uw", "hv", "pr", "nn"]
MAG_TYPES = ["mb", "ml", "mw", "md", "ms", "mwr", "mww"]
TYPES = ["earthquake"] * 17 + ["quarry blast", "explosion", "ice quake"]
STATUSES = ["automatic", "reviewed", "reviewed", "deleted"]
ALERTS = ["green", "yellow", "orange", "red"]
PLACES = ["Ridgecrest, CA", "Anchorage, Alaska", "Hilo, Hawaii", "Ponce, Puerto Rico"]
BASE36 = "0123456789abcdefghijklmnopqrstuvwxyz"


def day_ms(day: str) -> int:
    """FDSN date parameter (``YYYY-MM-DD``) → epoch milliseconds, UTC."""
    d = date.fromisoformat(day)
    return int(datetime(d.year, d.month, d.day, tzinfo=timezone.utc).timestamp() * 1000)


def _maybe(rng: random.Random, null_rate: float, value):
    return None if rng.random() < null_rate else value


def make_feature(rng: random.Random, serial: int, t_ms: int, valid: bool = True) -> dict:
    """One GeoJSON Feature with the full FDSN property set and the null
    rates of FIXTURES.md §1. An invalid feature has no ``id``."""
    net = rng.choice(NETWORKS)
    code = "".join(rng.choice(BASE36) for _ in range(2)) + f"{serial:06x}"
    mag = _maybe(rng, 0.02, round(min(9.5, max(-1.0, rng.gauss(1.5, 1.2))), 2))
    place = f"{rng.randint(1, 99)}km SSW of {rng.choice(PLACES)}"
    coords = [round(rng.uniform(-180, 180), 4), round(rng.uniform(-90, 90), 4)]
    if rng.random() >= 0.01:  # ~1% of features carry only 2 coordinates
        coords.append(round(rng.uniform(0, 700), 2))
    props = {
        "mag": mag,
        "place": place,
        "time": t_ms,
        "updated": _maybe(rng, 0.01, t_ms + rng.randint(0, 30 * 86_400_000)),
        "url": f"https://earthquake.usgs.gov/earthquakes/eventpage/{net}{code}",
        "detail": f"https://earthquake.usgs.gov/fdsnws/event/1/query?eventid={net}{code}",
        "felt": _maybe(rng, 0.8, rng.randint(0, 50_000)),
        "cdi": _maybe(rng, 0.8, round(rng.uniform(0, 10), 1)),
        "mmi": _maybe(rng, 0.9, round(rng.uniform(0, 10), 3)),
        "alert": _maybe(rng, 0.9, rng.choice(ALERTS)),
        "status": rng.choice(STATUSES),
        "tsunami": 1 if rng.random() < 0.03 else 0,
        "sig": rng.randint(0, 2910),
        "net": net,
        "code": code,
        "ids": f",{net}{code},",
        "sources": f",{net},",
        "types": ",origin,phase-data,",
        "nst": _maybe(rng, 0.3, rng.randint(0, 500)),
        "dmin": _maybe(rng, 0.3, round(rng.uniform(0, 20), 4)),
        "rms": round(rng.uniform(0, 5), 2),
        "gap": _maybe(rng, 0.2, round(rng.uniform(0, 360), 1)),
        "magType": rng.choice(MAG_TYPES),
        "type": rng.choice(TYPES),
        "title": f"M {mag} - {place}",
    }
    feature = {
        "type": "Feature",
        "properties": props,
        "geometry": {"type": "Point", "coordinates": coords},
    }
    if valid:
        feature["id"] = f"{net}{code}"
    return feature


def random_times(rng: random.Random, start: str, end: str, n: int) -> list[int]:
    """``n`` distinct epoch-ms instants strictly inside (start, end) that
    never fall on a midnight, so no event sits on a window boundary
    (FDSN windows are inclusive at both ends)."""
    lo, hi = day_ms(start) + 1, day_ms(end) - 1
    out: set[int] = set()
    while len(out) < n:
        t = rng.randint(lo, hi)
        if t % 86_400_000:
            out.add(t)
    return sorted(out)


class FakeFdsn:
    """Serves a fixed set of features as an FDSN ``query`` endpoint."""

    def __init__(self, features: list[dict], outage_months: set[str] = frozenset()):
        self._features = sorted(features, key=lambda f: f["properties"]["time"])
        self._times = [f["properties"]["time"] for f in self._features]
        self.outage_months = set(outage_months)
        self._bodies: dict[tuple[str, str, int, int], str] = {}
        self.calls = 0
        self.misses = 0
        self.errors = 0
        self.bytes_served = 0
        self.busy_s = 0.0

    def _page(self, start: str, end: str, offset: int, limit: int) -> list[dict]:
        lo = bisect.bisect_left(self._times, day_ms(start))
        hi = bisect.bisect_right(self._times, day_ms(end))
        newest_first = self._features[lo:hi][::-1]
        return newest_first[offset - 1 : offset - 1 + limit]

    def _render(self, start: str, end: str, offset: int, limit: int) -> str:
        page = self._page(start, end, offset, limit)
        return json.dumps(
            {
                "type": "FeatureCollection",
                "metadata": {"generated": 0, "count": len(page), "status": 200},
                "features": page,
            }
        )

    def prerender(self, windows: list[tuple[str, str]], limit: int) -> int:
        """Render every page the pager will ask for in ``windows``, down
        to its short or empty final page. Returns the page count."""
        for start, end in windows:
            offset = 1
            while True:
                key = (start, end, offset, limit)
                self._bodies[key] = self._render(*key)
                if len(self._page(*key)) < limit:
                    break
                offset += limit
        return len(self._bodies)

    def __call__(self, url: str) -> tuple[int, str]:
        t0 = time.perf_counter()
        try:
            self.calls += 1
            q = urllib.parse.parse_qs(urllib.parse.urlsplit(url).query)
            start, end = q["starttime"][0], q["endtime"][0]
            span = date.fromisoformat(end) - date.fromisoformat(start)
            if start in self.outage_months and span > timedelta(days=7):
                self.errors += 1
                return 503, ""
            key = (start, end, int(q["offset"][0]), int(q["limit"][0]))
            body = self._bodies.get(key)
            if body is None:
                self.misses += 1
                body = self._bodies[key] = self._render(*key)
            self.bytes_served += len(body)
            return 200, body
        finally:
            self.busy_s += time.perf_counter() - t0
