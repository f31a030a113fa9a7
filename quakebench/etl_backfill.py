"""Workload ``etl_backfill``: cold one-year ``pipeline.run_etl``
backfills, served by the seeded fake FDSN service.

Why: this is the paper's write path — FDSN pages → flatten → bronze
``(year, month)`` table → the two silver tsunami facts. It is bound by
per-window driver and job overhead in ``pipeline``, ``sources.rest``,
``sources.geojson`` and ``sinks`` (append plus the staging round
trip); ``operators.silver`` is a small share. It bypasses ``plans``.

Each backfill year has the same shape whatever the seed, so every seed
does the same amount of work; the seed picks the months, the event
times and every property value:

- one "aftershock" month that needs three pages at ``LIMIT``;
- one outage month that answers 503 at month granularity and
  succeeds week by week: a one-week swarm that fits in one page, so
  one week window lands and the other weeks come back empty;
- ten quiet months whose single fetch returns no features.

A few features per landed window lack an ``id`` and must be dropped;
about 1% carry only two coordinates.
"""

from __future__ import annotations

import random
import time
from datetime import date, timedelta

from usgs_earthquake_data_pipeline_spark import pipeline
from usgs_earthquake_data_pipeline_spark.sinks import read_partitioned_table

from . import fake_fdsn
from .trace import MB, busy_s, p50, self_s, tail, tree_bytes

LIMIT = 500
AFTERSHOCK, SWARM_WEEK = 1300, 350  # features served per landed window
INVALID_PER_WINDOW = 2
WARMUP_YEAR, FIRST_YEAR, MAX_OPS = 2009, 2010, 8


def _month(year: int, m: int) -> tuple[str, str]:
    nxt = date(year + (m == 12), m % 12 + 1, 1)
    return date(year, m, 1).isoformat(), nxt.isoformat()


def _weeks(start: str, end: str) -> list[tuple[str, str]]:
    cur, stop, out = date.fromisoformat(start), date.fromisoformat(end), []
    while cur < stop:
        nxt = min(cur + timedelta(days=7), stop)
        out.append((cur.isoformat(), nxt.isoformat()))
        cur = nxt
    return out


class Year:
    """The generated catalog for one backfill year and what a correct
    backfill of it must produce."""

    def __init__(self, rng: random.Random, year: int, warmup: bool = False):
        self.year = year
        self.features: list[dict] = []
        self.tsunami: dict[tuple[int, int], int] = {}
        self.pages = 0
        if warmup:  # one two-page month, no outage
            self.outage = None
            self._land(rng, *_month(year, rng.randint(1, 12)), LIMIT + 200)
            return
        aftershock, outage = rng.sample(range(1, 13), 2)
        self.outage = _month(year, outage)[0]
        self._land(rng, *_month(year, aftershock), AFTERSHOCK)
        self._land(rng, *_weeks(*_month(year, outage))[rng.randint(0, 3)], SWARM_WEEK)

    def _land(self, rng: random.Random, start: str, end: str, n: int) -> None:
        invalid = set(rng.sample(range(n), INVALID_PER_WINDOW))
        for i, t in enumerate(fake_fdsn.random_times(rng, start, end, n)):
            f = fake_fdsn.make_feature(rng, len(self.features), t, i not in invalid)
            self.features.append(f)
            if i not in invalid and f["properties"]["tsunami"] == 1:
                d = date.fromisoformat(start)
                key = (d.year, d.month)
                self.tsunami[key] = self.tsunami.get(key, 0) + 1
        self.pages += -(-n // LIMIT)

    @property
    def valid(self) -> int:
        return sum(1 for f in self.features if "id" in f)

    def windows(self) -> list[tuple[str, str]]:
        """Every window the pager asks for: each month, and the weeks of
        the outage month."""
        months = [_month(self.year, m) for m in range(1, 13)]
        weeks = _weeks(self.outage, _month(self.year, int(self.outage[5:7]))[1]) if self.outage else []
        return months + weeks


class EtlBackfill:
    """One timed operation is one ``run_etl`` backfill of a fresh year
    into empty bronze and silver tables."""

    items = "events landed in bronze"
    # the last prepared year is kept for the traced run's untraced op
    max_ops = MAX_OPS - 1

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.work = work
        rng = random.Random(seed)
        self.warmup = Year(rng, WARMUP_YEAR, warmup=True)
        self.years = [Year(rng, FIRST_YEAR + i) for i in range(MAX_OPS)]
        self.done: list[tuple[Year, str, object]] = []
        self.fake: fake_fdsn.FakeFdsn | None = None

    def setup(self) -> None:
        t0 = time.perf_counter()
        years = [self.warmup, *self.years]
        self.fake = fake_fdsn.FakeFdsn(
            [f for y in years for f in y.features],
            {y.outage for y in years if y.outage},
        )
        for y in years:
            self.fake.prerender(y.windows(), LIMIT)
        t1 = time.perf_counter()
        # warm-up: a throwaway backfill year with one landed window
        self._backfill(self.warmup, f"{self.work}/warmup")
        self.phases = {"inputs_s": t1 - t0, "warmup_s": time.perf_counter() - t1}
        self.fake.calls = self.fake.misses = self.fake.errors = 0
        self.fake.bytes_served, self.fake.busy_s = 0, 0.0

    def _backfill(self, year: Year, out: str):
        return pipeline.run_etl(
            self.spark, year.year, year.year,
            f"{out}/bronze", f"{out}/yearly", f"{out}/monthly",
            api_url=fake_fdsn.URL, limit=LIMIT, http_get=self.fake,
        )

    def op(self, i: int) -> int:
        """Backfill year ``i``; returns the events it must land."""
        year, out = self.years[i], f"{self.work}/op{i}"
        self.done.append((year, out, self._backfill(year, out)))
        return year.valid

    def check(self) -> list[str]:
        """Per backfill: served valid features = Σ Observation rows =
        bronze rows; pages as generated; silver = generator tallies."""
        errors = []
        for year, out, stats in self.done:
            def expect(what, got, want):
                if got != want:
                    errors.append(f"{year.year} {what}: got {got}, want {want}")

            expect("failed windows", stats.failed_windows, [])
            expect("served features", stats.events, len(year.features))
            expect("pages", stats.pages, year.pages)
            expect("observed rows", sum(m["rows"] for m in stats.window_metrics), year.valid)
            expect("bronze rows", read_partitioned_table(self.spark, f"{out}/bronze").count(), year.valid)
            yearly = read_partitioned_table(self.spark, f"{out}/yearly").collect()
            monthly = read_partitioned_table(self.spark, f"{out}/monthly").collect()
            expect("yearly facts", {(r.year, r.tsunami_yearly_count) for r in yearly},
                   {(year.year, sum(year.tsunami.values()))})
            expect("monthly facts", {(r.year, r.month, r.tsunami_monthly_count) for r in monthly},
                   {(y, m, n) for (y, m), n in year.tsunami.items()})
        return errors

    def counts(self) -> dict:
        """Exact counts that repeat for identical code and seed."""
        year, out, stats = self.done[0]
        stored = sum(tree_bytes(f"{out}/{t}")[0] for t in ("bronze", "yearly", "monthly"))
        _, files, parts = tree_bytes(f"{out}/bronze")
        return {
            "pages": stats.pages,
            "events": year.valid,
            "stored_bytes": stored,
            "bronze_files": files,
            "bronze_partitions": parts,
            "fake_api_calls": self.fake.calls,
            "fake_api_misses": self.fake.misses,
        }

    def trace(self, tracer) -> None:
        """Wrap the public functions ``pipeline.py`` calls."""

        def window(rec, args, kwargs):
            rec["window"] = (args[2], args[3])
            stats = kwargs.get("stats")
            before = stats.pages if stats else 0
            rec["pages"] = 0

            def done(_):
                rec["pages"] = (stats.pages if stats else 0) - before
            return done

        def fetch(rec, args, kwargs):
            def done(doc):
                rec["features"] = len(doc.get("features") or [])
            return done

        def flatten(rec, args, kwargs):
            rec["doc_bytes"] = sum(len(d) for d in args[1])

        def written(rec, args, kwargs):
            before = tree_bytes(args[1])[0]

            def done(_):
                rec["bytes"] = tree_bytes(args[1])[0] - before
            return done

        def silver(rec, args, kwargs):
            def done(_):
                rec["bytes"] = sum(tree_bytes(p)[0] for p in args[1:3])
            return done

        tracer.wrap(pipeline, "ingest_window_paged", "pipeline.window", window)
        tracer.wrap(pipeline, "fetch_earthquake_data_limit_offset", "rest", fetch)
        tracer.wrap(pipeline, "events_from_geojson_strings", "geojson", flatten)
        tracer.wrap(pipeline, "save_partitioned_table", "sinks.save", written)
        tracer.wrap(pipeline, "read_partitioned_table", "sinks.read")
        tracer.wrap(pipeline, "upsert_partitions", "sinks.upsert", written)
        tracer.wrap(pipeline, "build_silver_layer", "silver", silver)

    def layer_metrics(self, tracer) -> dict:
        windows = tracer.of("pipeline.window")
        rest = tracer.of("rest")
        pages = sum(s["pages"] for s in windows)
        sink_spans = tracer.of("sinks.save") + tracer.of("sinks.upsert")
        written = sum(s.get("bytes", 0) for s in sink_spans + tracer.of("silver"))
        _, out, _ = self.done[0]
        stored = sum(tree_bytes(f"{out}/{t}")[0] for t in ("bronze", "yearly", "monthly"))
        _, files, parts = tree_bytes(f"{out}/bronze")
        ops = len({s["id"] for s in tracer.of("op")})
        # latency over the windows that landed data; the quiet and
        # failed ones return after one fetch
        window_s = [s["end"] - s["start"] for s in windows if s["pages"]]
        tail_pct, tail_s = tail(window_s)
        m = {
            "rest.calls": len(rest),
            "rest.busy_s": busy_s(rest),
            "rest.body_mb": self.fake.bytes_served / MB,
            "rest.http_errors": sum(1 for s in rest if "error" in s),
            "rest.empty_pages": sum(1 for s in rest if s.get("features") == 0),
            "geojson.calls": len(tracer.of("geojson")),
            "geojson.busy_s": busy_s(tracer.of("geojson")),
            "geojson.docs_mb": sum(s["doc_bytes"] for s in tracer.of("geojson")) / MB,
            "sinks.output_mb": written / MB,
            "sinks.write_amplification": written / (stored * ops) if stored and ops else 0.0,
            "sinks.files_per_partition": files / parts if parts else 0.0,
            "sinks.bytes_per_event": stored / self.done[0][0].valid,
            "pipeline.windows": len(windows),
            "pipeline.week_fallbacks": sum(
                1 for s in windows if "error" in s
            ),
            "pipeline.pages": pages,
            "pipeline.window_p50_s": p50(window_s),
            "pipeline.window_tail_s": tail_s,
            "pipeline.window_tail_pct": tail_pct,
            "pipeline.window_samples": len(window_s),
            "pipeline.self_s": self_s(tracer, "pipeline.window"),
            "silver.busy_s": busy_s(tracer.of("silver")),
            "fake_api.busy_s": self.fake.busy_s,
            "fake_api.calls": self.fake.calls,
            "fake_api.misses": self.fake.misses,
        }
        for layer in ("sinks.save", "sinks.read", "sinks.upsert"):
            spans = tracer.of(layer)
            m[f"{layer}.calls"] = len(spans)
            m[f"{layer}.busy_s"] = busy_s(spans)
        return m
