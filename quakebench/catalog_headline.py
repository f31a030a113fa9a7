"""Workload ``catalog_headline``: full noop-forced passes over a fixed
set of the catalog's ``headline=True`` entries.

Why: this is the query-engine read side (``plans``, ``operators``,
``functions``). It touches neither ingest nor the silver writes, so an
ETL change must show no change here, and a plan change must show no
change on ``etl_backfill``. Each query is forced in full with
``df.write.format("noop")``, which computes every column and collects
nothing; ``count()`` would let Catalyst prune the work away.

Inputs are the repository's synthetic star schema
(``tools/gen_testdata.py``) at scale factor ``SF``, generated from the
seed into the run's work directory.

Correctness, outside the timed passes: each entry's collected result
must match its DuckDB oracle over the same files, by row count and by
an order-insensitive hash of the canonicalized rows. That collect pass
is the first half of the warm-up; ``WARMUP_PASSES`` noop passes are
the second.
"""

from __future__ import annotations

import contextlib
import hashlib
import importlib.util
import math
import os
import sys
import time

from usgs_earthquake_data_pipeline_spark.plans.catalog import CATALOG

from .trace import busy_s, p50

SF = 0.01
WARMUP_PASSES = 2

# The headliners whose warm noop time was under a second at SF 0.01
# on 4 cores. All 27 headliners take 42-46 s per warm pass there (the
# iterative and multi-job operators: bootstrap, spearman, MinHash-LSH,
# BPE, bloom semi-join, ...), more than a whole run of this benchmark
# can spend.
HEADLINERS = (
    "a1_count_year_filter",
    "a3_fact_yearly",
    "a4_fact_monthly",
    "s6_projection",
    "q1_pricing_summary",
    "q3_top_orders",
    "dedup_exact_fingerprint",
    "text_token_stats",
)


def _canon(value):
    if isinstance(value, float) and math.isnan(value):
        return "NaN"
    if hasattr(value, "isoformat"):
        return value.isoformat()
    return value


def result_digest(columns: list[str], rows: list[tuple]) -> tuple[int, str]:
    """Row count and an order-insensitive hash of the rows, with the
    columns taken in name order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    canon = sorted(
        repr(tuple(_canon(row[i]) for i in order)) for row in rows
    )
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for r in canon:
        h.update(r.encode())
    return len(rows), h.hexdigest()


def _generate(sf: float, out: str, seed: int) -> None:
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "gen_testdata", os.path.join(root, "tools", "gen_testdata.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    with contextlib.redirect_stdout(sys.stderr):  # keep stdout for the result line
        gen.generate(sf, out, seed=seed)


class CatalogHeadline:
    """One timed operation is one pass over ``HEADLINERS``."""

    items = "headline queries"
    max_ops = 100

    def __init__(self, spark, work: str, seed: int):
        self.spark = spark
        self.seed = seed
        self.data = f"{work}/sf{SF}"
        self.entries = [CATALOG[name] for name in HEADLINERS]
        self.samples: dict[str, list[float]] = {e.name: [] for e in self.entries}
        self.errors: list[str] = []
        self.digests: dict[str, tuple[int, str]] = {}
        self.tracer = None

    def setup(self) -> None:
        import duckdb

        t0 = time.perf_counter()
        _generate(SF, self.data, self.seed)
        t1 = time.perf_counter()
        con = duckdb.connect()
        try:
            for f in os.listdir(self.data):
                con.sql(f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{self.data}/{f}'")
            for e in self.entries:
                df = e.spark_fn(self.spark, self.data)
                got = result_digest(list(df.columns), [tuple(r) for r in df.collect()])
                rel = con.sql(e.oracle)
                want = result_digest(list(rel.columns), rel.fetchall())
                self.digests[e.name] = got
                if got != want:
                    self.errors.append(f"{e.name}: got {got}, oracle {want}")
        finally:
            con.close()
        t2 = time.perf_counter()
        # warm-up: noop plans differ from collect's, and compiled code
        # keeps speeding up for a few passes
        for i in range(WARMUP_PASSES):
            self.op(-1 - i)
        self.phases = {
            "inputs_s": t1 - t0,
            "check_pass_s": t2 - t1,
            "warmup_s": time.perf_counter() - t2,
        }
        for s in self.samples.values():
            s.clear()

    def op(self, i: int) -> int:
        tracer = self.tracer if self.tracer is not None and self.tracer.active else None
        for e in self.entries:
            span = tracer.span("plans", entry=e.name, desc=e.name) if tracer else contextlib.nullcontext()
            with span:
                t0 = time.perf_counter()
                e.spark_fn(self.spark, self.data).write.format("noop").mode("overwrite").save()
                self.samples[e.name].append(time.perf_counter() - t0)
        return len(self.entries)

    def geomean_s(self) -> float:
        meds = [p50(s) for s in self.samples.values()]
        return math.exp(sum(math.log(m) for m in meds) / len(meds))

    def check(self) -> list[str]:
        return list(self.errors)

    def counts(self) -> dict:
        return {
            "input_bytes": sum(os.path.getsize(f"{self.data}/{f}") for f in os.listdir(self.data)),
            "rows": {k: v[0] for k, v in self.digests.items()},
        }

    def trace(self, tracer) -> None:
        """Each query, plan building and noop write, is one ``plans``
        span."""
        self.tracer = tracer

    def layer_metrics(self, tracer) -> dict:
        m = {f"plans.{k}.p50_s": p50(v) for k, v in self.samples.items()}
        m["plans.geomean_s"] = self.geomean_s()
        m["plans.busy_s"] = busy_s(tracer.of("plans"))
        return m
