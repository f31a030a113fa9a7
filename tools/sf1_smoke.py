"""sf0.1 -> sf1 scaling smoke over the bench headliners (round-10
verdict item 4): run every headline catalog entry on two
SAME-GENERATOR dirs (tools/gen_testdata.py at sf 0.1 and 1, seed 42)
and report the wall ratio per entry. A data-linear entry should land
near 10x or below (fixed query sides, top-k outputs and AQE coalescing
usually pull it under); anything super-linear beyond its documented
output-size bound is a scale bug.

Protocol: one warm-up pass per entry at the SMALL sf (JVM/codegen
warm), then per entry: time at sf0.1, then at sf1, interleaved so
box drift spreads evenly. One pass each — this is a ratio smoke, not
a latency record (bench.py owns those). Each pass forces the entry's
full result with the noop sink, as bench.py does: a ``count()`` would
time a plan Catalyst has pruned to what the count needs.

Usage: python tools/sf1_smoke.py [SMALL_DIR BIG_DIR] [--entries a,b,c]
Defaults: tmp_scale/{sf0.1g,sf1} under the repository root; --entries
restricts the run to the named catalog entries (round-12: the
sf1->sf10 rung runs the 5 heaviest document-table headliners only —
the docs-only sf10 dir has no other tables).
"""

from __future__ import annotations

import json
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def _force(df) -> None:
    """Compute the full result and keep none of it (module docstring)."""
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    argv = list(sys.argv[1:])
    names = None
    if "--entries" in argv:
        i = argv.index("--entries")
        try:
            names = set(argv[i + 1].split(","))
        except IndexError:
            raise SystemExit("--entries needs a comma-separated list")
        del argv[i : i + 2]
    if len(argv) == 2:
        small, big = argv
    elif not argv:
        small = str(REPO / "tmp_scale" / "sf0.1g")
        big = str(REPO / "tmp_scale" / "sf1")
    else:
        # one stray operand would silently measure the DEFAULT dirs —
        # fail loud instead (round-11 review)
        raise SystemExit("usage: sf1_smoke.py [SMALL_DIR BIG_DIR] [--entries a,b,c]")

    from usgs_earthquake_data_pipeline_spark.plans.catalog import CATALOG
    from usgs_earthquake_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="sf1_smoke")
    headline = [e for e in CATALOG.values() if e.headline]
    if names is not None:
        # --entries may name ANY catalog entry (r13: scaling rungs for
        # non-headline families); unknown names still fail loudly
        unknown = names - set(CATALOG)
        if unknown:
            raise SystemExit(f"not catalog entries: {sorted(unknown)}")
        headline = [e for e in CATALOG.values() if e.name in names]
    spark.range(1000).count()
    for e in headline:
        _force(e.spark_fn(spark, small))

    out = {}
    for e in headline:
        t0 = time.perf_counter()
        _force(e.spark_fn(spark, small))
        t_small = time.perf_counter() - t0
        t0 = time.perf_counter()
        _force(e.spark_fn(spark, big))
        t_big = time.perf_counter() - t0
        ratio = t_big / t_small if t_small > 0 else float("inf")
        out[e.name] = {
            "sf0.1": round(t_small, 3),
            "sf1": round(t_big, 3),
            "ratio": round(ratio, 2),
        }
        print(
            f"{e.name:35s} {t_small:8.3f}s -> {t_big:8.3f}s  x{ratio:6.2f}",
            flush=True,
        )

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
