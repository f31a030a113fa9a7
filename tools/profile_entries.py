"""Per-entry timing profile: regenerate and regression-diff.

Round-5 regenerated PROFILE.md by hand from a snippet buried in git
history; the round-5 review asked for this to be a committed tool with
a CI-style regression gate. Two subcommands:

  python tools/profile_entries.py run [--sf-dir DIR] [-o OUT.md]
      Single cold pass over every oracle-gated catalog entry, each
      forced with the noop sink (``df.write.format("noop")``: every
      column computed, nothing collected — a count() would let
      Catalyst prune the measured work) after a session warm-up,
      emitting the markdown table sorted slowest-first (a
      count()-forced PROFILE.md table does not compare with it).
      With -o it writes the table (plus header) to OUT.md; without,
      the table goes to stdout so it can be spliced into PROFILE.md.

  python tools/profile_entries.py diff OLD NEW [--threshold 1.5] [--floor 0.5]
      Parse two PROFILE.md-style tables (any file containing
      `| entry | seconds |` rows) and flag every entry whose NEW/OLD
      ratio exceeds its section's threshold: --threshold for batch
      entries, --streaming-threshold (looser, default 2.5) for
      streaming-tagged ones — streaming wall-clock is dominated by
      availableNow engine startup, which swings 1.6x with box state
      alone (PROFILE.md's unchanged-commit re-probe), so one shared
      gate either floods the diff with phantom streaming flags or
      masks a real batch regression. Entries faster than --floor
      seconds in BOTH runs are ignored (sub-second timings are
      dominated by per-stage scheduling noise — a 0.1 s → 0.2 s "2x
      regression" is not signal at this scale). Exits 1 if any
      regression is flagged, 0 otherwise — suitable for a
      pre-snapshot check:

          python tools/profile_entries.py run -o /tmp/p.md
          python tools/profile_entries.py diff PROFILE.md /tmp/p.md
"""

from __future__ import annotations

import argparse
import os
import re
import sys
import time

# importable regardless of the caller's cwd/PYTHONPATH (python puts
# tools/ on sys.path, not the repo root — same fix gen_driver_window
# carries)
sys.path.insert(
    0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)

_ROW_RE = re.compile(r"^\|\s*([A-Za-z0-9_]+)\s*\|\s*([0-9.]+)\s*\|")


def parse_table(path: str) -> dict[str, float]:
    out: dict[str, float] = {}
    with open(path) as fh:
        for line in fh:
            m = _ROW_RE.match(line.strip())
            if m and m.group(1) != "entry":
                out[m.group(1)] = float(m.group(2))
    if not out:
        raise SystemExit(f"no `| entry | seconds |` rows found in {path}")
    return out


def cmd_run(args: argparse.Namespace) -> int:
    from usgs_earthquake_data_pipeline_spark.plans.catalog import CATALOG
    from usgs_earthquake_data_pipeline_spark.session import get_spark

    spark = get_spark(app_name="profile")
    spark.range(1000).count()  # JVM/codegen warm-up
    # touch every table once so no entry absorbs the first-touch
    # cost for its table (the loader's schema-memo miss, a footer
    # inference job, plus the OS page cache) — that cost lands on
    # whichever entry happens to run first and shows up as a phantom
    # 5x "regression" when run order changes
    from usgs_earthquake_data_pipeline_spark.sources.tables import (
        load_tables,
    )

    for df in load_tables(spark, args.sf_dir).values():
        df.count()

    timings: dict[str, float] = {}
    entries = [e for e in CATALOG.values() if e.oracle is not None]
    for i, entry in enumerate(entries):
        t0 = time.perf_counter()
        entry.spark_fn(spark, args.sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
        timings[entry.name] = round(time.perf_counter() - t0, 3)
        print(
            f"[{i + 1}/{len(entries)}] {entry.name} {timings[entry.name]}",
            file=sys.stderr,
        )
    spark.stop()

    total = round(sum(timings.values()), 1)
    lines = ["| entry | sf0.01 s |", "|---|---|"]
    for name, t in sorted(timings.items(), key=lambda kv: -kv[1]):
        lines.append(f"| {name} | {t:.3f} |")
    table = "\n".join(lines)
    header = (
        f"# PROFILE run — {len(timings)} oracle-gated entries, "
        f"total {total} s at {args.sf_dir}\n\n"
    )
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(header + table + "\n")
        print(f"wrote {args.out} ({len(timings)} entries, {total} s)")
    else:
        print(table)
    return 0


def _is_streaming(name: str) -> bool:
    """Streaming-engine entries get their own regression threshold:
    their wall-clock is dominated by availableNow micro-batch engine
    startup, which PROFILE.md's unchanged-commit re-probe measured
    swinging 1.6x with box state alone — under a shared batch
    threshold a box wobble either floods the diff with phantom
    streaming flags or forces the threshold so high it masks a real
    batch regression. Classified by catalog tag when importable (no
    Spark session needed), by name prefix otherwise."""
    try:
        from usgs_earthquake_data_pipeline_spark.plans.catalog import CATALOG

        entry = CATALOG.get(name)
        if entry is not None:
            return "streaming" in entry.tags
    except ImportError:  # pragma: no cover - catalog not on path
        pass
    return name.startswith("streaming_")


def cmd_diff(args: argparse.Namespace) -> int:
    old = parse_table(args.old)
    new = parse_table(args.new)
    flagged: list[str] = []
    for name in sorted(set(old) & set(new)):
        o, n = old[name], new[name]
        if o <= args.floor and n <= args.floor:
            continue
        streaming = _is_streaming(name)
        threshold = args.streaming_threshold if streaming else args.threshold
        ratio = n / o if o > 0 else float("inf")
        if ratio > threshold:
            kind = "streaming" if streaming else "batch"
            flagged.append(
                f"  {name} [{kind}, >{threshold}x]: "
                f"{o:.3f} s -> {n:.3f} s ({ratio:.2f}x)"
            )
    added = sorted(set(new) - set(old))
    removed = sorted(set(old) - set(new))
    if added:
        print(f"new entries (no baseline): {', '.join(added)}")
    if removed:
        print(f"entries missing from new run: {', '.join(removed)}")
    if flagged:
        print(
            f"REGRESSIONS (batch > {args.threshold}x / streaming > "
            f"{args.streaming_threshold}x, both sides above "
            f"{args.floor}s floor):"
        )
        print("\n".join(flagged))
        return 1
    print(
        f"no regressions: {len(set(old) & set(new))} shared entries "
        f"within {args.threshold}x (batch) / "
        f"{args.streaming_threshold}x (streaming)"
    )
    return 0


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__)
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="time every oracle-gated entry")
    r.add_argument("--sf-dir", default="/root/testdata/sf0.01")
    r.add_argument("-o", "--out", default=None)
    r.set_defaults(fn=cmd_run)
    d = sub.add_parser("diff", help="flag per-entry regressions")
    d.add_argument("old")
    d.add_argument("new")
    d.add_argument("--threshold", type=float, default=1.5)
    d.add_argument(
        "--streaming-threshold",
        type=float,
        default=2.5,
        help="separate gate for streaming-tagged entries, whose "
        "availableNow startup swings 1.6x with box state alone",
    )
    d.add_argument("--floor", type=float, default=0.5)
    d.set_defaults(fn=cmd_diff)
    args = p.parse_args()
    return args.fn(args)


if __name__ == "__main__":
    raise SystemExit(main())
