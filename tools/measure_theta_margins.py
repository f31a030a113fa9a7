"""Re-measure the corpus-measured slack behind the theta-sketch
entries' pinned ``within_bound`` booleans (round 13), so future
rounds can re-verify the margins after any testdata regeneration.
DuckDB-only (the estimator arithmetic is identical on both engines —
that identity IS the entries' hash gate); prints worst observed
error per family across the three driver SFs next to the pinned
bound. Not part of the package; safe to delete.

Usage: python tools/measure_theta_margins.py [sf_root=/root/testdata]
"""

import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import duckdb

from usgs_earthquake_data_pipeline_spark.operators.sketches import (
    KMV_SPACE_SQL,
    kmv_hash_sql,
)

ROOT = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata"
SFS = ("0.001", "0.01", "0.1")

EV_HASH = kmv_hash_sql("CAST(event_id AS VARCHAR)")
GRAM_HASH = kmv_hash_sql("gram")
TRIGRAM = (
    "SELECT DISTINCT source, concat_ws(' ', tk[i], tk[i+1], tk[i+2]) AS gram "
    "FROM (SELECT source, regexp_split_to_array(trim(text), '\\s+') AS tk "
    "FROM documents WHERE trim(text) <> '') t, "
    "unnest(generate_series(1, greatest(len(tk) - 2, 0))) AS u(i)"
)


def est_sql(sk: str, k: int) -> str:
    return (
        f"CASE WHEN len({sk}) < {k} THEN CAST(len({sk}) AS DOUBLE) "
        f"ELSE CAST({k - 1} AS DOUBLE) * {KMV_SPACE_SQL} / "
        f"CAST({sk}[{k}] AS DOUBLE) END"
    )


def run(con, q):
    return con.execute(q).fetchone()


def main() -> None:
    con = duckdb.connect()
    worst = {"setops": 0.0, "overlap_inter": 0.0, "overlap_jacc": 0.0,
             "streaming": 0.0}
    for sf in SFS:
        for t in ("events", "documents"):
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS "
                f"SELECT * FROM '{ROOT}/sf{sf}/{t}.parquet'"
            )
        # --- sketch_theta_setops_checked (k=128, err / |A∪B|) ---
        (w,) = run(con, f"""
WITH g AS (SELECT event_id,
    bool_or(event_type IN ('click','view')) AS in_a,
    bool_or(event_type IN ('view','purchase')) AS in_b,
    {EV_HASH} AS h FROM events GROUP BY event_id),
ex AS (SELECT sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS na,
    sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS nb,
    sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS ni,
    sum(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS nd,
    sum(CASE WHEN in_a OR in_b THEN 1 ELSE 0 END) AS nu FROM g),
ka AS (SELECT list(h ORDER BY h)[1:128] AS a FROM (SELECT h FROM g WHERE in_a ORDER BY h LIMIT 128)),
kb AS (SELECT list(h ORDER BY h)[1:128] AS b FROM (SELECT h FROM g WHERE in_b ORDER BY h LIMIT 128)),
s AS (SELECT *, least(
    CASE WHEN len(a) >= 128 THEN CAST(a[128] AS DOUBLE) ELSE {KMV_SPACE_SQL} END,
    CASE WHEN len(b) >= 128 THEN CAST(b[128] AS DOUBLE) ELSE {KMV_SPACE_SQL} END) AS th,
  list_sort(list_distinct(list_cat(a, b)))[1:128] AS u FROM ex, ka, kb)
SELECT greatest(
  abs({est_sql('a', 128)} - na),
  abs({est_sql('b', 128)} - nb),
  abs({est_sql('u', 128)} - nu),
  abs(CAST(len(list_filter(a, x -> CAST(x AS DOUBLE) < th AND list_contains(b, x))) AS DOUBLE) * {KMV_SPACE_SQL} / th - ni),
  abs(CAST(len(list_filter(a, x -> CAST(x AS DOUBLE) < th AND NOT list_contains(b, x))) AS DOUBLE) * {KMV_SPACE_SQL} / th - nd)
) / nu FROM s""")
        worst["setops"] = max(worst["setops"], w)
        # --- source_overlap_theta_checked (k=128, pairwise) ---
        wi, wj = run(con, f"""
WITH g AS ({TRIGRAM}),
hx AS (SELECT DISTINCT source, {GRAM_HASH} AS h FROM g),
sz AS (SELECT source, count(*) AS n FROM g GROUP BY 1),
sk AS (SELECT source, (list(h ORDER BY h))[1:128] AS kmv FROM hx GROUP BY source),
inter AS (SELECT a.source AS sa, b.source AS sb, count(*) AS ni
  FROM g a JOIN g b USING (gram) WHERE a.source < b.source GROUP BY 1, 2),
p AS (SELECT ni, za.n AS na, zb.n AS nb, ka.kmv AS a, kb.kmv AS b
  FROM inter JOIN sz za ON za.source = sa JOIN sz zb ON zb.source = sb
  JOIN sk ka ON ka.source = sa JOIN sk kb ON kb.source = sb),
p2 AS (SELECT *, least(
    CASE WHEN len(a) >= 128 THEN CAST(a[128] AS DOUBLE) ELSE {KMV_SPACE_SQL} END,
    CASE WHEN len(b) >= 128 THEN CAST(b[128] AS DOUBLE) ELSE {KMV_SPACE_SQL} END) AS th,
  list_sort(list_distinct(list_cat(a, b)))[1:128] AS u FROM p),
p3 AS (SELECT ni, na, nb,
  CAST(len(list_filter(a, x -> CAST(x AS DOUBLE) < th AND list_contains(b, x))) AS DOUBLE) * {KMV_SPACE_SQL} / th AS ei,
  {est_sql('u', 128)} AS eu FROM p2)
SELECT max(abs(ei - ni) / (na + nb - ni)),
       max(abs(ei / eu - CAST(ni AS DOUBLE) / (na + nb - ni))) FROM p3""")
        worst["overlap_inter"] = max(worst["overlap_inter"], wi)
        worst["overlap_jacc"] = max(worst["overlap_jacc"], wj)
        # --- streaming_theta_daily (k=256, per-day) ---
        (w,) = run(con, f"""
WITH h AS (SELECT DISTINCT date_trunc('day', ts) AS d, {EV_HASH} AS h FROM events),
sk AS (SELECT d, (list(h ORDER BY h))[1:256] AS kmv FROM h GROUP BY d),
ex AS (SELECT date_trunc('day', ts) AS d, count(DISTINCT event_id) AS n FROM events GROUP BY 1)
SELECT max(abs({est_sql('kmv', 256)} - n) / n) FROM sk JOIN ex USING (d)""")
        worst["streaming"] = max(worst["streaming"], w)
        print(f"sf{sf}: done")
    bounds = {"setops": 0.25, "overlap_inter": 0.30, "overlap_jacc": 0.30,
              "streaming": 0.50}
    print("\nfamily             worst     bound   margin")
    for fam, w in worst.items():
        print(f"{fam:18s} {w:.4f}    {bounds[fam]:.2f}    "
              f"{bounds[fam] / w:.1f}x")
        assert w < bounds[fam], f"{fam} bound violated"
    print("all pinned bounds hold with the printed margins")


if __name__ == "__main__":
    main()
