"""Sink tests: partitioned round-trip with pruning, empty-skip (F3,
with and without a probe), invalid mode, CSV/JSON exports,
foreachPartition serving sink."""

from __future__ import annotations

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark import sinks
from usgs_earthquake_data_pipeline_spark.operators import silver
from usgs_earthquake_data_pipeline_spark.sources.tables import load_table


@pytest.fixture()
def events(spark):
    # small synthetic bronze-shaped frame with year/month/tsunami
    rows = [
        (i, 2020 + i % 3, 1 + i % 12, i % 7 == 0, float(i))
        for i in range(200)
    ]
    return spark.createDataFrame(
        rows, "id long, year int, month int, is_flag boolean, value double"
    ).withColumn("tsunami", F.col("is_flag").cast("int")).drop("is_flag")


def test_partitioned_roundtrip_and_pruning(spark, events, tmp_path):
    path = str(tmp_path / "bronze")
    wrote = sinks.save_partitioned_table(
        events, path, mode="overwrite", partition_cols=["year", "month"],
        cluster_cols=["value"],
    )
    assert wrote
    # layout on disk is hive-partitioned
    assert glob.glob(os.path.join(path, "year=2020", "month=1", "*.parquet"))

    back = sinks.read_partitioned_table(spark, path)
    assert back.count() == 200
    pruned = back.filter(F.col("year") == 2020)
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    # partition filter must reach the scan (partition pruning)
    assert "PartitionFilters" in plan and "year" in plan
    assert pruned.count() == events.filter(F.col("year") == 2020).count()


def test_append_accumulates(spark, events, tmp_path):
    path = str(tmp_path / "t")
    sinks.save_partitioned_table(events, path, mode="append")
    sinks.save_partitioned_table(events, path, mode="append")
    assert sinks.read_partitioned_table(spark, path).count() == 400


def test_invalid_mode_raises(events, tmp_path):
    with pytest.raises(ValueError, match="Invalid mode"):
        sinks.save_partitioned_table(events, str(tmp_path / "x"), mode="upsert")


def test_empty_skip(spark, events, tmp_path):
    empty = events.filter(F.lit(False))
    assert not sinks.save_partitioned_table(empty, str(tmp_path / "e"))
    assert sinks.save_to_csv(empty, str(tmp_path)) is None
    assert sinks.save_to_json(empty, str(tmp_path)) is None


def test_csv_json_exports(spark, events, tmp_path):
    csv_path = sinks.save_to_csv(events.limit(10), str(tmp_path))
    json_path = sinks.save_to_json(events.limit(10), str(tmp_path))
    assert csv_path and "earthquake_data_" in csv_path
    assert spark.read.option("header", "true").csv(csv_path).count() == 10
    assert spark.read.json(json_path).count() == 10


def test_foreach_partition_sink_batching(spark, events, tmp_path):
    """Executor-side writer receives every row exactly once, in
    batches no larger than batch_size."""
    out_dir = str(tmp_path / "served")
    os.makedirs(out_dir, exist_ok=True)

    def factory():
        import json
        import os as _os
        import uuid

        def write(batch):
            assert len(batch) <= 50
            fname = _os.path.join(out_dir, f"{uuid.uuid4().hex}.json")
            with open(fname, "w") as fh:
                json.dump([r["id"] for r in batch], fh)

        return write

    sinks.foreach_partition_sink(events, factory, batch_size=50)
    import json as _json

    seen = []
    for f in glob.glob(os.path.join(out_dir, "*.json")):
        seen.extend(_json.load(open(f)))
    assert sorted(seen) == list(range(200))


def test_cassandra_sink_disabled_noop(events):
    # feature-flagged off like the reference: must not touch network
    sinks.save_to_cassandra(events, ["127.0.0.1"], "ks", "t", enabled=False)


def test_silver_layer_roundtrip(spark, events, tmp_path):
    yearly_path = str(tmp_path / "fact_yearly")
    monthly_path = str(tmp_path / "fact_monthly")
    yearly, monthly = silver.build_silver_layer(events, yearly_path, monthly_path)
    back = sinks.read_partitioned_table(spark, yearly_path)
    expected = {
        (r.year, r.tsunami_yearly_count) for r in yearly.collect()
    }
    got = {(r.year, r.tsunami_yearly_count) for r in back.collect()}
    assert got == expected and expected
    back_m = sinks.read_partitioned_table(spark, monthly_path)
    assert back_m.count() == monthly.count()


def _fact_rows(df):
    """Order-insensitive row set, by column name (a read-back puts the
    partition columns last)."""
    return {tuple(sorted(r.asDict().items())) for r in df.collect()}


def test_silver_layer_equals_a3_a4_with_null_keys(spark, tmp_path):
    """The one-pass silver (monthly aggregate, yearly folded from it on
    the driver) writes exactly the A3/A4 facts, a null (year, month)
    group included."""
    events = spark.createDataFrame(
        [
            (2020, 1, 1), (2020, 1, 1), (2020, 2, 1), (2020, 2, 0),
            (2021, 12, 1), (None, None, 1), (None, None, 1), (2022, None, 1),
            (None, 3, 1), (2023, 5, 0),
        ],
        "year int, month int, tsunami int",
    )
    yearly_path = str(tmp_path / "fact_yearly")
    monthly_path = str(tmp_path / "fact_monthly")
    silver.build_silver_layer(events, yearly_path, monthly_path)
    yearly = sinks.read_partitioned_table(spark, yearly_path)
    monthly = sinks.read_partitioned_table(spark, monthly_path)
    expected_y = _fact_rows(silver.fact_tsunami_yearly(events))
    expected_m = _fact_rows(silver.fact_tsunami_monthly(events))
    assert (None, 3) in {(r.year, r.tsunami_yearly_count) for r in yearly.collect()}
    assert _fact_rows(yearly) == expected_y
    assert _fact_rows(monthly) == expected_m


def test_silver_layer_empty_facts_are_readable(spark, events, tmp_path):
    """No tsunami rows: both fact paths still exist, read back empty,
    and keep the fact schema."""
    quiet = events.withColumn("tsunami", F.lit(0))
    yearly_path = str(tmp_path / "fact_yearly")
    monthly_path = str(tmp_path / "fact_monthly")
    silver.build_silver_layer(quiet, yearly_path, monthly_path)
    for path, fact in (
        (yearly_path, silver.fact_tsunami_yearly(quiet)),
        (monthly_path, silver.fact_tsunami_monthly(quiet)),
    ):
        assert os.path.isdir(path)
        back = sinks.read_partitioned_table(spark, path)
        assert back.count() == 0
        assert [(f.name, f.dataType) for f in back.schema.fields] == [
            (f.name, f.dataType) for f in fact.schema.fields
        ]


def test_silver_layer_job_budget(spark, events, tmp_path):
    """Both facts come from one bronze aggregation (its shuffle map
    stage and the Arrow collect) plus one write each: at most 4 jobs,
    where a scan, probe, range sample, two exchanges and a write per
    fact took 12."""
    sc = spark.sparkContext
    group = "silver_budget"
    sc.setJobGroup(group, group)
    try:
        silver.build_silver_layer(
            events, str(tmp_path / "fact_yearly"), str(tmp_path / "fact_monthly")
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert 0 < len(sc.statusTracker().getJobIdsForGroup(group)) <= 4


def test_silver_fact_writes_run_one_task(spark, events, tmp_path):
    """Each fact write, empty or not, is one job of one task: the
    driver-held fact goes through ``sinks.clustering_sort``, which
    coalesces it, instead of one task per row."""
    sc = spark.sparkContext
    for case, bronze in (
        ("facts", events),
        ("empty", events.withColumn("tsunami", F.lit(0))),
    ):
        group = f"silver_tasks_{case}"
        sc.setJobGroup(group, group)
        try:
            silver.build_silver_layer(
                bronze,
                str(tmp_path / case / "fact_yearly"),
                str(tmp_path / case / "fact_monthly"),
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        ids = set(sc.statusTracker().getJobIdsForGroup(group))
        jobs = sc._jsc.sc().statusStore().jobsList(None)
        tasks = {}
        for i in range(jobs.size()):
            job = jobs.apply(i)
            desc = job.description()
            if job.jobId() in ids and desc.isDefined():
                if desc.get().startswith("silver write"):
                    tasks.setdefault(desc.get(), []).append(job.numTasks())
        assert tasks == {
            "silver write yearly": [1],
            "silver write monthly": [1],
        }, (case, tasks)


def test_silver_sql_twins_match_dataframe_api(spark, events):
    """The spark.sql string forms of A3/A4 must produce the same rows
    as the DataFrame implementations."""
    events.createOrReplaceTempView("usgs_events")
    sql_yearly = {
        tuple(r) for r in spark.sql(silver.SILVER_SQL["fact_tsunami_yearly"]).collect()
    }
    df_yearly = {tuple(r) for r in silver.fact_tsunami_yearly(events).collect()}
    assert sql_yearly == df_yearly and sql_yearly
    sql_monthly = {
        tuple(r) for r in spark.sql(silver.SILVER_SQL["fact_tsunami_monthly"]).collect()
    }
    df_monthly = {tuple(r) for r in silver.fact_tsunami_monthly(events).collect()}
    assert sql_monthly == df_monthly


def test_driver_events_table_silver(spark, sf_dir, tmp_path):
    """Silver aggregations also run over the driver's events table
    mapped to bronze shape (year/month derived, flag from type)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.year("ts").alias("year"),
        F.month("ts").alias("month"),
        (F.col("event_type") == "error").cast("int").alias("tsunami"),
    )
    yearly = silver.fact_tsunami_yearly(ev).collect()
    assert yearly and all(r.tsunami_yearly_count > 0 for r in yearly)


def test_merge_rows_upserts_by_key(spark, tmp_path):
    from usgs_earthquake_data_pipeline_spark.sinks import (
        merge_rows,
        read_partitioned_table,
        save_partitioned_table,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 2024, 1, "a"), (2, 2024, 1, "b"), (3, 2024, 2, "c"), (4, 2023, 12, "d")],
        "id long, year int, month int, val string",
    )
    save_partitioned_table(base, path, "append", ["year", "month"])

    updates = spark.createDataFrame(
        [(2, 2024, 1, "B2"), (9, 2024, 2, "new")],
        "id long, year int, month int, val string",
    )
    assert merge_rows(spark, path, updates, ["id"], ["year", "month"])
    got = {
        r.id: (r.year, r.month, r.val)
        for r in read_partitioned_table(spark, path).collect()
    }
    assert got == {
        1: (2024, 1, "a"),
        2: (2024, 1, "B2"),   # replaced in place
        3: (2024, 2, "c"),
        4: (2023, 12, "d"),   # untouched partition survives
        9: (2024, 2, "new"),  # new key appended
    }


def test_merge_rows_rejects_duplicate_keys_and_skips_empty(spark, tmp_path):
    import pytest as _pytest

    from usgs_earthquake_data_pipeline_spark.sinks import (
        merge_rows,
        save_partitioned_table,
    )

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 2024, 1, "a")], "id long, year int, month int, val string"
    )
    save_partitioned_table(base, path, "append", ["year", "month"])
    dup = spark.createDataFrame(
        [(1, 2024, 1, "x"), (1, 2024, 1, "y")],
        "id long, year int, month int, val string",
    )
    with _pytest.raises(ValueError, match="duplicate keys"):
        merge_rows(spark, path, dup, ["id"], ["year", "month"])
    empty = dup.limit(0)
    assert merge_rows(spark, path, empty, ["id"], ["year", "month"]) is False


def test_versioned_table_time_travel(spark, tmp_path):
    """Two writes -> two pinned-readable versions; latest resolves via
    the manifest; an uncommitted directory is invisible."""
    from usgs_earthquake_data_pipeline_spark.sinks import (
        list_versions,
        read_versioned_table,
        save_versioned_table,
    )

    path = str(tmp_path / "vt")
    v0 = save_versioned_table(spark.range(3).selectExpr("id AS a"), path)
    v1 = save_versioned_table(spark.range(5).selectExpr("id AS a"), path)
    assert (v0, v1) == (0, 1)
    assert list_versions(spark, path) == [0, 1]
    assert read_versioned_table(spark, path).count() == 5          # latest
    assert read_versioned_table(spark, path, version=0).count() == 3  # pinned

    # simulate a crashed writer: data dir exists, manifest never moved
    spark.range(9).selectExpr("id AS a").write.parquet(f"{path}/version=2")
    assert list_versions(spark, path) == [0, 1]      # not committed
    assert read_versioned_table(spark, path).count() == 5  # still v1


def test_versioned_table_empty_path_raises(spark, tmp_path):
    from usgs_earthquake_data_pipeline_spark.sinks import read_versioned_table

    import pytest as _pytest

    with _pytest.raises(FileNotFoundError):
        read_versioned_table(spark, str(tmp_path / "missing"))


def test_vacuum_versions_keeps_latest_and_drops_orphans(spark, tmp_path):
    from usgs_earthquake_data_pipeline_spark.sinks import (
        list_versions,
        read_versioned_table,
        save_versioned_table,
        vacuum_versions,
    )

    path = str(tmp_path / "vt")
    for n in (3, 5, 7):
        save_versioned_table(spark.range(n).selectExpr("id AS a"), path)
    # orphan from a crashed writer
    spark.range(9).selectExpr("id AS a").write.parquet(f"{path}/version=9")

    dropped = vacuum_versions(spark, path, keep=2)
    assert dropped == [0]
    assert list_versions(spark, path) == [1, 2]
    assert read_versioned_table(spark, path).count() == 7
    import os

    assert not os.path.exists(f"{path}/version=9")  # orphan removed


def test_permissive_json_read_quarantines_corrupt_records(spark, tmp_path):
    """Bronze re-reads must not die on a torn/corrupt line (the REST
    feed truncates mid-object under network failure): PERMISSIVE mode
    parses the good rows and quarantines the bad line into
    _corrupt_record for a dead-letter audit, instead of failing the
    whole batch (FAILFAST) or silently dropping it (DROPMALFORMED)."""
    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"id": 1, "mag": 5.1}\n'
        '{"id": 2, "mag": '  # truncated mid-record
        '\n{"id": 3, "mag": 6.2}\n'
    )
    df = (
        spark.read.schema("id BIGINT, mag DOUBLE, _corrupt_record STRING")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(str(p))
    )
    rows = df.collect()
    good = {r.id: r.mag for r in rows if r._corrupt_record is None}
    bad = [r for r in rows if r._corrupt_record is not None]
    assert good == {1: 5.1, 3: 6.2}
    assert len(bad) == 1 and '"mag": ' in bad[0]._corrupt_record


def _arrow_events(spark, n=120):
    """A driver-held frame: an Arrow table decodes into a
    ``LocalRelation`` leaf (unlike a list of tuples, which becomes an
    RDD scan)."""
    import pyarrow as pa

    return spark.createDataFrame(
        pa.table(
            {
                "id": list(range(n)),
                "year": [2020 + i % 2 for i in range(n)],
                "month": [1 + i % 3 for i in range(n)],
                "value": [float(n - i) for i in range(n)],
            }
        )
    )


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_driver_held_write_has_no_exchange(spark, tmp_path):
    """A frame whose rows the driver holds is written by one task: the
    write plan has no exchange, and each (year, month) gets one file."""
    df = _arrow_events(spark)
    plan = _plan(sinks.clustering_sort(df, ["year", "month"], ["value"]))
    assert "Exchange" not in plan, plan
    path = str(tmp_path / "t")
    assert sinks.save_partitioned_table(df, path, cluster_cols=["value"])
    stats = sinks.partition_file_stats(spark, path)
    assert len(stats) == 6 and all(s["n_files"] == 1 for s in stats), stats
    back = sinks.read_partitioned_table(spark, path)
    assert sorted(back.select("id").toPandas()["id"]) == list(range(120))


def test_file_scan_write_keeps_range_exchange(spark, tmp_path):
    """Any input that is not driver-held keeps the range exchange: a
    frame read back from parquet plans ``RangePartitioning``."""
    path = str(tmp_path / "src")
    sinks.save_partitioned_table(_arrow_events(spark), path)
    scanned = sinks.read_partitioned_table(spark, path)
    assert not sinks._driver_held(scanned)
    plan = _plan(sinks.clustering_sort(scanned, ["year", "month"]))
    assert "Exchange rangepartitioning(year" in plan, plan
    assert sinks.save_partitioned_table(scanned, str(tmp_path / "copy"))
    stats = sinks.partition_file_stats(spark, str(tmp_path / "copy"))
    assert len(stats) == 6 and all(s["n_files"] == 1 for s in stats), stats


def test_upsert_never_sets_the_session_overwrite_mode(spark, events, tmp_path, monkeypatch):
    """Dynamic partition overwrite is a writer option: the upsert
    replaces only the partitions it touches without ever setting the
    shared session conf, so a concurrent overwrite stays static."""
    from pyspark.sql.conf import RuntimeConfig

    key = "spark.sql.sources.partitionOverwriteMode"
    path = str(tmp_path / "t")
    sinks.save_partitioned_table(events, path, mode="overwrite")
    set_conf = RuntimeConfig.set

    def guarded(self, k, v):
        assert k != key, f"upsert_partitions set {key}={v} on the session"
        return set_conf(self, k, v)

    monkeypatch.setattr(RuntimeConfig, "set", guarded)
    touched = events.filter((F.col("year") == 2020) & (F.col("month") == 1))
    n_touched = touched.count()
    assert sinks.upsert_partitions(touched.withColumn("value", F.lit(-1.0)), path)
    back = sinks.read_partitioned_table(spark, path)
    assert back.count() == 200
    replaced = back.filter((F.col("year") == 2020) & (F.col("month") == 1))
    assert replaced.filter(F.col("value") == -1.0).count() == n_touched == replaced.count()
    assert back.filter(F.col("value") == -1.0).count() == n_touched
    assert spark.conf.get(key).lower() == "static"


def _window_events(spark):
    """An ingest window as the pipeline lands it: one page of 40
    features flattened by ``events_from_geojson_strings``, a
    driver-held frame whose flatten Catalyst cannot fold away, so even
    a limit-1 probe of it is a Spark job."""
    from usgs_earthquake_data_pipeline_spark.sources.geojson import (
        events_from_geojson_strings,
    )

    features = [
        {
            "id": f"e{i}",
            # every 20 days from 2020-01-01: 40 events over 27 months
            "properties": {"mag": 1.5, "time": 1577836800000 + i * 20 * 86_400_000,
                           "tsunami": i % 2},
            "geometry": {"coordinates": [1.0, 2.0] + [3.0] * (i % 2)},
        }
        for i in range(40)
    ]
    return events_from_geojson_strings(spark, [json.dumps({"features": features})])


def test_declared_schema_read_launches_no_job(spark, tmp_path):
    """Reading bronze by its declared schema skips footer inference
    (a Spark job) and yields the inferring read's schema, column
    order and rows."""
    from usgs_earthquake_data_pipeline_spark.schema import USGS_EVENTS_SCHEMA

    path = str(tmp_path / "bronze")
    assert sinks.save_partitioned_table(_window_events(spark), path)
    sc = spark.sparkContext
    sc.setJobGroup("declared_read", "declared_read")
    try:
        declared = sinks.read_partitioned_table(spark, path, schema=USGS_EVENTS_SCHEMA)
        declared_schema = declared.schema
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    assert sc.statusTracker().getJobIdsForGroup("declared_read") == []
    inferred = sinks.read_partitioned_table(spark, path)
    assert declared_schema == inferred.schema
    assert sorted(map(tuple, declared.collect())) == sorted(map(tuple, inferred.collect()))


def _listing(path):
    """Every file under ``path`` with its size, relative to ``path``."""
    return sorted(
        (os.path.relpath(os.path.join(root, f), path), os.path.getsize(os.path.join(root, f)))
        for root, _, files in os.walk(path)
        for f in files
    )


def _empty_inputs(spark, tmp_path):
    """Empty frames of the three input kinds: driver-held, an RDD scan
    and a file scan whose filter drops every row."""
    src = str(tmp_path / "src")
    assert sinks.save_partitioned_table(_arrow_events(spark), src)
    return {
        "driver_held": _arrow_events(spark).limit(0),
        "rdd": spark.createDataFrame([], "id long, year long, month long, value double"),
        "file_scan": sinks.read_partitioned_table(spark, src).filter(F.col("id") < 0),
    }


def test_empty_append_and_upsert_leave_an_existing_table_unchanged(spark, tmp_path):
    """F3 without a probe: an empty append or upsert onto an existing
    table returns False and leaves its files (names and sizes) and its
    rows as they were."""
    path = str(tmp_path / "t")
    assert sinks.save_partitioned_table(_arrow_events(spark), path)
    files = _listing(path)
    rows = sorted(map(tuple, sinks.read_partitioned_table(spark, path).collect()))
    for kind, empty in _empty_inputs(spark, tmp_path).items():
        assert sinks.save_partitioned_table(empty, path) is False, kind
        assert sinks.upsert_partitions(empty, path) is False, kind
        assert _listing(path) == files, kind
    back = sinks.read_partitioned_table(spark, path)
    assert sorted(map(tuple, back.collect())) == rows


def test_empty_append_and_upsert_to_a_new_path_leave_no_path(spark, tmp_path):
    for kind, empty in _empty_inputs(spark, tmp_path).items():
        appended = str(tmp_path / f"append_{kind}")
        upserted = str(tmp_path / f"upsert_{kind}")
        assert sinks.save_partitioned_table(empty, appended) is False, kind
        assert sinks.upsert_partitions(empty, upserted) is False, kind
        assert not os.path.exists(appended), (kind, _listing(appended))
        assert not os.path.exists(upserted), (kind, _listing(upserted))


def test_empty_write_keeps_a_pre_existing_directory(spark, tmp_path):
    """Only a path the write itself created is removed."""
    path = tmp_path / "made_by_caller"
    path.mkdir()
    (path / "_SUCCESS").write_text("")
    empty = _arrow_events(spark).limit(0)
    assert sinks.save_partitioned_table(empty, str(path)) is False
    assert sinks.upsert_partitions(empty, str(path)) is False
    assert os.path.exists(path / "_SUCCESS")


def test_empty_static_overwrite_leaves_the_table_intact(spark, tmp_path):
    """A static overwrite deletes its target before writing, so it
    still probes: empty input leaves the table as it was."""
    path = str(tmp_path / "t")
    assert sinks.save_partitioned_table(_arrow_events(spark), path)
    files = _listing(path)
    empty = _arrow_events(spark).limit(0)
    assert sinks.save_partitioned_table(empty, path, mode="overwrite") is False
    assert _listing(path) == files
    assert sinks.read_partitioned_table(spark, path).count() == 120


@pytest.mark.parametrize("write", ["append", "upsert"])
def test_driver_held_landing_is_one_job_that_counts_its_rows(spark, tmp_path, write):
    """A non-empty append or upsert of an ingest window launches
    exactly one Spark job, the write, and the Observation riding it
    counts the rows that land."""
    from pyspark.sql import Observation

    from test_tables import _jobs

    df = _window_events(spark)
    path = str(tmp_path / "t")
    obs = Observation(f"landing_{write}")
    kwargs = dict(observation=obs, metrics=[F.count(F.lit(1)).alias("rows")])
    sink = sinks.save_partitioned_table if write == "append" else sinks.upsert_partitions
    wrote = []
    assert _jobs(spark, f"one_job_{write}", lambda: wrote.append(sink(df, path, **kwargs))) == 1
    assert wrote == [True]
    assert obs.get["rows"] == sinks.read_partitioned_table(spark, path).count() == 40


def test_silver_schemas_are_the_declared_fact_schemas(spark, tmp_path):
    """A3's and A4's schemas over a bronze read by USGS_EVENTS_SCHEMA
    are the declared fact schemas ``build_silver_layer`` builds with."""
    from usgs_earthquake_data_pipeline_spark.schema import (
        FACT_TSUNAMI_MONTHLY_SCHEMA,
        FACT_TSUNAMI_YEARLY_SCHEMA,
        USGS_EVENTS_SCHEMA,
    )

    path = str(tmp_path / "bronze")
    assert sinks.save_partitioned_table(_window_events(spark), path)
    bronze = sinks.read_partitioned_table(spark, path, schema=USGS_EVENTS_SCHEMA)
    assert silver.fact_tsunami_yearly(bronze).schema == FACT_TSUNAMI_YEARLY_SCHEMA
    assert silver.fact_tsunami_monthly(bronze).schema == FACT_TSUNAMI_MONTHLY_SCHEMA
