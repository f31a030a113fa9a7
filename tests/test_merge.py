"""Unit tests for the MERGE / CDC operators (operators/merge.py) and
their wiring onto the versioned-parquet table layer."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from usgs_earthquake_data_pipeline_spark.operators.merge import (
    diff_snapshots,
    merge_delete,
    merge_upsert,
)


def _kv(spark, rows):
    return spark.createDataFrame(rows, "k BIGINT, v STRING")


def test_merge_upsert_updates_inserts_keeps(spark):
    target = _kv(spark, [(1, "a"), (2, "b"), (3, "c")])
    source = _kv(spark, [(2, "B"), (4, "D")])
    got = {
        (r.k, r.v)
        for r in merge_upsert(target, source, ["k"], broadcast_source=True).collect()
    }
    assert got == {(1, "a"), (2, "B"), (3, "c"), (4, "D")}


def test_merge_upsert_source_wins_on_every_key_collision(spark):
    target = _kv(spark, [(i, f"old{i}") for i in range(10)])
    source = _kv(spark, [(i, f"new{i}") for i in range(10)])
    got = merge_upsert(target, source, ["k"]).collect()
    assert len(got) == 10
    assert all(r.v.startswith("new") for r in got)


def test_merge_upsert_duplicate_source_keys_raise_like_delta(spark):
    """Delta's MERGE errors when multiple source rows match one target
    row; the default policy mirrors that instead of silently emitting
    duplicate rows."""
    target = _kv(spark, [(1, "a"), (2, "b")])
    source = _kv(spark, [(2, "B1"), (2, "B2"), (3, "C")])
    with pytest.raises(ValueError, match="multiple source rows"):
        merge_upsert(target, source, ["k"])


def test_merge_upsert_last_wins_dedups_deterministically(spark):
    target = _kv(spark, [(1, "a"), (2, "b")])
    source = _kv(spark, [(2, "B1"), (2, "B2"), (3, "C")])
    got = {
        (r.k, r.v)
        for r in merge_upsert(
            target,
            source,
            ["k"],
            duplicate_policy="last_wins",
            last_wins_order=["v"],
        ).collect()
    }
    assert got == {(1, "a"), (2, "B2"), (3, "C")}


def test_merge_upsert_last_wins_requires_order(spark):
    target = _kv(spark, [(1, "a")])
    source = _kv(spark, [(1, "A")])
    with pytest.raises(ValueError, match="last_wins_order"):
        merge_upsert(target, source, ["k"], duplicate_policy="last_wins")
    with pytest.raises(ValueError, match="duplicate_policy"):
        merge_upsert(target, source, ["k"], duplicate_policy="nope")


def test_merge_upsert_trusted_skips_validation(spark):
    """duplicate_policy='trusted' is fully lazy: no eager dup check,
    so a duplicate-key source flows through as-is (caller's assert)."""
    target = _kv(spark, [(1, "a"), (2, "b")])
    source = _kv(spark, [(2, "B1"), (2, "B2")])
    got = sorted(
        (r.k, r.v)
        for r in merge_upsert(
            target, source, ["k"], duplicate_policy="trusted"
        ).collect()
    )
    assert got == [(1, "a"), (2, "B1"), (2, "B2")]


def test_merge_upsert_error_policy_respects_caller_cache(spark):
    """A caller-cached source must not be re-pinned (or unpinned) by
    the validation path."""
    target = _kv(spark, [(1, "a")])
    source = _kv(spark, [(1, "A"), (2, "B")]).persist()
    try:
        got = {
            (r.k, r.v)
            for r in merge_upsert(target, source, ["k"]).collect()
        }
        assert got == {(1, "A"), (2, "B")}
        from pyspark import StorageLevel

        assert source.storageLevel != StorageLevel.NONE
    finally:
        source.unpersist()


def test_merge_upsert_composite_key(spark):
    schema = "k1 BIGINT, k2 STRING, v DOUBLE"
    target = spark.createDataFrame([(1, "x", 1.0), (1, "y", 2.0)], schema)
    source = spark.createDataFrame([(1, "y", 9.0), (2, "x", 3.0)], schema)
    got = {
        (r.k1, r.k2, r.v)
        for r in merge_upsert(target, source, ["k1", "k2"]).collect()
    }
    assert got == {(1, "x", 1.0), (1, "y", 9.0), (2, "x", 3.0)}


def test_merge_upsert_rejects_missing_columns(spark):
    target = _kv(spark, [(1, "a")])
    source = spark.createDataFrame([(1,)], "k BIGINT")
    with pytest.raises(ValueError, match="missing target columns"):
        merge_upsert(target, source, ["k"])


def test_merge_upsert_rejects_empty_keys(spark):
    df = _kv(spark, [(1, "a")])
    with pytest.raises(ValueError, match="at least one key"):
        merge_upsert(df, df, [])


def test_merge_upsert_broadcasts_source_not_target(spark):
    """The CDC contract: the small change batch broadcasts; the big
    target is never exchanged for the anti join."""
    target = _kv(spark, [(i, "t") for i in range(100)])
    source = _kv(spark, [(1, "s")])
    plan = merge_upsert(
        target, source, ["k"], broadcast_source=True
    )._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan


def test_merge_delete_drops_matched_keys_only(spark):
    target = _kv(spark, [(1, "a"), (2, "b"), (3, "c")])
    tomb = spark.createDataFrame([(2,), (9,)], "k BIGINT")
    got = {(r.k, r.v) for r in merge_delete(target, tomb, ["k"]).collect()}
    assert got == {(1, "a"), (3, "c")}


def test_diff_snapshots_classifies_all_change_types(spark):
    old = _kv(spark, [(1, "a"), (2, "b"), (3, "c")])
    new = _kv(spark, [(2, "B"), (3, "c"), (4, "d")])
    rows = {
        r.k: (r.change_type, r.old_v, r.new_v)
        for r in diff_snapshots(old, new, ["k"]).collect()
    }
    # key 3 is unchanged -> excluded from the feed
    assert rows == {
        1: ("delete", "a", None),
        2: ("update", "b", "B"),
        4: ("insert", None, "d"),
    }


def test_diff_snapshots_null_safe_equality(spark):
    """NULL == NULL must count as unchanged; NULL -> value is an
    update (the eqNullSafe path)."""
    old = _kv(spark, [(1, None), (2, None)])
    new = _kv(spark, [(1, None), (2, "x")])
    rows = {r.k: r.change_type for r in diff_snapshots(old, new, ["k"]).collect()}
    assert rows == {2: "update"}


def test_diff_snapshots_explicit_compare_subset(spark):
    schema = "k BIGINT, a STRING, b STRING"
    old = spark.createDataFrame([(1, "x", "p")], schema)
    new = spark.createDataFrame([(1, "x", "q")], schema)
    # compare only column a -> no change surfaces
    assert diff_snapshots(old, new, ["k"], compare_cols=["a"]).count() == 0
    got = diff_snapshots(old, new, ["k"], compare_cols=["b"]).collect()
    assert [(r.k, r.change_type, r.old_b, r.new_b) for r in got] == [
        (1, "update", "p", "q")
    ]


def test_merge_then_diff_roundtrip(spark):
    """diff(target, merge(target, batch)) recovers exactly the batch's
    effective changes — the CDC feed of the merge."""
    target = _kv(spark, [(1, "a"), (2, "b")])
    batch = _kv(spark, [(2, "B"), (3, "c"), (1, "a")])  # (1,'a') is a no-op
    merged = merge_upsert(target, batch, ["k"])
    feed = {
        (r.k, r.change_type)
        for r in diff_snapshots(target, merged, ["k"]).collect()
    }
    assert feed == {(2, "update"), (3, "insert")}


# ---------------------------------------------------------------------------
# Versioned-table wiring: MERGE INTO + file-level data skipping.
# ---------------------------------------------------------------------------

from pyspark.sql import functions as _F

from usgs_earthquake_data_pipeline_spark import sinks


def test_merge_versioned_table_commits_new_version(spark, tmp_path):
    path = str(tmp_path / "vt")
    base = spark.range(0, 100).withColumn("value", _F.col("id").cast("double"))
    assert sinks.save_versioned_table(base, path) == 0
    batch = spark.createDataFrame(
        [(5, 9999.0), (200, 1.5)], "id BIGINT, value DOUBLE"
    )
    assert sinks.merge_versioned_table(spark, path, batch, ["id"]) == 1
    latest = sinks.read_versioned_table(spark, path)
    assert latest.count() == 101
    assert latest.filter("id = 5").first().value == 9999.0
    assert latest.filter("id = 200").count() == 1
    # time travel: version 0 is untouched
    v0 = sinks.read_versioned_table(spark, path, 0)
    assert v0.count() == 100 and v0.filter("id = 5").first().value == 5.0


def test_stats_pruned_read_skips_files_and_matches_full_scan(spark, tmp_path):
    path = str(tmp_path / "vt")
    df = spark.range(0, 1000).withColumn("value", _F.col("id").cast("double"))
    # disjoint per-file ranges (what clustering_sort produces at write)
    sinks.save_versioned_table(
        df.repartitionByRange(8, "value"), path, stats_cols=["value"]
    )
    pruned = sinks.read_versioned_table_pruned(spark, path, {"value": (100.0, 150.0)})
    total = len(sinks.read_versioned_table(spark, path).inputFiles())
    assert total == 8
    assert len(pruned.inputFiles()) < total  # files actually skipped
    expected = {r.id for r in df.filter(_F.col("value").between(100.0, 150.0)).collect()}
    assert {r.id for r in pruned.collect()} == expected


def test_stats_pruned_read_without_sidecar_falls_back_to_full_scan(spark, tmp_path):
    path = str(tmp_path / "vt")
    df = spark.range(0, 100).withColumn("value", _F.col("id").cast("double"))
    sinks.save_versioned_table(df.repartitionByRange(4, "value"), path)  # no stats
    pruned = sinks.read_versioned_table_pruned(spark, path, {"value": (10.0, 20.0)})
    assert pruned.count() == 11  # semantics unchanged, just no skipping


def test_stats_pruned_read_empty_intersection_yields_empty_with_schema(spark, tmp_path):
    path = str(tmp_path / "vt")
    df = spark.range(0, 100).withColumn("value", _F.col("id").cast("double"))
    sinks.save_versioned_table(
        df.repartitionByRange(4, "value"), path, stats_cols=["value"]
    )
    pruned = sinks.read_versioned_table_pruned(spark, path, {"value": (1e6, 2e6)})
    assert pruned.count() == 0
    assert set(pruned.columns) == {"id", "value"}


def test_stats_pruning_is_never_semantic(spark, tmp_path):
    """Rows NOT range-clustered: every file overlaps, nothing is
    skipped, results still exact."""
    path = str(tmp_path / "vt")
    df = spark.range(0, 1000).withColumn("value", (_F.col("id") % 10).cast("double"))
    sinks.save_versioned_table(df.repartition(8), path, stats_cols=["value"])
    pruned = sinks.read_versioned_table_pruned(spark, path, {"value": (3.0, 4.0)})
    assert pruned.count() == 200


# ---------------------------------------------------------------------------
# Incremental materialized-view maintenance (operators/matview.py).
# ---------------------------------------------------------------------------

from usgs_earthquake_data_pipeline_spark.operators.matview import (
    merge_aggregate_state,
)


def _agg(spark, rows):
    return spark.createDataFrame(
        rows, "k STRING, cnt BIGINT, s BIGINT, mn BIGINT, mx BIGINT"
    )


MERGES = {"cnt": "count", "s": "sum", "mn": "min", "mx": "max"}


def test_mv_merge_folds_delta_into_view(spark):
    view = _agg(spark, [("a", 2, 10, 1, 9), ("b", 1, 5, 5, 5)])
    delta = _agg(spark, [("a", 3, 30, 0, 7), ("c", 1, 1, 1, 1)])
    got = {
        r.k: (r.cnt, r.s, r.mn, r.mx)
        for r in merge_aggregate_state(view, delta, ["k"], MERGES).collect()
    }
    assert got == {
        "a": (5, 40, 0, 9),  # counts/sums add, min/max fold
        "b": (1, 5, 5, 5),   # untouched key persists
        "c": (1, 1, 1, 1),   # new key inserts
    }


def test_mv_merge_equals_full_recompute_under_any_split(spark):
    import itertools
    rows = [(f"k{i % 4}", 1, i, i, i) for i in range(20)]
    full = _agg(spark, rows)
    expected = {
        r.k: (r.cnt, r.s, r.mn, r.mx)
        for r in merge_aggregate_state(
            full, _agg(spark, []), ["k"], MERGES
        ).collect()
    }
    for cut in (1, 7, 13):
        a = merge_aggregate_state(
            merge_aggregate_state(
                _agg(spark, rows[:cut]), _agg(spark, []), ["k"], MERGES
            ),
            _agg(spark, rows[cut:]),
            ["k"],
            MERGES,
        )
        got = {r.k: (r.cnt, r.s, r.mn, r.mx) for r in a.collect()}
        assert got == expected, f"split at {cut} diverged"


def test_mv_merge_rejects_unknown_class_and_missing_cols(spark):
    df = _agg(spark, [("a", 1, 1, 1, 1)])
    with pytest.raises(ValueError, match="unsupported merge classes"):
        merge_aggregate_state(df, df, ["k"], {"cnt": "avg"})
    with pytest.raises(ValueError, match="missing columns"):
        merge_aggregate_state(df.drop("s"), df, ["k"], MERGES)


def test_merge_upsert_shuffle_scale_path_matches_broadcast(spark):
    """When the change batch is too big to broadcast (or the hint is
    withheld), the merge degrades to a co-partitioned shuffle anti
    join — results must be identical to the broadcast path."""
    target = _kv(spark, [(i, f"t{i}") for i in range(500)])
    source = _kv(spark, [(i, f"s{i}") for i in range(0, 1000, 2)])
    broadcast_rows = sorted(
        (r.k, r.v)
        for r in merge_upsert(target, source, ["k"], broadcast_source=True).collect()
    )
    keys = ("spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold")
    old = {k: spark.conf.get(k, None) for k in keys}
    for k in keys:
        spark.conf.set(k, "-1")
    try:
        df = merge_upsert(target, source, ["k"], broadcast_source=False)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, f"expected the SMJ scale path\n{plan}"
        shuffle_rows = sorted((r.k, r.v) for r in df.collect())
    finally:
        for k, v in old.items():
            spark.conf.unset(k) if v is None else spark.conf.set(k, v)
    assert shuffle_rows == broadcast_rows


# ---------------------------------------------------------------------------
# Multi-table consistent snapshots (dataset releases).
# ---------------------------------------------------------------------------


def test_snapshot_commit_and_pinned_read(spark, tmp_path):
    root = str(tmp_path / "release")
    docs = spark.createDataFrame([(1, "a"), (2, "b")], "doc_id BIGINT, text STRING")
    embs = spark.createDataFrame([(1, 0.5), (2, 0.7)], "doc_id BIGINT, norm DOUBLE")
    v = sinks.commit_snapshot(
        spark, root, {"documents": docs, "embeddings": embs}, name="v1"
    )
    assert v == {"documents": 0, "embeddings": 0}
    got = sinks.read_snapshot(spark, root, "v1")
    assert {r.doc_id for r in got["documents"].collect()} == {1, 2}
    assert {r.doc_id for r in got["embeddings"].collect()} == {1, 2}
    assert sinks.list_snapshots(spark, root) == ["v1"]


def test_snapshot_isolates_releases_from_later_commits(spark, tmp_path):
    """The reproducibility contract: a later single-table commit (or a
    later release) never changes what snapshot v1 resolves to."""
    root = str(tmp_path / "release")
    docs1 = spark.createDataFrame([(1, "a")], "doc_id BIGINT, text STRING")
    embs1 = spark.createDataFrame([(1, 0.5)], "doc_id BIGINT, norm DOUBLE")
    sinks.commit_snapshot(spark, root, {"documents": docs1, "embeddings": embs1}, "v1")
    # single-table drift after the release
    docs2 = spark.createDataFrame([(9, "z")], "doc_id BIGINT, text STRING")
    sinks.save_versioned_table(docs2, f"{root}/documents")
    # and a whole newer release
    embs2 = spark.createDataFrame([(9, 0.9)], "doc_id BIGINT, norm DOUBLE")
    sinks.commit_snapshot(spark, root, {"documents": docs2, "embeddings": embs2}, "v2")

    v1 = sinks.read_snapshot(spark, root, "v1")
    assert [r.doc_id for r in v1["documents"].collect()] == [1]
    assert [r.doc_id for r in v1["embeddings"].collect()] == [1]
    v2 = sinks.read_snapshot(spark, root, "v2")
    assert [r.doc_id for r in v2["documents"].collect()] == [9]
    # latest single-table pointer also moved forward
    assert [
        r.doc_id for r in sinks.read_versioned_table(spark, f"{root}/documents").collect()
    ] == [9]
    assert sorted(sinks.list_snapshots(spark, root)) == ["v1", "v2"]


def test_snapshot_missing_name_raises(spark, tmp_path):
    root = str(tmp_path / "release")
    docs = spark.createDataFrame([(1, "a")], "doc_id BIGINT, text STRING")
    sinks.commit_snapshot(spark, root, {"documents": docs}, "v1")
    with pytest.raises(FileNotFoundError, match="no snapshot 'v9'"):
        sinks.read_snapshot(spark, root, "v9")


def test_snapshot_with_stats_cols_enables_pruned_member_reads(spark, tmp_path):
    root = str(tmp_path / "release")
    docs = spark.range(0, 1000).withColumn("value", _F.col("id").cast("double"))
    sinks.commit_snapshot(
        spark,
        root,
        {"documents": docs.repartitionByRange(8, "value")},
        "v1",
        stats_cols={"documents": ["value"]},
    )
    pruned = sinks.read_versioned_table_pruned(
        spark, f"{root}/documents", {"value": (100.0, 150.0)}
    )
    assert len(pruned.inputFiles()) < 8
    assert pruned.count() == 51


def test_vacuum_never_deletes_snapshot_pinned_versions(spark, tmp_path):
    """Retention must not break a committed release: versions pinned
    by any snapshot survive vacuum; unpinned old versions retire."""
    root = str(tmp_path / "release")
    t = f"{root}/documents"

    def docs(tag):
        return spark.createDataFrame([(1, tag)], "doc_id BIGINT, text STRING")

    sinks.commit_snapshot(spark, root, {"documents": docs("v0")}, "r0")   # version 0, pinned
    for i in range(1, 5):  # versions 1-4, unpinned
        sinks.save_versioned_table(docs(f"v{i}"), t)
    assert sinks.snapshot_pinned_versions(spark, root, "documents") == {0}

    dropped = sinks.vacuum_snapshot_member(spark, root, "documents", keep=1)
    assert 0 not in dropped and dropped == [1, 2, 3]  # keep latest(4) + pinned(0)
    # the release still resolves, to the original bytes
    got = sinks.read_snapshot(spark, root, "r0")["documents"].collect()
    assert [(r.doc_id, r.text) for r in got] == [(1, "v0")]
    # plain vacuum (no protect) on a non-member table keeps old contract
    assert sinks.list_versions(spark, t) == [0, 4]


def test_stats_pruned_read_on_timestamp_column(spark, tmp_path):
    """Timestamps serialize to ISO strings in the stats sidecar; ISO
    order == time order, so string-range pruning is exact."""
    from datetime import datetime

    path = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, datetime(2024, 1, 1 + (i // 100), 12, 0, 0)) for i in range(1000)],
        "id BIGINT, ts TIMESTAMP",
    )
    sinks.save_versioned_table(df.repartitionByRange(8, "ts"), path, stats_cols=["ts"])
    pruned = sinks.read_versioned_table_pruned(
        spark, path, {"ts": ("2024-01-03T00:00:00", "2024-01-04T23:59:59")}
    )
    assert pruned.count() == 200  # days 3 and 4
    assert len(pruned.inputFiles()) < 8


def test_stats_pruned_read_canonicalizes_bound_forms(spark, tmp_path):
    """The caller may pass timestamp bounds as datetime objects or as
    the space-separated string form; both must canonicalize against
    the ISO-serialized stats — the raw compare either raised TypeError
    (datetime vs str) or lexicographically mis-ordered ' ' vs 'T' and
    silently pruned overlapping files."""
    from datetime import datetime

    path = str(tmp_path / "vt")
    df = spark.createDataFrame(
        [(i, datetime(2024, 1, 1 + (i // 100), 12, 0, 0)) for i in range(1000)],
        "id BIGINT, ts TIMESTAMP",
    )
    sinks.save_versioned_table(
        df.repartitionByRange(8, "ts"), path, stats_cols=["ts"]
    )
    # datetime-object bounds: previously raised TypeError
    pruned = sinks.read_versioned_table_pruned(
        spark,
        path,
        {"ts": (datetime(2024, 1, 3), datetime(2024, 1, 4, 23, 59, 59))},
    )
    assert pruned.count() == 200
    assert len(pruned.inputFiles()) < 8
    # space-separated string bounds: 'T' > ' ' made an overlapping
    # file compare as disjoint (fmax '2024-01-03T12:00:00' <
    # lo '2024-01-03 00:00:00' is False lexicographically, but the
    # symmetric fmin > hi check with hi '2024-01-04 23:59:59' pruned
    # day-4 files whose fmin uses the 'T' form)
    pruned2 = sinks.read_versioned_table_pruned(
        spark, path, {"ts": ("2024-01-03 00:00:00", "2024-01-04 23:59:59")}
    )
    assert pruned2.count() == 200
    assert len(pruned2.inputFiles()) < 8


def test_stat_canon_one_sided_timestamp_never_prunes():
    """If exactly one side is timestamp-shaped (the other e.g. a
    tz-offset ISO string the regex rejects), raw string compare would
    repeat the 'T' vs ' ' mis-ordering — the pair must be
    un-canonicalizable (None → file read)."""
    assert (
        sinks._canon_stat_pair("2024-01-03T12:00:00", "2024-01-03 00:00:00+00:00")
        is None
    )
    assert (
        sinks._canon_stat_pair("2024-01-03 00:00:00+00:00", "2024-01-03T12:00:00")
        is None
    )
    # and disjointness degrades to "overlapping", not a wrong prune
    assert not sinks._stat_disjoint(
        "2024-01-05T00:00:00", "2024-01-06T00:00:00",
        "2024-01-01 00:00:00+00:00", "2024-01-02 00:00:00+00:00",
    )


def test_stat_disjoint_incomparable_types_treated_as_overlap():
    """A naive-stat vs tz-aware-bound datetime comparison raises
    TypeError in Python — pruning must swallow it and read the file,
    never propagate."""
    from datetime import datetime, timezone

    aware_lo = datetime(2024, 1, 1, tzinfo=timezone.utc)
    aware_hi = datetime(2024, 1, 2, tzinfo=timezone.utc)
    # ISO stat strings parse to naive datetimes against aware bounds
    assert not sinks._stat_disjoint(
        "2024-01-05T00:00:00", "2024-01-06T00:00:00", aware_lo, aware_hi
    )


def test_torn_snapshot_commit_preserves_previous_release(spark, tmp_path, monkeypatch):
    """Crash midway through a multi-table release (first member
    written, second fails): no new snapshot manifest appears, and the
    previous release keeps resolving to its original versions — the
    all-or-nothing contract snapshot readers rely on."""
    root = str(tmp_path / "release")
    docs1 = spark.createDataFrame([(1, "a")], "doc_id BIGINT, text STRING")
    embs1 = spark.createDataFrame([(1, 0.5)], "doc_id BIGINT, norm DOUBLE")
    sinks.commit_snapshot(spark, root, {"documents": docs1, "embeddings": embs1}, "v1")

    calls = {"n": 0}
    real_save = sinks.save_versioned_table

    def failing_save(df, path, stats_cols=None):
        calls["n"] += 1
        if calls["n"] == 2:
            raise IOError("disk full")  # injected crash on table 2 of 2
        return real_save(df, path, stats_cols=stats_cols)

    monkeypatch.setattr(sinks, "save_versioned_table", failing_save)
    docs2 = spark.createDataFrame([(9, "z")], "doc_id BIGINT, text STRING")
    embs2 = spark.createDataFrame([(9, 0.9)], "doc_id BIGINT, norm DOUBLE")
    with pytest.raises(IOError, match="disk full"):
        sinks.commit_snapshot(
            spark, root, {"documents": docs2, "embeddings": embs2}, "v2"
        )
    monkeypatch.undo()

    assert sinks.list_snapshots(spark, root) == ["v1"]  # v2 never committed
    v1 = sinks.read_snapshot(spark, root, "v1")
    assert [(r.doc_id, r.text) for r in v1["documents"].collect()] == [(1, "a")]
    assert [(r.doc_id, r.norm) for r in v1["embeddings"].collect()] == [(1, 0.5)]


def test_vacuum_removes_stats_sidecars_of_dropped_versions(spark, tmp_path):
    import os as _os

    path = str(tmp_path / "vt")
    for i in range(3):
        df = spark.range(i * 10, i * 10 + 10).withColumn(
            "value", _F.col("id").cast("double")
        )
        sinks.save_versioned_table(df, path, stats_cols=["value"])
    assert _os.path.exists(f"{path}/_stats_v0.json")
    dropped = sinks.vacuum_versions(spark, path, keep=1)
    assert dropped == [0, 1]
    assert not _os.path.exists(f"{path}/_stats_v0.json")
    assert not _os.path.exists(f"{path}/_stats_v1.json")
    assert _os.path.exists(f"{path}/_stats_v2.json")  # survivor keeps its stats


def test_table_changes_between_versions(spark, tmp_path):
    """The CDF read API: changes between two committed versions equal
    the effective edits — and compose with merge_versioned_table so
    feed(v0 -> v1) is exactly the merged batch's effect."""
    path = str(tmp_path / "vt")
    base = _kv(spark, [(1, "a"), (2, "b"), (3, "c")])
    sinks.save_versioned_table(base, path)  # v0
    batch = _kv(spark, [(2, "B"), (4, "d"), (1, "a")])  # update, insert, no-op
    sinks.merge_versioned_table(spark, path, batch, ["k"])  # v1
    feed = {
        (r.k, r.change_type, r.old_v, r.new_v)
        for r in sinks.table_changes(spark, path, ["k"], 0, 1).collect()
    }
    assert feed == {(2, "update", "b", "B"), (4, "insert", None, "d")}
    # to_version defaults to latest
    feed_latest = {
        (r.k, r.change_type)
        for r in sinks.table_changes(spark, path, ["k"], 0).collect()
    }
    assert feed_latest == {(2, "update"), (4, "insert")}


def test_merge_join_state_equals_full_join(spark):
    """The bilinearity identity on a small synthetic case where every
    delta category is populated — (ΔA,B_old), (A_old,ΔB), (ΔA,ΔB) —
    plus keys only in one side (must not appear) and multi-row keys
    (fan-out preserved exactly, no dedup)."""
    from usgs_earthquake_data_pipeline_spark.operators.matview import (
        merge_join_state,
    )

    a_old = spark.createDataFrame(
        [(1, "a1"), (2, "a2"), (9, "a9")], "k BIGINT, av STRING"
    )
    delta_a = spark.createDataFrame([(2, "a2new"), (3, "a3")], "k BIGINT, av STRING")
    b_old = spark.createDataFrame(
        [(1, 10.0), (1, 11.0), (3, 30.0)], "k BIGINT, bv DOUBLE"
    )
    delta_b = spark.createDataFrame([(2, 20.0), (7, 70.0)], "k BIGINT, bv DOUBLE")

    view_old = a_old.join(b_old, "k").select("k", "av", "bv")
    maintained = sorted(
        tuple(r)
        for r in merge_join_state(
            view_old, a_old, delta_a, b_old, delta_b, "k"
        ).collect()
    )
    full = sorted(
        tuple(r)
        for r in a_old.unionByName(delta_a)
        .join(b_old.unionByName(delta_b), "k")
        .select("k", "av", "bv")
        .collect()
    )
    assert maintained == full
    assert len(maintained) == len(full) > 4  # fan-out rows present


def test_merge_join_state_empty_deltas_is_identity(spark):
    from usgs_earthquake_data_pipeline_spark.operators.matview import (
        merge_join_state,
    )

    a = spark.createDataFrame([(1, "a")], "k BIGINT, av STRING")
    b = spark.createDataFrame([(1, 1.0)], "k BIGINT, bv DOUBLE")
    view = a.join(b, "k").select("k", "av", "bv")
    out = merge_join_state(
        view, a, a.filter("k < 0"), b, b.filter("k < 0"), "k"
    ).collect()
    assert [tuple(r) for r in out] == [(1, "a", 1.0)]


#: ``sinks.merge_rows``' jobs on the three-row table below: the one
#: aggregate over ``updates`` that answers the duplicate-key check and
#: the touched partitions (3), the footer read of the table (1) and the
#: upsert's range-sampled write (6). A separate duplicate-key pass and
#: partition collect made it 12; the probes of ``updates`` and of the
#: merged frame before them, 17.
MERGE_ROWS_JOBS = 10


def _merge_rows_table(spark, tmp_path):
    from usgs_earthquake_data_pipeline_spark.sinks import save_partitioned_table

    path = str(tmp_path / "tbl")
    base = spark.createDataFrame(
        [(1, 2024, 1, "a"), (2, 2024, 1, "b"), (3, 2024, 2, "c")],
        "id long, year int, month int, val string",
    )
    assert save_partitioned_table(base, path, "append", ["year", "month"])
    return path, base.schema


def test_merge_rows_job_budget(spark, tmp_path):
    """``sinks.merge_rows`` probes nothing: one aggregate answers the
    duplicate-key check and the touched partitions, and the one upsert
    write's row count answers emptiness. Pinned exactly: a probe that
    comes back adds a job."""
    from test_tables import _jobs

    from usgs_earthquake_data_pipeline_spark.sinks import (
        merge_rows,
        read_partitioned_table,
    )

    path, schema = _merge_rows_table(spark, tmp_path)
    updates = spark.createDataFrame([(2, 2024, 1, "B"), (9, 2024, 2, "new")], schema)
    wrote = []
    assert _jobs(
        spark, "merge_rows_budget",
        lambda: wrote.append(merge_rows(spark, path, updates, ["id"])),
    ) == MERGE_ROWS_JOBS
    assert wrote == [True]
    got = {(r.id, r.val) for r in read_partitioned_table(spark, path).collect()}
    assert got == {(1, "a"), (2, "B"), (3, "c"), (9, "new")}


def test_merge_rows_keeps_rows_of_a_null_partition(spark, tmp_path):
    """A touched partition whose values are null is read back
    null-safely: its rows that ``updates`` does not replace survive the
    dynamic overwrite of that partition."""
    from usgs_earthquake_data_pipeline_spark.sinks import (
        merge_rows,
        read_partitioned_table,
        save_partitioned_table,
    )

    path = str(tmp_path / "tbl")
    schema = "id string, year int, month int, val double"
    base = spark.createDataFrame(
        [("a", 2020, 1, 1.0), ("b", None, None, 2.0), ("c", None, None, 3.0)],
        schema,
    )
    assert save_partitioned_table(base, path, "append", ["year", "month"])
    updates = spark.createDataFrame(
        [("b", None, None, 9.0), ("d", 2020, 1, 4.0)], schema
    )
    assert merge_rows(spark, path, updates, ["id"])
    got = {
        (r.id, r.year, r.month, r.val)
        for r in read_partitioned_table(spark, path).collect()
    }
    assert got == {
        ("a", 2020, 1, 1.0),
        ("b", None, None, 9.0),
        ("c", None, None, 3.0),
        ("d", 2020, 1, 4.0),
    }


def test_merge_rows_empty_updates_is_a_noop(spark, tmp_path):
    """Empty updates touch no partition: False, and the table's files
    and rows stay as they were."""
    from test_sinks import _listing

    from usgs_earthquake_data_pipeline_spark.sinks import (
        merge_rows,
        read_partitioned_table,
    )

    path, schema = _merge_rows_table(spark, tmp_path)
    before = _listing(path)
    assert merge_rows(spark, path, spark.createDataFrame([], schema), ["id"]) is False
    assert _listing(path) == before
    assert read_partitioned_table(spark, path).count() == 3
