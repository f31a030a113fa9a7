"""Custom PySpark DataSource (Spark 4 Python data-source API) for the
USGS FDSN GeoJSON feed: ``spark.read.format("usgs_geojson")``.

SURVEY.md §2.1 names this as the idiomatic Spark form of S1: instead
of the driver fetching pages serially (the reference's shape, kept in
``pipeline.py``), each *input partition* is one month window and the
fetch runs on executors — N windows download in parallel.

The source is a transport only. Each partition fetches its month with
the pipeline's one month fetch (``pipeline.fetch_month``: the pager,
the week fallback and the half-open cut to ``[start, end)``, so an
event at exactly 00:00 on the 1st is read once, with its own month)
and yields the raw page bodies as one Arrow batch of ``value string``
rows. A month that fails with a 4xx/5xx is re-read week by week inside
the partition; a week that still fails fails the read with
``FetchError`` naming it, because a Spark read has no ledger in which
a skipped week could be told from a quiet one. The stream reader pages
each slice with ``pipeline.fetch_pages`` and cuts it with the same
``pipeline.cut``. Callers flatten with ``geojson_docs_to_events``, the
package's one GeoJSON flatten, which then runs under codegen on the
executors.

Usage::

    spark.dataSource.register(UsgsGeoJsonDataSource)
    events = geojson_docs_to_events(
        spark.read.format("usgs_geojson")
        .option("start_year", 2020).option("end_year", 2021)
        .load()  # .option("api_url", ...) for another FDSN service
    )

    # streaming (see UsgsGeoJsonStreamReader): continuous ingest with
    # offset-checkpointed event-time windows
    events = geojson_docs_to_events(
        spark.readStream.format("usgs_geojson")
        .option("start_ms", 1704067200000)
        .option("window_ms", 3_600_000)
        .load()
    )
"""

from __future__ import annotations

import json
import os
from datetime import datetime, timezone

import pyarrow as pa
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)

from .. import pipeline
from .rest import FetchError


class UsgsWindowPartition(InputPartition):
    def __init__(self, start: str, end: str):
        self.start = start
        self.end = end


class UsgsGeoJsonReader(DataSourceReader):
    def __init__(self, options: dict):
        self.options = options

    def partitions(self):
        start_year = int(self.options.get("start_year", "2024"))
        end_year = int(self.options.get("end_year", str(start_year)))
        return [
            UsgsWindowPartition(s, e)
            for s, e in pipeline.month_windows(start_year, end_year)
        ]

    def read(self, partition: UsgsWindowPartition):
        api_url = self.options.get("api_url", pipeline.USGS_API_URL)
        pages, failed = pipeline.fetch_month(api_url, partition.start, partition.end)
        if failed:
            start, end, exc = failed[0]
            raise FetchError(exc.status, f"week {start}..{end} failed after its month")
        bodies = [json.dumps(doc) for doc in pages]
        yield pa.RecordBatch.from_arrays(
            [pa.array(bodies, pa.string())], names=["value"]
        )


def _iso(ms: int) -> str:
    utc = datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc)
    return utc.replace(tzinfo=None).isoformat()


class UsgsGeoJsonStreamReader(SimpleDataSourceStreamReader):
    """Streaming form of the feed: ``spark.readStream.format(
    "usgs_geojson")`` — the Spark-idiomatic replacement for the
    reference's cron-driven polling loop (its C1/C3 orchestration;
    reference usgs-earthquake-data-ingest.py drives the same endpoint
    hour by hour from a scheduler).

    Offsets are event-time watermarks: ``{"end_ms": N}`` means
    everything before N has been emitted, and each micro-batch covers
    the next ``window_ms`` slice ``[end_ms, end_ms + window_ms)`` —
    so the checkpoint alone makes re-ingest idempotent and gap-free
    (the property the reference gets from its month/week windowing,
    here for free from Structured Streaming's offset log, including
    exactly-once replay via ``readBetweenOffsets``).

    The simple stream-reader API reads on the driver — the right
    trade for a rate-limited HTTP feed. A batch pages its slice with
    ``pipeline.fetch_pages``, cuts each page to the half-open slice
    with ``pipeline.cut`` (FDSN's ``endtime`` is inclusive, so batches
    would otherwise share their boundary instant) and yields one
    ``(body,)`` row: a FeatureCollection of the slice's features, for
    ``geojson_docs_to_events`` to flatten."""

    def __init__(self, options: dict):
        self.options = options
        self.window_ms = int(options.get("window_ms", 3_600_000))
        self.start_ms = int(options.get("start_ms", 0))

    def initialOffset(self) -> dict:
        return {"end_ms": self.start_ms}

    def read(self, start: dict):
        s = int(start["end_ms"])
        e = s + self.window_ms
        return iter(self._fetch(s, e)), {"end_ms": e}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(self._fetch(int(start["end_ms"]), int(end["end_ms"])))

    def _fetch(self, s_ms: int, e_ms: int) -> list[tuple[str]]:
        api_url = self.options.get("api_url", pipeline.USGS_API_URL)
        pages = pipeline.fetch_pages(api_url, _iso(s_ms), _iso(e_ms))
        features = [
            f for doc in pages for f in pipeline.cut(doc, s_ms, e_ms)["features"]
        ]
        return [(json.dumps({"type": "FeatureCollection", "features": features}),)]


class GeoJsonCommit(WriterCommitMessage):
    def __init__(self, path: str, n_features: int):
        self.path = path
        self.n_features = n_features


class UsgsGeoJsonWriter(DataSourceWriter):
    """Batch write half of the Python data-source API: each task
    serializes its partition as ONE GeoJSON FeatureCollection file
    (the reference's row→Feature path, P9/K2 — SURVEY §2.3/2.9 — as a
    first-class sink: ``df.write.format("usgs_geojson")``). Rows with
    longitude/latitude become Point features (depth as the third
    coordinate when present); all other fields land in ``properties``
    with timestamps ISO-formatted. Commit is atomic-ish: tasks write
    ``part-*.json`` named by partition + task attempt (speculative
    retries cannot collide), and the driver's commit() records the
    winning files in ``_MANIFEST.json`` — readers that honor the
    manifest never see an aborted attempt's output.

    Mode semantics (round-10 advice — overwrite previously behaved as
    append for part-file globbers): ``overwrite`` deletes, AT COMMIT,
    every pre-existing ``part-*.json`` that is not in the winning set —
    old data stays intact if the job dies mid-write, and after commit
    both manifest-honoring readers AND naive globbers see exactly the
    new data. Commit ordering (round-12 advice): the new manifest is
    published FIRST (temp file + ``os.replace``, so it is never torn),
    THEN stale parts are deleted — a crash mid-commit leaves extra
    unreferenced files, never a manifest pointing at removed ones.
    Naive globbers may therefore transiently over-read between such a
    crash and the next commit: the NEXT commit self-heals by sweeping
    every part file referenced by neither the prior manifest nor its
    own winning set before publishing (round-13).
    ``append`` MERGES the prior manifest's file list into the new one
    (name-keyed, new wins), so manifest readers keep seeing earlier
    appends instead of silently losing them."""

    def __init__(self, options: dict, overwrite: bool):
        self.path = options.get("path") or ""
        if not self.path:
            raise ValueError("usgs_geojson writer requires a path")
        self.overwrite = overwrite
        # per-JOB uniqueness token for part names (round-11 review):
        # taskAttemptId alone is only unique within one SparkContext,
        # so a second application appending to the same directory with
        # a deterministic DAG could reuse (partition, attempt) and
        # truncate a previously COMMITTED file. Drawn once on the
        # driver, serialized to every write task.
        import uuid

        self.job_token = uuid.uuid4().hex[:12]

    def write(self, iterator):
        from pyspark import TaskContext

        ctx = TaskContext.get()
        out = os.path.join(
            self.path,
            f"part-{self.job_token}-{ctx.partitionId():05d}"
            f"-{ctx.taskAttemptId()}.json",
        )
        os.makedirs(self.path, exist_ok=True)
        features = []
        for row in iterator:
            props = {}
            lon = lat = depth = None
            for name, value in row.asDict().items():
                if name == "longitude":
                    lon = value
                elif name == "latitude":
                    lat = value
                elif name == "depth":
                    depth = value
                elif hasattr(value, "isoformat"):
                    props[name] = value.isoformat()
                else:
                    props[name] = value
            feature = {"type": "Feature", "properties": props}
            if lon is not None and lat is not None:
                coords = [lon, lat] + ([depth] if depth is not None else [])
                feature["geometry"] = {"type": "Point", "coordinates": coords}
            fid = props.pop("id", None)
            if fid is not None:
                feature["id"] = fid
            features.append(feature)
        doc = {
            "type": "FeatureCollection",
            "metadata": {"count": len(features)},
            "features": features,
        }
        with open(out, "w") as fh:
            json.dump(doc, fh)
        return GeoJsonCommit(out, len(features))

    def commit(self, messages):
        new_files = {
            os.path.basename(m.path): m.n_features
            for m in messages
            if m is not None
        }
        manifest_path = os.path.join(self.path, "_MANIFEST.json")
        # Self-heal (round-12 advice): a crash in a PRIOR commit
        # between the manifest os.replace and its stale-part deletes
        # leaves orphaned part-*.json that naive globbers would read
        # as live data. Sweep any part file referenced by neither the
        # current manifest nor this job's winning set before
        # publishing — single-writer directories, so unreferenced
        # parts can only be crash/abort leftovers.
        prior: dict = {}
        if os.path.exists(manifest_path):
            try:
                with open(manifest_path) as fh:
                    prior = json.load(fh)
            except (json.JSONDecodeError, OSError):  # pragma: no cover
                prior = {}
        prior_names = set(prior.get("files", []))
        for name in os.listdir(self.path):
            if (
                name.startswith("part-")
                and name.endswith(".json")
                and name not in prior_names
                and name not in new_files
            ):
                try:  # best-effort: a failed heal must not fail the commit
                    os.remove(os.path.join(self.path, name))
                except OSError:
                    pass
        if self.overwrite:
            files = new_files
        else:
            # append: carry forward the previously committed file list
            files = {
                n: c
                for n, c in prior.get("file_counts", {}).items()
                if os.path.exists(os.path.join(self.path, n))
            }
            files.update(new_files)
        manifest = {
            "files": sorted(files),
            "file_counts": files,
            "n_features": sum(files.values()),
        }
        # commit order (round-12 advice): publish the new manifest
        # FIRST — written to a temp file and os.replace'd so readers
        # never see a torn manifest — THEN delete stale parts. A crash
        # between the two steps leaves extra unreferenced files (which
        # manifest-honoring readers ignore), never a manifest that
        # references removed files.
        tmp = f"{manifest_path}.{self.job_token}.tmp"
        with open(tmp, "w") as fh:
            json.dump(manifest, fh)
        os.replace(tmp, manifest_path)
        if self.overwrite:
            for name in os.listdir(self.path):
                if (
                    name.startswith("part-")
                    and name.endswith(".json")
                    and name not in new_files
                ):
                    os.remove(os.path.join(self.path, name))

    def abort(self, messages):  # pragma: no cover - failure path
        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class UsgsGeoJsonDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "usgs_geojson"

    def schema(self):
        return "value string"

    def reader(self, schema) -> UsgsGeoJsonReader:
        return UsgsGeoJsonReader(self.options)

    def simpleStreamReader(self, schema) -> UsgsGeoJsonStreamReader:
        return UsgsGeoJsonStreamReader(self.options)

    def writer(self, schema, overwrite: bool) -> UsgsGeoJsonWriter:
        return UsgsGeoJsonWriter(self.options, overwrite)
