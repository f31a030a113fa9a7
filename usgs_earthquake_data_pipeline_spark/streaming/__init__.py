"""Structured Streaming: the streaming-native form of the reference's
cron-driven micro-batch loop. ``ingest`` lands bronze exactly-once
through the native file sink and keeps watermarked silver counts;
``sessionize`` is the gap sessionizer (applyInPandasWithState) with its
batch twin; ``matview`` folds micro-batches into a versioned
materialized view."""
