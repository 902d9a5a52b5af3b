"""Trigger.AvailableNow over landed event and document chunks.

One pass runs three streaming surfaces, each from a fresh checkpoint. For
each surface the seeded inputs land one parquet chunk at a time, and an
AvailableNow invocation drains each chunk (one file per micro-batch):

  change_detect  foreach_batch_change_detect — the paper's snapshot-diff
                 state machine, keyed on (doc_id, source)
  windowed_agg   1-hour tumbling windows per event type, watermarked
  stream_dedup   dropDuplicatesWithinWatermark on the md5 content key

Landing and the output checks are outside the timed region.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.dedup import (
    content_keyed,
    dedup_stream,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.ingest import (
    foreach_batch_change_detect,
    foreach_batch_pipeline,
    run_available_now,
)
from real_time_weather_data_pipeline_for_philippine_cities_spark.streaming.windows import (
    windowed_observation_stats,
)

from . import gen
from .common import PassStats, add, fingerprint_of
from .tracing import tree_cpu_s

EVENTS_SCHEMA = "event_id long, ts timestamp, user_id long, event_type string, value double"
DOCS_SCHEMA = "doc_id long, text string, lang string, source string, ingest_ts timestamp"
SURFACES = ("change_detect", "windowed_agg", "stream_dedup")
_AWAIT_S = 150


def _identity(df):
    return df


class StreamWorkload:
    """``n_events`` events and ``n_docs`` documents in ``n_chunks`` chunks."""

    def __init__(self, spark, seed: int, n_events: int, n_docs: int, n_chunks: int, work: str):
        self.spark = spark
        self.seed = seed
        self.n_events = n_events
        self.n_docs = n_docs
        self.n_chunks = n_chunks
        self.work = work

    # -- one pass -------------------------------------------------------------
    def run_pass(self, tracer, salt: int) -> PassStats:
        """Per surface, one AvailableNow invocation per chunk: chunk i lands,
        then invocation i drains it from the surface's checkpoint — the
        streaming twin of one scheduled run."""
        spark = self.spark
        base = os.path.join(self.work, f"pass{salt}")
        shutil.rmtree(base, ignore_errors=True)
        data = gen.stream_inputs(self.seed + salt, self.n_events, self.n_docs, self.n_chunks)
        stats = PassStats()
        for surface in SURFACES:
            out = os.path.join(base, surface)
            ev_dir, doc_dir = os.path.join(out, "events"), os.path.join(out, "documents")
            stats.attempted += 1
            try:
                for i in range(self.n_chunks):
                    _land(ev_dir, i, data.events, data.event_chunks, _EVENTS_ARROW)
                    _land(doc_dir, i, data.documents, data.doc_chunks, _DOCS_ARROW)
                    self._invoke(tracer, surface, f"pass{salt}-{surface}-{i}", ev_dir, doc_dir,
                                 out, i == 0, stats)
            except Exception as exc:  # a failed surface is counted, not fatal
                print(f"[perfbench] pass{salt}-{surface} raised: {exc!r}", file=sys.stderr)
                stats.failed += 1
                continue
            t_check = time.perf_counter()
            problems = _CHECKS[surface](spark, data, ev_dir, out)
            stats.checks_s += time.perf_counter() - t_check
            if problems:
                print(f"[perfbench] pass{salt}-{surface} wrong: {'; '.join(problems)}",
                      file=sys.stderr)
                stats.failed += 1
        stats.rows = len(data.events) + 2 * len(data.documents)
        return stats

    def _invoke(self, tracer, surface, run_id, ev_dir, doc_dir, out, first, stats) -> None:
        cpu0 = tree_cpu_s(os.getpid())
        with tracer.span(f"streaming.{surface}", "streaming", run_id) as sp:
            with tracer.span("plans.build", "plans", run_id):
                start = _BUILDERS[surface](self.spark, ev_dir, doc_dir, out)
            query = start()
            query.awaitTermination(_AWAIT_S)
            if query.isActive:
                query.stop()
                raise TimeoutError(f"{run_id} did not drain in {_AWAIT_S} s")
            if query.exception() is not None:
                raise RuntimeError(str(query.exception()))
        stats.record(first, sp.seconds, tree_cpu_s(os.getpid()) - cpu0)
        sp.groups.append(str(query.runId))  # Spark's job group for micro-batch jobs
        add(stats.layers, f"streaming.{surface}.s", sp.seconds)
        _progress(query, stats.layers)


# -- landing --------------------------------------------------------------------

_TS = pa.timestamp("us", tz="UTC")
_EVENTS_ARROW = pa.schema(
    [("event_id", pa.int64()), ("ts", _TS), ("user_id", pa.int64()),
     ("event_type", pa.string()), ("value", pa.float64())]
)
_DOCS_ARROW = pa.schema(
    [("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
     ("source", pa.string()), ("ingest_ts", _TS)]
)


def _land(path: str, i: int, rows: list[tuple], bounds: list[int], schema: pa.Schema) -> None:
    """Chunk ``i`` as one parquet file, written aside and renamed in, as a
    landing job would."""
    os.makedirs(path, exist_ok=True)
    part = rows[bounds[i]:bounds[i + 1]]
    cols = list(zip(*part)) if part else [[] for _ in schema]
    table = pa.Table.from_arrays([pa.array(c, type=f.type) for c, f in zip(cols, schema)],
                                 schema=schema)
    tmp = os.path.join(os.path.dirname(path), f".landing-{os.path.basename(path)}")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, f"chunk-{i:05d}.parquet"))


# -- surfaces: each returns a thunk that starts its query -----------------------


def _reader(spark, path: str, schema: str):
    return spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)


def _update_query(df, out: str):
    sink = foreach_batch_pipeline(_identity, os.path.join(out, "sink"))
    writer = (
        df.writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(out, "checkpoint"))
        .trigger(availableNow=True)
    )
    return writer.start


def _change_detect(spark, ev_dir, doc_dir, out):
    stream = _reader(spark, doc_dir, DOCS_SCHEMA)
    epoch = foreach_batch_change_detect(
        spark, ("doc_id", "source"), os.path.join(out, "snapshot"), os.path.join(out, "sink")
    )
    return lambda: run_available_now(stream, epoch, os.path.join(out, "checkpoint"))


def _windowed_agg(spark, ev_dir, doc_dir, out):
    stream = _reader(spark, ev_dir, EVENTS_SCHEMA).withWatermark("ts", "1 hour")
    agg = windowed_observation_stats(stream, "1 hour", event_time_col="ts", key_cols=("event_type",))
    return _update_query(agg, out)


def _stream_dedup(spark, ev_dir, doc_dir, out):
    stream = content_keyed(_reader(spark, doc_dir, DOCS_SCHEMA))
    deduped = dedup_stream(stream, ("content_hash",), "ingest_ts", delay="1 hour")
    sink = foreach_batch_pipeline(_identity, os.path.join(out, "sink"))
    return lambda: run_available_now(deduped, sink, os.path.join(out, "checkpoint"))


_BUILDERS = {
    "change_detect": _change_detect,
    "windowed_agg": _windowed_agg,
    "stream_dedup": _stream_dedup,
}


# -- progress -------------------------------------------------------------------


def _progress(query, lay: dict) -> None:
    """Per-layer streaming counters from StreamingQueryProgress."""
    for p in query.recentProgress:
        p = json.loads(p.json) if hasattr(p, "json") else p
        d = p.get("durationMs") or {}
        add(lay, "streaming.add_batch_s", d.get("addBatch", 0) / 1e3)
        add(lay, "streaming.commit_s", (d.get("walCommit", 0) + d.get("commitOffsets", 0)) / 1e3)
        add(lay, "streaming.planning_s", d.get("queryPlanning", 0) / 1e3)
        for so in p.get("stateOperators") or []:
            lay["streaming.state_rows_max"] = max(
                lay.get("streaming.state_rows_max", 0), int(so.get("numRowsTotal", 0))
            )
            lay["streaming.state_mem_bytes_max"] = max(
                lay.get("streaming.state_mem_bytes_max", 0), int(so.get("memoryUsedBytes", 0))
            )
            add(lay, "streaming.state_commit_s", so.get("commitTimeMs", 0) / 1e3)
        if p.get("numInputRows"):  # no-data batches only advance the watermark
            add(lay, "streaming.epochs", 1)


# -- checks (outside the timed region) ------------------------------------------


def _check_change_detect(spark, data: gen.StreamInputs, ev_dir, out) -> list[str]:
    keys = {(d[0], d[3]) for d in data.documents}
    want = (len(keys), sum(gen.fingerprint(k) for k in keys))
    got = fingerprint_of(spark.read.parquet(os.path.join(out, "sink")), ["doc_id", "source"])
    return [] if got == want else [f"novel keys {got} != {want}"]


def _check_windowed(spark, data, ev_dir, out) -> list[str]:
    """The last emitted row of every (window, type) equals the batch twin
    over the same landed files: counts, min and max exactly, the rounded
    average within one rounding step (the stream adds partial sums in
    another order, which can move the last bit before rounding)."""
    latest: dict = {}
    for r in spark.read.parquet(os.path.join(out, "sink")).collect():
        k = (r.window_start, r.event_type)
        if k not in latest or r.epoch_id > latest[k].epoch_id:
            latest[k] = r
    batch = windowed_observation_stats(
        spark.read.parquet(ev_dir), "1 hour", event_time_col="ts", key_cols=("event_type",)
    ).collect()
    problems = [] if len(batch) == len(latest) else [f"{len(latest)} windows != {len(batch)}"]
    for b in batch:
        s = latest.get((b.window_start, b.event_type))
        if s is None or (s.n_obs, s.min_value, s.max_value) != (b.n_obs, b.min_value, b.max_value) \
                or abs(s.avg_value - b.avg_value) > 0.011:
            problems.append(f"window {b.window_start} {b.event_type}: {s} != {b}")
            break
    return problems


def _check_dedup(spark, data, ev_dir, out) -> list[str]:
    texts = {d[1] for d in data.documents}
    want = (len(texts), sum(gen.fingerprint((gen.md5_hex(t),)) for t in texts))
    got = fingerprint_of(spark.read.parquet(os.path.join(out, "sink")), ["content_hash"])
    return [] if got == want else [f"distinct contents {got} != {want}"]


_CHECKS = {
    "change_detect": _check_change_detect,
    "windowed_agg": _check_windowed,
    "stream_dedup": _check_dedup,
}
