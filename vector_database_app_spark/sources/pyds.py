"""Custom Spark 4 Python Data Sources (`pyspark.sql.datasource`).

The reference's source surface is filesystem scans wired by hand
(`rag_search/vector_db.py` directory walks + per-file parsers); Spark's
native equivalent is `spark.read.format(...)`. These classes extend that
surface where no built-in format exists:

- ``synthetic_docs`` (batch): a deterministic arithmetic document
  generator. Scale testing without storage — 10^12 rows is just a bigger
  `rows` option; each partition generates its contiguous id slice
  independently, so the scan parallelizes like a parquet read but costs
  zero I/O. Generation is pure integer arithmetic (Knuth multiplicative
  hashing), NOT a PRNG, precisely so a SQL oracle can reproduce every row.

- ``events_replay`` (streaming): replays a parquet events table in
  timestamp order as micro-batches with real offset semantics
  (offset = row index into the ts-sorted order; `partitions(start, end)`
  splits each batch range so executors read slices in parallel).
  This is the Structured Streaming contract — resuming from a checkpoint
  replays exactly the uncommitted range, so downstream exactly-once sinks
  (streaming/windows.py) compose with it.

- ``jsonl_commit`` (streaming sink): exactly-once JSONL output via a
  two-phase commit (executor temp files → driver rename + batch marker;
  replayed batches are detected by marker and dropped). Paired with
  ``events_replay`` this is a complete Python-DataSource streaming
  pipeline with end-to-end exactly-once semantics.

Register per session: ``spark.dataSource.register(SyntheticDocsDataSource)``
then ``spark.read.format("synthetic_docs").option("rows", n).load()``.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    InputPartition,
    WriterCommitMessage,
)

# Knuth's multiplicative hash constant (2^32 / phi) — fixed-point scramble
# of the doc id into pseudo-random but SQL-reproducible attributes.
_KNUTH = 2654435761
_M32 = 1 << 32

_LANGS = ("en", "fr", "es", "de")
_WORDS = (
    "data", "spark", "vector", "index", "query", "batch",
    "stream", "token", "model", "shard",
)


def _mix(doc_id: int, salt: int) -> int:
    return ((doc_id + salt) * _KNUTH) % _M32


def synth_row(doc_id: int) -> tuple[int, str, str, float, int]:
    """One synthetic document, fully determined by its id. Every field has
    a closed-form SQL twin (see oracles ORACLE['pyds_synthetic_docs'])."""
    n_words = 3 + _mix(doc_id, 1) % 8
    words = [_WORDS[_mix(doc_id, 2 + i) % len(_WORDS)] for i in range(n_words)]
    lang = _LANGS[_mix(doc_id, 0) % len(_LANGS)]
    quality = (_mix(doc_id, 3) % 1000) / 1000.0
    return doc_id, " ".join(words), lang, quality, n_words


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int) -> None:
        self.start = start
        self.end = end


class _SyntheticDocsReader(DataSourceReader):
    def __init__(self, options: dict) -> None:
        self.rows = int(options.get("rows", 1000))
        self.num_partitions = int(options.get("partitions", 8))

    def partitions(self) -> Sequence[InputPartition]:
        per = -(-self.rows // self.num_partitions)  # ceil
        return [
            _RangePartition(lo, min(lo + per, self.rows))
            for lo in range(0, self.rows, per)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        for doc_id in range(partition.start, partition.end):
            yield synth_row(doc_id)


class SyntheticDocsDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "synthetic_docs"

    def schema(self) -> str:
        return (
            "doc_id bigint, text string, lang string, "
            "quality double, n_words bigint"
        )

    def reader(self, schema) -> DataSourceReader:
        return _SyntheticDocsReader(self.options)


# ---------------------------------------------------------------------------
# Streaming replay of a parquet events table
# ---------------------------------------------------------------------------


def _sorted_events(path: str) -> list[tuple]:
    """The replay order: events ts-sorted (event_id tie-break), timestamps
    normalized to microsecond longs whatever the stored unit — the driver
    has shipped both TIMESTAMP(NANOS) and TIMESTAMP(MICROS) generations
    (see sources/catalog.py)."""
    import pyarrow.parquet as pq

    t = pq.read_table(path, columns=["event_id", "user_id", "event_type", "ts"])
    # go through the raw int64 view of ts: to_pylist() would hand back
    # datetimes truncated to microseconds, losing the exact sort order
    unit = t["ts"].type.unit  # 'ns' | 'us' | 'ms' | 's'
    to_us = {"ns": lambda v: v // 1000, "us": lambda v: v,
             "ms": lambda v: v * 1000, "s": lambda v: v * 1_000_000}[unit]
    raw = t["ts"].cast("int64").to_pylist()
    rows = [
        (int(e), int(u), str(k), to_us(int(ns)))
        for e, u, k, ns in zip(
            t["event_id"].to_pylist(),
            t["user_id"].to_pylist(),
            t["event_type"].to_pylist(),
            raw,
        )
    ]
    rows.sort(key=lambda r: (r[3], r[0]))
    return rows


class _ReplayStreamReader(DataSourceStreamReader):
    """Offset = count of rows already emitted from the ts-sorted table.
    Each `latestOffset` call advances by `rate` rows (one micro-batch);
    `partitions(start, end)` slices the range for parallel executor reads.
    Deterministic: any (start, end) range always yields the same rows, the
    recovery contract checkpoint resume depends on.

    Restart caveat for paced mode: `_emitted` is reader-local, so after a
    checkpoint restart the first trigger's latestOffset can land at or
    below the committed offset — one empty trigger, then pacing resumes.
    Harmless under processingTime; use unpaced (no `rate`) replay with
    Trigger.AvailableNow for full drains."""

    def __init__(self, options: dict) -> None:
        self.path = options["path"]
        # rate unset -> each latestOffset exposes the whole table (what
        # Trigger.AvailableNow expects: it snapshots latestOffset ONCE and
        # drains to it). rate=N -> N rows per micro-batch: paced replay for
        # processingTime triggers, or incremental drain across successive
        # availableNow runs sharing a checkpoint.
        self.rate = int(options["rate"]) if "rate" in options else None
        self.chunk = int(options.get("chunk", 250))
        self._rows: list[tuple] | None = None
        self._emitted = 0

    def _table(self) -> list[tuple]:
        if self._rows is None:
            self._rows = _sorted_events(self.path)
        return self._rows

    def initialOffset(self) -> dict:
        return {"idx": 0}

    def latestOffset(self) -> dict:
        total = len(self._table())
        if self.rate is None:
            return {"idx": total}
        self._emitted = min(self._emitted + self.rate, total)
        return {"idx": self._emitted}

    def partitions(self, start: dict, end: dict) -> Sequence[InputPartition]:
        lo, hi = start["idx"], end["idx"]
        if hi <= lo:
            return [_RangePartition(lo, lo)]
        return [
            _RangePartition(a, min(a + self.chunk, hi))
            for a in range(lo, hi, self.chunk)
        ]

    def read(self, partition: _RangePartition) -> Iterator[tuple]:
        yield from self._table()[partition.start : partition.end]

    def commit(self, end: dict) -> None:
        pass  # source is a static file; nothing to garbage-collect


class EventsReplayDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "events_replay"

    def schema(self) -> str:
        return "event_id bigint, user_id bigint, event_type string, ts_us bigint"

    def streamReader(self, schema) -> DataSourceStreamReader:
        return _ReplayStreamReader(self.options)


def register_python_sources(spark) -> None:
    spark.dataSource.register(SyntheticDocsDataSource)
    spark.dataSource.register(EventsReplayDataSource)
    spark.dataSource.register(JsonlCommitDataSource)


# ---------------------------------------------------------------------------
# Streaming sink: exactly-once JSONL with a two-phase commit protocol
# ---------------------------------------------------------------------------


class _FileCommit(WriterCommitMessage):
    def __init__(self, path: str, rows: int) -> None:
        self.path = path
        self.rows = rows


class _JsonlCommitWriter(DataSourceStreamWriter):
    """Executors write each partition to a uniquely-named temp file and
    report it; the driver's commit() atomically renames the batch's files
    into place and drops a `_commits/<batchId>` marker. A replayed batch
    (marker already present — failure happened after commit, before the
    checkpoint advanced) discards its temp files instead of renaming:
    exactly-once output without a transactional store, the same recipe as
    streaming/windows.run_stream_to_parquet but expressed through the
    Python DataSource write contract.

    CONSTRAINT: the driver-side commit() renames files the EXECUTORS
    wrote, so `path` must be one filesystem visible to driver and all
    executors — local mode, NFS/shared volume, or a rename-capable DFS
    client (a fuse/NFS mount). On object stores (S3/GCS) there is no
    atomic rename: stage to the store via multipart upload and commit by
    manifest (what Delta/Iceberg's commit protocols do) instead of this
    two-phase file rename."""

    def __init__(self, options: dict) -> None:
        self.path = options["path"]

    def write(self, iterator) -> _FileCommit:
        import json
        import os
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"_tmp-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict()) + "\n")
                n += 1
        return _FileCommit(tmp, n)

    def _marker(self, batch_id: int) -> str:
        import os

        return os.path.join(self.path, "_commits", str(batch_id))

    def commit(self, messages, batchId: int) -> None:
        import os

        marker = self._marker(batchId)
        if os.path.exists(marker):  # replayed batch: already committed
            self.abort(messages, batchId)
            return
        os.makedirs(os.path.dirname(marker), exist_ok=True)
        total = 0
        for i, m in enumerate(messages):
            if m is None or m.rows == 0:
                if m is not None:
                    os.remove(m.path)
                continue
            final = os.path.join(
                self.path, f"batch-{batchId:05d}-part-{i:04d}.jsonl"
            )
            os.replace(m.path, final)
            total += m.rows
        with open(marker, "w") as f:
            f.write(str(total))

    def abort(self, messages, batchId: int) -> None:
        import os

        for m in messages:
            if m is not None and os.path.exists(m.path):
                os.remove(m.path)


class JsonlCommitDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "jsonl_commit"

    def streamWriter(self, schema, overwrite: bool) -> DataSourceStreamWriter:
        return _JsonlCommitWriter(self.options)
