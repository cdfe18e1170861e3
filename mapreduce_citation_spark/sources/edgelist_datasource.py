r"""Custom Python DataSource for the reference's edge-list text format
(pyspark 4 ``pyspark.sql.datasource`` API).

This makes SURVEY.md §2 op #5 — INPUT RANGE PARTITIONING, the piece
the reference's master hand-schedules (``master/master.py:91-127``
assigns byte ranges to mappers) — explicit on Spark's public
connector API instead of relying on the built-in FileScan: the
reader splits each file into byte ranges at plan time and each task
reads exactly the lines whose FIRST byte falls inside its range
(Hadoop's LineRecordReader rule: seek to ``start-1``, discard the
line containing that byte, then read lines while the line's first
byte is before ``end`` — the final line may extend past ``end``; no
line is lost or duplicated whatever the boundaries cut through;
property-tested across adversarial split layouts in
``tests/test_sources_sinks.py``).

Parsing applies the reference's scan semantics (ops #1-4) as
``readers.read_edges_text`` (``malformed="drop"``) does, in one
``_parse_edge_line`` shared by the batch and stream readers: drop the
line terminator, trim spaces (only spaces, as Spark's ``trim``), drop
blank lines and ``#`` comments, split on the separator, drop rows
without exactly two non-empty fields. The two readers agree on
LF and CRLF files. Known difference: Spark's text scan also ends a
line at a bare ``\r`` mid-file, while this connector splits lines on
``\n`` only, so ``a\tb\rc\td\n`` is two rows from ``read_edges_text``
and none (a malformed three-field line) here.
"""

from __future__ import annotations

import os

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    InputPartition,
    SimpleDataSourceStreamReader,
    StringStartsWith,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from .readers import EDGE_SCHEMA


class EdgeRangePartition(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class EdgeListReader(DataSourceReader):
    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("edgelist source requires a path")
        self.sep = options.get("sep", "\t")
        self.comment = options.get("comment", "#")
        self.splits = int(options.get("splits", "8"))
        self.pushed = []  # (col_idx, kind, value) applied during scan

    def pushFilters(self, filters):
        """FILTER PUSHDOWN into the connector: EqualTo and
        StringStartsWith on either edge column evaluate inside the
        scan loop, so pruned rows never cross the python↔JVM Arrow
        boundary — the connector-level form of the predicate-pushdown
        requirement the repo pins for parquet/ORC scans. Pushed
        filters are still returned-as-handled ONLY when fully
        evaluable per-row here (AND semantics); anything else stays
        with Spark."""
        cols = {("from_paper",): 0, ("to_paper",): 1}
        for f in filters:
            if isinstance(f, EqualTo) and f.attribute in cols and isinstance(
                f.value, str
            ):
                self.pushed.append((cols[f.attribute], "eq", f.value))
            elif isinstance(f, StringStartsWith) and f.attribute in cols:
                self.pushed.append((cols[f.attribute], "prefix", f.value))
            else:
                yield f

    def _keep(self, row) -> bool:
        for idx, kind, val in self.pushed:
            v = row[idx]
            if kind == "eq" and v != val:
                return False
            if kind == "prefix" and not v.startswith(val):
                return False
        return True

    def _files(self) -> list[str]:
        if os.path.isdir(self.path):
            return sorted(
                os.path.join(self.path, f)
                for f in os.listdir(self.path)
                if not f.startswith((".", "_"))
            )
        return [self.path]

    def partitions(self):
        parts = []
        for path in self._files():
            size = os.path.getsize(path)
            if size == 0:
                continue
            n = min(self.splits, size)
            step = size // n
            bounds = [i * step for i in range(n)] + [size]
            parts.extend(
                EdgeRangePartition(path, bounds[i], bounds[i + 1])
                for i in range(n)
            )
        if parts:
            return parts
        # all-empty (or no) files: the DataSource API needs ≥1
        # partition (an empty list makes Spark hand read() a None),
        # so emit one zero-range sentinel; an empty staging dir must
        # read as zero rows, not IndexError
        files = self._files()
        return [EdgeRangePartition(files[0] if files else None, 0, 0)]

    def read(self, partition: EdgeRangePartition):
        if partition.path is None:  # empty-directory sentinel
            return
        sep, comment = self.sep, self.comment
        with open(partition.path, "rb") as f:
            if partition.start > 0:
                f.seek(partition.start - 1)
                f.readline()  # owned by the previous range
            while True:
                pos = f.tell()
                if pos >= partition.end:
                    break
                raw = f.readline()
                if not raw:
                    break
                row = _parse_edge_line(raw, sep, comment)
                if row is not None and self._keep(row):
                    yield row


class EdgeListDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "edgelist"

    def schema(self) -> StructType:
        return EDGE_SCHEMA

    def reader(self, schema) -> EdgeListReader:
        return EdgeListReader(self.options)

    def simpleStreamReader(self, schema):
        return EdgeListSimpleStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        return EdgeListWriter(self.options, overwrite)


def register_edgelist_source(spark) -> None:
    """Idempotently register the ``edgelist`` format on a session,
    enabling python-source filter pushdown (off by default in Spark
    4.1; only python data sources are affected by the flag)."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    try:
        spark.dataSource.register(EdgeListDataSource)
    except Exception as e:  # already registered in this session
        if "already" not in str(e).lower():
            raise


def _parse_edge_line(raw: bytes, sep: str, comment: str):
    r"""(from_paper, to_paper) of one raw line, or None for a blank,
    comment or malformed line (``malformed="drop"``, reference
    mapper.py:74-80). Lines are split on ``\n`` by the callers; the
    ``\n`` or ``\r\n`` terminator is dropped here, and, as Spark's
    ``trim``, only spaces are trimmed, so a tab or vertical tab at
    either end stays part of the line. A bare ``\r`` inside a line is
    kept (Spark's text scan would end the line there; see the module
    docstring)."""
    line = raw.decode("utf-8", errors="replace")
    line = line.removesuffix("\n").removesuffix("\r").strip(" ")
    if not line or line.startswith(comment):
        return None
    fields = line.split(sep)
    if len(fields) != 2 or not fields[0] or not fields[1]:
        return None
    return (fields[0], fields[1])


class EdgeListSimpleStreamReader(SimpleDataSourceStreamReader):
    """Custom STREAMING source over the same format: the offset is a
    raw line index into the (append-only) file, so micro-batch
    boundaries are deterministic and ``readBetweenOffsets`` replays
    any committed batch bit-identically after a restart — the
    exactly-once contract Spark requires of a streaming source.
    Comments/malformed rows still count toward the offset (they are
    positions, not rows), so filtering cannot shift replay
    boundaries."""

    def __init__(self, options: dict):
        self.path = options.get("path")
        if not self.path or os.path.isdir(self.path):
            raise ValueError("edgelist stream requires a single file path")
        self.sep = options.get("sep", "\t")
        self.comment = options.get("comment", "#")
        self.batch_lines = int(options.get("batchLines", "4000"))

    def initialOffset(self) -> dict:
        return {"line": 0}

    def _read_lines(self, start_line: int, max_lines: int):
        rows, n = [], 0
        with open(self.path, "rb") as f:
            for i, raw in enumerate(f):
                if i < start_line:
                    continue
                if n >= max_lines:
                    break
                n += 1
                parsed = _parse_edge_line(raw, self.sep, self.comment)
                if parsed is not None:
                    rows.append(parsed)
        return rows, start_line + n

    def read(self, start: dict):
        rows, end_line = self._read_lines(start["line"], self.batch_lines)
        return iter(rows), {"line": end_line}

    def readBetweenOffsets(self, start: dict, end: dict):
        rows, _ = self._read_lines(start["line"], end["line"] - start["line"])
        return iter(rows)


@dataclass
class EdgeListCommitMessage(WriterCommitMessage):
    tmp_path: str


class EdgeListWriter(DataSourceWriter):
    """Custom SINK with the standard two-phase commit: each task
    writes its rows to a uniquely-named temp file (attempt-private —
    a failed/speculative attempt leaves only garbage temp files,
    never partial visible output), and the driver-side ``commit``
    renames every temp file into place atomically-enough for a
    directory listing; ``abort`` removes the temps. Overwrite clears
    prior committed parts at commit time, after the new parts are
    complete."""

    def __init__(self, options: dict, overwrite: bool):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("edgelist sink requires a path")
        self.sep = options.get("sep", "\t")
        self.overwrite = overwrite

    def write(self, iterator):
        import uuid

        os.makedirs(self.path, exist_ok=True)
        tmp = os.path.join(self.path, f"_tmp_{uuid.uuid4().hex}")
        with open(tmp, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(f"{row[0]}{self.sep}{row[1]}\n")
        return EdgeListCommitMessage(tmp_path=tmp)

    def commit(self, messages):
        import uuid

        # a per-commit token keeps names unique across commits, so
        # append never collides with earlier parts and overwrite can
        # safely delete exactly the pre-existing ones
        token = uuid.uuid4().hex[:8]
        old = [
            f for f in os.listdir(self.path)
            if f.startswith("part-") and self.overwrite
        ]
        for i, m in enumerate(messages):
            os.rename(
                m.tmp_path,
                os.path.join(self.path, f"part-{token}-{i:05d}.txt"),
            )
        for f in old:
            os.remove(os.path.join(self.path, f))

    def abort(self, messages):
        for m in messages:
            if m is not None and os.path.exists(m.tmp_path):
                os.remove(m.tmp_path)
