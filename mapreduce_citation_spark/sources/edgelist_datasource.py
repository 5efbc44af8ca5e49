"""Custom Python DataSource for the reference's edge-list text format
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

Parsing applies the reference's scan semantics (ops #1-4): trim,
drop blank lines and ``#`` comments, split on the separator, drop
rows without exactly two non-empty fields (the ``malformed="drop"``
policy of ``readers.read_edges_text``). :func:`parse_edges` applies
them to a whole block of lines at once with pyarrow compute kernels,
and both readers yield its ``pyarrow.RecordBatch``es, which pyspark
hands to the JVM as they are — no python object per row on either
side of the crossing.

Without a ``splits`` option a file is cut into as many ranges as
Spark's own file scan would cut it (``FilePartition.maxSplitBytes``:
``spark.sql.files.maxPartitionBytes``, ``openCostInBytes`` and the
session's parallelism, read when the source is registered).
"""

from __future__ import annotations

import math
import os
import re
from dataclasses import dataclass
from itertools import islice

import pyarrow as pa
import pyarrow.compute as pc
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


_EDGE_ARROW_SCHEMA = pa.schema([("from_paper", pa.string()), ("to_paper", pa.string())])

#: bytes parsed per batch: bounds a reader's memory on any range size
_BLOCK_BYTES = 4 << 20


def parse_edges(data: bytes, sep: str, comment: str, pushed=()) -> pa.RecordBatch:
    """Parse a block of whole lines into one ``(from_paper, to_paper)``
    batch: decode (invalid UTF-8 replaced), trim each line as
    ``str.strip()`` does, drop blank and ``comment`` lines, split on
    ``sep``, keep lines with exactly two non-empty fields, then apply
    the ``pushed`` ``(column index, "eq" | "prefix", value)`` filters.
    Every step is one pyarrow kernel over the whole block."""
    text = data.decode("utf-8", errors="replace")
    lines = pc.split_pattern(pa.array([text]), "\n").flatten()
    lines = pc.utf8_trim_whitespace(lines)  # the same set str.strip() trims
    lines = lines.filter(
        pc.and_(pc.not_equal(lines, ""), pc.invert(pc.starts_with(lines, comment)))
    )
    fields = pc.split_pattern(lines, sep)
    fields = fields.filter(pc.equal(pc.list_value_length(fields), 2))
    cols = [pc.list_element(fields, 0), pc.list_element(fields, 1)]
    keep = pc.and_(pc.not_equal(cols[0], ""), pc.not_equal(cols[1], ""))
    for idx, kind, val in pushed:
        hit = pc.equal(cols[idx], val) if kind == "eq" else pc.starts_with(cols[idx], val)
        keep = pc.and_(keep, hit)
    return pa.RecordBatch.from_arrays(
        [c.filter(keep) for c in cols], schema=_EDGE_ARROW_SCHEMA
    )


def _range_blocks(f, start: int, end: int):
    """Blocks of the whole lines whose FIRST byte lies in
    ``[start, end)`` (Hadoop's LineRecordReader rule): the line holding
    byte ``start - 1`` belongs to the previous range, and a line that
    starts before ``end`` is read to its end, past ``end`` if need be."""
    if start > 0:
        f.seek(start - 1)
        f.readline()  # owned by the previous range
    pos = f.tell()
    while pos < end:
        block = f.read(min(_BLOCK_BYTES, end - pos))
        if not block:
            return
        if not block.endswith(b"\n"):
            block += f.readline()  # the last line started inside the range
        pos = f.tell()
        yield block


_BYTE_UNITS = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
               "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40,
               "tb": 1 << 40, "p": 1 << 50, "pb": 1 << 50}


def _conf_bytes(value: str) -> int:
    """A Spark byte-size conf (``"134217728"``, ``"4MB"``, ``"128m"``)."""
    m = re.fullmatch(r"\s*(\d+)\s*([a-zA-Z]*)\s*", value)
    if not m or m.group(2).lower() not in _BYTE_UNITS:
        raise ValueError(f"not a byte size: {value!r}")
    return int(m.group(1)) * _BYTE_UNITS[m.group(2).lower()]


@dataclass(frozen=True)
class SplitSizing:
    """The inputs of Spark's ``FilePartition.maxSplitBytes``."""

    max_partition_bytes: int = 128 << 20
    open_cost_bytes: int = 4 << 20
    parallelism: int = os.cpu_count() or 1

    @classmethod
    def of(cls, spark) -> "SplitSizing":
        conf = spark.conf
        parallelism = (
            conf.get("spark.sql.files.minPartitionNum", None)
            or conf.get("spark.sql.leafNodeDefaultParallelism", None)
            or spark.sparkContext.defaultParallelism
        )
        return cls(
            _conf_bytes(conf.get("spark.sql.files.maxPartitionBytes")),
            _conf_bytes(conf.get("spark.sql.files.openCostInBytes")),
            int(parallelism),
        )

    def split_bytes(self, sizes: list[int]) -> int:
        """Bytes per range: the total (each file plus its open cost)
        spread over the parallelism, clamped to
        ``[open cost, max partition bytes]``."""
        total = sum(size + self.open_cost_bytes for size in sizes)
        per_core = total // max(1, self.parallelism)
        return min(self.max_partition_bytes, max(self.open_cost_bytes, per_core))


class EdgeRangePartition(InputPartition):
    def __init__(self, path: str, start: int, end: int):
        self.path = path
        self.start = start
        self.end = end


class EdgeListReader(DataSourceReader):
    def __init__(self, options: dict, sizing: SplitSizing = SplitSizing()):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("edgelist source requires a path")
        self.sep = options.get("sep", "\t")
        self.comment = options.get("comment", "#")
        # an explicit split count is exact; without one, ranges are
        # sized as Spark sizes file splits
        self.splits = int(options["splits"]) if "splits" in options else None
        self.sizing = sizing
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
        files = [(path, os.path.getsize(path)) for path in self._files()]
        split_bytes = self.sizing.split_bytes([size for _, size in files])
        for path, size in files:
            if size == 0:
                continue
            if self.splits is None:
                n = math.ceil(size / split_bytes)
            else:
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
        with open(partition.path, "rb") as f:
            for block in _range_blocks(f, partition.start, partition.end):
                batch = parse_edges(block, self.sep, self.comment, self.pushed)
                if batch.num_rows:
                    yield batch


class EdgeListDataSource(DataSource):
    #: range sizing for reads without a ``splits`` option; the class
    #: :func:`register_edgelist_source` registers carries the session's
    sizing = SplitSizing()

    @classmethod
    def name(cls) -> str:
        return "edgelist"

    def schema(self) -> str:
        return "from_paper string, to_paper string"

    def reader(self, schema) -> EdgeListReader:
        return EdgeListReader(self.options, self.sizing)

    def simpleStreamReader(self, schema):
        return EdgeListSimpleStreamReader(self.options)

    def writer(self, schema, overwrite: bool):
        return EdgeListWriter(self.options, overwrite)


def register_edgelist_source(spark) -> None:
    """Register the ``edgelist`` format on a session, enabling
    python-source filter pushdown (off by default in Spark 4.1; only
    python data sources are affected by the flag). The registered class
    carries the session's file-split settings, because the python
    workers that plan a read see no session. Registering again
    replaces the earlier class, so it picks up changed settings."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    source = type(
        EdgeListDataSource.__name__,
        (EdgeListDataSource,),
        {"sizing": SplitSizing.of(spark)},
    )
    spark.dataSource.register(source)


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
        """The batches parsed from raw lines ``[start_line,
        start_line + max_lines)``, and the line index after them."""
        with open(self.path, "rb") as f:
            lines = list(islice(f, start_line, start_line + max_lines))
        batch = parse_edges(b"".join(lines), self.sep, self.comment)
        return ([batch] if batch.num_rows else []), start_line + len(lines)

    def read(self, start: dict):
        batches, end_line = self._read_lines(start["line"], self.batch_lines)
        return iter(batches), {"line": end_line}

    def readBetweenOffsets(self, start: dict, end: dict):
        batches, _ = self._read_lines(start["line"], end["line"] - start["line"])
        return iter(batches)


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
