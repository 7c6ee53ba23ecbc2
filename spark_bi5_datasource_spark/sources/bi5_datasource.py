"""PySpark-native bi5 DataSource (Spark 4 Python DataSource API).

Re-expresses the reference connector (spark-2.4/src/main/scala/be/
salvania/BI5DataSource.scala, "DS24") Spark-first:

* same observable contract — schema (DS24:57-66), option validation
  with the exact error strings (DS24:34-47, asserted by the reference
  tests T:164-214), month-0 path convention, silent dirty-file skip;
* scale upgrades over the reference:
  - default **packed partitions**: the kept files, in listing order,
    cut into contiguous runs of equal file count, one per core of this
    host (``pack_files``).  The reference plans one per immediate
    subdirectory (DS24:70-79), which is skew-prone; one per file would pay the Python-datasource task cost
    once per hour file.  The ``partitioning=subdir`` option restores
    reference semantics for exact test parity including
    ``df.rdd.getNumPartitions`` (T:218-228);
  - **filter pushdown** via ``pushFilters`` (new in Spark 4.1): the
    path encodes ``ticker`` and the ``ts`` hour, so ticker equality/IN
    and ts range predicates prune the driver-side file list before any
    task is launched.  The reference reads every file on every query
    (no pushdown interfaces, DS24:12-17).  Filters are also left for
    Spark to re-apply, so pruning is conservative and exact.
  - **vectorized decode**: each file decodes NumPy→Arrow in one shot
    and ``read()`` yields Arrow RecordBatches, instead of the
    reference's row-at-a-time JVM iterator (DS24:150-194).

Usage::

    from spark_bi5_datasource_spark import register
    register(spark)
    df = spark.read.format("bi5").option("digits", 5).load(path)
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from datetime import datetime, timezone
from typing import Iterable, Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
)
from pyspark.sql.types import (
    DoubleType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .bi5_codec import (
    HOUR_US,
    decode_bi5_file,
    iter_bi5_files,
    parse_bi5_path,
    ticks_record_batch,
)

__all__ = ["Bi5DataSource", "BI5_SCHEMA"]

# Fixed 6-column schema, all non-nullable (DS24:57-66).
BI5_SCHEMA = StructType(
    [
        StructField("ticker", StringType(), nullable=False),
        StructField("ts", TimestampType(), nullable=False),
        StructField("ask", DoubleType(), nullable=False),
        StructField("bid", DoubleType(), nullable=False),
        StructField("ask_volume", DoubleType(), nullable=False),
        StructField("bid_volume", DoubleType(), nullable=False),
    ]
)


@dataclass
class Bi5Partition(InputPartition):
    """One scan task: the ``.bi5`` files it decodes, in order (file mode
    and streaming → one contiguous run from ``pack_files``; subdir mode →
    every kept file under one top-level entry)."""

    files: tuple[str, ...]


def _cores() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:  # no affinity API on this platform
        return os.cpu_count() or 1


def pack_files(files: Sequence[str]) -> list[Bi5Partition]:
    """Cut ``files`` into ``min(len(files), cores)`` contiguous runs whose
    file counts differ by at most one.  ``cores`` is this host's CPU
    affinity, which matches the session's task slots for a ``local[*]``
    style session; it is not Spark's ``defaultParallelism``.  Hour files
    are tens of KB, so a run's cost is its file count.  Runs keep the
    listing order, so the scan yields the same rows in the same order as
    one partition per file.  An empty list plans one empty partition, so
    ``count()`` still runs a no-op task like the reference's empty-walk
    reader."""
    if not files:
        return [Bi5Partition(())]
    n = min(len(files), _cores())
    cuts = [len(files) * k // n for k in range(n + 1)]
    return [Bi5Partition(tuple(files[a:b])) for a, b in zip(cuts, cuts[1:])]


def read_files(files: Iterable[str], digits: int, january: int) -> Iterator:
    """Decode ``files`` into Arrow RecordBatches, silently skipping the
    ones that yield no rows (A10, DS24:149-186) — the one decode loop of
    the batch and streaming readers."""
    for fpath in files:
        cols = decode_bi5_file(fpath, digits, january)
        if cols is None or len(cols["ts_us"]) == 0:
            continue
        yield ticks_record_batch(cols)


def local_path(path: str) -> str:
    """Normalize a ``file:`` URI to a plain filesystem path.

    ``spark.read.format("bi5").load(p)`` hands the reader the raw
    string, but the SQL catalog path (``CREATE TABLE ... USING bi5
    OPTIONS/LOCATION``) resolves it to a ``file:/...`` URI before the
    Python data source sees it — without this the DDL surface would
    fail the existence check on a path that exists.  Non-file schemes
    and plain paths pass through untouched."""
    if path.startswith("file:"):
        from urllib.parse import unquote, urlparse

        parsed = urlparse(path)
        return unquote(parsed.path) or path
    return path


def bi5_options(options, check_path: bool = True) -> tuple[str, int, int]:
    """Validate the options every bi5 reader and writer takes, with the
    reference's exact messages (DS24:31-50), and return ``(path, digits,
    january)``.  Readers (``check_path``) also normalize a ``file:`` URI
    and require the path to exist; the writer creates it."""
    path = options.get("path")
    if path is None:
        raise ValueError("'path' must be specified for BI5 data.")
    if check_path:
        path = local_path(path)
        if not os.path.exists(path):
            raise ValueError("Invalid path")
    digits_raw = options.get("digits")
    if digits_raw is None:
        raise ValueError("'digits' should be the digits for the currency")
    digits = int(digits_raw)
    if digits < 0:
        raise ValueError("digits cannot be smaller than 0")
    january = int(options.get("january", "0"))
    if january < 0 or january > 1:
        raise ValueError("january can only be 0 or 1")
    return path, digits, january


def _instant_us(value: str | datetime | int | None) -> int | None:
    """An instant in epoch microseconds: an ISO-8601 string or a
    ``datetime`` (naive means UTC), or an int already in microseconds.
    ``None`` and the empty string mean unbounded."""
    if value is None or value == "":
        return None
    if isinstance(value, str):
        value = datetime.fromisoformat(value)
    if isinstance(value, datetime):
        if value.tzinfo is None:
            value = value.replace(tzinfo=timezone.utc)
        return int(value.timestamp() * 1_000_000)
    return int(value)


@dataclass(frozen=True)
class FilePrune:
    """Driver-side file pruning on path metadata: a file survives when
    its ticker is in ``tickers`` and its hour overlaps the inclusive
    ``[start_us, end_us]`` window (None = unbounded).  Unparseable paths
    are kept so the executor-side silent-skip policy stays the single
    authority on dirty files."""

    january: int
    tickers: set[str] | None = None
    start_us: int | None = None
    end_us: int | None = None

    @classmethod
    def from_options(cls, options, january: int) -> FilePrune:
        """The ``tickers`` (comma-separated), ``start`` and ``end`` (ISO
        instants) options.  A malformed instant raises here, when the
        reader is built, not while files are listed."""
        tickers = {t.strip() for t in options.get("tickers", "").split(",") if t.strip()}
        return cls(january).narrow(tickers or None, options.get("start"), options.get("end"))

    def narrow(
        self,
        tickers: Iterable[str] | None = None,
        start: str | datetime | int | None = None,
        end: str | datetime | int | None = None,
    ) -> FilePrune:
        """This prune restricted further: ``tickers`` intersect with the
        kept set, the later ``start`` and the earlier ``end`` bound win."""
        if tickers is not None:
            tickers = set(tickers) if self.tickers is None else self.tickers & set(tickers)
        starts = [u for u in (self.start_us, _instant_us(start)) if u is not None]
        ends = [u for u in (self.end_us, _instant_us(end)) if u is not None]
        return FilePrune(
            self.january,
            self.tickers if tickers is None else tickers,
            max(starts, default=None),
            min(ends, default=None),
        )

    def keep(self, fpath: str) -> bool:
        try:
            meta = parse_bi5_path(fpath, self.january)
        except ValueError:
            return True
        if self.tickers is not None and meta.ticker not in self.tickers:
            return False
        if self.start_us is not None and meta.hour_epoch_us + HOUR_US <= self.start_us:
            return False
        if self.end_us is not None and meta.hour_epoch_us > self.end_us:
            return False
        return True

    def files(self, root: str) -> list[str]:
        """The ``.bi5`` files under ``root`` that this prune keeps."""
        return [f for f in iter_bi5_files(root) if self.keep(f)]


class Bi5Reader(DataSourceReader):
    def __init__(self, options) -> None:
        # Mirrors createReader validation incl. exact messages (DS24:31-50).
        self.path, self.digits, self.january = bi5_options(options)
        partitioning = options.get("partitioning", "file")
        if partitioning not in ("file", "subdir"):
            raise ValueError("partitioning must be 'file' or 'subdir'")
        self.partitioning = partitioning
        # The tickers/start/end options; pushFilters narrows it further.
        self.prune = FilePrune.from_options(options, self.january)

    # -- filter pushdown (Spark 4.1) ----------------------------------
    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Prune the file list from ticker/ts predicates.

        The path encodes ticker and the file's hour, so these predicates
        translate to file-list pruning (hour granularity for ts — kept
        conservative).  All filters are returned for Spark to re-apply,
        so correctness never depends on the pruning.
        """
        for f in filters:
            try:
                if isinstance(f, EqualTo) and f.attribute == ("ticker",):
                    self.prune = self.prune.narrow(tickers={f.value})
                elif isinstance(f, In) and f.attribute == ("ticker",):
                    # In's dataclass field is `value` (a tuple of literals)
                    self.prune = self.prune.narrow(tickers=f.value)
                elif isinstance(f, (GreaterThan, GreaterThanOrEqual)) and f.attribute == ("ts",):
                    self.prune = self.prune.narrow(start=f.value)
                elif isinstance(f, (LessThan, LessThanOrEqual)) and f.attribute == ("ts",):
                    self.prune = self.prune.narrow(end=f.value)
            except Exception:
                pass  # never let pruning break planning
        return iter(filters)  # Spark re-applies everything (exact semantics)

    # -- planning ------------------------------------------------------
    def partitions(self) -> Sequence[Bi5Partition]:
        if self.partitioning == "subdir" and os.path.isdir(self.path):
            # Reference parity (DS24:68-79): one partition per immediate
            # directory entry, even one with no kept file.  A single-file
            # path or an empty directory plans as in file mode.
            entries = sorted(os.listdir(self.path))
            if entries:
                return [
                    Bi5Partition(tuple(self.prune.files(os.path.join(self.path, e))))
                    for e in entries
                ]
        return pack_files(self.prune.files(self.path))

    # -- execution -----------------------------------------------------
    def read(self, partition: Bi5Partition):
        return read_files(partition.files, self.digits, self.january)


class Bi5DataSource(DataSource):
    """``spark.read.format("bi5")`` — Dukascopy tick files.

    Options: ``digits`` (required, int ≥ 0), ``january`` (0/1, default
    0), ``partitioning`` (``file``, the default: the kept files packed
    into contiguous runs of equal file count, one per core of this host; ``subdir``: one
    per top-level directory entry, as the reference),
    and the driver-side prune options ``tickers`` (comma-separated),
    ``start`` and ``end`` (inclusive ISO-8601 instants, naive = UTC),
    which both partitionings honor and pushed filters narrow further.
    ``readStream`` also takes ``min.age.seconds`` (see bi5_stream).
    """

    @classmethod
    def name(cls) -> str:
        return "bi5"  # DS24:29

    def schema(self) -> StructType:
        return BI5_SCHEMA

    def reader(self, schema: StructType) -> Bi5Reader:
        return Bi5Reader(self.options)

    def writer(self, schema: StructType, overwrite: bool):
        """``df.write.format("bi5")`` — regenerate tick archives
        (extension beyond the read-only reference; see bi5_writer)."""
        from .bi5_writer import Bi5Writer

        return Bi5Writer(self.options)

    def streamReader(self, schema: StructType):
        """``spark.readStream.format("bi5")`` — tail a growing tree
        (streaming extension; the reference is batch-only, DS24:26)."""
        from ..streaming.bi5_stream import Bi5StreamReader

        return Bi5StreamReader(self.options)
