"""Streaming bi5 source: tail a growing Dukascopy directory tree.

The reference is batch-only (``ReadSupport`` only, DS24:26-27); this
is the natural Structured Streaming extension (SURVEY §2 Tier C "bi5
streaming scan").  Micro-batch model:

* offset = the set of files already processed, tracked as a sorted
  list in the offset JSON (hour files are immutable once written —
  Dukascopy trees are append-only, so set-difference is exact);
* each micro-batch packs its new files with the batch source's
  ``pack_files`` (contiguous runs, one ``Bi5Partition`` per core)
  and decodes them with its ``read_files``, so dirty files follow the
  same silent-skip contract (A10);
* options: the batch source's ``path``, ``digits`` and ``january``,
  and its ``tickers``/``start``/``end`` prune (``FilePrune.files``
  lists the watch window, as in the batch planner);
* ``min.age.seconds`` (default 0), stream-only, excludes files
  modified more recently than the given age from an offset —
  protection against ingesting a file mid-write (a truncated decode
  would otherwise be final, since offsets never revisit a path).

Scale note: the offset carries file paths, so very deep histories
should bound the watch window with ``start``/``end``/``tickers``.
The per-batch work is proportional to *new* files only.
"""

from __future__ import annotations

import os
import time

from pyspark.sql.datasource import DataSourceStreamReader

from ..sources.bi5_datasource import (
    Bi5Partition,
    FilePrune,
    bi5_options,
    pack_files,
    read_files,
)

__all__ = ["Bi5StreamReader", "stream_bi5_writer"]


class Bi5StreamReader(DataSourceStreamReader):
    def __init__(self, options) -> None:
        self.path, self.digits, self.january = bi5_options(options)
        self.prune = FilePrune.from_options(options, self.january)
        self.min_age_s = float(options.get("min.age.seconds", "0"))

    def _settled(self, fpath: str) -> bool:
        """False for a file modified within ``min.age.seconds``: it may
        still be being written."""
        if self.min_age_s <= 0:
            return True
        try:
            return time.time() - os.path.getmtime(fpath) >= self.min_age_s
        except OSError:
            return False

    # offsets are {"files": [...]} — immutable-file set semantics
    def initialOffset(self) -> dict:
        return {"files": []}

    def latestOffset(self) -> dict:
        return {"files": sorted(f for f in self.prune.files(self.path) if self._settled(f))}

    def partitions(self, start: dict, end: dict):
        return pack_files(sorted(set(end["files"]) - set(start["files"])))

    def read(self, partition: Bi5Partition):
        return read_files(partition.files, self.digits, self.january)

    def commit(self, end: dict) -> None:
        pass  # offsets are self-contained; nothing to clean up

    def stop(self) -> None:
        pass


def stream_bi5_writer(stream_df, path: str, digits: int, january: int = 0):
    """foreachBatch sink writing each micro-batch into a bi5 tree —
    the ingestion loop closed: a tick stream lands in the same
    hour-file layout the batch scanner (and the reference) reads.

    Each batch routes through ``write_bi5_tree`` (one task per
    (ticker, hour) file).  Delivery is at-least-once per Structured
    Streaming's foreachBatch contract; the bi5 writer's commit-time
    collision detection turns a replayed batch that would re-emit an
    existing hour file into a loud failure instead of silent
    duplication, so batches aligned to hour boundaries are
    effectively idempotent.  Returns the DataStreamWriter (caller
    picks trigger/checkpoint and starts it).
    """
    from ..sources.bi5_writer import write_bi5_tree

    def apply(batch_df, _batch_id: int) -> None:
        if not batch_df.isEmpty():
            write_bi5_tree(batch_df, path, digits, january)

    return stream_df.writeStream.foreachBatch(apply)
