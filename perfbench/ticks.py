"""The ``ticks_rw`` workload: a dense hourly bi5 archive, read and written.

One round runs, one after another on one driver thread:

* ``scan``: the whole archive to the ``noop`` sink, checked through an
  ``Observation`` of exact integer checksums;
* ``bars``: 1-minute ``ohlc_bars`` per ticker over the whole archive,
  collected and compared bar by bar;
* ``write``: ``write_bi5_tree`` of a one-day slice read from a parquet
  snapshot made in set-up, read back with stdlib ``lzma``;
* ``lookup``: windowed count/avg/min/max queries over one or both
  tickers, which ``pushFilters`` prunes to a few hour files.
"""

from __future__ import annotations

import lzma
import os
import shutil
from dataclasses import dataclass, replace
from datetime import datetime, timezone

import numpy as np
import pyarrow.compute as pc

import gen
from spans import self_times

LOOKUPS_PER_ROUND = 8
# (tickers, hours) of a round's lookups, in order
LOOKUP_MIX = [(1, 1), (2, 1), (1, 2), (2, 2), (1, 3), (2, 3), (1, 6), (2, 6)]
MINUTE_US = 60_000_000
SCALE = float(10**gen.DIGITS)


@dataclass
class Lookup:
    tickers: tuple[str, ...]
    lo_us: int
    hi_us: int
    expected: tuple  # (count, avg bid, min bid, max bid)


def _dt(us: int) -> datetime:
    return datetime.fromtimestamp(us / 1e6, tz=timezone.utc)


class TicksRW:
    name = "ticks_rw"
    single_round = False

    def __init__(self, tiny: bool = False) -> None:
        self.spec = replace(gen.RW_SPEC, hours=6, peak_ticks=300) if tiny else gen.RW_SPEC
        self.lookups_per_round = 3 if tiny else LOOKUPS_PER_ROUND

    # ------------------------------------------------------------ set-up
    def prepare(self, data_dir: str, seed: int) -> None:
        """Generate the archive, the parquet snapshot and every expected value."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        os.makedirs(data_dir)
        self.data_dir = data_dir
        self.archive = arc = gen.generate(self.spec, os.path.join(data_dir, "archive"), seed)
        t = arc.ticks
        self.first_us = int(self.spec.first_hour.timestamp()) * 1_000_000
        self.scan_expected = self._checksums(np.ones(arc.n_ticks, dtype=bool))

        self.bars_expected = {
            ticker: self._bars(t["ticker"] == ti) for ti, ticker in enumerate(self.spec.tickers)
        }

        # the write slice: every tick of the archive's first day
        day_lo = self.first_us
        day = (t["ts_us"] >= day_lo) & (t["ts_us"] < day_lo + 24 * gen.HOUR_US)
        self.slice_ticks = int(day.sum())
        self.slice_path = os.path.join(data_dir, "slice.parquet")
        tickers = np.array(self.spec.tickers, dtype=object)
        pq.write_table(
            pa.table({
                "ticker": pa.array(tickers[t["ticker"][day]], pa.string()),
                "ts": pa.array(t["ts_us"][day], pa.timestamp("us", tz="UTC")),
                "ask": t["ask"][day] / SCALE,
                "bid": t["bid"][day] / SCALE,
                "ask_volume": t["av"][day].astype(np.float64),
                "bid_volume": t["bv"][day].astype(np.float64),
            }),
            self.slice_path,
        )
        self.write_expected = {}
        for ti, ticker in enumerate(self.spec.tickers):
            for hour_lo in range(day_lo, day_lo + 24 * gen.HOUR_US, gen.HOUR_US):
                m = day & (t["ticker"] == ti) & (t["ts_us"] >= hour_lo) & (t["ts_us"] < hour_lo + gen.HOUR_US)
                if not m.any():
                    continue
                rec = np.empty(int(m.sum()), dtype=gen.RECORD)
                rec["ms"] = (t["ts_us"][m] - hour_lo) // 1000
                rec["ask"], rec["bid"] = t["ask"][m], t["bid"][m]
                rec["av"], rec["bv"] = t["av"][m], t["bv"][m]
                self.write_expected[gen.hour_path("", ticker, _dt(hour_lo))] = np.sort(rec)

        # The seed places each window; the mix of shapes is fixed, so every
        # run reads the same number of hour files per lookup.
        rng = np.random.default_rng([gen.GEN_VERSION, seed, 7])
        self.lookups = []
        for i in range(10 * self.lookups_per_round):
            n_tickers, hours = LOOKUP_MIX[i % len(LOOKUP_MIX)]
            hours = min(hours, self.spec.hours - 2)
            tickers = self.spec.tickers
            if n_tickers == 1:
                tickers = (tickers[int(rng.integers(len(tickers)))],)
            # a start off the hour: every window spans hours + 1 files a ticker
            lo = (self.first_us + int(rng.integers(self.spec.hours - hours)) * gen.HOUR_US
                  + int(rng.integers(1, 60)) * MINUTE_US)
            hi = lo + hours * gen.HOUR_US
            self.lookups.append(Lookup(tickers, lo, hi, self._window(tickers, lo, hi)))

    def _checksums(self, m) -> dict:
        t = self.archive.ticks
        return {
            "n": int(m.sum()),
            "first_ticker": int((t["ticker"][m] == 0).sum()),
            "ts": int((t["ts_us"][m] - self.first_us).sum()),
            "ask": int(t["ask"][m].sum()),
            "bid": int(t["bid"][m].sum()),
            "av": int(np.round(t["av"][m].astype(np.float64) * 100).sum()),
            "bv": int(np.round(t["bv"][m].astype(np.float64) * 100).sum()),
        }

    def _bars(self, m) -> dict:
        t = self.archive.ticks
        ts, bid = t["ts_us"][m], t["bid"][m] / SCALE
        vol = t["bv"][m].astype(np.float64)
        bucket = ts - ts % MINUTE_US
        starts = np.flatnonzero(np.r_[True, bucket[1:] != bucket[:-1]])
        ends = np.r_[starts[1:], len(ts)]
        # ticks are ordered by ts within a ticker, so open/close are the ends
        return {
            "bar_start": bucket[starts],
            "open": bid[starts],
            "high": np.maximum.reduceat(bid, starts),
            "low": np.minimum.reduceat(bid, starts),
            "close": bid[ends - 1],
            "n_ticks": ends - starts,
            "volume": np.add.reduceat(vol, starts),
        }

    def _window(self, tickers, lo, hi) -> tuple:
        m = self.archive.select(tickers, lo, hi)
        bid = self.archive.ticks["bid"][m] / SCALE
        if not len(bid):
            return (0, None, None, None)
        return (len(bid), float(bid.mean()), float(bid.min()), float(bid.max()))

    def warmup(self, spark) -> None:
        """An untimed scan of one ticker and one lookup: the first of each
        in a session costs ~2.5x a steady one (Python worker start-up, code
        generation), which rounds would otherwise carry unevenly."""
        from pyspark.sql import functions as F

        first = self._reader(spark).where(F.col("ticker") == self.spec.tickers[0])
        first.write.format("noop").mode("overwrite").save()
        lo = self.first_us + gen.HOUR_US // 2
        warm_op, _check = self._lookup_op(spark, Lookup(self.spec.tickers, lo, lo + gen.HOUR_US, None))
        warm_op()

    # ------------------------------------------------------------ a round
    def round(self, spark, r: int, run_op) -> None:
        """Run round ``r``; ``run_op(kind, (op, check))`` times ``op`` only."""
        run_op("scan", self._scan(spark))
        run_op("bars", self._bars_op(spark))
        run_op("write", self._write_op(spark, r))
        n = self.lookups_per_round
        for i in range(r * n, (r + 1) * n):
            run_op("lookup", self._lookup_op(spark, self.lookups[i % len(self.lookups)]))

    def _reader(self, spark):
        return spark.read.format("bi5").option("digits", gen.DIGITS).load(self.archive.root)

    def _scan(self, spark):
        from pyspark.sql import Observation
        from pyspark.sql import functions as F

        obs = Observation("scan")

        def op():
            first = self.spec.tickers[0]
            (
                self._reader(spark).observe(
                    obs,
                    F.count(F.lit(1)).alias("n"),
                    F.count_if(F.col("ticker") == first).alias("first_ticker"),
                    F.sum(F.unix_micros("ts") - self.first_us).alias("ts"),
                    F.sum(F.round(F.col("ask") * SCALE).cast("long")).alias("ask"),
                    F.sum(F.round(F.col("bid") * SCALE).cast("long")).alias("bid"),
                    F.sum(F.round(F.col("ask_volume") * 100).cast("long")).alias("av"),
                    F.sum(F.round(F.col("bid_volume") * 100).cast("long")).alias("bv"),
                )
                .write.format("noop").mode("overwrite").save()
            )

        def check():
            got = {k: int(v) for k, v in obs.get.items()}
            return got == self.scan_expected

        return op, check

    def _bars_op(self, spark):
        from spark_bi5_datasource_spark.functions.ohlc import ohlc_bars

        out = {}

        def op():
            out["t"] = ohlc_bars(self._reader(spark)).toArrow()

        def check():
            got = out.pop("t")
            if got.num_rows != sum(len(e["bar_start"]) for e in self.bars_expected.values()):
                return False
            for ticker, exp in self.bars_expected.items():
                mine = got.filter(pc.equal(got.column("ticker"), ticker)).sort_by("bar_start")
                starts = mine.column("bar_start").cast("int64").to_numpy()
                if not np.array_equal(starts, exp["bar_start"]):
                    return False
                for col in ("open", "high", "low", "close", "n_ticks"):
                    if not np.array_equal(mine.column(col).to_numpy(), exp[col]):
                        return False
                if not np.allclose(mine.column("volume").to_numpy(), exp["volume"],
                                   rtol=1e-9, atol=0):
                    return False
            return True

        return op, check

    def _write_op(self, spark, r: int):
        from spark_bi5_datasource_spark.sources.bi5_writer import write_bi5_tree

        out = os.path.join(self.data_dir, f"written-{r}")

        def op():
            write_bi5_tree(spark.read.parquet(self.slice_path), out, digits=gen.DIGITS)

        def check():
            try:
                got = gen.read_bi5_tree(out)
            finally:
                shutil.rmtree(out, ignore_errors=True)
            if set(got) != set(self.write_expected):
                return False
            return all(np.array_equal(np.sort(got[k]), v) for k, v in self.write_expected.items())

        return op, check

    def _lookup_op(self, spark, lk: Lookup):
        from pyspark.sql import functions as F

        out = {}

        def op():
            out["row"] = (
                self._reader(spark)
                .where(F.col("ticker").isin(*lk.tickers)
                       & (F.col("ts") >= _dt(lk.lo_us)) & (F.col("ts") < _dt(lk.hi_us)))
                .agg(F.count(F.lit(1)), F.avg("bid"), F.min("bid"), F.max("bid"))
                .collect()[0]
            )

        def check():
            n, avg, lo, hi = out["row"]
            en, eavg, elo, ehi = lk.expected
            if n != en or lo != elo or hi != ehi:
                return False
            return (avg is None) == (eavg is None) and (avg is None or abs(avg - eavg) <= 1e-9 * abs(eavg))

        return op, check

    # ------------------------------------------------------------ layers
    def layer_metrics(self, tracer) -> dict[str, float]:
        """Time the codec, reader and writer in process, one core."""
        from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, In, LessThan
        import pyarrow.parquet as pq

        from spark_bi5_datasource_spark.sources.bi5_codec import (
            decode_bi5_file, iter_bi5_files, ticks_record_batch)
        from spark_bi5_datasource_spark.sources.bi5_datasource import Bi5Reader
        from spark_bi5_datasource_spark.sources.bi5_writer import Bi5Writer

        root = self.archive.root
        paths = sorted(self.archive.files)
        ticks = skipped = 0
        for p in paths:
            with tracer.span("codec.decode"):
                cols = decode_bi5_file(p, gen.DIGITS)
            if cols is None or not len(cols["ts_us"]):
                skipped += 1
                continue
            with tracer.span("codec.batch"):
                ticks_record_batch(cols)
            ticks += len(cols["ts_us"])
        for p in paths:
            with open(p, "rb") as f:
                raw = f.read()
            with tracer.span("codec.lzma_floor"):
                try:
                    lzma.LZMADecompressor(format=lzma.FORMAT_AUTO).decompress(raw)
                except lzma.LZMAError:
                    pass

        opts = {"path": root, "digits": str(gen.DIGITS)}
        reader = Bi5Reader(opts)
        with tracer.span("reader.read"):
            for part in reader.partitions():
                for _batch in reader.read(part):
                    pass

        listed = sum(1 for _ in iter_bi5_files(root))
        kept = []
        for lk in self.lookups[: self.lookups_per_round]:
            pushed = [
                EqualTo(("ticker",), lk.tickers[0]) if len(lk.tickers) == 1
                else In(("ticker",), lk.tickers),
                GreaterThanOrEqual(("ts",), _dt(lk.lo_us)),
                LessThan(("ts",), _dt(lk.hi_us)),
            ]
            with tracer.span("reader.plan"):
                r = Bi5Reader(opts)
                list(r.pushFilters(pushed))
                parts = r.partitions()
            kept.append(sum(len(p.files) for p in parts))

        out = os.path.join(self.data_dir, "encoded")
        batches = pq.read_table(self.slice_path).to_batches()
        with tracer.span("writer.encode"):
            msg = Bi5Writer({"path": out, "digits": str(gen.DIGITS)}).write(iter(batches))
        nbytes = sum(os.path.getsize(os.path.join(out, f)) for f in msg.files)
        shutil.rmtree(out, ignore_errors=True)

        st = self_times(tracer.spans)
        plan_s = [s["end"] - s["start"] for s in tracer.spans if s["name"] == "reader.plan"]
        decode_s = st.get("codec.decode", 0.0)
        batch_s = st.get("codec.batch", 0.0)
        med_kept = float(np.median(kept))
        return {
            "codec.decode_s": decode_s,
            "codec.batch_s": batch_s,
            "codec.ticks_per_s": ticks / (decode_s + batch_s),
            "codec.files_skipped": skipped,
            "codec.lzma_floor_s": st.get("codec.lzma_floor", 0.0),
            "reader.plan_s": float(np.median(plan_s)),
            "reader.files_listed": listed,
            "reader.files_kept": med_kept,
            "reader.prune_ratio": 1.0 - med_kept / listed,
            "reader.read_s": st.get("reader.read", 0.0),
            "writer.encode_s": st.get("writer.encode", 0.0),
            "writer.files_written": len(msg.files),
            "writer.bytes_per_tick": nbytes / self.slice_ticks,
        }

    def summary(self, ops) -> dict[str, tuple[float, str]]:
        """The workload's own end-to-end figures, for the printed table."""
        def med(kind):
            return float(np.median([o.seconds for o in ops if o.kind == kind]))

        return {
            "scan_ticks_per_s": (self.archive.n_ticks / med("scan"), "ticks/s"),
            "bars_p50_s": (med("bars"), "s"),
            "write_ticks_per_s": (self.slice_ticks / med("write"), "ticks/s"),
            "lookup_p50_s": (med("lookup"), "s"),
        }
