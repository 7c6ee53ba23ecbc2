"""Seeded generator for the benchmark's bi5 tick archives.

The archive shape (tickers, hours, hour-of-day tick profile, damaged
files) is fixed by the spec and ``GEN_VERSION``; the seed only draws the
values (tick counts around the profile, timestamps, prices, volumes and
which files get damaged).  Two seeds therefore give statistically
identical archives, and one seed always gives the same bytes.

Everything a check compares against comes from this module's own arrays
and, for the deliberately truncated files, from stdlib ``lzma`` on the
bytes written.  Nothing here imports the engine under test.
"""

from __future__ import annotations

import lzma
import os
from dataclasses import dataclass
from datetime import datetime, timedelta, timezone

import numpy as np

GEN_VERSION = 1
DIGITS = 5
HOUR_US = 3_600_000_000
HOUR_MS = 3_600_000

# The bi5 record layout: big-endian ms offset, ask and bid as integer
# points, ask and bid volume as float32 (20 bytes).
RECORD = np.dtype(
    [("ms", ">u4"), ("ask", ">u4"), ("bid", ">u4"), ("av", ">f4"), ("bv", ">f4")]
)

# Relative tick intensity by UTC hour: quiet Asian session, London open
# at 07h, London/New York overlap peaking 13-15h, thin close.
HOUR_PROFILE = np.array(
    [0.16, 0.12, 0.14, 0.20, 0.22, 0.26, 0.40, 0.80, 1.05, 1.10, 1.00, 0.95,
     1.05, 1.30, 1.40, 1.35, 1.10, 0.85, 0.60, 0.45, 0.35, 0.28, 0.22, 0.18]
)

# Mid price, in points at DIGITS, that each ticker's random walk starts from.
BASE_MID = {"EURUSD": 108_500, "GBPUSD": 126_500}


@dataclass(frozen=True)
class ArchiveSpec:
    name: str
    tickers: tuple[str, ...]
    first_hour: datetime
    hours: int  # consecutive hour files per ticker
    peak_ticks: int  # ticks in an hour whose profile weight is 1.0
    truncated: int = 0  # clean files cut short after compression
    bad_lzma: int = 0  # hour files whose payload is not LZMA at all
    bad_path: int = 0  # valid payloads under a name the reader cannot parse


RW_SPEC = ArchiveSpec(
    name="ticks_rw",
    tickers=("EURUSD", "GBPUSD"),
    first_hour=datetime(2024, 3, 4, tzinfo=timezone.utc),
    hours=24,
    peak_ticks=4_200,
    truncated=3,
    bad_lzma=1,
    bad_path=1,
)


def lenient_decompress(raw: bytes) -> bytes:
    """What a streaming LZMA reader yields before the stream breaks."""
    dec = lzma.LZMADecompressor(format=lzma.FORMAT_AUTO)
    try:
        return dec.decompress(raw)
    except lzma.LZMAError:
        return b""


def hour_path(root: str, ticker: str, hour: datetime) -> str:
    """``<ticker>/<YYYY>/<mm>/<dd>/<hh>h_ticks.bi5`` with a 0-based month."""
    return os.path.join(
        root, ticker, f"{hour.year:04d}", f"{hour.month - 1:02d}",
        f"{hour.day:02d}", f"{hour.hour:02d}h_ticks.bi5",
    )


@dataclass
class Archive:
    """A generated archive on disk plus the ticks a correct reader returns.

    ``ticks`` holds every tick the reader must yield, ordered by
    (ticker, ts): ``ticker`` (index into ``spec.tickers``), ``ts_us``,
    integer ``ask``/``bid`` points and float32 ``av``/``bv``.
    """

    spec: ArchiveSpec
    root: str
    ticks: dict[str, np.ndarray]
    files: dict[str, str]  # path -> "ok" | "truncated" | "bad_lzma" | "bad_path"

    @property
    def n_ticks(self) -> int:
        return len(self.ticks["ts_us"])

    def select(self, tickers, lo_us: int, hi_us: int) -> np.ndarray:
        """Mask of ticks with a ticker in ``tickers`` and lo <= ts < hi."""
        idx = [self.spec.tickers.index(t) for t in tickers]
        t = self.ticks
        return np.isin(t["ticker"], idx) & (t["ts_us"] >= lo_us) & (t["ts_us"] < hi_us)


def _hour_ticks(rng, n: int, mid0: int) -> np.ndarray:
    rec = np.empty(n, dtype=RECORD)
    rec["ms"] = np.sort(rng.choice(HOUR_MS, size=n, replace=False))
    mid = mid0 + np.cumsum(rng.integers(-2, 3, size=n))
    rec["bid"] = mid
    rec["ask"] = mid + rng.integers(2, 25, size=n)
    rec["av"] = rng.integers(1, 500, size=n) / np.float32(100)
    rec["bv"] = rng.integers(1, 500, size=n) / np.float32(100)
    return rec


def _compress(rec: np.ndarray) -> bytes:
    # LZMA-alone at preset 1, what the engine's own writer emits
    return lzma.compress(rec.tobytes(), format=lzma.FORMAT_ALONE, preset=1)


def generate(spec: ArchiveSpec, root: str, seed: int) -> Archive:
    """Write ``spec``'s archive under ``root`` (which must not exist)."""
    rng = np.random.default_rng([GEN_VERSION, seed, sum(map(ord, spec.name))])
    os.makedirs(root)
    n_files = len(spec.tickers) * spec.hours
    damaged = rng.choice(n_files, size=spec.truncated + spec.bad_lzma, replace=False)
    truncated = set(damaged[: spec.truncated].tolist())
    bad_lzma = set(damaged[spec.truncated:].tolist())
    hours = [spec.first_hour + timedelta(hours=h) for h in range(spec.hours)]

    parts: list[dict[str, np.ndarray]] = []
    files: dict[str, str] = {}
    made_dirs: set[str] = set()
    for ti, ticker in enumerate(spec.tickers):
        mid = BASE_MID[ticker]
        for hi, hour in enumerate(hours):
            fno = ti * spec.hours + hi
            n = max(1, int(spec.peak_ticks * HOUR_PROFILE[hour.hour] * rng.lognormal(0.0, 0.15)))
            rec = _hour_ticks(rng, n, mid)
            mid = int(rec["bid"][-1])
            path = hour_path(root, ticker, hour)
            status = "ok"
            if fno in bad_lzma:
                payload = rng.integers(225, 256, size=64, dtype=np.uint8).tobytes()
                status = "bad_lzma"
            else:
                payload = _compress(rec)
                if fno in truncated:
                    payload = payload[: int(len(payload) * rng.uniform(0.3, 0.8))]
                    status = "truncated"
            kept = n
            if status != "ok":
                # what stdlib lzma recovers from the damaged bytes is expected
                decoded = lenient_decompress(payload)
                kept = len(decoded) // RECORD.itemsize
                size = kept * RECORD.itemsize
                if decoded[:size] != rec.tobytes()[:size]:
                    raise RuntimeError(f"damaged {path} does not decode to a prefix")
            d = os.path.dirname(path)
            if d not in made_dirs:
                os.makedirs(d, exist_ok=True)
                made_dirs.add(d)
            with open(path, "wb") as f:
                f.write(payload)
            files[path] = status
            rec = rec[:kept]
            hour_us = int(hour.timestamp()) * 1_000_000
            parts.append({
                "ticker": np.full(kept, ti, dtype=np.int8),
                "ts_us": hour_us + rec["ms"].astype(np.int64) * 1000,
                "ask": rec["ask"].astype(np.int64),
                "bid": rec["bid"].astype(np.int64),
                "av": rec["av"].astype(np.float32),
                "bv": rec["bv"].astype(np.float32),
            })
    for k in range(spec.bad_path):
        # a clean payload the reader must skip only because of its name
        ticker = spec.tickers[k % len(spec.tickers)]
        path = os.path.join(os.path.dirname(hour_path(root, ticker, hours[k])),
                            "notes_ticks.bi5")
        payload = _compress(_hour_ticks(rng, 50, BASE_MID[ticker]))
        with open(path, "wb") as f:
            f.write(payload)
        files[path] = "bad_path"
    ticks = {k: np.concatenate([p[k] for p in parts]) for k in parts[0]}
    return Archive(spec=spec, root=root, ticks=ticks, files=files)


def read_bi5_tree(root: str) -> dict[str, np.ndarray]:
    """Decode a bi5 tree written by the engine, independently of it.

    Returns records keyed by relative path, for checking the writer.
    """
    out = {}
    for dirpath, _dirs, names in os.walk(root):
        for name in names:
            if name.endswith(".bi5"):
                full = os.path.join(dirpath, name)
                with open(full, "rb") as f:
                    payload = lzma.decompress(f.read(), format=lzma.FORMAT_ALONE)
                out[os.path.relpath(full, root)] = np.frombuffer(payload, dtype=RECORD)
    return out
