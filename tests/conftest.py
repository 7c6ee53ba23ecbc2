from __future__ import annotations

import lzma
import os
import struct

import pytest

from _proto_compat import ensure_protobuf

# Module-level on purpose: the worker env is snapshotted when the
# session JVM launches, so the protobuf shim's PYTHONPATH must be in
# place before any fixture can create the SparkSession.
HAVE_PROTOBUF = ensure_protobuf()

# Reference fixture tree (read-only); golden tests skip if absent.
REFERENCE_RESOURCES = "/root/reference/spark-2.4/src/test/resources"

TESTDATA_SF = os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    from spark_bi5_datasource_spark import register

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("spark-bi5-tests")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    register(spark)
    yield spark
    spark.stop()


def make_bi5_bytes(records: list[tuple[int, int, int, float, float]]) -> bytes:
    """LZMA-alone-compress packed '>3I2f' records (FIXTURES.md §A)."""
    raw = b"".join(struct.pack(">3I2f", *r) for r in records)
    return lzma.compress(raw, format=lzma.FORMAT_ALONE)


def write_bi5(path: str, records: list[tuple[int, int, int, float, float]]) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as f:
        f.write(make_bi5_bytes(records))


@pytest.fixture()
def bi5_tree(tmp_path):
    """Synthesized fixture tree mirroring the reference's resource layout
    (FIXTURES.md §A): valid files, a corrupt file, a wrong-extension
    file, and an empty file."""
    root = tmp_path / "ticks"
    # EURUSD 2019/11/31 (month-0 ⇒ Dec 31) 15h — 3 records
    write_bi5(
        str(root / "EURUSD/2019/11/31/15h_ticks.bi5"),
        [
            (90, 112207, 112198, 1.5, 2.25),
            (30_000, 112210, 112200, 1.0, 0.5),
            (3_599_395, 112240, 112238, 0.75, 0.19),
        ],
    )
    # EURUSD 2020/03/03 (month-0 ⇒ Apr 3) 00h — 2 records
    write_bi5(
        str(root / "EURUSD/2020/03/03/00h_ticks.bi5"),
        [
            (1_000, 108400, 108390, 2.0, 2.0),
            (3_599_036, 108429, 108423, 3.0, 3.37),
        ],
    )
    # corrupt payload (ASCII, not LZMA)
    p = root / "EURUSD/2019/11/31/01h_ticks.bi5"
    p.parent.mkdir(parents=True, exist_ok=True)
    p.write_bytes(b"I poured root beer into a square glass.")
    # wrong extension → ignored by the walk
    (root / "EURUSD/2019/11/31/test.document.txt").write_bytes(b"hello")
    # USDJPY, read with january=1 (1-based ⇒ Dec 1) — 2 records + empty file
    write_bi5(
        str(root / "USDJPY/2020/12/1/23h_ticks.bi5"),
        [
            (219, 108705, 108677, 1.0, 1.03),
            (3_599_213, 108727, 108723, 3.25, 1.5),
        ],
    )
    e = root / "USDJPY/2020/12/1/00h_ticks.bi5"
    e.write_bytes(b"")
    return str(root)


@pytest.fixture()
def bi5_hours_tree(tmp_path):
    """Twelve valid hour files over two tickers (month-0 Jan 2 2020,
    hours 0-5 each), with 1-6 ticks apiece: more files than a small
    box has cores, so packed scans put several files in one task."""
    root = tmp_path / "hours"
    for t, ticker in enumerate(("EURUSD", "GBPUSD")):
        for hh in range(6):
            write_bi5(
                str(root / ticker / f"2020/0/2/{hh:02d}h_ticks.bi5"),
                [
                    (k * 600_000 + t, 110_000 + 10 * hh + k, 109_990 + k, 1.0 + k, 0.5 * t)
                    for k in range(hh + 1)
                ],
            )
    return str(root)


def reference_fixtures_available() -> bool:
    return os.path.isdir(REFERENCE_RESOURCES)


def has_testdata() -> bool:
    return os.path.isdir(TESTDATA_SF)
