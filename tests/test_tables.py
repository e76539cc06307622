"""Loader robustness: the events ``ts`` column must come out as session-zoned
TIMESTAMP no matter which physical parquet type the (driver-regenerated)
testdata carries.  Round 2 shipped with exactly this failure mode: the driver
switched events.parquet from TIMESTAMP(NANOS) to plain ``timestamp[us]``
(→ TIMESTAMP_NTZ in Spark 4) and every downstream ``unix_micros``/
``cast("long")`` broke.  This test pins all three encodings.
"""

import datetime

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from pipeline_etl_website_visits_spark import tables
from pipeline_etl_website_visits_spark.tables import load_table

TS = [
    datetime.datetime(2024, 1, 1, 0, 0, 0),
    datetime.datetime(2024, 1, 1, 0, 30, 0),
    datetime.datetime(2024, 1, 1, 2, 0, 0),
]


def _write_events(dirpath, ts_arrow_type):
    arr = pa.array(TS, type=ts_arrow_type)
    t = pa.table(
        {
            "event_id": pa.array([1, 2, 3], type=pa.int64()),
            "ts": arr,
            "user_id": pa.array([10, 10, 11], type=pa.int64()),
            "event_type": pa.array(["a", "b", "a"]),
            "value": pa.array([1.0, 2.0, 3.0], type=pa.float64()),
            "props": pa.array(["{}", "{}", "{}"]),
        }
    )
    pq.write_table(t, str(dirpath / "events.parquet"))
    return str(dirpath)


@pytest.mark.parametrize(
    "arrow_type",
    [
        pytest.param(pa.timestamp("ns"), id="nanos"),
        pytest.param(pa.timestamp("us"), id="micros-ntz"),
        pytest.param(pa.timestamp("us", tz="UTC"), id="micros-utc"),
    ],
)
def test_events_ts_normalized_to_timestamp(spark, tmp_path, arrow_type):
    sf_dir = _write_events(tmp_path, arrow_type)
    df = load_table(spark, sf_dir, "events")
    assert dict(df.dtypes)["ts"] == "timestamp"
    # unix_micros / cast(long) — the two downstream consumers that broke on
    # NTZ — must analyze and agree on wall-clock values (session tz is UTC).
    from pyspark.sql import functions as F

    secs = sorted(
        r[0]
        for r in df.select(F.col("ts").cast("long")).collect()
    )
    expected = sorted(int(t.replace(tzinfo=datetime.timezone.utc).timestamp()) for t in TS)
    assert secs == expected


def test_table_cache_keyed_by_dir(spark, tmp_path):
    """Distinct sf_dirs must not share cached DataFrames."""
    a = tmp_path / "a"
    b = tmp_path / "b"
    a.mkdir()
    b.mkdir()
    _write_events(a, pa.timestamp("us"))
    _write_events(b, pa.timestamp("ns"))
    da = load_table(spark, str(a), "events")
    db = load_table(spark, str(b), "events")
    assert da is not db
    assert dict(da.dtypes)["ts"] == "timestamp"
    assert dict(db.dtypes)["ts"] == "timestamp"
    assert tables._TABLE_CACHE  # memo actually populated


def test_all_tables_timestamps_normalized(spark, tmp_path):
    """The round-2 events lesson generalized: ANY table whose timestamp
    columns arrive as nanos or NTZ loads with session-zoned TIMESTAMP."""
    import pyarrow as pa
    import pyarrow.parquet as pq2

    t = pa.table(
        {
            "o_orderkey": pa.array([1, 2], type=pa.int64()),
            "o_orderdate": pa.array(TS[:2], type=pa.timestamp("ns")),
            "o_audit_ts": pa.array(TS[:2], type=pa.timestamp("us")),
        }
    )
    pq2.write_table(t, str(tmp_path / "orders.parquet"))
    df = load_table(spark, str(tmp_path), "orders")
    dtypes = dict(df.dtypes)
    assert dtypes["o_orderdate"] == "timestamp"
    assert dtypes["o_audit_ts"] == "timestamp"
    # wall-clock values preserved (session tz UTC)
    from pyspark.sql import functions as F

    vals = sorted(r[0] for r in df.select(F.col("o_orderdate").cast("long")).collect())
    expected = sorted(
        int(x.replace(tzinfo=datetime.timezone.utc).timestamp()) for x in TS[:2]
    )
    assert vals == expected


def test_fan_out_sizes_directory_tables_by_their_part_files(spark, tmp_path):
    """A directory-shaped table is sized by the sum of its part files, not
    by the directory inode (about 4 KiB), so a multi-file table gets one
    fan-out task per ``spark.graft.fanOutBytesPerTask`` bytes."""
    import math
    import os
    import random

    tdir = tmp_path / "events.parquet"
    tdir.mkdir()
    rng = random.Random(7)
    for i in range(4):
        t = pa.table({"v": pa.array([rng.getrandbits(62) for _ in range(2000)], pa.int64())})
        pq.write_table(t, str(tdir / f"part-{i:05d}.parquet"))
    (tdir / "_SUCCESS").write_text("")
    parts = [os.path.getsize(tdir / f) for f in os.listdir(tdir) if f.startswith("part-")]
    assert tables._table_bytes(str(tdir)) == sum(parts)

    per_task = 8192
    assert os.path.getsize(tdir) <= per_task < sum(parts) // 2  # old sizing: width 1
    prev = spark.conf.get("spark.graft.fanOutBytesPerTask", None)
    spark.conf.set("spark.graft.fanOutBytesPerTask", str(per_task))
    try:
        df = load_table(spark, str(tmp_path), "events", fan_out=True)
        want = min(spark.sparkContext.defaultParallelism, math.ceil(sum(parts) / per_task))
        assert want > 1
        assert df.rdd.getNumPartitions() == want
        assert df.count() == 8000
    finally:
        if prev is None:
            spark.conf.unset("spark.graft.fanOutBytesPerTask")
        else:
            spark.conf.set("spark.graft.fanOutBytesPerTask", prev)


def test_reload_after_regenerating_a_directory_table(spark, tmp_path):
    """A directory table rewritten with a new part file in the same session
    loads the new files: the memo key carries the table's fingerprint, so
    the cached plan over the deleted part is not served again."""
    src = tmp_path / "documents.parquet"
    src.mkdir()

    def write(part: str, n: int) -> None:
        for old in src.iterdir():
            old.unlink()
        pq.write_table(pa.table({"doc_id": pa.array(range(n), type=pa.int64())}), src / part)

    write("part-0.parquet", 10)
    assert load_table(spark, str(tmp_path), "documents").count() == 10
    write("part-1.parquet", 50)
    assert load_table(spark, str(tmp_path), "documents").count() == 50
