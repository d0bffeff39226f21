"""session.read_table: one temp view per file version, schema from the
Parquet footer, and the confs it writes."""

from __future__ import annotations

import gc
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from tests.conftest import SF_DIR_SMOKE, group_jobs


def test_rewritten_file_is_read_with_its_new_schema(spark, tmp_path):
    """A file rewritten within one session is read again, schema and
    rows: first with an added column, then with a column retyped."""
    from cioos_siooc_data_transform_spark.session import read_table

    nation = pq.read_table(os.path.join(SF_DIR_SMOKE, "nation.parquet"))
    path = tmp_path / "nation.parquet"
    pq.write_table(nation, path)
    assert read_table(spark, str(tmp_path), "nation").columns == nation.column_names

    added = nation.append_column("n_flag", pa.array([1] * nation.num_rows, pa.int64()))
    pq.write_table(added, path)
    df = read_table(spark, str(tmp_path), "nation")
    assert df.columns == nation.column_names + ["n_flag"]
    assert df.agg(F.sum("n_flag")).first()[0] == nation.num_rows

    keys = pa.array([f"k{k}" for k in nation["n_nationkey"].to_pylist()])
    retyped = nation.set_column(0, "n_nationkey", keys)
    pq.write_table(retyped, path)
    df = read_table(spark, str(tmp_path), "nation")
    assert dict(df.dtypes)["n_nationkey"] == "string"
    assert sorted(r[0] for r in df.select("n_nationkey").collect()) == sorted(
        keys.to_pylist()
    )


def test_first_read_of_a_path_starts_no_job(spark, tmp_path):
    """The schema comes from the footer pyarrow reads, not from Spark's
    schema inference (a one-task job per read)."""
    from cioos_siooc_data_transform_spark.session import read_table

    shutil.copy(os.path.join(SF_DIR_SMOKE, "orders.parquet"), tmp_path)
    group = f"read-table-first-{tmp_path.name}"
    sc = spark.sparkContext
    sc.setJobGroup(group, "first read_table of a fresh path")
    try:
        df = read_table(spark, str(tmp_path), "orders")
        assert df.schema.names
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert group_jobs(spark, group) == []


def test_warm_read_is_two_round_trips(spark):
    """A warm read is the timezone write plus one catalog lookup."""
    from py4j.clientserver import ClientServerConnection

    from cioos_siooc_data_transform_spark.session import read_table

    read_table(spark, SF_DIR_SMOKE, "region")
    sent = []
    original = ClientServerConnection.send_command

    def counting(self, command):
        sent.append(command)
        return original(self, command)

    gc.disable()  # a collected JavaObject would send its own detach command
    ClientServerConnection.send_command = counting
    try:
        read_table(spark, SF_DIR_SMOKE, "region")
    finally:
        ClientServerConnection.send_command = original
        gc.enable()
    assert len(sent) == 2, sent


def test_nanosecond_timestamps_match_duckdb(spark, tmp_path):
    """TIMESTAMP(NANOS) columns are truncated to microseconds toward zero,
    the values DuckDB's read_parquet gives them as TIMESTAMP."""
    import duckdb

    from cioos_siooc_data_transform_spark.session import read_table

    nanos = [1_700_000_000_123_456_789, -1_234_567_891, 999, None]
    table = pa.table(
        {"id": [1, 2, 3, 4], "ts": pa.array(nanos, pa.timestamp("ns"))}
    )
    pq.write_table(table, tmp_path / "ticks.parquet")
    df = read_table(spark, str(tmp_path), "ticks")
    assert dict(df.dtypes)["ts"] == "timestamp"
    got = sorted(
        (r[0], r[1]) for r in df.select("id", F.unix_micros("ts")).collect()
    )
    want = sorted(
        duckdb.sql(
            "SELECT id, epoch_us(CAST(ts AS TIMESTAMP))"
            f" FROM read_parquet('{tmp_path / 'ticks.parquet'}')"
        ).fetchall()
    )
    assert got == want == [(1, 1_700_000_000_123_456), (2, -1_234_567), (3, 0), (4, None)]


def test_non_utc_session_collects_the_utc_rows(spark):
    """read_table pins the session to UTC, so a caller's non-UTC session
    sees the tz-naive file values as DuckDB does."""
    from cioos_siooc_data_transform_spark.session import read_table

    def rows():
        df = read_table(spark, SF_DIR_SMOKE, "orders")
        return sorted(
            df.select(
                "o_orderkey",
                F.col("o_orderdate").cast("string"),
                F.hour("o_orderdate"),
            ).collect()
        )

    utc = rows()
    spark.conf.set("spark.sql.session.timeZone", "America/Vancouver")
    try:
        assert rows() == utc
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert utc[0][1].endswith("00:00:00")
