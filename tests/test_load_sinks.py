"""Load-layer sinks: JDBC mirror (S4) against embedded Derby, and
partitioned fact writes with partition pruning visible in the plan."""

import contextlib
import io

import pytest
from pyspark.sql import functions as F

from fitness_nutrition_data_pipeline_spark.load import load_warehouse


@pytest.fixture(scope="module")
def mini_warehouse(spark):
    dim_date = spark.createDataFrame(
        [(20160101, "2016-01-01"), (20160102, "2016-01-02")],
        "DateKey int, FullDate string",
    ).withColumn("FullDate", F.to_date("FullDate"))
    fact = spark.createDataFrame(
        [(1, 20160101, 2.0), (1, 20160102, 3.0), (2, 20160101, 4.0)],
        "UserKey long, DateKey int, DurationHours double",
    )
    return {"Dim_Date": dim_date, "Fact_WorkoutSession": fact}


def test_jdbc_mirror_to_derby(spark, mini_warehouse, tmp_path):
    """S4 (JDBC mirror in dependency order, main_etl_pipeline.py:752-794)
    proven against the Derby embedded database bundled with Spark."""
    from fitness_nutrition_data_pipeline_spark.load import (
        mirror_to_jdbc_idempotent,
    )

    url = f"jdbc:derby:{tmp_path}/dwdb;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    mirror_to_jdbc_idempotent(mini_warehouse, url, props)
    back = spark.read.format("jdbc").option("url", url).option(
        "dbtable", "fact_workoutsession"
    ).options(**props).load()
    assert back.count() == 3
    datekey_col = next(c for c in back.columns if c.lower() == "datekey")
    assert {r[datekey_col] for r in back.collect()} == {20160101, 20160102}


def test_partitioned_fact_prunes(spark, mini_warehouse, tmp_path):
    """partitionBy(DateKey) facts: a DateKey filter must prune partitions
    at the scan (the on-disk analogue of the reference's date index,
    db_schema.sql:212)."""
    load_warehouse(
        spark, mini_warehouse, str(tmp_path / "wh"), partition_facts=True
    )
    df = spark.read.parquet(str(tmp_path / "wh" / "fact_workoutsession")).where(
        F.col("DateKey") == 20160101
    )
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    plan = buf.getvalue()
    assert "PartitionFilters: [isnotnull(DateKey" in plan.replace("#", " #").replace(
        "DateKey #", "DateKey#"
    ) or "PartitionFilters: [isnotnull(DateKey" in plan
    assert df.count() == 2


def test_jdbc_idempotent_mirror_double_invoke(spark, mini_warehouse, tmp_path):
    """The staging-swap mirror must converge under retries: invoking it
    twice (a crashed-and-retried orchestration) yields IDENTICAL table
    contents, where an append-mode mirror would double every row."""
    from fitness_nutrition_data_pipeline_spark.load import (
        mirror_to_jdbc_idempotent,
    )

    url = f"jdbc:derby:{tmp_path}/dwdb2;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    for _ in range(2):
        mirror_to_jdbc_idempotent(mini_warehouse, url, props)
    back = spark.read.format("jdbc").option("url", url).option(
        "dbtable", "fact_workoutsession"
    ).options(**props).load()
    assert back.count() == 3  # not 6
    dur_col = next(c for c in back.columns if c.lower() == "durationhours")
    assert sorted(r[dur_col] for r in back.collect()) == [2.0, 3.0, 4.0]


def test_jdbc_idempotent_mirror_repairs_crashed_swap(
    spark, mini_warehouse, tmp_path
):
    """Crash window between rename-aside and rename-in: live table is
    missing, _old holds the previous generation. The retry must roll
    back, restage, and finish with exactly one generation of rows."""
    from fitness_nutrition_data_pipeline_spark.load import (
        _jdbc_connection,
        _jdbc_exec,
        _jdbc_table_exists,
        mirror_to_jdbc_idempotent,
    )

    url = f"jdbc:derby:{tmp_path}/dwdb3;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    mirror_to_jdbc_idempotent(mini_warehouse, url, props)
    conn = _jdbc_connection(spark, url, props)
    try:
        # simulate the crash layout
        _jdbc_exec(
            conn, "RENAME TABLE fact_workoutsession TO fact_workoutsession_old"
        )
        assert not _jdbc_table_exists(conn, "fact_workoutsession")
    finally:
        conn.close()
    mirror_to_jdbc_idempotent(mini_warehouse, url, props)  # the retry
    conn = _jdbc_connection(spark, url, props)
    try:
        assert _jdbc_table_exists(conn, "fact_workoutsession")
        assert not _jdbc_table_exists(conn, "fact_workoutsession_old")
        assert not _jdbc_table_exists(conn, "fact_workoutsession_stg")
    finally:
        conn.close()
    back = spark.read.format("jdbc").option("url", url).option(
        "dbtable", "fact_workoutsession"
    ).options(**props).load()
    assert back.count() == 3


def test_swap_statement_dialects():
    """ADVICE r10 / VERDICT ask #7: mysql: URLs must emit the atomic
    single-statement multi-table rename; Derby keeps the two-step."""
    from fitness_nutrition_data_pipeline_spark.load import _is_mysql_url, _swap_statements

    assert _is_mysql_url("jdbc:mysql://db:3306/warehouse")
    assert _is_mysql_url("JDBC:MariaDB://db/w")
    assert not _is_mysql_url("jdbc:derby:/tmp/dwdb;create=true")

    atomic = _swap_statements("t", "t_stg", "t_old", live_exists=True, atomic=True)
    assert atomic == ["RENAME TABLE t TO t_old, t_stg TO t"]
    two_step = _swap_statements("t", "t_stg", "t_old", live_exists=True, atomic=False)
    assert two_step == ["RENAME TABLE t TO t_old", "RENAME TABLE t_stg TO t"]
    # first-ever load: no live table, one rename either way
    assert _swap_statements("t", "t_stg", "t_old", live_exists=False, atomic=True) == [
        "RENAME TABLE t_stg TO t"
    ]


def test_jdbc_connection_forwards_credentials(spark, tmp_path):
    """ADVICE r10 (medium): the driver-side connection must carry
    user/password from the properties dict (getConnection(url, props),
    not getConnection(url)). Observable in Derby without auth setup:
    the connection's current schema defaults to the connecting USER —
    APP when no user is forwarded, ETL when user=etl reaches the
    driver."""
    from fitness_nutrition_data_pipeline_spark.load import _jdbc_connection

    db = f"{tmp_path}/authdb"
    props = {
        "driver": "org.apache.derby.jdbc.EmbeddedDriver",
        "user": "etl",
        "password": "secret",
    }
    conn = _jdbc_connection(spark, f"jdbc:derby:{db};create=true", props)
    try:
        assert conn.getSchema() == "ETL"
    finally:
        conn.close()


def test_jdbc_table_exists_escapes_pattern_wildcards(spark, tmp_path):
    """ADVICE r11: getTables takes a PATTERN where '_' matches any one
    char — a decoy table that matches the unescaped pattern (factX... vs
    fact_...) must NOT make the probe report the real table as present
    (a false positive aims the swap's RENAME at a nonexistent table)."""
    from fitness_nutrition_data_pipeline_spark.load import (
        _jdbc_connection,
        _jdbc_exec,
        _jdbc_table_exists,
    )

    url = f"jdbc:derby:{tmp_path}/dwdb_esc;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}
    conn = _jdbc_connection(spark, url, props)
    try:
        _jdbc_exec(conn, "CREATE TABLE factXworkoutsession (a INT)")
        assert not _jdbc_table_exists(conn, "fact_workoutsession")
        assert _jdbc_table_exists(conn, "factXworkoutsession")
        _jdbc_exec(conn, "CREATE TABLE fact_workoutsession (a INT)")
        assert _jdbc_table_exists(conn, "fact_workoutsession")
    finally:
        conn.close()


def test_day_partitioned_write_salts_hot_days(spark, tmp_path, monkeypatch):
    """r18 salted dynamic-partition write (_write_day_partitioned): a day
    whose row count exceeds the per-file target must split across
    MULTIPLE files (the r17 repartition(day) put every day in ONE writer
    task — a hot-day serialization ceiling at scale), while a small day
    keeps exactly one file; row counts survive the layout either way."""
    from fitness_nutrition_data_pipeline_spark.queries import warehouse_ops

    monkeypatch.setattr(warehouse_ops, "_ROWS_PER_DAY_FILE", 100)
    hot = [(i, "2024-01-01") for i in range(1000)]
    cold = [(10_000 + i, "2024-01-02") for i in range(50)]
    # null partition values must survive the write (the per-day sizing
    # join is LEFT — an inner join would silently drop them)
    nulls = [(20_000 + i, None) for i in range(3)]
    ev = spark.createDataFrame(
        hot + cold + nulls, "event_id long, day_s string"
    ).select("event_id", F.col("day_s").cast("date").alias("day"))
    path = str(tmp_path / "salted_days")
    # at toy scale AQE's partition coalescing (correctly) merges the tiny
    # salted groups back into one task; disable it here so the test
    # witnesses the salt MECHANISM the coalescer would re-merge below its
    # advisory size — at real scale the groups are advisory-sized and
    # coalescing leaves them parallel
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        warehouse_ops._write_day_partitioned(ev, path)
    finally:
        spark.conf.set(key, prev)

    import glob

    hot_files = glob.glob(f"{path}/day=2024-01-01/*.parquet")
    cold_files = glob.glob(f"{path}/day=2024-01-02/*.parquet")
    assert len(hot_files) > 1, hot_files  # ceil(1000/100)=10 groups spread out
    assert len(cold_files) == 1, cold_files  # groups=1: single file preserved
    back = spark.read.parquet(path)
    counts = {str(r["day"]): r["n"] for r in back.groupBy("day").agg(F.count(F.lit(1)).alias("n")).collect()}
    assert counts == {"2024-01-01": 1000, "2024-01-02": 50, "None": 3}
