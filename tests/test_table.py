"""Logs table layout tests — partitioning, in-file sort, TTL retention."""

from __future__ import annotations

from datetime import date, datetime, timezone
from pathlib import Path

import pytest

from klogs_spark.schema import CLUSTER_KEY, LOG_COLUMNS, LOG_SCHEMA
from klogs_spark.table import apply_retention, read_logs, register_view, write_logs


@pytest.fixture()
def logs_df(spark):
    rows = [
        (datetime(2026, 1, d, h, 0, 0), "prod", f"ns-{d % 2}", "app",
         f"pod-{h}", "c", "host", {"level": "info"}, {"v": float(h)}, "line")
        for d in (1, 2, 3)
        for h in (0, 6, 12)
    ]
    return spark.createDataFrame(
        rows,
        "timestamp timestamp, cluster string, namespace string, app string, "
        "pod_name string, container_name string, host string, "
        "fields_string map<string,string>, fields_number map<string,double>, "
        "log string",
    )


def test_write_creates_daily_partitions(spark, logs_df, tmp_path):
    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    parts = sorted(p.name for p in Path(path).glob("date=*"))
    assert parts == ["date=2026-01-01", "date=2026-01-02", "date=2026-01-03"]
    back = read_logs(spark, path)
    assert back.count() == 9
    assert back.select("date").distinct().count() == 3


def test_rows_sorted_by_cluster_key_within_files(spark, logs_df, tmp_path):
    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    # every parquet file must be sorted by the cluster key (schema.sql:18)
    for f in Path(path).glob("date=*/*.parquet"):
        pdf = spark.read.parquet(str(f)).select(*CLUSTER_KEY).toPandas()
        key = list(map(tuple, pdf.itertuples(index=False)))
        assert key == sorted(key)


def test_partition_pruning_in_plan(spark, logs_df, tmp_path):
    from pyspark.sql import functions as F

    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    df = read_logs(spark, path).filter("date = DATE'2026-01-02'")
    assert df.count() == 3
    # runtime truth: only files under the matching partition dir were read
    touched = [
        r[0] for r in df.select(F.input_file_name()).distinct().collect()
    ]
    assert touched and all("date=2026-01-02" in f for f in touched)


def _write_timeline(spark, path: str, n: int, step_s: int) -> None:
    """Write ``n`` logs rows, one every ``step_s`` seconds from 2026-01-01
    00:00 UTC, under the session's current time zone."""
    from pyspark.sql import functions as F

    t0 = int(datetime(2026, 1, 1, tzinfo=timezone.utc).timestamp())
    write_logs(
        spark.range(n).select(
            F.timestamp_seconds(F.lit(t0) + F.col("id") * step_s).alias("timestamp"),
            *[F.lit(None).cast(f.dataType).alias(f.name)
              for f in LOG_SCHEMA.fields[1:]],
        ),
        path,
    )


@pytest.fixture()
def ten_day_table(spark, tmp_path):
    """One row every 2 h over 2026-01-01..10 UTC."""
    path = str(tmp_path / "logs")
    _write_timeline(spark, path, 10 * 12, 7200)
    return path


def test_time_range_prunes_day_partitions(spark, ten_day_table):
    """time_range derives a date predicate: a garbage file in every day
    directory outside [start - 1 d, end + 1 d] would fail the query if any
    were opened."""
    from klogs_spark.query import LogsQuery

    path = ten_day_table
    for d in Path(path).glob("date=*"):
        if not "2026-01-03" <= d.name[len("date="):] <= "2026-01-06":
            (d / "part-garbage.parquet").write_bytes(b"not parquet")
    q = LogsQuery(read_logs(spark, path)).time_range(
        "2026-01-04 00:00:00", "2026-01-05 23:59:59"
    )
    assert q.count_all().collect()[0].cnt == 2 * 12
    plan = spark._jvm.PythonSQLUtils.explainString(
        q.df._jdf.queryExecution(), "formatted"
    )
    pf = [ln for ln in plan.splitlines() if ln.startswith("PartitionFilters")]
    assert pf and "date" in pf[0] and ">=" in pf[0] and "<=" in pf[0]


def test_read_logs_starts_no_spark_job(spark, ten_day_table):
    """The declared schema replaces the inference job a bare
    spark.read.parquet starts."""
    sc = spark.sparkContext
    group = "read-logs-no-job"
    sc.setJobGroup(group, "read_logs")
    try:
        read_logs(spark, ten_day_table)
    finally:
        sc._jsc.clearJobGroup()
    assert list(sc.statusTracker().getJobIdsForGroup(group)) == []


@pytest.mark.parametrize(
    "writer_tz,reader_tz",
    [
        ("UTC", "Pacific/Kiritimati"),
        ("UTC", "Etc/GMT+12"),
        # 26 h apart: an instant's local days differ by two, which a
        # one-day slack around the reader's to_date would miss
        ("Pacific/Kiritimati", "Etc/GMT+12"),
        ("Etc/GMT+12", "Pacific/Kiritimati"),
    ],
)
def test_time_range_exact_across_time_zones(
    spark, tmp_path, writer_tz, reader_tz
):
    """Pruned time_range equals the unpruned timestamp filter when the
    reader's session zone differs from the writer's, on day-edge bounds."""
    from pyspark.sql import functions as F

    from klogs_spark.query import LogsQuery

    key = "spark.sql.session.timeZone"
    saved = spark.conf.get(key)
    path = str(tmp_path / "logs")
    try:
        spark.conf.set(key, writer_tz)
        _write_timeline(spark, path, 6 * 24, 3600)
        spark.conf.set(key, reader_tz)
        logs = read_logs(spark, path)
        for lo, hi in [
            ("2026-01-02 00:00:00", "2026-01-02 23:59:59"),
            ("2026-01-01 00:00:00", "2026-01-03 00:00:00"),
            ("2026-01-03 23:00:00", "2026-01-04 01:00:00"),
            ("2026-01-05 00:00:00", "2026-01-06 23:59:59"),
        ]:
            pruned = LogsQuery(logs).time_range(lo, hi).df
            unpruned = logs.filter(F.col("timestamp").between(lo, hi))
            got = sorted(r[0] for r in pruned.select("timestamp").collect())
            want = sorted(r[0] for r in unpruned.select("timestamp").collect())
            assert want and got == want, (lo, hi)
    finally:
        spark.conf.set(key, saved)


def test_read_logs_empty_directory_is_empty_frame(spark, tmp_path):
    path = tmp_path / "logs"
    path.mkdir()
    df = read_logs(spark, str(path))
    assert df.columns == ["date", *LOG_COLUMNS]
    assert df.count() == 0


def test_register_view_sql_roundtrip(spark, logs_df, tmp_path):
    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    register_view(spark, path, "logs_t")
    got = spark.sql(
        "SELECT count(*) AS c FROM logs_t WHERE namespace = 'ns-1'"
    ).collect()[0].c
    assert got == 6  # days 1 and 3 route to ns-1, 3 rows each


def test_retention_drops_old_partitions(spark, logs_df, tmp_path):
    path = str(tmp_path / "logs")
    write_logs(logs_df, path)
    dropped = apply_retention(path, retention_days=30, today=date(2026, 2, 2))
    assert dropped == ["date=2026-01-01", "date=2026-01-02"]
    assert read_logs(spark, path).count() == 3
    # idempotent
    assert apply_retention(path, 30, date(2026, 2, 2)) == []


def test_zorder_null_rows_survive_both_rank_paths(spark):
    """NULL z-column values rank 0 and are NEVER dropped — in the
    literal-map path AND the >cap join fallback (which previously
    inner-joined a NULL-free rank table, losing the rows)."""
    from pyspark.sql import functions as F

    from klogs_spark.ext.zorder import add_zorder

    n = 2000  # over the 1024 literal cap for `big`, under it for `small`
    df = spark.range(n).select(
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.concat(F.lit("v"), F.format_string("%06d", "id")))
        .alias("big"),
        F.when(F.col("id") % 5 == 0, None)
        .otherwise((F.col("id") % 10).cast("string"))
        .alias("small"),
        F.col("id"),
    )
    z = add_zorder(df, ["big", "small"]).cache()
    try:
        assert z.count() == n  # no row loss on either path
        # NULLs rank 0 => their z contribution equals the minimum
        null_both = z.filter("big IS NULL AND small IS NULL")
        assert null_both.count() > 0
        assert null_both.filter("_z != 0").count() == 0
    finally:
        z.unpersist()


def test_zorder_write_roundtrips_and_narrows_trailing_dim(spark, tmp_path):
    import glob

    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from klogs_spark.ext.zorder import add_zorder
    from klogs_spark.table import write_logs_zordered
    from klogs_spark.views import derive_logs_from_events

    logs = derive_logs_from_events(spark, "/root/testdata/sf0.01")

    # 1) the z-ordered table write preserves every row and the daily layout
    path = str(tmp_path / "ztable")
    write_logs_zordered(logs, path, mode="overwrite")
    back = spark.read.parquet(path)
    assert back.count() == logs.count()
    assert back.select("namespace").distinct().count() == 5

    # 2) layout property, isolated from day-partition sizes: one file per
    # layout, tiny row groups, admission counted from parquet min/max stats.
    # Lexicographic (namespace, app, host) leaves `host` (trailing) with no
    # skipping at all; rank-interleave z-order must narrow it materially
    # while staying bounded on the other dims.
    dims = logs.select("namespace", "app", "host")

    def admitted(path: str, col: str, val: str) -> tuple[int, int]:
        admit = total = 0
        for f in glob.glob(f"{path}/*.parquet"):
            md = pq.ParquetFile(f).metadata
            idx = {md.schema.column(i).name: i for i in range(md.num_columns)}
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx[col]).statistics
                total += 1
                if st is None or st.min is None or st.min <= val <= st.max:
                    admit += 1
        return admit, total

    lex = str(tmp_path / "lex")
    zed = str(tmp_path / "zed")
    (
        dims.coalesce(1)
        .sortWithinPartitions("namespace", "app", "host")
        .write.option("parquet.block.size", 32 * 1024)
        .parquet(lex)
    )
    (
        add_zorder(dims, ["namespace", "app", "host"])
        .coalesce(1)
        .sortWithinPartitions("_z")
        .drop("_z")
        .write.option("parquet.block.size", 32 * 1024)
        .parquet(zed)
    )
    def dim_totals(path: str, col: str) -> tuple[int, int]:
        vals = [r[0] for r in dims.select(col).distinct().collect()]
        hits = total = 0
        for v in vals:
            a, t = admitted(path, col, v)
            hits, total = hits + a, total + t
        return hits, total

    lex_host = dim_totals(lex, "host")
    z_host = dim_totals(zed, "host")
    lex_app = dim_totals(lex, "app")
    z_app = dim_totals(zed, "app")
    assert lex_host[1] >= 8 * 8, "need several row groups x 8 hosts"
    # trailing dim gets ZERO skipping from the lexicographic sort...
    assert lex_host[0] == lex_host[1]
    # ...and z-order must strictly narrow BOTH non-leading dims, plus the
    # all-dims total (leading-dim loss is the accepted z-order trade)
    assert z_host[0] < lex_host[0]
    assert z_app[0] < lex_app[0]
    lex_ns = dim_totals(lex, "namespace")
    z_ns = dim_totals(zed, "namespace")
    lex_sum = lex_host[0] + lex_app[0] + lex_ns[0]
    z_sum = z_host[0] + z_app[0] + z_ns[0]
    assert z_sum < lex_sum, f"z-order total admission {z_sum} vs lex {lex_sum}"
