"""Source/sink/format round-trips (SURVEY.md §2.1) and the
DataStream-style API facade (§2.9)."""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F

from flink_release_1_10_0_spark.sources import (
    file_monitor_source, memory_sink, read_csv, read_json, read_text,
    write_csv, write_json, write_parquet,
)
from flink_release_1_10_0_spark.streaming.datastream import DataStream


@pytest.fixture
def orders(spark):
    return spark.read.parquet("/root/testdata/sf0.001/orders.parquet")


def test_csv_roundtrip(spark, orders):
    sub = orders.select("o_orderkey", "o_orderstatus", "o_totalprice").limit(100)
    path = tempfile.mkdtemp(prefix="fmt_csv_")
    write_csv(sub, path)
    back = read_csv(spark, path,
                    schema="o_orderkey bigint, o_orderstatus string, o_totalprice double")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sub.collect()))


def test_json_roundtrip(spark, orders):
    sub = orders.select("o_orderkey", "o_orderpriority").limit(50)
    path = tempfile.mkdtemp(prefix="fmt_json_")
    write_json(sub, path)
    back = read_json(spark, path, schema="o_orderkey bigint, o_orderpriority string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sub.collect()))


def test_parquet_partitioned_write(spark, orders):
    path = tempfile.mkdtemp(prefix="fmt_parq_")
    write_parquet(orders, path, partition_by=["o_orderstatus"])
    # hive-style layout -> partition pruning
    assert any(d.startswith("o_orderstatus=") for d in os.listdir(path))
    pruned = spark.read.parquet(path).filter(F.col("o_orderstatus") == "F")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert pruned.count() == orders.filter("o_orderstatus = 'F'").count()
    assert "o_orderstatus=F" in plan or "PartitionFilters" in plan


def test_text_source(spark):
    path = tempfile.mkdtemp(prefix="fmt_txt_")
    with open(os.path.join(path, "a.txt"), "w") as f:
        f.write("hello\nworld\n")
    assert {r["value"] for r in read_text(spark, path).collect()} == {"hello", "world"}


def test_file_monitor_stream(spark, orders):
    src = tempfile.mkdtemp(prefix="stream_src_")
    orders.limit(10).write.mode("append").parquet(src)
    sdf = file_monitor_source(spark, src, orders.schema, max_files_per_trigger=1)
    agg = sdf.groupBy().agg(F.count("*").alias("n"))
    q = memory_sink(agg, "_monitor_sink", tempfile.mkdtemp(prefix="ck_"),
                    output_mode="complete")
    try:
        q.processAllAvailable()
        assert spark.table("_monitor_sink").collect()[0]["n"] == 10
    finally:
        q.stop()


def test_datastream_facade(spark):
    ev = spark.createDataFrame(
        [(1, "a", 10.0), (1, "b", 30.0), (2, "c", 20.0)],
        "user_id bigint, tag string, value double")
    ds = DataStream(ev)
    total = ds.filter("value > 15").key_by("user_id").sum("value").df
    assert {(r["user_id"], r["value"]) for r in total.collect()} == {(1, 30.0), (2, 20.0)}
    best = ds.key_by("user_id").max_by("value").df
    assert {(r["user_id"], r["tag"]) for r in best.collect()} == {(1, "b"), (2, "c")}


def test_datastream_flat_map_and_window(spark):
    docs = spark.createDataFrame(
        [("2024-01-01 10:00:00", "x y"), ("2024-01-01 10:20:00", "z")],
        "ts string, text string").withColumn("ts", F.col("ts").cast("timestamp"))
    ds = DataStream(docs)
    words = ds.flat_map("split(text, ' ')", "word", "ts").df
    assert words.count() == 3
    win = (DataStream(docs).key_by("text")
           .time_window("ts", "1 hour").aggregate("count(*) as n").df)
    assert win.select("w_start", "n").count() == 2


def test_foreach_batch_side_outputs(spark, orders):
    """Side-output topology: one stream fans out to two sinks in a single
    foreachBatch (SplitStream / getSideOutput analog)."""
    import tempfile

    from flink_release_1_10_0_spark.sources import file_monitor_source, foreach_batch_sink

    src = tempfile.mkdtemp(prefix="side_src_")
    orders.limit(100).write.mode("append").parquet(src)
    outs = {"high": tempfile.mkdtemp(prefix="side_hi_"),
            "low": tempfile.mkdtemp(prefix="side_lo_")}

    def fan_out(batch_df, batch_id):
        batch_df.persist()
        batch_df.filter("o_totalprice >= 200000").write.mode("append").parquet(outs["high"])
        batch_df.filter("o_totalprice < 200000").write.mode("append").parquet(outs["low"])
        batch_df.unpersist()

    sdf = file_monitor_source(spark, src, orders.schema)
    q = foreach_batch_sink(sdf, tempfile.mkdtemp(prefix="ck_"), fan_out)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    hi = spark.read.parquet(outs["high"]).count()
    lo = spark.read.parquet(outs["low"]).count()
    assert hi + lo == 100 and hi > 0 and lo > 0


def test_partitioning_methods(spark, orders):
    """partition_by_hash/range land as Exchange nodes; sort_partition
    sorts locally without an exchange."""
    ds = DataStream(orders)
    hashed = ds.partition_by_hash(8, "o_custkey").df
    assert "hashpartitioning" in hashed._jdf.queryExecution().executedPlan().toString()
    ranged = ds.partition_by_range(8, "o_orderdate").df
    assert "rangepartitioning" in ranged._jdf.queryExecution().executedPlan().toString()
    local_sorted = ds.partition_by_hash(4, "o_custkey").sort_partition("o_orderdate").df
    plan = local_sorted._jdf.queryExecution().executedPlan().toString()
    assert "Sort [o_orderdate" in plan and "], false, 0" in plan  # local sort
    assert ds.rebalance(8).rescale(2).df.rdd.getNumPartitions() == 2


def test_broadcast_rules_refresh_per_batch(spark):
    """Rule updates written between micro-batches must affect the next
    batch (broadcast-state semantics)."""
    import tempfile

    from flink_release_1_10_0_spark.sources.streams import connect_with_broadcast_rules

    src = tempfile.mkdtemp(prefix="bc_src_")
    rules = tempfile.mkdtemp(prefix="bc_rules_")
    out = tempfile.mkdtemp(prefix="bc_out_")

    spark.createDataFrame([("a", 1)], "k string, factor int") \
        .write.mode("overwrite").parquet(rules)
    spark.createDataFrame([("a", 10.0)], "k string, v double") \
        .write.mode("append").parquet(src)

    sdf = (spark.readStream
           .schema("k string, v double")
           .option("maxFilesPerTrigger", 1).parquet(src))
    q = connect_with_broadcast_rules(
        sdf, rules, "k", out, tempfile.mkdtemp(prefix="ck_"))
    try:
        q.processAllAvailable()
        spark.createDataFrame([("a", 2)], "k string, factor int") \
            .write.mode("overwrite").parquet(rules)
        spark.createDataFrame([("a", 20.0)], "k string, v double") \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {(r["v"], r["factor"]) for r in spark.read.parquet(out).collect()}
    assert rows == {(10.0, 1), (20.0, 2)}


def test_avro_fallback_requires_schema(spark, orders):
    """Without spark-avro on the classpath, the pure-Python fallback
    engages — and demands an explicit schema for scan-free planning."""
    import tempfile

    from flink_release_1_10_0_spark.sources.formats import read_avro, write_avro
    path = tempfile.mkdtemp(prefix="avro_rt_") + "/d"
    write_avro(orders.limit(5), path)
    try:
        spark.range(1).write.format("avro").save(tempfile.mkdtemp(prefix="avro_probe_"))
    except Exception:
        with pytest.raises(NotImplementedError, match="schema"):
            read_avro(spark, path)


def test_ddl_and_partitioned_insert_overwrite(spark, orders):
    """Table-sink surface (TableSink/PartitionableTableSink/
    OverwritableTableSink): SQL DDL creates a partitioned table;
    insertInto with overwrite mode replaces only written partitions
    (dynamic partition overwrite)."""
    import uuid

    tbl = f"sink_{uuid.uuid4().hex[:8]}"
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.sql(f"""
        CREATE TABLE {tbl} (o_orderkey BIGINT, o_totalprice DOUBLE,
                            o_orderstatus STRING)
        USING parquet PARTITIONED BY (o_orderstatus)
    """)
    try:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        sub = orders.select("o_orderkey", "o_totalprice", "o_orderstatus")
        sub.write.mode("overwrite").insertInto(tbl)
        n_all = spark.table(tbl).count()
        assert n_all == orders.count()
        # overwrite ONLY the 'F' partition with a single row
        one = sub.filter("o_orderstatus = 'F'").limit(1)
        one.write.mode("overwrite").insertInto(tbl)
        remaining = spark.table(tbl)
        assert remaining.filter("o_orderstatus = 'F'").count() == 1
        assert remaining.filter("o_orderstatus <> 'F'").count() == \
            orders.filter("o_orderstatus <> 'F'").count()
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")


def test_register_stream_table_with_watermark(spark):
    """DDL-analog: stream table registered with computed column +
    watermark participates in windowed append-mode aggregation."""
    import tempfile

    from flink_release_1_10_0_spark import TableEnvironment

    env = TableEnvironment.create(spark)
    src = tempfile.mkdtemp(prefix="ddl_stream_")
    (spark.createDataFrame(
        [("2024-01-01 10:00:00", 5.0), ("2024-01-01 13:00:00", 7.0)],
        "ts string, v double")
     .withColumn("ts", F.col("ts").cast("timestamp"))
     .coalesce(1).write.mode("append").parquet(src))
    sdf = env.register_stream_table(
        "wm_events", src, watermark=("ts", "5 minutes"),
        computed_columns={"v2": "v * 2"})
    agg = (sdf.groupBy(F.window("ts", "1 hour"))
           .agg(F.sum("v2").alias("s"))
           .select(F.col("window.start").alias("w_start"), "s"))
    q = (agg.writeStream.format("memory").queryName("_wm_ddl")
         .outputMode("append")
         .option("checkpointLocation", tempfile.mkdtemp(prefix="ck_"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    rows = {(str(r["w_start"]), r["s"]) for r in spark.table("_wm_ddl").collect()}
    # only the 10:00 window is closed by the final watermark (13:00 - 5m)
    assert rows == {("2024-01-01 10:00:00", 10.0)}


def test_file_sink_exactly_once_resume(spark, orders):
    """StreamingFileSink exactly-once analog (StreamingFileSink.java:98):
    re-running a finished query against the SAME checkpoint must not
    re-emit already-committed data — the checkpoint + file-sink commit
    log give end-to-end exactly-once on resume."""
    from flink_release_1_10_0_spark.sources import file_sink
    src = tempfile.mkdtemp(prefix="eos_src_")
    out = tempfile.mkdtemp(prefix="eos_out_")
    ckpt = tempfile.mkdtemp(prefix="eos_ck_")
    orders.limit(25).write.mode("append").parquet(src)
    sdf = file_monitor_source(spark, src, orders.schema)
    for _ in range(2):  # second run resumes from the checkpoint
        q = file_sink(sdf, out, ckpt, available_now=True)
        q.awaitTermination()
    assert spark.read.parquet(out).count() == 25


def test_sequence_source_splits_are_input_splits(spark):
    """InputFormat analog: numPartitions option -> that many splits, each
    read by one task; the union is exactly [start, end)."""
    from flink_release_1_10_0_spark.sources.datasource import register_sequence_source

    register_sequence_source(spark)
    df = (spark.read.format("flink_sequence")
          .option("start", "100").option("end", "1100")
          .option("numPartitions", "4").load())
    assert df.rdd.getNumPartitions() == 4
    got = [r.id for r in df.collect()]
    assert sorted(got) == list(range(100, 1100))


def test_sequence_stream_resumes_from_checkpoint_exactly_once(spark):
    """SourceFunction/CheckpointedFunction analog: a second run on the
    SAME checkpoint resumes at the committed offset — the union of both
    runs is exactly [0, end), no duplicates (StatefulSequenceSource's
    exactly-once contract)."""
    import tempfile

    from flink_release_1_10_0_spark.sources.datasource import register_sequence_source

    register_sequence_source(spark)
    ckpt = tempfile.mkdtemp(prefix="seq_resume_ckpt_")
    out = tempfile.mkdtemp(prefix="seq_resume_out_")

    def one_availablenow_run():
        sdf = (spark.readStream.format("flink_sequence")
               .option("end", "2000").option("rowsPerBatch", "800").load())
        q = (sdf.writeStream.format("parquet").option("path", out)
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination()
        return [r.id for r in spark.read.parquet(out).collect()]

    first = one_availablenow_run()
    assert sorted(first) == list(range(0, 800))  # one read() slice committed
    both = one_availablenow_run()
    # resumed PAST the committed offset: no duplicates, exact continuation
    assert len(both) == len(set(both)) == 1600
    assert sorted(both) == list(range(0, 1600))


def test_socket_source_live(spark):
    """Live socket round-trip (StreamExecutionEnvironment.java:1322
    socketTextStream): a local server feeds lines; the streaming query
    must deliver them through the socket source."""
    import socket
    import threading
    import time

    from flink_release_1_10_0_spark.sources.streams import socket_source

    srv = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    srv.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    srv.bind(("127.0.0.1", 0))
    srv.listen(1)
    port = srv.getsockname()[1]
    stop = threading.Event()

    def serve():
        conn, _ = srv.accept()
        conn.sendall(b"alpha\nbeta\ngamma\n")
        # keep the connection open until the query has read the lines
        stop.wait(timeout=30)
        conn.close()

    th = threading.Thread(target=serve, daemon=True)
    th.start()
    try:
        lines = socket_source(spark, "127.0.0.1", port)
        assert lines.isStreaming
        q = (lines.writeStream.format("memory")
             .queryName("_socket_rows").outputMode("append").start())
        try:
            deadline = time.time() + 25
            while time.time() < deadline:
                got = {r.value for r in spark.sql(
                    "SELECT value FROM _socket_rows").collect()}
                if {"alpha", "beta", "gamma"} <= got:
                    break
                time.sleep(0.5)
            assert {"alpha", "beta", "gamma"} <= got
        finally:
            q.stop()
    finally:
        stop.set()
        srv.close()


def test_avro_container_codec_bytes():
    """Byte-level write/read round-trip of the pure-Python Avro codec:
    nullable unions, deflate + null codecs, multi-block files, negative
    longs, unicode, and binary payloads."""
    import tempfile

    from flink_release_1_10_0_spark.sources.avro_py import (read_container,
                                                            write_container)
    rows = [(1, "a", 1.5, None, True), (2, None, -2.25, b"\x00\xff", False),
            (-(2 ** 40), "é漢", 0.0, b"", None)]
    fields = [("id", "bigint"), ("s", "string"), ("d", "double"),
              ("b", "binary"), ("flag", "boolean")]
    p = tempfile.mktemp(suffix=".avro")
    for codec in ("deflate", "null"):
        write_container(rows, fields, p, codec=codec)
        got_fields, got_rows = read_container(open(p, "rb").read())
        assert got_fields == fields and got_rows == rows
    many = [(i, f"s{i}", i * 0.5, None, i % 2 == 0) for i in range(5000)]
    write_container(many, fields, p, block_rows=700)
    assert read_container(open(p, "rb").read())[1] == many


def test_avro_spark_roundtrip(spark, orders):
    """DataFrame -> avro container files -> distributed decode."""
    import tempfile

    from flink_release_1_10_0_spark.sources.formats import read_avro, write_avro
    sub = orders.select("o_orderkey", "o_orderstatus").limit(200)
    path = tempfile.mkdtemp(prefix="avro_rt_") + "/data"
    write_avro(sub, path)
    back = read_avro(spark, path, schema="o_orderkey bigint, o_orderstatus string")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sub.collect()))


def test_avro_spark_roundtrip_with_timestamp(spark, orders):
    import tempfile

    from flink_release_1_10_0_spark.sources.formats import read_avro, write_avro
    sub = orders.select("o_orderkey", "o_orderdate").limit(50)
    path = tempfile.mkdtemp(prefix="avro_ts_") + "/data"
    write_avro(sub, path)
    back = read_avro(spark, path, schema="o_orderkey bigint, o_orderdate timestamp")
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, sub.collect()))


# ---------------------------------------------------------------------------
# JDBC connector analog (sources/dbapi.py; flink-jdbc JDBCInputFormat /
# JDBCUpsertTableSink)
# ---------------------------------------------------------------------------

def _kv_db(prefix, ddl, rows):
    from flink_release_1_10_0_spark.sources.dbapi import _connect, create_table

    url = tempfile.mkdtemp(prefix=prefix) + "/t.db"
    create_table(url, ddl)
    con = _connect(url)
    con.executemany(
        f"INSERT INTO kv VALUES ({', '.join('?' * len(rows[0]))})", rows)
    con.commit()
    con.close()
    return url


def test_dbapi_stride_splits_cover_out_of_bounds_keys(spark):
    """First/last strides are unbounded: keys below lower_bound and at/above
    upper_bound must still be read (JDBCNumericBetweenParametersProvider
    boundary semantics, same as Spark's own JDBC relation)."""
    from flink_release_1_10_0_spark.sources import dbapi
    url = _kv_db("dbapi_t_", "CREATE TABLE kv (k BIGINT PRIMARY KEY, v TEXT)",
                 [(k, f"v{k}") for k in (-5, 0, 3, 7, 50, 99, 100, 1000)])
    back = dbapi.read(spark, url, table="kv", schema="k bigint, v string",
                      partition_column="k", lower_bound=0, upper_bound=100,
                      num_partitions=4)
    assert back.rdd.getNumPartitions() == 4
    got = sorted(r.k for r in back.collect())
    assert got == [-5, 0, 3, 7, 50, 99, 100, 1000]


def test_dbapi_parallel_upsert_is_exactly_once(spark):
    """Concurrent per-partition writers + keyed upsert: writing the same
    keyed rows twice (append then upsert) leaves one row per key with the
    upserted value (JDBCUpsertTableSink contract)."""
    from flink_release_1_10_0_spark.sources import dbapi
    url = tempfile.mkdtemp(prefix="dbapi_u_") + "/t.db"
    dbapi.create_table(url, "CREATE TABLE kv (k BIGINT PRIMARY KEY, v BIGINT)")
    df1 = spark.range(0, 500, 1, 8).select(
        F.col("id").alias("k"), F.lit(1).cast("bigint").alias("v"))
    assert dbapi.write(df1, url, "kv", mode="append", batch_size=64) == 500
    df2 = spark.range(0, 500, 1, 8).select(
        F.col("id").alias("k"), F.lit(2).cast("bigint").alias("v"))
    assert dbapi.write(df2, url, "kv", mode="upsert", batch_size=64) == 500
    back = dbapi.read(spark, url, table="kv", schema="k bigint, v bigint")
    rows = back.collect()
    assert len(rows) == 500
    assert all(r.v == 2 for r in rows)


def test_dbapi_query_with_existing_where(spark):
    """Stride predicates compose with a user WHERE clause via AND."""
    from flink_release_1_10_0_spark.sources import dbapi
    url = _kv_db("dbapi_q_",
                 "CREATE TABLE kv (k BIGINT PRIMARY KEY, v BIGINT)",
                 [(k, k * 10) for k in range(100)])
    back = dbapi.read(spark, url, query="SELECT k, v FROM kv WHERE v >= 200",
                      schema="k bigint, v bigint", partition_column="k",
                      lower_bound=0, upper_bound=100, num_partitions=3)
    assert sorted(r.k for r in back.collect()) == list(range(20, 100))


def test_dbapi_degenerate_bounds_still_read_everything(spark):
    """lower_bound == upper_bound must fall back to one unbounded split,
    never zero splits (an empty range() would silently read nothing)."""
    from flink_release_1_10_0_spark.sources import dbapi
    url = _kv_db("dbapi_d_", "CREATE TABLE kv (k BIGINT PRIMARY KEY)",
                 [(k,) for k in range(7)])
    back = dbapi.read(spark, url, table="kv", schema="k bigint",
                      partition_column="k", lower_bound=3, upper_bound=3,
                      num_partitions=4)
    assert sorted(r.k for r in back.collect()) == list(range(7))


def test_dbapi_flush_retry_rolls_back_partial_batch():
    """A failed executemany must not leave partial rows in the open
    transaction for a later commit (duplicate-row hazard on append
    retries)."""
    import sqlite3

    import pyarrow as pa

    from flink_release_1_10_0_spark.sources.dbapi import _write_batches

    url = tempfile.mkdtemp(prefix="dbapi_rb_") + "/t.db"
    # a CHECK constraint forces a mid-batch executemany failure (sqlite
    # applies rows up to the failure inside the open transaction)
    con = sqlite3.connect(url)
    con.execute("CREATE TABLE kv (k BIGINT CHECK (k < 100))")
    con.commit()
    con.close()
    bad_then_good = pa.RecordBatch.from_pydict(
        {"k": [1, 2, 999]})             # 999 violates CHECK mid-batch
    with pytest.raises(sqlite3.IntegrityError):
        _write_batches(url, "INSERT INTO kv (k) VALUES (?)",
                       iter([bad_then_good]), 10)
    # after the failed write (all 6 retries roll back), the table must
    # hold NO partial rows
    con = sqlite3.connect(url)
    got = con.execute("SELECT k FROM kv").fetchall()
    con.close()
    assert got == []


def test_dbapi_read_value_outside_declared_type_raises(spark):
    """A stored value the declared schema cannot hold (sqlite keeps
    'oops' in a BIGINT column) fails the read, naming the column."""
    import pytest

    from flink_release_1_10_0_spark.sources import dbapi
    url = _kv_db("dbapi_bad_", "CREATE TABLE kv (k BIGINT, v BIGINT)",
                 [(1, 10), (2, "oops")])
    back = dbapi.read(spark, url, table="kv", schema="k bigint, v bigint")
    with pytest.raises(Exception, match="column 'v'"):
        back.collect()


def test_dbapi_round_trip_registers_no_data_source(spark, monkeypatch):
    """A write-then-read round trip on a fresh session runs as Arrow
    stages: nothing is registered as a Python Data Source, and both
    plans show MapInArrow with no V2 scan or write node."""
    from flink_release_1_10_0_spark.sources import dbapi
    fresh = spark.newSession()
    url = tempfile.mkdtemp(prefix="dbapi_fresh_") + "/t.db"
    dbapi.create_table(url, "CREATE TABLE kv (k BIGINT PRIMARY KEY)")
    # every action below (write's count, the read's rows) ends in
    # collect(): record the executed plan of each
    plans = []
    frame = type(fresh.range(1))
    collect = frame.collect

    def traced_collect(df):
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return collect(df)

    monkeypatch.setattr(frame, "collect", traced_collect)
    assert dbapi.write(fresh.range(0, 40, 1, 4).withColumnRenamed("id", "k"),
                       url, "kv") == 40
    back = dbapi.read(fresh, url, table="kv", schema="k bigint",
                      partition_column="k", lower_bound=0, upper_bound=40,
                      num_partitions=4)
    assert sorted(r.k for r in back.collect()) == list(range(40))
    assert len(plans) == 2
    for plan in plans:
        assert "MapInArrow" in plan, plan
        assert "BatchScan" not in plan and "WriteToDataSourceV2" not in plan
        assert "AppendData" not in plan, plan
    sources = fresh._jsparkSession.sessionState().dataSourceManager()
    assert not sources.dataSourceExists("flink_jdbc")


def test_sequence_file_roundtrip_types_and_nulls(spark):
    """SequenceFile (key, JSON Text) roundtrip preserves nulls and types
    (sources/formats.py write_sequence_file/read_sequence_file)."""
    import tempfile

    from flink_release_1_10_0_spark.sources import formats as FMT

    df = spark.createDataFrame(
        [(1, "a", 1.5), (2, None, 2.5), (3, "c", None)],
        "k bigint, s string, v double")
    path = tempfile.mkdtemp(prefix="seq_t_") + "/seq"
    FMT.write_sequence_file(df, path, key_col="k", value_cols=["s", "v"])
    back = FMT.read_sequence_file(spark, path, key_field="k",
                                  value_schema="s string, v double")
    assert dict(back.dtypes) == {"k": "bigint", "s": "string", "v": "double"}
    rows = {(r.k, r.s, r.v) for r in back.collect()}
    assert rows == {(1, "a", 1.5), (2, None, 2.5), (3, "c", None)}


def test_sequence_file_string_and_int_keys(spark):
    """write_sequence_file accepts any key column; key_type on the read
    side makes non-bigint keys round-trip instead of mis-casting."""
    import tempfile

    from flink_release_1_10_0_spark.sources import formats as FMT

    sdf = spark.createDataFrame([("x", 1.0), ("y", None)],
                                "k string, v double")
    spath = tempfile.mkdtemp(prefix="seq_s_") + "/seq"
    FMT.write_sequence_file(sdf, spath, key_col="k", value_cols=["v"])
    sback = FMT.read_sequence_file(spark, spath, key_field="k",
                                   value_schema="v double",
                                   key_type="string")
    assert dict(sback.dtypes) == {"k": "string", "v": "double"}
    assert {(r.k, r.v) for r in sback.collect()} == {("x", 1.0), ("y", None)}

    idf = spark.createDataFrame([(7, "a")], "k int, v string")
    ipath = tempfile.mkdtemp(prefix="seq_i_") + "/seq"
    FMT.write_sequence_file(idf, ipath, key_col="k", value_cols=["v"])
    iback = FMT.read_sequence_file(spark, ipath, key_field="k",
                                   value_schema="v string",
                                   key_type="int")
    assert dict(iback.dtypes) == {"k": "int", "v": "string"}
    assert [(r.k, r.v) for r in iback.collect()] == [(7, "a")]


def test_compressed_text_roundtrip(spark):
    """CompressWriterFactory analog: gzip text write + transparent read
    (sources/formats.py write_text)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from flink_release_1_10_0_spark.sources import formats as FMT

    df = spark.range(100).select(F.concat(F.lit("line-"), "id").alias("value"))
    path = tempfile.mkdtemp(prefix="gz_t_") + "/txt"
    FMT.write_text(df, path, compression="gzip")
    assert any(f.endswith(".gz") for f in os.listdir(path))
    back = FMT.read_text(spark, path)
    assert back.count() == 100
    assert back.filter("value = 'line-42'").count() == 1
