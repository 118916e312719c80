"""Kafka connector end-to-end over the file-backed emulation transport
(sources/kafka.py): INSERT INTO kafka → batch + streaming reads → values
checked, plus the Debezium changelog path — the integration evidence for
reference CONNECTORS.md:98-140 without a broker in the environment. The
JSON/CDC encode-decode and option mapping are the same code the real-broker
transport uses; only the record store differs."""

from __future__ import annotations

import time

import pytest

from flink_notebooks_spark.engine import Engine


@pytest.fixture()
def engine(spark):
    eng = Engine(spark)
    yield eng
    eng.close()


def drain(stmt, max_pages=200):
    rows, token = [], 0
    for _ in range(max_pages):
        page = stmt.fetch(token)
        if page.result_type == "EOS":
            break
        rows.extend(page.data)
        token = page.next_token if page.next_token is not None else token
    return rows


def _mk_source(engine, name, n):
    engine.execute_sql(
        f"""CREATE TABLE {name} (id INT) WITH ('connector'='datagen',
            'number-of-rows'='{n}','fields.id.kind'='sequence',
            'fields.id.start'='1','fields.id.end'='{n}')"""
    )


def test_kafka_roundtrip_insert_then_read(engine, tmp_path):
    """INSERT INTO kafka topic → read the topic back through a second table
    (same topic, different consumer) — exact values."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    _mk_source(engine, "kfk_src", 7)
    servers = f"file://{tmp_path}/broker"
    for t in ("kfk_sink", "kfk_reader"):
        engine.execute_sql(
            f"""CREATE TABLE {t} (id INT) WITH ('connector'='kafka',
                'topic'='t_round', 'properties.bootstrap.servers'='{servers}',
                'format'='json', 'scan.startup.mode'='earliest-offset')"""
        )
    engine.execute_sql("INSERT INTO kfk_sink SELECT id FROM kfk_src")
    rows = drain(engine.execute_sql("SELECT id FROM kfk_reader ORDER BY id"))
    assert [r["fields"][0] for r in rows] == list(range(1, 8))


def test_kafka_second_table_sees_each_insert_without_set(engine, tmp_path):
    """Two tables over one emulated topic: every INSERT into one re-registers
    the other (same topic directory), so a SELECT from it sees the new
    records with no SET in between."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    servers = f"file://{tmp_path}/broker"
    for t in ("kt_writer", "kt_reader"):
        engine.execute_sql(
            f"""CREATE TABLE {t} (id INT) WITH ('connector'='kafka',
                'topic'='t_two', 'properties.bootstrap.servers'='{servers}',
                'format'='json', 'scan.startup.mode'='earliest-offset')"""
        )
    seen = []
    for i in (1, 2):
        engine.execute_sql(f"INSERT INTO kt_writer VALUES ({i})")
        rows = drain(engine.execute_sql("SELECT id FROM kt_reader ORDER BY id"))
        seen.append([r["fields"][0] for r in rows])
    assert seen == [[1], [1, 2]]


def test_kafka_streaming_read(engine, tmp_path):
    """Produce to the topic, then consume it as an unbounded streaming
    SELECT — the reference's primary streaming-source shape."""
    servers = f"file://{tmp_path}/broker"
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    _mk_source(engine, "kstr_src", 9)
    engine.execute_sql(
        f"""CREATE TABLE kstr_topic (id INT) WITH ('connector'='kafka',
            'topic'='t_stream', 'properties.bootstrap.servers'='{servers}',
            'format'='json')"""
    )
    engine.execute_sql("INSERT INTO kstr_topic SELECT id FROM kstr_src")
    engine.execute_sql("SET 'execution.runtime-mode' = 'streaming'")
    stmt = engine.execute_sql("SELECT id FROM kstr_topic")
    rows, t0 = [], time.time()
    while len(rows) < 9 and time.time() - t0 < 60:
        rows = drain(stmt, max_pages=1)
        time.sleep(0.5)
    assert sorted(r["fields"][0] for r in rows) == list(range(1, 10))
    stmt.cancel()


def test_kafka_streaming_insert(engine, tmp_path):
    """Streaming INSERT INTO kafka (write_stream): an unbounded datagen
    source publishes continuously; the topic accumulates records."""
    servers = f"file://{tmp_path}/broker"
    engine.execute_sql(
        """CREATE TABLE kpub_src (id INT) WITH ('connector'='datagen',
           'rows-per-second'='50','fields.id.min'='1','fields.id.max'='9')"""
    )
    engine.execute_sql(
        f"""CREATE TABLE kpub_topic (id INT) WITH ('connector'='kafka',
            'topic'='t_pub', 'properties.bootstrap.servers'='{servers}',
            'format'='json')"""
    )
    stmt = engine.execute_sql("INSERT INTO kpub_topic SELECT id FROM kpub_src")
    t0, got = time.time(), 0
    while got < 5 and time.time() - t0 < 60:
        # a batch scan snapshots the topic's file listing when the view is
        # (re-)materialized — SET refreshes views, like a new consumer
        engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
        got = len(drain(engine.execute_sql("SELECT id FROM kpub_topic")))
        time.sleep(0.5)
    stmt.cancel()
    assert got >= 5


def test_kafka_debezium_changelog_snapshot(engine, tmp_path):
    """CDC through the topic: publish Debezium envelopes (insert, update,
    delete), read through a debezium-json table with a PRIMARY KEY → the
    materialized snapshot reflects the latest state per key."""
    servers = f"file://{tmp_path}/broker"
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    # envelope producer: a json-format table on the SAME topic whose row
    # type IS the debezium envelope
    engine.execute_sql(
        f"""CREATE TABLE dbz_pub (
              before ROW<id INT, name STRING>, after ROW<id INT, name STRING>,
              op STRING, ts_ms BIGINT
            ) WITH ('connector'='kafka','topic'='t_cdc',
                    'properties.bootstrap.servers'='{servers}','format'='json')"""
    )
    engine.execute_sql(
        """INSERT INTO dbz_pub
           SELECT * FROM VALUES
             (CAST(NULL AS STRUCT<id INT, name STRING>), named_struct('id', 1, 'name', 'ada'),   'c', 1000),
             (CAST(NULL AS STRUCT<id INT, name STRING>), named_struct('id', 2, 'name', 'bob'),   'c', 1001),
             (named_struct('id', 1, 'name', 'ada'), named_struct('id', 1, 'name', 'ada2'),       'u', 1002),
             (named_struct('id', 2, 'name', 'bob'), CAST(NULL AS STRUCT<id INT, name STRING>),   'd', 1003)
           AS t(before, after, op, ts_ms)"""
    )
    engine.execute_sql(
        f"""CREATE TABLE dbz_state (
              id INT, name STRING, PRIMARY KEY (id) NOT ENFORCED
            ) WITH ('connector'='kafka','topic'='t_cdc',
                    'properties.bootstrap.servers'='{servers}',
                    'format'='debezium-json')"""
    )
    rows = drain(engine.execute_sql("SELECT id, name FROM dbz_state ORDER BY id"))
    assert [r["fields"] for r in rows] == [[1, "ada2"]]


def test_upsert_kafka_latest_per_key_and_tombstones(engine, tmp_path):
    """upsert-kafka: later records for a key supersede earlier ones; a null
    value (tombstone, e.g. from a compaction-aware producer) deletes the
    key; reads materialize the keyed snapshot."""
    servers = f"file://{tmp_path}/broker"
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""CREATE TABLE up_t (
              id INT, name STRING, PRIMARY KEY (id) NOT ENFORCED
            ) WITH ('connector'='upsert-kafka','topic'='t_up',
                    'properties.bootstrap.servers'='{servers}','format'='json')"""
    )
    engine.execute_sql(
        "INSERT INTO up_t SELECT * FROM VALUES (1,'a'), (2,'b'), (3,'c') AS t(id, name)"
    )
    engine.execute_sql(
        "INSERT INTO up_t SELECT * FROM VALUES (1,'a2'), (2,'b2') AS t(id, name)"
    )
    rows = drain(engine.execute_sql("SELECT id, name FROM up_t ORDER BY id"))
    assert [r["fields"] for r in rows] == [[1, "a2"], [2, "b2"], [3, "c"]]

    # tombstone from an external producer: null value for key id=2
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    rec = pa.table(
        {
            "key": pa.array([b'{"id":2}'], pa.binary()),
            "value": pa.array([None], pa.binary()),
            "topic": pa.array(["t_up"]),
            "partition": pa.array([0], pa.int32()),
            "offset": pa.array([10**15], pa.int64()),
            "timestamp": pa.array(
                [datetime.datetime.now() + datetime.timedelta(hours=1)],
                pa.timestamp("us"),
            ),
            "timestampType": pa.array([0], pa.int32()),
        }
    )
    pq.write_table(rec, f"{tmp_path}/broker/t_up/zz_tombstone.parquet")
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")  # refresh views
    rows = drain(engine.execute_sql("SELECT id, name FROM up_t ORDER BY id"))
    assert [r["fields"] for r in rows] == [[1, "a2"], [3, "c"]]

    # streaming read is an honest refusal (Spark append streams can't retract)
    engine.execute_sql("SET 'execution.runtime-mode' = 'streaming'")
    rows = drain(engine.execute_sql("SELECT id, name FROM up_t ORDER BY id"))
    assert len(rows) == 2  # falls back to the batch snapshot form


def test_upsert_kafka_requires_primary_key(engine, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    import pytest as _pytest

    # validated at DDL time, like Flink's upsert-kafka table factory
    with _pytest.raises(Exception, match="PRIMARY KEY"):
        engine.execute_sql(
            f"""CREATE TABLE up_nopk (id INT) WITH ('connector'='upsert-kafka',
                'topic'='t_nopk','properties.bootstrap.servers'='file://{tmp_path}/b')"""
        )


def test_kafka_canal_json_changelog_snapshot(engine, tmp_path):
    """canal-json: batched row images in `data`, DML `type`, DDL events
    ignored; a PK table materializes the latest state per key."""
    servers = f"file://{tmp_path}/broker"
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""CREATE TABLE canal_pub (
              data ARRAY<ROW<id INT, name STRING>>, old ARRAY<ROW<id INT, name STRING>>,
              type STRING, ts BIGINT
            ) WITH ('connector'='kafka','topic'='t_canal',
                    'properties.bootstrap.servers'='{servers}','format'='json')"""
    )
    engine.execute_sql(
        """INSERT INTO canal_pub
           SELECT * FROM VALUES
             (array(named_struct('id', 1, 'name', 'ada'), named_struct('id', 2, 'name', 'bob')),
              CAST(NULL AS ARRAY<STRUCT<id INT, name STRING>>), 'INSERT', 1000),
             (array(named_struct('id', 1, 'name', 'ada2')),
              array(named_struct('id', 1, 'name', 'ada')), 'UPDATE', 1001),
             (array(named_struct('id', 2, 'name', 'bob')),
              CAST(NULL AS ARRAY<STRUCT<id INT, name STRING>>), 'DELETE', 1002),
             (CAST(NULL AS ARRAY<STRUCT<id INT, name STRING>>),
              CAST(NULL AS ARRAY<STRUCT<id INT, name STRING>>), 'CREATE', 1003)
           AS t(data, old, type, ts)"""
    )
    engine.execute_sql(
        f"""CREATE TABLE canal_state (
              id INT, name STRING, PRIMARY KEY (id) NOT ENFORCED
            ) WITH ('connector'='kafka','topic'='t_canal',
                    'properties.bootstrap.servers'='{servers}','format'='canal-json')"""
    )
    rows = drain(engine.execute_sql("SELECT id, name FROM canal_state ORDER BY id"))
    assert [r["fields"] for r in rows] == [[1, "ada2"]]


def test_kafka_maxwell_json_changelog_snapshot(engine, tmp_path):
    """maxwell-json: single row image in `data`, lowercase `type`, seconds
    timestamps, bootstrap-insert as snapshot read."""
    servers = f"file://{tmp_path}/broker"
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""CREATE TABLE mxw_pub (
              data ROW<id INT, name STRING>, old ROW<id INT, name STRING>,
              type STRING, ts BIGINT
            ) WITH ('connector'='kafka','topic'='t_mxw',
                    'properties.bootstrap.servers'='{servers}','format'='json')"""
    )
    engine.execute_sql(
        """INSERT INTO mxw_pub
           SELECT * FROM VALUES
             (named_struct('id', 1, 'name', 'ada'), CAST(NULL AS STRUCT<id INT, name STRING>), 'bootstrap-insert', 10),
             (named_struct('id', 2, 'name', 'bob'), CAST(NULL AS STRUCT<id INT, name STRING>), 'insert', 11),
             (named_struct('id', 1, 'name', 'ada2'), named_struct('id', 1, 'name', 'ada'), 'update', 12),
             (named_struct('id', 2, 'name', 'bob'), CAST(NULL AS STRUCT<id INT, name STRING>), 'delete', 13)
           AS t(data, old, type, ts)"""
    )
    engine.execute_sql(
        f"""CREATE TABLE mxw_state (
              id INT, name STRING, PRIMARY KEY (id) NOT ENFORCED
            ) WITH ('connector'='kafka','topic'='t_mxw',
                    'properties.bootstrap.servers'='{servers}','format'='maxwell-json')"""
    )
    rows = drain(engine.execute_sql("SELECT id, name FROM mxw_state ORDER BY id"))
    assert [r["fields"] for r in rows] == [[1, "ada2"]]


def test_kafka_csv_roundtrip(engine, tmp_path):
    """csv value format: INSERT encodes rows with to_csv, reads decode with
    from_csv against the declared schema."""
    servers = f"file://{tmp_path}/broker"
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    for t in ("csv_sink", "csv_reader"):
        engine.execute_sql(
            f"""CREATE TABLE {t} (id INT, name STRING) WITH ('connector'='kafka',
                'topic'='t_csv','properties.bootstrap.servers'='{servers}',
                'format'='csv')"""
        )
    engine.execute_sql(
        "INSERT INTO csv_sink SELECT * FROM VALUES (1,'a'), (2,'b,c') AS t(id, name)"
    )
    rows = drain(engine.execute_sql("SELECT id, name FROM csv_reader ORDER BY id"))
    assert [r["fields"] for r in rows] == [[1, "a"], [2, "b,c"]]


def test_kafka_raw_roundtrip_and_single_column_rule(engine, tmp_path):
    """raw value format: the single column IS the record value, byte-exact;
    multi-column raw tables are rejected like Flink's raw format factory."""
    servers = f"file://{tmp_path}/broker"
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    for t in ("raw_sink", "raw_reader"):
        engine.execute_sql(
            f"""CREATE TABLE {t} (line STRING) WITH ('connector'='kafka',
                'topic'='t_raw','properties.bootstrap.servers'='{servers}',
                'format'='raw')"""
        )
    engine.execute_sql(
        "INSERT INTO raw_sink SELECT * FROM VALUES ('hello'), ('{\"not\":\"json\"}') AS t(line)"
    )
    rows = drain(engine.execute_sql("SELECT line FROM raw_reader ORDER BY line"))
    assert [r["fields"][0] for r in rows] == ['hello', '{"not":"json"}']

    import pytest as _pytest

    with _pytest.raises(Exception, match="one physical column"):
        # the engine materializes the scan view at CREATE time
        engine.execute_sql(
            f"""CREATE TABLE raw_bad (a INT, b INT) WITH ('connector'='kafka',
                'topic'='t_raw2','properties.bootstrap.servers'='{servers}',
                'format'='raw')"""
        )
        drain(engine.execute_sql("SELECT * FROM raw_bad"))


def test_kafka_metadata_columns(engine, tmp_path):
    """Flink METADATA columns on a kafka table: timestamp/partition/offset/
    topic surface from the record (emulated broker shares the record
    shape); VIRTUAL and persisted metadata are both read-only here, so
    INSERT arity counts only physical columns."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE mk_src (id INT, name STRING) WITH (
          'connector' = 'kafka', 'topic' = 'mk',
          'properties.bootstrap.servers' = 'file://{tmp_path}',
          'format' = 'json')
    """)
    engine.execute_sql("INSERT INTO mk_src VALUES (1, 'a'), (2, 'b')")
    engine.execute_sql(f"""
        CREATE TABLE mk_meta (
          id INT,
          name STRING,
          rec_time TIMESTAMP(3) METADATA FROM 'timestamp',
          part INT METADATA FROM 'partition' VIRTUAL,
          off BIGINT METADATA FROM 'offset',
          top STRING METADATA FROM 'topic'
        ) WITH (
          'connector' = 'kafka', 'topic' = 'mk',
          'properties.bootstrap.servers' = 'file://{tmp_path}',
          'format' = 'json')
    """)
    rows = [
        r["fields"]
        for r in drain(
            engine.execute_sql(
                "SELECT id, name, part, off, top, rec_time IS NOT NULL "
                "FROM mk_meta ORDER BY id"
            )
        )
    ]
    assert rows == [[1, "a", 0, 0, "mk", True], [2, "b", 0, 1, "mk", True]]
    # INSERT counts only physical columns (metadata is read-only)
    engine.execute_sql("INSERT INTO mk_meta VALUES (3, 'c')")
    rows = [
        r["fields"]
        for r in drain(engine.execute_sql("SELECT id, off FROM mk_meta ORDER BY id"))
    ]
    assert [r[0] for r in rows] == [1, 2, 3]
    assert all(r[1] >= 0 for r in rows)  # offsets are per produce batch
    # SHOW CREATE round-trips the metadata declarations
    page = engine.execute_sql("SHOW CREATE TABLE mk_meta").fetch(0)
    ddl = str(page.data)
    assert "METADATA FROM 'timestamp'" in ddl and "VIRTUAL" in ddl
    # unsupported key raises loudly (at registration — the view
    # materializes eagerly)
    import pytest as _pytest

    with _pytest.raises(Exception, match="metadata key"):
        engine.execute_sql(f"""
            CREATE TABLE mk_bad (id INT, h STRING METADATA FROM 'headers')
            WITH ('connector' = 'kafka', 'topic' = 'mk',
                  'properties.bootstrap.servers' = 'file://{tmp_path}',
                  'format' = 'json')
        """)


def test_kafka_event_time_from_metadata_timestamp(engine, tmp_path):
    """The canonical Flink kafka pattern: event time FROM the record's
    metadata timestamp, watermarked, driving a streaming tumble window."""
    servers = f"file://{tmp_path}/broker"
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""CREATE TABLE met_topic (id INT) WITH ('connector'='kafka',
            'topic'='t_met', 'properties.bootstrap.servers'='{servers}',
            'format'='json')"""
    )
    engine.execute_sql("INSERT INTO met_topic VALUES (1), (2), (3)")
    engine.execute_sql("SET 'execution.runtime-mode' = 'streaming'")
    engine.execute_sql(
        f"""CREATE TABLE met_read (
              id INT,
              rec_time TIMESTAMP(3) METADATA FROM 'timestamp',
              WATERMARK FOR rec_time AS rec_time - INTERVAL '1' SECOND
            ) WITH ('connector'='kafka', 'topic'='t_met',
                    'properties.bootstrap.servers'='{servers}',
                    'format'='json')"""
    )
    # the watermark rides the metadata column (record-append time is "now",
    # so a closed event-time window would not emit within the test — the
    # continuous aggregate proves the watermarked metadata column drives a
    # streaming job end-to-end)
    stmt = engine.execute_sql(
        "SELECT COUNT(*) AS c, MAX(rec_time) IS NOT NULL AS has_ts FROM met_read"
    )
    got, t0 = 0, time.time()
    while got < 3 and time.time() - t0 < 60:
        rows = drain(stmt, max_pages=1)
        if rows:
            got = rows[-1]["fields"][0]
        time.sleep(0.5)
    assert got == 3
    stmt.cancel()


def test_kafka_timestamp_type_metadata_names(engine, tmp_path):
    """Flink's 'timestamp-type' metadata value is the enum NAME
    (NoTimestampType/CreateTime/LogAppendTime), not Spark's 0/1/2 int —
    a STRING-declared column must read the name."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE tt_src (id INT) WITH (
          'connector' = 'kafka', 'topic' = 'tt',
          'properties.bootstrap.servers' = 'file://{tmp_path}',
          'format' = 'json')
    """)
    engine.execute_sql("INSERT INTO tt_src VALUES (1)")
    engine.execute_sql(f"""
        CREATE TABLE tt_meta (
          id INT,
          tstype STRING METADATA FROM 'timestamp-type' VIRTUAL
        ) WITH (
          'connector' = 'kafka', 'topic' = 'tt',
          'properties.bootstrap.servers' = 'file://{tmp_path}',
          'format' = 'json')
    """)
    rows = [
        r["fields"]
        for r in drain(engine.execute_sql("SELECT id, tstype FROM tt_meta"))
    ]
    # the emulated broker stamps timestampType=0
    assert rows == [[1, "NoTimestampType"]]
