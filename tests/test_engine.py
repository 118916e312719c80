"""Engine layer tests: DDL dialect, datagen, result protocol, sessions.

The acceptance flow mirrors the reference's example notebooks (its de-facto
test corpus, SURVEY.md §5): examples/02-datagen-batch.flinknb (bounded
datagen → scan → agg → top-N → complex types → drop) and the smoke query
from SETUP.md:76.
"""

from __future__ import annotations

import time

import pytest

from flink_notebooks_spark.engine import Engine, SessionManager, parse_statement
from flink_notebooks_spark.engine.types import parse_type


@pytest.fixture()
def engine(spark):
    eng = Engine(spark)
    yield eng
    eng.close()


def drain(stmt, max_pages=200):
    rows = []
    token = 0
    for _ in range(max_pages):
        page = stmt.fetch(token)
        if page.result_type == "EOS":
            break
        if page.result_type == "PAYLOAD":
            rows.extend(page.data)
            token = page.next_token
    return rows


# --------------------------------------------------------------------- types
def test_type_parser_covers_flink_universe():
    assert parse_type("INT").simpleString() == "int"
    assert parse_type("DECIMAL(10,2)").simpleString() == "decimal(10,2)"
    assert parse_type("TIMESTAMP(3)").simpleString() == "timestamp_ntz"
    assert parse_type("TIMESTAMP_LTZ(3)").simpleString() == "timestamp"
    assert parse_type("ROW<category STRING, brand STRING>").simpleString() == (
        "struct<category:string,brand:string>"
    )
    assert parse_type("ARRAY<STRING>").simpleString() == "array<string>"
    assert parse_type("MAP<STRING, INT>").simpleString() == "map<string,int>"
    assert parse_type("VARCHAR(255)").simpleString() == "string"


def test_ddl_parse_watermark_and_options():
    p = parse_statement(
        """
        CREATE TABLE clickstream (
          user_id INT,
          page_id INT,
          action STRING,
          event_time TIMESTAMP(3),
          WATERMARK FOR event_time AS event_time - INTERVAL '5' SECOND
        ) WITH (
          'connector' = 'datagen',
          'rows-per-second' = '2',
          'fields.user_id.min' = '1',
          'fields.user_id.max' = '100'
        )
        """
    )
    assert p.kind == "create_table"
    t = p.table
    assert [c.name for c in t.columns] == ["user_id", "page_id", "action", "event_time"]
    assert t.watermark.column == "event_time"
    assert t.watermark.delay == "5 seconds"
    assert t.options["rows-per-second"] == "2"
    assert t.connector == "datagen"


# ----------------------------------------------------------- smoke (SETUP.md)
def test_smoke_select_hello(engine):
    stmt = engine.execute_sql("SELECT 1 as id, 'Hello Flink!' as message")
    rows = drain(stmt)
    assert rows == [{"kind": "INSERT", "fields": [1, "Hello Flink!"]}]
    assert stmt.status() == "FINISHED"


# ------------------------------------------ examples/02-datagen-batch replay
BATCH_DDL = """
CREATE TABLE orders_batch (
    order_id INT,
    customer_id INT,
    product_id INT,
    quantity INT,
    price DECIMAL(10,2),
    order_time TIMESTAMP(3)
) WITH (
    'connector' = 'datagen',
    'number-of-rows' = '100',
    'rows-per-second' = '1000',
    'fields.order_id.kind' = 'sequence',
    'fields.order_id.start' = '1',
    'fields.order_id.end' = '100',
    'fields.customer_id.min' = '1',
    'fields.customer_id.max' = '50',
    'fields.product_id.min' = '1',
    'fields.product_id.max' = '20',
    'fields.quantity.min' = '1',
    'fields.quantity.max' = '10',
    'fields.price.min' = '10',
    'fields.price.max' = '500'
)
"""


def test_notebook02_batch_flow(engine):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    assert engine.properties["execution.runtime-mode"] == "batch"
    engine.execute_sql(BATCH_DDL)

    # full scan: exactly 100 rows (observed total_rows_fetched, examples/02:31)
    rows = drain(engine.execute_sql("SELECT * FROM orders_batch"))
    assert len(rows) == 100
    assert all(r["kind"] == "INSERT" for r in rows)

    # deterministic sequence field
    ids = sorted(r["fields"][0] for r in rows)
    assert ids == list(range(1, 101))

    # revenue agg per product (examples/02:54)
    agg = drain(
        engine.execute_sql(
            "SELECT product_id, COUNT(*) AS order_count, SUM(price * quantity) AS revenue "
            "FROM orders_batch GROUP BY product_id ORDER BY revenue DESC"
        )
    )
    assert 1 <= len(agg) <= 20

    # top-10 customers, multi-key ORDER BY + LIMIT (examples/02:71)
    top = drain(
        engine.execute_sql(
            "SELECT customer_id, COUNT(*) AS order_count, SUM(price*quantity) AS total_spent "
            "FROM orders_batch GROUP BY customer_id "
            "ORDER BY order_count DESC, total_spent DESC LIMIT 10"
        )
    )
    assert len(top) == 10

    # ranges honored
    for r in rows:
        assert 1 <= r["fields"][1] <= 50
        assert 1 <= r["fields"][3] <= 10

    engine.execute_sql("DROP TABLE orders_batch")
    assert "orders_batch" not in engine.tables


def test_notebook02_complex_types(engine):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        """
        CREATE TABLE products_with_metadata (
            product_id INT,
            product_name STRING,
            details ROW<category STRING, brand STRING>,
            tags ARRAY<STRING>,
            created_at TIMESTAMP(3)
        ) WITH (
            'connector' = 'datagen',
            'number-of-rows' = '50',
            'fields.product_id.kind' = 'sequence',
            'fields.product_id.start' = '1',
            'fields.product_id.end' = '50',
            'fields.product_name.length' = '15'
        )
        """
    )
    rows = drain(
        engine.execute_sql(
            "SELECT product_id, product_name, details.category, tags[1] AS t0 "
            "FROM products_with_metadata ORDER BY product_id"
        )
    )
    assert len(rows) == 50  # observed total_rows_fetched, examples/02:99
    assert len(rows[0]["fields"]) == 4
    engine.execute_sql("DROP TABLE products_with_metadata")


# ----------------------------------------------------------- result protocol
def test_paged_fetch_and_retry(engine):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        BATCH_DDL.replace("orders_batch", "orders_pages").replace("'100'", "'250'")
    )
    stmt = engine.execute_sql("SELECT order_id FROM orders_pages ORDER BY order_id")
    p0 = stmt.fetch(0)
    assert p0.result_type == "PAYLOAD"
    assert len(p0.data) == 100  # reference page size
    p0_again = stmt.fetch(0)  # idempotent retry of the same token
    assert [r["fields"] for r in p0_again.data] == [r["fields"] for r in p0.data]
    p1 = stmt.fetch(p0.next_token)
    assert len(p1.data) == 100
    p2 = stmt.fetch(p1.next_token)
    assert len(p2.data) == 50
    assert stmt.fetch(p2.next_token).result_type == "EOS"
    assert stmt.status() == "FINISHED"
    engine.execute_sql("DROP TABLE orders_pages")


def _await_no_active_jobs(sc, timeout: float) -> list:
    import time

    t0 = time.time()
    while (active := list(sc.statusTracker().getActiveJobsIds())) and (
        time.time() - t0 < timeout
    ):
        time.sleep(0.1)
    return active


# the second partition's first row sleeps 15 s: its (prefetched) job is
# still running when the first page has been served
SLOW_SECOND_PARTITION = (
    "SELECT id, reflect('java.lang.Thread', 'sleep', "
    "CAST(IF(id = {n}, 15000, 0) AS BIGINT)) AS s FROM range(0, {m}, 1, 2)"
)


def test_cancel_mid_drain_stops_the_result_jobs(engine, spark):
    """Cancelling a half-drained batch statement stops the JVM side at once:
    the prefetched partition job is cancelled rather than left to finish,
    and later fetches return EOS."""
    sc = spark.sparkContext
    stmt = engine.execute_stream_df(spark.sql(SLOW_SECOND_PARTITION.format(n=150, m=300)))
    page = stmt.fetch(0)
    assert page.result_type == "PAYLOAD" and len(page.data) == 100
    assert sc.statusTracker().getActiveJobsIds()  # partition 2 is prefetching
    stmt.cancel()
    assert _await_no_active_jobs(sc, timeout=8.0) == []
    assert stmt.fetch(1).result_type == "EOS"
    assert stmt.fetch(0).result_type == "EOS"
    assert stmt.status() == "CANCELED"


def test_engine_close_stops_a_half_drained_batch_statement(spark):
    sc = spark.sparkContext
    eng = Engine(spark)
    stmt = eng.execute_stream_df(spark.sql(SLOW_SECOND_PARTITION.format(n=150, m=300)))
    assert stmt.fetch(0).result_type == "PAYLOAD"
    eng.close()
    assert stmt.status() == "CANCELED"
    assert _await_no_active_jobs(sc, timeout=8.0) == []


def test_cancel_racing_concurrent_fetches(engine, spark):
    """Eight threads drain one batch statement while it is cancelled: no
    fetch raises, every thread ends on EOS, and no result job survives."""
    import sys
    import threading

    sc = spark.sparkContext
    stmt = engine.execute_stream_df(spark.sql("SELECT id FROM range(0, 400000, 1, 8)"))
    errors: list[Exception] = []
    last: list[str] = []
    first_page = threading.Event()

    def drain():
        token, kind = 0, None
        try:
            for _ in range(10_000):
                page = stmt.fetch(token)
                kind = page.result_type
                if kind == "EOS":
                    break
                first_page.set()
                token = page.next_token
        except Exception as e:  # noqa: BLE001
            errors.append(e)
        last.append(kind)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=drain) for _ in range(8)]
        for t in threads:
            t.start()
        assert first_page.wait(60)
        stmt.cancel()
        for t in threads:
            t.join(60)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors
    assert last == ["EOS"] * 8
    assert stmt.status() == "CANCELED"
    assert _await_no_active_jobs(sc, timeout=8.0) == []


def test_zero_column_result_pages_every_row(engine, spark):
    stmt = engine.execute_stream_df(spark.range(0, 250, 1, 3).select())
    assert [len(r["fields"]) for r in drain(stmt)] == [0] * 250


def test_filesystem_connector_roundtrip(engine, sf_dir, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""
        CREATE TABLE orders_fs (
          o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING,
          o_totalprice DOUBLE, o_orderdate TIMESTAMP(3), o_orderpriority STRING
        ) WITH ('connector'='filesystem','path'='{sf_dir}/orders.parquet','format'='parquet')
        """
    )
    rows = drain(engine.execute_sql("SELECT COUNT(*) AS c FROM orders_fs"))
    assert rows[0]["fields"][0] == 1500

    # INSERT INTO a filesystem sink (S10)
    engine.execute_sql(
        f"""
        CREATE TABLE orders_out (
          o_orderkey BIGINT, o_totalprice DOUBLE
        ) WITH ('connector'='filesystem','path'='{tmp_path}/out','format'='parquet')
        """
    )
    stmt = engine.execute_sql(
        "INSERT INTO orders_out SELECT o_orderkey, o_totalprice FROM orders_fs WHERE o_totalprice > 100000"
    )
    assert stmt.status() == "FINISHED"
    back = drain(engine.execute_sql("SELECT COUNT(*) AS c FROM orders_out"))
    assert back[0]["fields"][0] > 0


def test_filesystem_nanos_timestamp_declared_as_timestamp(engine, sf_dir):
    """events.parquet stores ts as TIMESTAMP(NANOS); a user-declared TIMESTAMP
    column must still read (ns → µs truncation), not fail on the reader's
    physical-type check. Regression: forced reader schema raised
    PARQUET_COLUMN_DATA_TYPE_MISMATCH."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""
        CREATE TABLE ev_ns (
          event_id BIGINT, ts TIMESTAMP(3), user_id BIGINT,
          event_type STRING, value DOUBLE, props STRING
        ) WITH ('connector'='filesystem','path'='{sf_dir}/events.parquet','format'='parquet')
        """
    )
    rows = drain(
        engine.execute_sql(
            "SELECT event_id, ts FROM ev_ns ORDER BY event_id LIMIT 3"
        )
    )
    assert len(rows) == 3
    assert all(r["fields"][1] is not None for r in rows)
    # a window query over the declared timestamp plans and runs
    agg = drain(
        engine.execute_sql(
            "SELECT TUMBLE_START(ts, INTERVAL '10' SECOND) AS w, COUNT(*) AS c "
            "FROM ev_ns GROUP BY TUMBLE(ts, INTERVAL '10' SECOND) ORDER BY w LIMIT 5"
        )
    )
    assert len(agg) > 0


# ------------------------------------------------------------------ sessions
def test_session_isolation(spark):
    mgr = SessionManager(spark)
    s1 = mgr.open_session({"execution.runtime-mode": "batch"})
    s2 = mgr.open_session({"execution.runtime-mode": "batch"})
    s1.execute_sql(BATCH_DDL.replace("orders_batch", "iso_t1"))
    assert "iso_t1" in s1.tables
    assert "iso_t1" not in s2.tables
    assert s1.properties is not s2.properties
    mgr.close_session(s1.session_handle)
    mgr.close_session(s2.session_handle)


def test_close_session_removes_its_checkpoint_root(spark):
    """A closed session's streaming checkpoints do not outlive it."""
    import os

    mgr = SessionManager(spark)
    eng = mgr.open_session()  # default runtime mode: streaming
    eng.execute_sql("""
        CREATE TABLE ckpt_src (id INT) WITH (
            'connector' = 'datagen', 'rows-per-second' = '50',
            'fields.id.min' = '1', 'fields.id.max' = '9')
    """)
    stmt = eng.execute_sql("SELECT id, COUNT(*) AS c FROM ckpt_src GROUP BY id")
    assert stmt.is_streaming
    root = eng._checkpoint_root
    for _ in range(120):
        if stmt.fetch(0).result_type == "PAYLOAD":
            break
        time.sleep(0.25)
    assert os.listdir(root), "the streaming statement wrote no checkpoint"
    mgr.close_session(eng.session_handle)
    assert stmt.status() == "CANCELED"
    assert not os.path.exists(root)


def test_show_and_describe(engine):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(BATCH_DDL.replace("orders_batch", "show_me"))
    tables = [r["fields"][0] for r in drain(engine.execute_sql("SHOW TABLES"))]
    assert "show_me" in tables
    desc = drain(engine.execute_sql("DESCRIBE show_me"))
    names = [r["fields"][0] for r in desc]
    assert names == ["order_id", "customer_id", "product_id", "quantity", "price", "order_time"]
    assert desc[4]["fields"][1] == "DECIMAL(10,2)"
    props = drain(engine.execute_sql("SET"))
    assert ["execution.runtime-mode", "batch"] in [r["fields"] for r in props]
    engine.execute_sql("DROP TABLE show_me")


# ------------------------------------------------------- statement sets (D8)
def test_execute_statement_set(engine, sf_dir, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""
        CREATE TABLE o_src (
          o_orderkey BIGINT, o_totalprice DOUBLE, o_orderstatus STRING
        ) WITH ('connector'='filesystem','path'='{sf_dir}/orders.parquet','format'='parquet')
        """
    )
    for name in ("sink_a", "sink_b"):
        engine.execute_sql(
            f"""
            CREATE TABLE {name} (o_orderkey BIGINT, o_totalprice DOUBLE)
            WITH ('connector'='filesystem','path'='{tmp_path}/{name}','format'='parquet')
            """
        )
    stmts = engine.execute_script(
        """
        EXECUTE STATEMENT SET BEGIN
          INSERT INTO sink_a SELECT o_orderkey, o_totalprice FROM o_src WHERE o_orderstatus = 'F';
          INSERT INTO sink_b SELECT o_orderkey, o_totalprice FROM o_src WHERE o_totalprice > 100000;
        END
        """
    )
    assert len(stmts) == 1 and stmts[0].status() == "FINISHED"
    a = drain(engine.execute_sql("SELECT COUNT(*) AS c FROM sink_a"))[0]["fields"][0]
    b = drain(engine.execute_sql("SELECT COUNT(*) AS c FROM sink_b"))[0]["fields"][0]
    assert a > 0 and b > 0


def test_catalog_tree(engine, sf_dir):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""
        CREATE TABLE tree_t (o_orderkey BIGINT) WITH
        ('connector'='filesystem','path'='{sf_dir}/orders.parquet','format'='parquet')
        """
    )
    tree = engine.catalog_tree()
    cur_cat = engine.spark.catalog.currentCatalog()
    cur_db = engine.spark.catalog.currentDatabase()
    assert "tree_t" in tree[cur_cat][cur_db]
    engine.execute_sql("DROP TABLE tree_t")


def test_datagen_sequence_end_caps_rows(engine):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        """
        CREATE TABLE seq_capped (id INT) WITH (
          'connector' = 'datagen',
          'number-of-rows' = '1000',
          'fields.id.kind' = 'sequence',
          'fields.id.start' = '5',
          'fields.id.end' = '24'
        )
        """
    )
    rows = drain(engine.execute_sql("SELECT id FROM seq_capped ORDER BY id"))
    assert [r["fields"][0] for r in rows] == list(range(5, 25))
    engine.execute_sql("DROP TABLE seq_capped")


def test_iceberg_requires_runtime_jar(engine):
    with pytest.raises(Exception, match="iceberg-spark-runtime"):
        engine.execute_sql(
            "CREATE TABLE ice (a INT) WITH ('connector'='iceberg','table-name'='c.db.t')"
        )


def test_bad_query_surfaces_error_state(engine):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    with pytest.raises(Exception):
        stmt = engine.execute_sql("SELECT * FROM table_that_does_not_exist")
        stmt.fetch(0)


def test_tumble_tvf_end_to_end(engine):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        """
        CREATE TABLE ev_tvf (id INT, ts TIMESTAMP_LTZ(3)) WITH (
          'connector' = 'datagen', 'number-of-rows' = '40',
          'fields.id.kind' = 'sequence', 'fields.id.start' = '1'
        )
        """
    )
    rows = drain(
        engine.execute_sql(
            "SELECT window_start, COUNT(*) AS c FROM "
            "TABLE(TUMBLE(TABLE ev_tvf, DESCRIPTOR(ts), INTERVAL '10' SECOND)) "
            "GROUP BY window_start ORDER BY window_start"
        )
    )
    # datagen event time advances 1s/row → 40 rows span four 10s windows
    assert [r["fields"][1] for r in rows] == [10, 10, 10, 10]
    engine.execute_sql("DROP TABLE ev_tvf")


def test_cumulate_tvf_end_to_end(engine):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        """
        CREATE TABLE ev_cml (id INT, ts TIMESTAMP_LTZ(3)) WITH (
          'connector' = 'datagen', 'number-of-rows' = '60',
          'fields.id.kind' = 'sequence', 'fields.id.start' = '1'
        )
        """
    )
    rows = drain(
        engine.execute_sql(
            "SELECT window_end, COUNT(*) AS c FROM "
            "TABLE(CUMULATE(TABLE ev_cml, DESCRIPTOR(ts), "
            "INTERVAL '10' SECOND, INTERVAL '60' SECOND)) "
            "GROUP BY window_end ORDER BY window_end"
        )
    )
    # 60 rows at 1s spacing fill one span: growing windows of 10..60s
    # contain 10, 20, ..., 60 events
    assert [r["fields"][1] for r in rows] == [10, 20, 30, 40, 50, 60]
    engine.execute_sql("DROP TABLE ev_cml")


def test_statement_executed_event(engine):
    seen = []
    engine.on_statement_executed(lambda sql, kind: seen.append(kind))
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        "CREATE TABLE evt_t (id INT) WITH ('connector'='datagen','number-of-rows'='1')"
    )
    engine.execute_sql("SELECT 1 AS x")
    engine.execute_sql("DROP TABLE evt_t")
    assert seen == ["set", "create_table", "query", "drop_table"]
    # failing statements do not fire the event
    with pytest.raises(Exception):
        engine.execute_sql("CREATE TABLE bad (id INT) WITH ('connector'='nope')")
    assert len(seen) == 4


def test_versioned_temporal_join(engine, tmp_path):
    """FOR SYSTEM_TIME AS OF against a dim with a version column (its
    WATERMARK column) resolves each probe row to the dim version current at
    the row's event time — full J7 semantics, not the snapshot fallback."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(
        pa.table({
            "currency": ["EUR", "EUR", "USD"],
            "rate": [1.10, 1.20, 1.00],
            "rt": [pa.scalar(t, pa.timestamp("ms")) for t in (1000, 5000, 1000)],
        }),
        str(tmp_path / "rates.parquet"),
    )
    pq.write_table(
        pa.table({
            "order_id": [1, 2, 3],
            "currency": ["EUR", "EUR", "CHF"],
            "amount": [10.0, 10.0, 7.0],
            "ot": [pa.scalar(t, pa.timestamp("ms")) for t in (2000, 6000, 2000)],
        }),
        str(tmp_path / "orders.parquet"),
    )
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""CREATE TABLE rates (currency STRING, rate DOUBLE, rt TIMESTAMP(3),
            PRIMARY KEY (currency) NOT ENFORCED,
            WATERMARK FOR rt AS rt - INTERVAL '5' SECOND)
            WITH ('connector'='filesystem','path'='{tmp_path}/rates.parquet','format'='parquet')"""
    )
    engine.execute_sql(
        f"""CREATE TABLE ord_t (order_id BIGINT, currency STRING, amount DOUBLE,
            ot TIMESTAMP(3))
            WITH ('connector'='filesystem','path'='{tmp_path}/orders.parquet','format'='parquet')"""
    )
    stmt = engine.execute_sql(
        "SELECT o.order_id, o.amount, r.rate FROM ord_t o "
        "JOIN rates FOR SYSTEM_TIME AS OF o.ot AS r ON o.currency = r.currency "
        "ORDER BY o.order_id"
    )
    rows = [r["fields"] for r in stmt.fetch().data]
    # order 1 @2s → EUR rate 1.10 (v@1s); order 2 @6s → 1.20 (v@5s);
    # order 3: CHF has no version → dropped (inner temporal join)
    assert rows == [[1, 10.0, 1.1], [2, 10.0, 1.2]]

    # LEFT variant keeps the unmatched probe row with a null rate
    stmt = engine.execute_sql(
        "SELECT o.order_id, r.rate FROM ord_t o "
        "LEFT JOIN rates FOR SYSTEM_TIME AS OF o.ot AS r ON o.currency = r.currency "
        "ORDER BY o.order_id"
    )
    rows = [r["fields"] for r in stmt.fetch().data]
    assert rows == [[1, 1.1], [2, 1.2], [3, None]]


def test_partitioned_table_roundtrip_and_pruning(engine, sf_dir, tmp_path):
    """PARTITIONED BY writes hive-style directories, and a filter on the
    partition column prunes at the scan (PartitionFilters, not a full read)."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""CREATE TABLE ord_src (o_orderkey BIGINT, o_totalprice DOUBLE,
            o_orderstatus STRING)
            WITH ('connector'='filesystem','path'='{sf_dir}/orders.parquet','format'='parquet')"""
    )
    engine.execute_sql(
        f"""CREATE TABLE ord_part (o_orderkey BIGINT, o_totalprice DOUBLE,
            o_orderstatus STRING) PARTITIONED BY (o_orderstatus)
            WITH ('connector'='filesystem','path'='{tmp_path}/part','format'='parquet')"""
    )
    engine.execute_sql(
        "INSERT INTO ord_part SELECT o_orderkey, o_totalprice, o_orderstatus FROM ord_src"
    )
    import os

    assert any(d.startswith("o_orderstatus=") for d in os.listdir(f"{tmp_path}/part"))

    rows = drain(
        engine.execute_sql(
            "SELECT COUNT(*) AS c FROM ord_part WHERE o_orderstatus = 'F'"
        )
    )
    src = drain(
        engine.execute_sql(
            "SELECT COUNT(*) AS c FROM ord_src WHERE o_orderstatus = 'F'"
        )
    )
    assert rows[0]["fields"][0] == src[0]["fields"][0] > 0

    plan = drain(
        engine.execute_sql(
            "EXPLAIN SELECT COUNT(*) FROM ord_part WHERE o_orderstatus = 'F'"
        )
    )
    plan_text = "\n".join(str(r["fields"][0]) for r in plan)
    assert "PartitionFilters" in plan_text and "o_orderstatus" in plan_text


def test_proctime_computed_column(engine):
    """Flink's `pt AS PROCTIME()` processing-time attribute evaluates to the
    processing wall-clock (CURRENT_TIMESTAMP) in both runtime modes."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        """CREATE TABLE pt_t (id INT, pt AS PROCTIME()) WITH (
           'connector'='datagen','number-of-rows'='3',
           'fields.id.kind'='sequence','fields.id.start'='1','fields.id.end'='3')"""
    )
    rows = drain(engine.execute_sql("SELECT id, pt FROM pt_t ORDER BY id"))
    assert len(rows) == 3
    assert all(r["fields"][1] is not None for r in rows)


def test_create_view_over_logical_tables(engine):
    """CREATE VIEW works over connector tables (session-scoped, Flink's
    default-catalog view semantics); DROP VIEW removes it."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        """CREATE TABLE vt (id INT) WITH ('connector'='datagen',
           'number-of-rows'='5','fields.id.kind'='sequence',
           'fields.id.start'='1','fields.id.end'='5')"""
    )
    assert engine.execute_sql("CREATE VIEW v2 AS SELECT id * 2 AS d FROM vt").status() == "FINISHED"
    rows = drain(engine.execute_sql("SELECT * FROM v2 ORDER BY d"))
    assert [r["fields"][0] for r in rows] == [2, 4, 6, 8, 10]
    assert engine.execute_sql("DROP VIEW v2").status() == "FINISHED"
    import pytest as _pt

    with _pt.raises(Exception):
        engine.execute_sql("SELECT * FROM v2")
    assert engine.execute_sql("DROP VIEW IF EXISTS v2").status() == "FINISHED"


def test_show_create_table_roundtrips(engine, sf_dir):
    """SHOW CREATE TABLE reconstructs executable Flink-dialect DDL with
    schema, PRIMARY KEY, WATERMARK, PARTITIONED BY, and options."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""CREATE TABLE sct (o_orderkey BIGINT NOT NULL, o_orderstatus STRING,
            o_orderdate TIMESTAMP(3),
            PRIMARY KEY (o_orderkey) NOT ENFORCED,
            WATERMARK FOR o_orderdate AS o_orderdate - INTERVAL '5' SECOND)
            PARTITIONED BY (o_orderstatus)
            WITH ('connector'='filesystem','path'='{sf_dir}/orders.parquet','format'='parquet')"""
    )
    ddl = drain(engine.execute_sql("SHOW CREATE TABLE sct"))[0]["fields"][0]
    for frag in (
        "CREATE TABLE `sct`", "`o_orderkey` BIGINT NOT NULL",
        "PRIMARY KEY (`o_orderkey`) NOT ENFORCED",
        "WATERMARK FOR `o_orderdate`", "PARTITIONED BY (`o_orderstatus`)",
        "'connector' = 'filesystem'",
    ):
        assert frag in ddl, f"missing {frag!r} in:\n{ddl}"
    # the reconstructed DDL executes verbatim in a fresh session
    from flink_notebooks_spark.engine import Engine as _E

    eng2 = _E(engine.spark)
    eng2.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    eng2.execute_sql(ddl.replace("`sct`", "`sct2`"))
    rows = drain(eng2.execute_sql("SELECT COUNT(*) AS c FROM sct2"))
    assert rows[0]["fields"][0] > 0
    eng2.close()


def test_alter_table_set_options(engine):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        """CREATE TABLE alt_t (id INT) WITH ('connector'='datagen',
           'number-of-rows'='3','fields.id.kind'='sequence',
           'fields.id.start'='1','fields.id.end'='3')"""
    )
    assert len(drain(engine.execute_sql("SELECT * FROM alt_t"))) == 3
    engine.execute_sql(
        "ALTER TABLE alt_t SET ('number-of-rows'='7', 'fields.id.end'='7')"
    )
    assert engine.tables["alt_t"].options["number-of-rows"] == "7"
    rows = drain(engine.execute_sql("SELECT * FROM alt_t ORDER BY id"))
    assert [r["fields"][0] for r in rows] == [1, 2, 3, 4, 5, 6, 7]


def test_insert_maps_columns_positionally(engine, tmp_path):
    """Flink INSERT is positional: 'INSERT INTO sink SELECT count(*)' must
    fill sink column `cnt` even though the query's output is named
    'count(1)'. Name-based sink reads previously saw typed NULLs."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        """CREATE TABLE pos_src (id INT) WITH ('connector'='datagen',
           'number-of-rows'='5','fields.id.kind'='sequence',
           'fields.id.start'='1','fields.id.end'='5')"""
    )
    engine.execute_sql(
        f"""CREATE TABLE pos_sink (cnt BIGINT, total DOUBLE)
            WITH ('connector'='filesystem','path'='{tmp_path}/pos','format'='parquet')"""
    )
    engine.execute_sql("INSERT INTO pos_sink SELECT COUNT(*), SUM(id) FROM pos_src")
    rows = drain(engine.execute_sql("SELECT cnt, total FROM pos_sink"))
    assert rows[0]["fields"] == [5, 15.0]


def test_insert_arity_mismatch_rejected(engine, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""CREATE TABLE ar_sink (a INT, b INT)
            WITH ('connector'='filesystem','path'='{tmp_path}/ar','format'='parquet')"""
    )
    with pytest.raises(ValueError, match="1 column"):
        engine.execute_sql("INSERT INTO ar_sink SELECT 1")


def test_insert_with_explicit_column_list(engine, tmp_path):
    """INSERT INTO t (b) SELECT ... — listed columns fill positionally,
    unlisted ones become typed NULLs (Flink partial-insert semantics)."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""CREATE TABLE cl_sink (a INT, b STRING)
            WITH ('connector'='filesystem','path'='{tmp_path}/cl','format'='parquet')"""
    )
    engine.execute_sql("INSERT INTO cl_sink (b) SELECT 'hello'")
    rows = drain(engine.execute_sql("SELECT a, b FROM cl_sink"))
    assert rows[0]["fields"] == [None, "hello"]


def _fs_table(engine, name, path, cols="id INT, s STRING"):
    engine.execute_sql(
        f"CREATE TABLE {name} ({cols}) WITH ('connector'='filesystem',"
        f"'path'='{path}','format'='parquet')"
    )


def _ids(engine, table):
    rows = drain(engine.execute_sql(f"SELECT id FROM {table} ORDER BY id"))
    return [r["fields"][0] for r in rows]


def test_view_sees_rows_a_later_insert_added(engine, tmp_path):
    """A session view is resolved again at each use, so it follows the
    re-registered table after an INSERT instead of the file listing of
    the moment it was created."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    _fs_table(engine, "vs", tmp_path / "vs")
    engine.execute_sql("INSERT INTO vs VALUES (1, 'x')")
    engine.execute_sql("CREATE VIEW vs_all AS SELECT * FROM vs")
    assert _ids(engine, "vs_all") == [1]
    engine.execute_sql("INSERT INTO vs VALUES (2, 'y')")
    assert _ids(engine, "vs") == [1, 2]
    assert _ids(engine, "vs_all") == [1, 2]


def test_location_normalizes_paths_and_topics():
    from flink_notebooks_spark.engine.engine import _location, _overlaps

    def table(connector, **options):
        opts = {"connector": connector, **options}
        with_ = ",".join(f"'{k}'='{v}'" for k, v in opts.items())
        return parse_statement(f"CREATE TABLE t (id INT) WITH ({with_})").table

    assert _location(table("filesystem", path="file:///d/x/")) == "/d/x"
    assert _location(table("filesystem", path="file:/d/./x")) == "/d/x"
    assert _location(table("filesystem", path="s3a://b/x/")) == "s3a://b/x"
    emulated = table(
        "kafka", topic="tp", **{"properties.bootstrap.servers": "file:///brk"}
    )
    assert _location(emulated) == "/brk/tp"
    broker = table("kafka", topic="tp", **{"properties.bootstrap.servers": "h:9092"})
    assert _location(broker) is None
    assert _location(table("datagen")) is None
    assert _overlaps("/d/x", "/d/x") and _overlaps("/d", "/d/x") and _overlaps("/d/x/y", "/d/x")
    assert not _overlaps("/d/x", "/d/xy") and not _overlaps("/d/x", "/d/y")


def test_insert_refreshes_only_tables_over_the_written_location(
    engine, tmp_path, monkeypatch
):
    """An INSERT re-registers the target, a second table over the same path
    and a table over its parent directory; tables elsewhere keep their
    registration. The two readers see the new rows."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    lake = tmp_path / "lake"
    _fs_table(engine, "rt_sink", lake / "dt=1")
    _fs_table(engine, "rt_twin", f"file://{lake}/dt=1/")
    _fs_table(engine, "rt_lake", lake)
    _fs_table(engine, "rt_sibling", tmp_path / "lake_other")
    _fs_table(engine, "rt_prefix", f"{lake}/dt=10")
    engine.execute_sql("INSERT INTO rt_sink VALUES (1, 'a')")
    assert _ids(engine, "rt_lake") == [1]

    registered = []
    register = engine._register_view
    monkeypatch.setattr(
        engine, "_register_view", lambda t: (registered.append(t.name), register(t))
    )
    engine.execute_sql("INSERT INTO rt_sink VALUES (2, 'b')")
    assert sorted(registered) == ["rt_lake", "rt_sink", "rt_twin"]
    assert _ids(engine, "rt_twin") == [1, 2]
    assert _ids(engine, "rt_lake") == [1, 2]


def test_insert_still_refreshes_tables_with_no_known_location(
    engine, tmp_path, monkeypatch
):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    _fs_table(engine, "nl_sink", tmp_path / "nl")
    _fs_table(engine, "nl_other", tmp_path / "elsewhere")
    engine.execute_sql(
        """CREATE TABLE nl_gen (id INT) WITH ('connector'='datagen',
           'number-of-rows'='3','fields.id.kind'='sequence',
           'fields.id.start'='1','fields.id.end'='3')"""
    )
    registered = []
    register = engine._register_view
    monkeypatch.setattr(
        engine, "_register_view", lambda t: (registered.append(t.name), register(t))
    )
    engine.execute_sql("INSERT INTO nl_sink SELECT id, 'g' FROM nl_gen")
    assert sorted(registered) == ["nl_gen", "nl_sink"]
    assert _ids(engine, "nl_sink") == [1, 2, 3]


def test_benchmark_shaped_insert_runs_at_most_three_jobs(engine, spark, sf_dir, tmp_path):
    """INSERT ... SELECT ... GROUP BY into a sink in a session of nine file
    tables: the query, the write and the sink's re-registration (Parquet
    schema inference). Re-registering every table ran one inference job
    per table on top."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    tables = {
        "region": "r_regionkey INT",
        "nation": "n_nationkey INT",
        "customer": "c_custkey BIGINT",
        "supplier": "s_suppkey BIGINT",
        "part": "p_partkey BIGINT",
        "orders": "o_orderkey BIGINT, o_totalprice DOUBLE, o_orderpriority STRING",
        "lineitem": "l_orderkey BIGINT",
        "events": "event_id BIGINT",
        "documents": "doc_id BIGINT",
    }
    for name, cols in tables.items():
        _fs_table(engine, f"bs_{name}", f"{sf_dir}/{name}.parquet", cols)
    _fs_table(engine, "bs_sink", tmp_path / "sink", "p STRING, n BIGINT, total DOUBLE")
    insert = (
        "INSERT INTO bs_sink SELECT o_orderpriority, COUNT(*), SUM(o_totalprice) "
        "FROM bs_orders GROUP BY o_orderpriority"
    )
    engine.execute_sql(insert)  # the sink's files exist from here on
    sc = spark.sparkContext
    sc.setJobGroup("bs_insert", "benchmark-shaped INSERT")
    try:
        engine.execute_sql(insert)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert 1 <= len(sc.statusTracker().getJobIdsForGroup("bs_insert")) <= 3
    rows = drain(engine.execute_sql("SELECT SUM(n) FROM bs_sink"))
    assert rows[0]["fields"][0] == 2 * 1500


def test_create_table_duplicate_raises(engine):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    ddl = (
        "CREATE TABLE dup_t (id INT) WITH ('connector'='datagen',"
        "'number-of-rows'='1')"
    )
    engine.execute_sql(ddl)
    with pytest.raises(ValueError, match="already exists"):
        engine.execute_sql(ddl)
    # IF NOT EXISTS stays a no-op success
    engine.execute_sql(ddl.replace("CREATE TABLE", "CREATE TABLE IF NOT EXISTS"))


def test_split_statements_ignores_comments():
    from flink_notebooks_spark.engine.ddl import split_statements

    text = """
    -- leading comment; with a semicolon and an apostrophe: don't split
    SELECT 1 /* inline; 'quote' */ AS a;
    SELECT 2 AS b; -- trailing'comment
    """
    stmts = split_statements(text)
    assert len(stmts) == 2
    assert stmts[0].endswith("AS a")
    assert stmts[1].startswith("SELECT 2")


def test_statement_set_tracks_children(engine, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        """CREATE TABLE ss_src (id INT) WITH ('connector'='datagen',
           'number-of-rows'='3','fields.id.kind'='sequence',
           'fields.id.start'='1','fields.id.end'='3')"""
    )
    for name in ("ss_a", "ss_b"):
        engine.execute_sql(
            f"""CREATE TABLE {name} (id INT)
                WITH ('connector'='filesystem','path'='{tmp_path}/{name}','format'='parquet')"""
        )
    before = len(engine.statements)
    stmt = engine.execute_sql(
        """EXECUTE STATEMENT SET BEGIN
           INSERT INTO ss_a SELECT id FROM ss_src;
           INSERT INTO ss_b SELECT id FROM ss_src WHERE id > 1;
           END"""
    )
    assert len(stmt.children) == 2
    # children are tracked on the engine so close()/gateway can reach them
    assert len(engine.statements) == before + 3  # 2 children + the set itself


def test_alter_table_rename_and_add_drop_column(engine, sf_dir, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""CREATE TABLE alt_fs (o_orderkey BIGINT, o_totalprice DOUBLE)
            WITH ('connector'='filesystem','path'='{sf_dir}/orders.parquet','format'='parquet')"""
    )
    engine.execute_sql("ALTER TABLE alt_fs RENAME TO alt_fs2")
    assert "alt_fs" not in engine.tables and "alt_fs2" in engine.tables
    rows = drain(engine.execute_sql("SELECT COUNT(*) AS c FROM alt_fs2"))
    assert rows[0]["fields"][0] == 1500
    with pytest.raises(Exception):
        drain(engine.execute_sql("SELECT * FROM alt_fs LIMIT 1"))

    # ADD column not present in the file → typed NULLs (external-table form)
    engine.execute_sql("ALTER TABLE alt_fs2 ADD (discount DOUBLE, note STRING)")
    rows = drain(engine.execute_sql(
        "SELECT o_orderkey, discount, note FROM alt_fs2 LIMIT 3"))
    assert all(r["fields"][1] is None and r["fields"][2] is None for r in rows)

    engine.execute_sql("ALTER TABLE alt_fs2 DROP (note)")
    cols = [r["fields"][0] for r in drain(engine.execute_sql("DESCRIBE alt_fs2"))]
    assert "note" not in cols and "discount" in cols


def test_create_catalog_in_memory_end_to_end(engine):
    """D3: CREATE CATALOG (generic_in_memory → embedded in-memory database
    behind Spark's JDBCTableCatalog) — catalog-managed tables take the
    Spark-SQL DDL/INSERT path, USE CATALOG switches context, DROP CATALOG
    unregisters."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql("CREATE CATALOG memcat WITH ('type'='generic_in_memory')")
    engine.execute_sql("CREATE TABLE memcat.APP.CT1 (id INT, name STRING)")
    engine.execute_sql(
        "INSERT INTO memcat.APP.CT1 SELECT * FROM VALUES (1,'a'), (2,'b') AS t(id, name)"
    )
    rows = drain(engine.execute_sql("SELECT id, name FROM memcat.APP.CT1 ORDER BY id"))
    assert [r["fields"] for r in rows] == [[1, "a"], [2, "b"]]

    # switch into the catalog; unqualified DDL goes to the catalog
    engine.execute_sql("USE CATALOG memcat")
    engine.execute_sql("USE APP")
    engine.execute_sql("CREATE TABLE CT2 (x INT)")
    names = [r["fields"][0] for r in drain(engine.execute_sql("SHOW TABLES"))]
    assert "CT1" in names and "CT2" in names

    engine.execute_sql("USE CATALOG spark_catalog")
    engine.execute_sql("DROP CATALOG memcat")
    # conf unregistered (Spark keeps the already-instantiated catalog object
    # for the session's lifetime; a fresh session no longer sees it)
    with pytest.raises(Exception):
        engine.spark.conf.get("spark.sql.catalog.memcat")
    with pytest.raises(ValueError, match="catalog not found"):
        engine.execute_sql("DROP CATALOG memcat")
    engine.execute_sql("DROP CATALOG IF EXISTS memcat")


def test_create_catalog_jdbc_over_derby(engine, tmp_path):
    """D3 jdbc catalog: Flink JdbcCatalog options (base-url +
    default-database + driver) against an embedded Derby database."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        f"""CREATE CATALOG dbycat WITH ('type'='jdbc',
             'base-url'='jdbc:derby:{tmp_path}', 'default-database'='cdb;create=true',
             'driver'='org.apache.derby.jdbc.EmbeddedDriver')"""
    )
    engine.execute_sql("CREATE TABLE dbycat.APP.JT (id INT)")
    engine.execute_sql("INSERT INTO dbycat.APP.JT SELECT * FROM VALUES (5), (6) AS t(id)")
    rows = drain(engine.execute_sql("SELECT id FROM dbycat.APP.JT ORDER BY id"))
    assert [r["fields"][0] for r in rows] == [5, 6]
    engine.execute_sql("DROP CATALOG dbycat")


def test_create_function_java_via_add_jar(engine, tmp_path):
    """D7 + function DDL end-to-end: compile a Java UDF, ADD JAR it, CREATE
    FUNCTION ... LANGUAGE JAVA, call it from SQL — the reference's
    user-jar workflow (Flink ADD JAR + CREATE FUNCTION)."""
    import shutil
    import subprocess

    if not (shutil.which("javac") and shutil.which("jar")):
        pytest.skip("no JDK compiler in environment")
    import os

    import pyspark

    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    src = tmp_path / "TimesTen.java"
    src.write_text(
        "import org.apache.spark.sql.api.java.UDF1;\n"
        "public class TimesTen implements UDF1<Integer, Integer> {\n"
        "  @Override public Integer call(Integer x) { return x * 10; }\n"
        "}\n"
    )
    subprocess.run(
        ["javac", "-cp", f"{jars}/*", "TimesTen.java"], cwd=tmp_path, check=True
    )
    subprocess.run(
        ["jar", "cf", "timesten.jar", "TimesTen.class"], cwd=tmp_path, check=True
    )
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"ADD JAR '{tmp_path}/timesten.jar'")
    jars_shown = [r["fields"][0] for r in drain(engine.execute_sql("SHOW JARS"))]
    assert any("timesten.jar" in j for j in jars_shown)
    engine.execute_sql("CREATE TEMPORARY FUNCTION times_ten AS 'TimesTen' LANGUAGE JAVA")
    rows = drain(engine.execute_sql("SELECT times_ten(7) AS v"))
    assert rows[0]["fields"][0] == 70


def test_create_function_python(engine):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(
        "CREATE TEMPORARY FUNCTION triple AS 'tests.udf_fixture.triple' LANGUAGE PYTHON"
    )
    engine.execute_sql(
        "CREATE TEMPORARY FUNCTION shout AS 'tests.udf_fixture.shout' LANGUAGE PYTHON"
    )
    rows = drain(engine.execute_sql("SELECT triple(14) AS t, shout('hey') AS s"))
    assert rows[0]["fields"] == [42, "hey!"]
    engine.execute_sql("DROP FUNCTION triple")
    with pytest.raises(Exception):
        drain(engine.execute_sql("SELECT triple(1)"))


def test_explain_variants(engine):
    """Flink EXPLAIN dialect: PLAN FOR / ESTIMATED_COST /
    JSON_EXECUTION_PLAN / CHANGELOG_MODE all produce plan text."""
    engine.execute_sql(
        """CREATE TABLE ex_t (id INT) WITH ('connector'='datagen',
           'number-of-rows'='5','fields.id.kind'='sequence',
           'fields.id.start'='1','fields.id.end'='5')"""
    )
    plain = drain(engine.execute_sql("EXPLAIN SELECT id FROM ex_t WHERE id > 2"))
    assert "Physical Plan" in plain[0]["fields"][0]
    planfor = drain(engine.execute_sql("EXPLAIN PLAN FOR SELECT id FROM ex_t"))
    assert "Physical Plan" in planfor[0]["fields"][0]
    cost = drain(engine.execute_sql("EXPLAIN ESTIMATED_COST SELECT id FROM ex_t"))
    assert "Optimized Logical Plan" in cost[0]["fields"][0]
    fmt = drain(engine.execute_sql("EXPLAIN JSON_EXECUTION_PLAN SELECT id FROM ex_t"))
    assert "Physical Plan" in fmt[0]["fields"][0]

    # CHANGELOG_MODE reports the mode the engine would run under
    batch_cm = drain(engine.execute_sql("EXPLAIN CHANGELOG_MODE SELECT id FROM ex_t"))
    assert "changelog-mode: batch" in batch_cm[0]["fields"][0]
    engine.execute_sql(
        """CREATE TABLE ex_s (user_id INT) WITH ('connector'='datagen',
           'rows-per-second'='10','fields.user_id.min'='1','fields.user_id.max'='5')"""
    )
    app = drain(engine.execute_sql("EXPLAIN CHANGELOG_MODE SELECT user_id FROM ex_s"))
    assert "changelog-mode: append" in app[0]["fields"][0]
    upd = drain(engine.execute_sql(
        "EXPLAIN CHANGELOG_MODE SELECT user_id, COUNT(*) AS c FROM ex_s GROUP BY user_id"))
    assert "changelog-mode: update" in upd[0]["fields"][0]


def test_flink_builtin_compatibility_functions(engine):
    """Flink SQL built-ins Spark lacks under those names, served as inlined
    SQL UDFs: SPLIT_INDEX (0-based, literal separator), JSON_VALUE/QUERY/
    EXISTS, TO_/FROM_BASE64, numeric TRUNCATE (toward zero), REGEXP."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    rows = drain(engine.execute_sql(
        """SELECT SPLIT_INDEX('a.b.c', '.', 1) AS si,
                  JSON_VALUE('{"k": {"v": 7}}', '$.k.v') AS jv,
                  JSON_EXISTS('{"k": 1}', '$.k') AS je,
                  JSON_EXISTS('{"k": 1}', '$.z') AS jn,
                  TO_BASE64('hi') AS tb, FROM_BASE64('aGk=') AS fb,
                  TRUNCATE(-4.567, 2) AS tr, TRUNCATE(4.567, 0) AS tz,
                  REGEXP('hello', 'l+') AS re"""
    ))
    assert rows[0]["fields"] == [
        "b", "7", True, False, "aGk=", "hi", -4.56, 4.0, True
    ]


# ----------------------------------------------------- CREATE TABLE ... LIKE
def test_create_table_like_derives_and_overwrites_options(engine, tmp_path):
    """Flink's CREATE TABLE ... LIKE: schema/connector inherit from the
    source; the new WITH overrides conflicting options (default merge is
    INCLUDING ALL + OVERWRITING OPTIONS)."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE base_t (
          id INT NOT NULL,
          name STRING
        ) WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/a',
                'format' = 'parquet')
    """)
    engine.execute_sql(f"""
        CREATE TABLE derived_t WITH ('path' = '{tmp_path}/b')
        LIKE base_t
    """)
    engine.execute_sql("INSERT INTO derived_t VALUES (1, 'x'), (2, 'y')")
    rows = drain(engine.execute_sql("SELECT id, name FROM derived_t ORDER BY id"))
    assert [r["fields"] for r in rows] == [[1, "x"], [2, "y"]]
    # base table's path untouched: its own insert lands separately
    engine.execute_sql("INSERT INTO base_t VALUES (9, 'z')")
    assert [r["fields"] for r in drain(engine.execute_sql("SELECT id FROM base_t"))] == [[9]]
    ddl = drain(engine.execute_sql("SHOW CREATE TABLE derived_t"))[0]["fields"][0]
    assert f"{tmp_path}/b" in ddl and "`name` STRING" in ddl


def test_create_table_like_extra_columns_and_watermark(engine, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE src_ev (
          ev_id INT,
          ts TIMESTAMP(3)
        ) WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/src',
                'format' = 'parquet')
    """)
    engine.execute_sql("""
        CREATE TABLE enriched (
          note STRING,
          WATERMARK FOR ts AS ts - INTERVAL '5' SECOND
        ) LIKE src_ev
    """)
    t = engine.tables["enriched"]
    assert [c.name for c in t.columns] == ["ev_id", "ts", "note"]
    assert t.watermark is not None and t.watermark.column == "ts"
    assert t.options["connector"] == "filesystem"


def test_create_table_like_excluding_options_requires_connector(engine, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE like_src2 (id INT)
        WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/s2',
              'format' = 'parquet')
    """)
    with pytest.raises(ValueError, match="connector"):
        engine.execute_sql(
            "CREATE TABLE bare_t LIKE like_src2 (EXCLUDING OPTIONS)"
        )


def test_create_table_like_conflict_rules(engine, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE like_src3 (id INT, nm STRING)
        WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/s3',
              'format' = 'parquet')
    """)
    # duplicate physical column is always an error
    with pytest.raises(ValueError, match="already exists"):
        engine.execute_sql("CREATE TABLE dup_col (id INT) LIKE like_src3")
    # INCLUDING OPTIONS + conflicting value errors; OVERWRITING accepts
    with pytest.raises(ValueError, match="OVERWRITING OPTIONS"):
        engine.execute_sql(f"""
            CREATE TABLE opt_conflict WITH ('path' = '{tmp_path}/other')
            LIKE like_src3 (INCLUDING OPTIONS)
        """)
    engine.execute_sql(f"""
        CREATE TABLE opt_ok WITH ('path' = '{tmp_path}/ok')
        LIKE like_src3 (OVERWRITING OPTIONS)
    """)
    assert engine.tables["opt_ok"].options["path"] == f"{tmp_path}/ok"
    assert engine.tables["opt_ok"].options["format"] == "parquet"


def test_hint_comments_survive_stripping_and_reach_the_planner(engine):
    """/*+ ... */ is an optimizer hint, not a comment: strip_comments must
    preserve it (Spark's BROADCAST/MERGE hints, Flink's OPTIONS hint) while
    still removing ordinary block comments around it."""
    from flink_notebooks_spark.engine.ddl import strip_comments

    s = strip_comments(
        "/* drop this */ SELECT /*+ BROADCAST(n) */ * FROM n -- tail\n"
    )
    assert "/*+ BROADCAST(n) */" in s and "drop this" not in s and "tail" not in s

    engine.spark.range(3).createOrReplaceTempView("hint_t")
    stmt = engine.execute_sql(
        "SELECT /*+ REPARTITION(2) */ COUNT(*) AS c FROM hint_t"
    )
    assert drain(stmt)[0]["fields"] == [3]


# -------------------------------------------- job / module / truncate DDL
def test_truncate_table_clears_data_keeps_definition(engine, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE trunc_t (id INT, s STRING)
        WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/t',
              'format' = 'parquet')
    """)
    engine.execute_sql("INSERT INTO trunc_t VALUES (1, 'a'), (2, 'b')")
    assert len(drain(engine.execute_sql("SELECT * FROM trunc_t"))) == 2
    engine.execute_sql("TRUNCATE TABLE trunc_t")
    assert drain(engine.execute_sql("SELECT * FROM trunc_t")) == []
    # definition survives: a fresh insert works against the same schema
    engine.execute_sql("INSERT INTO trunc_t VALUES (3, 'c')")
    assert [r["fields"] for r in drain(engine.execute_sql("SELECT * FROM trunc_t"))] == [[3, "c"]]


def test_truncate_rejects_non_filesystem_and_unknown(engine):
    with pytest.raises(ValueError, match="not found"):
        engine.execute_sql("TRUNCATE TABLE nope")


def test_show_and_stop_jobs_reflect_streaming_queries(engine, spark):
    rows = [r["fields"] for r in drain(engine.execute_sql("SHOW JOBS"))]
    baseline = {r[0] for r in rows}
    q = (
        spark.readStream.format("rate").option("rowsPerSecond", "1").load()
        .writeStream.format("noop").queryName("show_jobs_probe").start()
    )
    try:
        rows = [r["fields"] for r in drain(engine.execute_sql("SHOW JOBS"))]
        mine = [r for r in rows if r[0] not in baseline and r[1] == "show_jobs_probe"]
        assert mine and mine[0][2] == "RUNNING"
        desc = [r["fields"] for r in drain(
            engine.execute_sql(f"DESCRIBE JOB '{mine[0][0]}'"))]
        assert desc[0][0] == mine[0][0] and desc[0][2] == "RUNNING"
        engine.execute_sql(f"STOP JOB '{mine[0][0]}'")
        q.awaitTermination(30)
        assert not q.isActive
    finally:
        if q.isActive:
            q.stop()
    with pytest.raises(ValueError, match="job not found"):
        engine.execute_sql("STOP JOB 'no-such-job'")


def test_module_statements(engine):
    assert [r["fields"] for r in drain(engine.execute_sql("SHOW MODULES"))] == [["core"]]
    engine.execute_sql("LOAD MODULE hive")
    assert [r["fields"] for r in drain(engine.execute_sql("SHOW FULL MODULES"))] == [
        ["core", True],
        ["hive", True],
    ]
    engine.execute_sql("UNLOAD MODULE hive")
    assert [r["fields"] for r in drain(engine.execute_sql("SHOW MODULES"))] == [["core"]]
    with pytest.raises(ValueError, match="not loaded"):
        engine.execute_sql("UNLOAD MODULE hive")
    with pytest.raises(ValueError, match="already loaded"):
        engine.execute_sql("LOAD MODULE core")


def test_show_partitions_lists_partition_specs(engine, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE part_t (id INT, dt STRING, region STRING)
        PARTITIONED BY (dt, region)
        WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/p',
              'format' = 'parquet')
    """)
    engine.execute_sql(
        "INSERT INTO part_t VALUES (1, '2026-01-01', 'eu'), "
        "(2, '2026-01-01', 'us'), (3, '2026-01-02', 'eu')"
    )
    rows = [r["fields"][0] for r in drain(engine.execute_sql("SHOW PARTITIONS part_t"))]
    assert rows == [
        "dt=2026-01-01/region=eu",
        "dt=2026-01-01/region=us",
        "dt=2026-01-02/region=eu",
    ]
    engine.execute_sql(f"""
        CREATE TABLE unpart_t (id INT)
        WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/u',
              'format' = 'parquet')
    """)
    with pytest.raises(ValueError, match="not partitioned"):
        engine.execute_sql("SHOW PARTITIONS unpart_t")


def test_insert_static_partition_spec(engine, tmp_path):
    """INSERT INTO t PARTITION (dt='v') SELECT ... — Flink's static-partition
    insert: the partition column is NOT in the select list; the literal
    fills it, typed. Mixed static+dynamic works; OVERWRITE of one static
    partition replaces only that partition's data."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE pins_t (id INT, v STRING, dt STRING, region STRING)
        PARTITIONED BY (dt, region)
        WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/pi',
              'format' = 'parquet')
    """)
    engine.execute_sql(
        "INSERT INTO pins_t PARTITION (dt='2026-01-01', region='eu') "
        "SELECT 1, 'a'"
    )
    # mixed: dt static, region dynamic (query supplies it)
    engine.execute_sql(
        "INSERT INTO pins_t PARTITION (dt='2026-01-02', region) "
        "SELECT 2, 'b', 'us'"
    )
    rows = sorted(
        r["fields"]
        for r in drain(engine.execute_sql("SELECT id, v, dt, region FROM pins_t"))
    )
    assert rows == [
        [1, "a", "2026-01-01", "eu"],
        [2, "b", "2026-01-02", "us"],
    ]
    with pytest.raises(ValueError, match="unknown PARTITION columns"):
        engine.execute_sql("INSERT INTO pins_t PARTITION (nope='x') SELECT 3, 'c', 'y'")


def test_options_hint_overrides_table_options_per_query(engine, tmp_path):
    """Flink dynamic table options: /*+ OPTIONS('path'='...') */ redirects
    ONE read without touching the registered table."""
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE hint_src (id INT, v STRING)
        WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/a',
              'format' = 'parquet')
    """)
    engine.execute_sql("INSERT INTO hint_src VALUES (1, 'from_a')")
    # second dataset on disk, same schema, different path
    engine.spark.createDataFrame([(2, "from_b")], "id int, v string").write.parquet(
        f"{tmp_path}/b"
    )
    plain = [r["fields"] for r in drain(engine.execute_sql("SELECT * FROM hint_src"))]
    hinted = [
        r["fields"]
        for r in drain(engine.execute_sql(
            f"SELECT h.id, h.v FROM hint_src /*+ OPTIONS('path'='{tmp_path}/b') */ h"
        ))
    ]
    assert plain == [[1, "from_a"]]
    assert hinted == [[2, "from_b"]]
    # the registered table is untouched
    again = [r["fields"] for r in drain(engine.execute_sql("SELECT * FROM hint_src"))]
    assert again == [[1, "from_a"]]


def test_analyze_table_compute_statistics(engine, tmp_path):
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE an_t (id INT, v STRING)
        WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/an',
              'format' = 'parquet')
    """)
    engine.execute_sql("INSERT INTO an_t VALUES (1, 'a'), (2, 'b'), (3, NULL)")
    rows = [r["fields"] for r in drain(
        engine.execute_sql("ANALYZE TABLE an_t COMPUTE STATISTICS FOR COLUMNS v")
    )]
    got = {(r[0], r[1]): r[2] for r in rows}
    assert got[("row_count", "")] == "3"
    assert got[("non_null", "v")] == "2"
    assert got[("ndv", "v")] == "2"
    assert got[("min", "v")] == "a" and got[("max", "v")] == "b"
    assert engine.tables["an_t"].stats["row_count"] == 3
    # FOR ALL COLUMNS and the bare form both run
    assert [r["fields"][0] for r in drain(
        engine.execute_sql("ANALYZE TABLE an_t COMPUTE STATISTICS")
    )] == ["row_count"]
    all_rows = [r["fields"] for r in drain(
        engine.execute_sql("ANALYZE TABLE an_t COMPUTE STATISTICS FOR ALL COLUMNS")
    )]
    assert {r[1] for r in all_rows} == {"", "id", "v"}


def test_show_current_catalog_and_database(engine):
    """Flink's session-pointer statements (SHOW CURRENT CATALOG has no
    Spark-SQL equivalent form; both resolve in the engine with Flink's
    column names)."""
    pg = engine.execute_sql("SHOW CURRENT CATALOG").fetch(0)
    assert [c.name for c in pg.columns] == ["current catalog name"]
    assert pg.data[0]["fields"] == ["spark_catalog"]
    pg = engine.execute_sql("SHOW CURRENT DATABASE").fetch(0)
    assert [c.name for c in pg.columns] == ["current database name"]
    assert pg.data[0]["fields"] == ["default"]


def test_flink_scalar_dialect_surface(engine):
    """Flink scalar syntax Spark lacks: bracket constructors, 1-BASED array
    subscripts (element_at semantics), the JSON_OBJECT/JSON_ARRAY KEY-VALUE
    family with ON NULL behaviors, their aggregate forms, ARRAY_CONCAT, and
    the Flink-only classification/timezone scalars."""
    one = lambda s: engine.execute_sql(s).fetch(0).data[0]["fields"][0]  # noqa: E731
    assert one("SELECT ARRAY['x', 'y', 'z'][1] AS v") == "x"  # 1-based!
    assert one("SELECT ARRAY[1, 2, 3][3] AS v") == 3
    assert one("SELECT MAP['a', 1, 'b', 2]['b'] AS v") == 2
    assert one("SELECT CARDINALITY(ARRAY[1, 2]) AS v") == 2
    assert one("SELECT ARRAY_CONCAT(ARRAY[1], ARRAY[2, 3]) AS v") == [1, 2, 3]
    assert one("SELECT JSON_OBJECT(KEY 'k' VALUE 1, 'm' VALUE 'x') AS v") == (
        '{"k":1,"m":"x"}'
    )
    assert one("SELECT JSON_OBJECT('k' VALUE CAST(NULL AS INT)) AS v") == '{"k":null}'
    assert one(
        "SELECT JSON_OBJECT('k' VALUE CAST(NULL AS INT) ABSENT ON NULL) AS v"
    ) == "{}"
    assert one("SELECT JSON_ARRAY(1, CAST(NULL AS INT), 2) AS v") == "[1,2]"
    assert one(
        "SELECT JSON_OBJECTAGG(KEY k VALUE v) AS j "
        "FROM (VALUES ('a', 1), ('b', 2)) t(k, v)"
    ) == '{"a":1,"b":2}'
    assert one(
        "SELECT JSON_ARRAYAGG(v) AS j FROM (VALUES (1), (2)) t(v)"
    ) == "[1,2]"
    assert one("SELECT IS_DECIMAL('3.1') AS v") is True
    assert one("SELECT IS_DECIMAL('x') AS v") is False
    assert one("SELECT IS_DIGIT('31') AS v") is True
    assert one("SELECT IS_ALPHA('3a') AS v") is False
    assert one(
        "SELECT CONVERT_TZ('1970-01-01 00:00:00', 'UTC', 'America/New_York') AS v"
    ) == "1969-12-31 19:00:00"
    assert one("SELECT CURRENT_ROW_TIMESTAMP() IS NOT NULL AS v") is True
    # strings containing brackets stay untouched
    assert one("SELECT split('a[x]b', '\\\\[')[1] AS v") == "a"


def test_flink_scalar_dialect_surface_2(engine):
    """Second battery: Flink array/map/time scalars — name rewrites
    (ARRAY_REVERSE/MAP_UNION), the end-INCLUSIVE ARRAY_SLICE, niladic
    LOCALTIMESTAMP/LOCALTIME, epoch-form TO_TIMESTAMP_LTZ, RAND_INTEGER."""
    one = lambda s: engine.execute_sql(s).fetch(0).data[0]["fields"][0]  # noqa: E731
    assert one("SELECT ARRAY_REVERSE(ARRAY[1, 2]) AS v") == [2, 1]
    assert one("SELECT ARRAY_SLICE(ARRAY[1, 2, 3, 4], 2, 3) AS v") == [2, 3]
    assert one("SELECT ARRAY_SLICE(ARRAY[1, 2, 3, 4], 3) AS v") == [3, 4]
    assert one("SELECT MAP_UNION(MAP['a', 1], MAP['b', 2])['b'] AS v") == 2
    assert one("SELECT LOCALTIMESTAMP IS NOT NULL AS v") is True
    assert one("SELECT LENGTH(LOCALTIME) AS v") == 8  # TIME → 'HH:mm:ss'
    assert one("SELECT TO_TIMESTAMP_LTZ(1000, 3) = TO_TIMESTAMP_LTZ(1, 0) AS v") is True
    assert one("SELECT RAND_INTEGER(10) BETWEEN 0 AND 9 AS v") is True


def test_filesystem_metadata_columns(engine, tmp_path, spark):
    """Flink filesystem METADATA columns map to Spark's per-file _metadata
    struct (file.name / file.size / file.path / file.modification-time)."""
    spark.createDataFrame([(1, "x"), (2, "y")], "id int, s string").write.parquet(
        str(tmp_path / "fm")
    )
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE fmeta (
          id INT, s STRING,
          fname STRING METADATA FROM 'file.name' VIRTUAL,
          fsize BIGINT METADATA FROM 'file.size',
          mtime TIMESTAMP(3) METADATA FROM 'file.modification-time'
        ) WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/fm',
                'format' = 'parquet')
    """)
    rows = [
        r["fields"]
        for r in drain(
            engine.execute_sql(
                "SELECT id, fsize > 0, fname LIKE '%.parquet', "
                "mtime IS NOT NULL FROM fmeta ORDER BY id"
            )
        )
    ]
    assert rows == [[1, True, True, True], [2, True, True, True]]
    engine.execute_sql("DROP TABLE fmeta")


def test_alter_watermark_statements(engine):
    """FLIP-273 watermark evolution: ADD / MODIFY WATERMARK replace the
    declaration, DROP WATERMARK removes it, and the ADD form must NOT be
    swallowed by the add-column path (regression: it used to create a
    broken column named WATERMARK)."""
    engine.execute_sql(
        """CREATE TABLE wmt (id INT, ts TIMESTAMP(3)) WITH (
           'connector'='datagen','number-of-rows'='5')"""
    )
    engine.execute_sql(
        "ALTER TABLE wmt ADD WATERMARK FOR ts AS ts - INTERVAL '5' SECOND"
    )
    assert engine.tables["wmt"].watermark.delay == "5 seconds"
    engine.execute_sql(
        "ALTER TABLE wmt MODIFY WATERMARK FOR ts AS ts - INTERVAL '1' SECOND"
    )
    assert engine.tables["wmt"].watermark.delay == "1 seconds"
    # no phantom column appeared
    assert [c.name for c in engine.tables["wmt"].columns] == ["id", "ts"]
    engine.execute_sql("ALTER TABLE wmt DROP WATERMARK")
    assert engine.tables["wmt"].watermark is None
    with pytest.raises(ValueError, match="no watermark"):
        engine.execute_sql("ALTER TABLE wmt DROP WATERMARK")
    with pytest.raises(ValueError, match="not a column"):
        engine.execute_sql(
            "ALTER TABLE wmt ADD WATERMARK FOR nope AS nope - INTERVAL '1' SECOND"
        )
    engine.execute_sql("DROP TABLE wmt")


def test_collect_aggregate_and_session_timezone(engine, spark):
    """Flink's COLLECT multiset aggregate maps to collect_list, and
    'table.local-time-zone' wires to Spark's session time zone (RESET
    restores the engine's startup default)."""
    pg = engine.execute_sql(
        "SELECT COLLECT(v) AS c FROM (VALUES (1), (2), (2)) t(v)"
    ).fetch(0)
    assert sorted(pg.data[0]["fields"][0]) == [1, 2, 2]  # multiplicity kept
    orig = spark.conf.get("spark.sql.session.timeZone")
    engine.execute_sql("SET 'table.local-time-zone' = 'America/New_York'")
    assert spark.conf.get("spark.sql.session.timeZone") == "America/New_York"
    engine.execute_sql("RESET 'table.local-time-zone'")
    assert spark.conf.get("spark.sql.session.timeZone") == orig


def test_describe_shows_metadata_extras(engine, tmp_path):
    """DESCRIBE annotates METADATA columns in the extras column, like
    Flink's table description."""
    engine.execute_sql(f"""
        CREATE TABLE dmeta (
          id INT,
          rec_time TIMESTAMP(3) METADATA FROM 'timestamp',
          part INT METADATA FROM 'partition' VIRTUAL
        ) WITH ('connector' = 'kafka', 'topic' = 'dm',
                'properties.bootstrap.servers' = 'file://{tmp_path}',
                'format' = 'json')
    """)
    rows = {r["fields"][0]: r["fields"] for r in drain(engine.execute_sql("DESCRIBE dmeta"))}
    assert rows["rec_time"][4] == "METADATA FROM 'timestamp'"
    assert rows["part"][4] == "METADATA FROM 'partition' VIRTUAL"
    assert rows["id"][4] == ""
    engine.execute_sql("DROP TABLE dmeta")


def test_filesystem_metadata_declared_order(engine, tmp_path, spark):
    """SELECT * column order follows the DECLARATION even when metadata
    columns come before / between physical columns (parity with
    kafka._with_meta; regression: metadata used to append at the end)."""
    spark.createDataFrame([(1, "x")], "id int, s string").write.parquet(
        str(tmp_path / "fmo")
    )
    engine.execute_sql("SET 'execution.runtime-mode' = 'batch'")
    engine.execute_sql(f"""
        CREATE TABLE fmo (
          fname STRING METADATA FROM 'file.name' VIRTUAL,
          id INT,
          fsize BIGINT METADATA FROM 'file.size',
          s STRING
        ) WITH ('connector' = 'filesystem', 'path' = '{tmp_path}/fmo',
                'format' = 'parquet')
    """)
    page = engine.execute_sql("SELECT * FROM fmo").fetch(0)
    names = [c.name for c in page.columns]
    assert names == ["fname", "id", "fsize", "s"]
    row = drain(engine.execute_sql("SELECT * FROM fmo"))[0]["fields"]
    assert row[1] == 1 and row[3] == "x" and row[2] > 0
    assert str(row[0]).endswith(".parquet")
    engine.execute_sql("DROP TABLE fmo")
