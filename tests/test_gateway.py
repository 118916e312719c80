"""REST gateway (gateway.py): the reference client's wire protocol served
over the in-process engine — session open, statement submit, status poll,
token-paged result fetch with nextResultUri, cancel, session close."""

from __future__ import annotations

import json
import urllib.request

import pytest

from flink_notebooks_spark.gateway import serve


@pytest.fixture()
def gw(spark):
    server, gateway = serve(spark)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base
    server.shutdown()


def call(method: str, url: str, payload: dict | None = None) -> dict:
    req = urllib.request.Request(url, method=method)
    data = None
    if payload is not None:
        data = json.dumps(payload).encode()
        req.add_header("Content-Type", "application/json")
    with urllib.request.urlopen(req, data) as resp:
        return json.loads(resp.read())


def test_full_protocol_roundtrip(gw):
    # health check (reference SETUP.md:120 curls /v1/info)
    info = call("GET", f"{gw}/v1/info")
    assert info["productName"] == "flink-notebooks-spark"

    # session with properties (sqlGatewayClient.ts:71-85)
    s = call("POST", f"{gw}/v1/sessions",
             {"properties": {"execution.runtime-mode": "batch"}})
    h = s["sessionHandle"]

    # the smoke statement (SETUP.md:76)
    op = call("POST", f"{gw}/v1/sessions/{h}/statements",
              {"statement": "SELECT 1 as id, 'Hello Flink!' as message"})[
        "operationHandle"
    ]
    status = call("GET", f"{gw}/v1/sessions/{h}/operations/{op}/status")
    assert status["status"] in ("RUNNING", "FINISHED")

    page = call("GET", f"{gw}/v1/sessions/{h}/operations/{op}/result/0?rowFormat=JSON")
    assert page["resultType"] == "PAYLOAD"
    assert [c["name"] for c in page["results"]["columns"]] == ["id", "message"]
    assert page["results"]["data"] == [{"kind": "INSERT", "fields": [1, "Hello Flink!"]}]
    nxt = page["nextResultUri"]
    assert call("GET", f"{gw}{nxt}")["resultType"] == "EOS"

    call("DELETE", f"{gw}/v1/sessions/{h}")


def test_ddl_and_paged_fetch(gw):
    h = call("POST", f"{gw}/v1/sessions",
             {"properties": {"execution.runtime-mode": "batch"}})["sessionHandle"]

    def run(sql):
        return call("POST", f"{gw}/v1/sessions/{h}/statements", {"statement": sql})[
            "operationHandle"
        ]

    run(
        "CREATE TABLE gw_t (id INT) WITH ('connector'='datagen',"
        "'number-of-rows'='250','fields.id.kind'='sequence',"
        "'fields.id.start'='1','fields.id.end'='250')"
    )
    op = run("SELECT id FROM gw_t ORDER BY id")
    rows, url, pages = [], f"{gw}/v1/sessions/{h}/operations/{op}/result/0", 0
    while pages < 10:
        page = call("GET", url)
        if page["resultType"] == "EOS":
            break
        rows.extend(page["results"]["data"])
        url = f"{gw}{page['nextResultUri']}"
        pages += 1
    assert [r["fields"][0] for r in rows] == list(range(1, 251))
    assert pages == 3  # 100-row pages (reference sqlGatewayClient.ts:128)


def test_errors_and_cancel(gw):
    h = call("POST", f"{gw}/v1/sessions", {})["sessionHandle"]
    # unknown operation → 404 with errors list
    with pytest.raises(urllib.error.HTTPError) as e:
        call("GET", f"{gw}/v1/sessions/{h}/operations/deadbeef/status")
    assert e.value.code == 404
    # bad SQL → 500 with errors list
    with pytest.raises(urllib.error.HTTPError) as e:
        call("POST", f"{gw}/v1/sessions/{h}/statements",
             {"statement": "SELECT FROM WHERE"})
    assert e.value.code == 500
    assert "errors" in json.loads(e.value.read())

    op = call("POST", f"{gw}/v1/sessions/{h}/statements",
              {"statement": "SELECT 1 AS x"})["operationHandle"]
    assert call("DELETE", f"{gw}/v1/sessions/{h}/operations/{op}")["status"] == "CANCELED"
    assert call("GET", f"{gw}/v1/sessions/{h}/operations/{op}/status")["status"] == "CANCELED"


def test_streaming_statement_over_rest(gw):
    """Unbounded SELECT through the wire: NOT_READY retries the SAME token
    (reference flinkNotebookController.ts:179-235), rows stream in pages,
    DELETE cancels the operation."""
    import time

    h = call("POST", f"{gw}/v1/sessions", {})["sessionHandle"]  # streaming mode
    call("POST", f"{gw}/v1/sessions/{h}/statements", {
        "statement": (
            "CREATE TABLE gw_clicks (user_id INT, event_time TIMESTAMP(3), "
            "WATERMARK FOR event_time AS event_time - INTERVAL '5' SECOND) "
            "WITH ('connector'='datagen','rows-per-second'='100',"
            "'fields.user_id.min'='1','fields.user_id.max'='9')"
        )
    })
    op = call("POST", f"{gw}/v1/sessions/{h}/statements",
              {"statement": "SELECT user_id FROM gw_clicks"})["operationHandle"]
    rows, url, t0 = [], f"{gw}/v1/sessions/{h}/operations/{op}/result/0", time.time()
    while len(rows) < 5 and time.time() - t0 < 60:
        page = call("GET", url)
        if page["resultType"] == "PAYLOAD":
            rows.extend(page["results"]["data"])
            url = f"{gw}{page['nextResultUri']}"
        elif page["resultType"] == "NOT_READY":
            assert page["nextResultUri"].endswith(url.rsplit("/", 1)[-1])  # same token
            time.sleep(0.5)
        else:
            break
    assert len(rows) >= 5
    assert all(1 <= r["fields"][0] <= 9 for r in rows)
    assert call("DELETE", f"{gw}/v1/sessions/{h}/operations/{op}")["status"] == "CANCELED"
    call("DELETE", f"{gw}/v1/sessions/{h}")


def test_sessions_are_isolated_over_rest(gw):
    """Two sessions share the cluster but not table registries — the
    reference's session model (sqlGatewayClient.ts:71-95)."""
    h1 = call("POST", f"{gw}/v1/sessions",
              {"properties": {"execution.runtime-mode": "batch"}})["sessionHandle"]
    h2 = call("POST", f"{gw}/v1/sessions",
              {"properties": {"execution.runtime-mode": "batch"}})["sessionHandle"]
    call("POST", f"{gw}/v1/sessions/{h1}/statements", {
        "statement": "CREATE TABLE iso_t (id INT) WITH ('connector'='datagen',"
        "'number-of-rows'='1','fields.id.kind'='sequence',"
        "'fields.id.start'='1','fields.id.end'='1')"
    })
    op = call("POST", f"{gw}/v1/sessions/{h2}/statements",
              {"statement": "SHOW TABLES"})["operationHandle"]
    page = call("GET", f"{gw}/v1/sessions/{h2}/operations/{op}/result/0")
    names = [r["fields"][0] for r in page["results"]["data"]]
    assert "iso_t" not in names  # session 2 does not see session 1's table
    call("DELETE", f"{gw}/v1/sessions/{h1}")
    call("DELETE", f"{gw}/v1/sessions/{h2}")


def test_get_session_returns_properties(gw):
    h = call("POST", f"{gw}/v1/sessions",
             {"properties": {"execution.runtime-mode": "batch"}})["sessionHandle"]
    s = call("GET", f"{gw}/v1/sessions/{h}")
    assert s["sessionHandle"] == h
    assert s["properties"]["execution.runtime-mode"] == "batch"
    call("DELETE", f"{gw}/v1/sessions/{h}")


def test_job_monitor_endpoints(gw):
    """The reference's job client polls the JobManager REST API
    (flinkJobClient.ts:94-188): /config, /jobs/overview, /jobs/{jid},
    /jobs/{jid}/metrics, /jobs/{jid}/checkpoints, PATCH cancel. Drive a
    streaming statement and observe it through those routes."""
    import time
    import urllib.error

    assert "flink-version" in call("GET", f"{gw}/config")

    h = call("POST", f"{gw}/v1/sessions", {})["sessionHandle"]  # streaming
    call("POST", f"{gw}/v1/sessions/{h}/statements", {
        "statement": (
            "CREATE TABLE jm_clicks (user_id INT, event_time TIMESTAMP(3), "
            "WATERMARK FOR event_time AS event_time - INTERVAL '5' SECOND) "
            "WITH ('connector'='datagen','rows-per-second'='50')"
        )
    })
    op = call("POST", f"{gw}/v1/sessions/{h}/statements",
              {"statement": "SELECT user_id FROM jm_clicks"})["operationHandle"]

    jid, t0 = None, time.time()
    while jid is None and time.time() - t0 < 60:
        jobs = call("GET", f"{gw}/jobs/overview")["jobs"]
        running = [j for j in jobs if j["state"] == "RUNNING"]
        if running:
            jid = running[0]["jid"]
        else:
            time.sleep(0.5)
    assert jid, "streaming job never appeared in /jobs/overview"

    detail = call("GET", f"{gw}/jobs/{jid}")
    assert detail["jid"] == jid and detail["state"] == "RUNNING"
    assert "vertices" in detail and "status-counts" in detail

    ids = [m["id"] for m in call("GET", f"{gw}/jobs/{jid}/metrics")]
    assert "numRecordsIn" in ids
    got = call("GET", f"{gw}/jobs/{jid}/metrics?get=numRecordsIn,batchId")
    assert {m["id"] for m in got} == {"numRecordsIn", "batchId"}
    assert all("value" in m for m in got)

    ckpt = call("GET", f"{gw}/jobs/{jid}/checkpoints")
    assert ckpt["counts"]["failed"] == 0

    # PATCH /jobs/{jid}?mode=cancel stops the query (flinkJobClient.ts:164-175)
    req = urllib.request.Request(f"{gw}/jobs/{jid}?mode=cancel", method="PATCH")
    with urllib.request.urlopen(req) as resp:
        assert resp.status == 202
    t0 = time.time()
    while time.time() - t0 < 30:
        if all(j["jid"] != jid or j["state"] != "RUNNING"
               for j in call("GET", f"{gw}/jobs/overview")["jobs"]):
            break
        time.sleep(0.5)
    call("DELETE", f"{gw}/v1/sessions/{h}/operations/{op}")
    call("DELETE", f"{gw}/v1/sessions/{h}")

def test_result_token_replay_is_idempotent_over_rest(gw):
    """Client crash/retry semantics (sqlGatewayClient.ts:124-140): re-GETting
    an already-served result token must return byte-identical data and the
    same nextResultUri — a retried page can never skip or duplicate rows."""
    h = call("POST", f"{gw}/v1/sessions",
             {"properties": {"execution.runtime-mode": "batch"}})["sessionHandle"]
    call("POST", f"{gw}/v1/sessions/{h}/statements", {
        "statement": (
            "CREATE TABLE gw_replay (id INT) WITH ('connector'='datagen',"
            "'number-of-rows'='250','fields.id.kind'='sequence',"
            "'fields.id.start'='1','fields.id.end'='250')"
        )
    })
    op = call("POST", f"{gw}/v1/sessions/{h}/statements",
              {"statement": "SELECT id FROM gw_replay ORDER BY id"})["operationHandle"]
    token, pages = 0, 0
    last = None
    while True:
        page = call("GET", f"{gw}/v1/sessions/{h}/operations/{op}/result/{token}")
        if page["resultType"] == "EOS":
            break
        # the retry contract is CURRENT-token idempotence (Flink's gateway
        # keeps the page a client may still be mid-retry on, not arbitrary
        # history — memory-bounded): an immediate re-GET is byte-identical
        again = call("GET", f"{gw}/v1/sessions/{h}/operations/{op}/result/{token}")
        assert again == page
        last, pages, token = page, pages + 1, token + 1
    assert pages == 3  # 250 rows = 3 pages of ≤100
    # after EOS, the final data page still replays identically
    again = call("GET", f"{gw}/v1/sessions/{h}/operations/{op}/result/{token - 1}")
    assert again == last
    call("DELETE", f"{gw}/v1/sessions/{h}")


def test_concurrent_result_polling_under_load(gw):
    """Several clients pacing the SAME streaming operation concurrently
    (NOT_READY → retry same token, PAYLOAD → advance): every client must
    observe the same per-token pages — the buffer's token cursors are shared
    state and must not tear, skip, or double-serve under contention."""
    import threading
    import time

    h = call("POST", f"{gw}/v1/sessions", {})["sessionHandle"]  # streaming
    call("POST", f"{gw}/v1/sessions/{h}/statements", {
        "statement": (
            "CREATE TABLE gw_load (user_id INT, event_time TIMESTAMP(3), "
            "WATERMARK FOR event_time AS event_time - INTERVAL '5' SECOND) "
            "WITH ('connector'='datagen','rows-per-second'='200',"
            "'fields.user_id.min'='1','fields.user_id.max'='9')"
        )
    })
    op = call("POST", f"{gw}/v1/sessions/{h}/statements",
              {"statement": "SELECT user_id FROM gw_load"})["operationHandle"]

    per_client: list[dict[int, list]] = [{} for _ in range(4)]
    errors: list[Exception] = []

    def poll(me: dict[int, list]):
        try:
            token, t0 = 0, time.time()
            while sum(len(v) for v in me.values()) < 30 and time.time() - t0 < 60:
                page = call(
                    "GET", f"{gw}/v1/sessions/{h}/operations/{op}/result/{token}"
                )
                if page["resultType"] == "PAYLOAD":
                    me[token] = page["results"]["data"]
                    token += 1
                elif page["resultType"] == "NOT_READY":
                    time.sleep(0.2)
                else:
                    break
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [
        threading.Thread(target=poll, args=(m,)) for m in per_client
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors
    assert all(sum(len(v) for v in m.values()) >= 30 for m in per_client)
    # common tokens must carry identical pages for every client
    common = set(per_client[0])
    for m in per_client[1:]:
        common &= set(m)
    assert common
    for tok in common:
        pages = {json.dumps(m[tok], sort_keys=True) for m in per_client}
        assert len(pages) == 1, f"token {tok} served differing pages"
    call("DELETE", f"{gw}/v1/sessions/{h}/operations/{op}")
    call("DELETE", f"{gw}/v1/sessions/{h}")


def test_session_statements_surface_over_rest(gw):
    """The round-5 session statements (modules, jobs, ANALYZE) work through
    the REST wire exactly as through the embedded engine."""
    s = call("POST", f"{gw}/v1/sessions",
             {"properties": {"execution.runtime-mode": "batch"}})
    h = s["sessionHandle"]

    def run(stmt):
        op = call("POST", f"{gw}/v1/sessions/{h}/statements",
                  {"statement": stmt})["operationHandle"]
        rows, token = [], 0
        for _ in range(50):
            page = call("GET", f"{gw}/v1/sessions/{h}/operations/{op}/result/{token}")
            if page["resultType"] == "EOS":
                break
            if page["resultType"] == "PAYLOAD":
                rows.extend(page["results"]["data"])
                token += 1
        return rows

    assert [r["fields"] for r in run("SHOW MODULES")] == [["core"]]
    run("LOAD MODULE hive")
    assert [r["fields"] for r in run("SHOW FULL MODULES")] == [
        ["core", True], ["hive", True]
    ]
    assert run("SHOW JOBS") == []  # no streaming jobs in this session


def test_concurrent_sessions_interleaved_batch_and_streaming(gw):
    """Concurrent SESSIONS under load (reference flink-conf.yaml sizes the
    gateway 5–20 worker threads; sqlGatewayClient.ts:124-140 paces NOT_READY
    by retrying the same token): four sessions run in parallel, each
    interleaving batch DDL/INSERT/SELECT with a streaming datagen SELECT on
    the SAME table names. Asserts (a) catalog isolation — every session
    sees exactly its own rows; (b) retry-token pacing — NOT_READY always
    re-serves the same token until PAYLOAD, tokens never skip; (c) no
    cross-session error leakage."""
    import threading
    import time

    N = 4
    results: list[dict] = [{} for _ in range(N)]
    errors: list[tuple[int, Exception]] = []

    def drive(idx: int, out: dict):
        try:
            h = call(
                "POST", f"{gw}/v1/sessions",
                {"properties": {"execution.runtime-mode": "batch"}},
            )["sessionHandle"]

            def run(stmt):
                return call(
                    "POST", f"{gw}/v1/sessions/{h}/statements",
                    {"statement": stmt},
                )["operationHandle"]

            def fetch_all(op, want_rows, timeout=60):
                rows, token, t0 = [], 0, time.time()
                while len(rows) < want_rows and time.time() - t0 < timeout:
                    page = call(
                        "GET",
                        f"{gw}/v1/sessions/{h}/operations/{op}/result/{token}",
                    )
                    rt = page["resultType"]
                    if rt == "PAYLOAD":
                        rows += [r["fields"] for r in page["results"]["data"]]
                        token += 1
                    elif rt == "NOT_READY":
                        # pacing contract: the NEXT fetch must reuse THIS
                        # token — the uri the server hands back says so
                        nxt = page.get("nextResultUri", "")
                        assert nxt.endswith(f"/result/{token}"), (token, nxt)
                        time.sleep(0.1)
                    else:
                        break
                return rows

            # batch phase: the SAME table name in every session, bound to a
            # DIFFERENT definition — name-resolution isolation under load
            run("CREATE TABLE gw_iso (k INT) "
                "WITH ('connector'='datagen','number-of-rows'='1',"
                f"'fields.k.min'='{idx}','fields.k.max'='{idx}')")
            out["batch"] = fetch_all(run("SELECT k FROM gw_iso"), 1)

            # streaming phase, interleaved with a second batch statement
            run(
                "CREATE TABLE gw_rate (user_id INT, event_time TIMESTAMP(3), "
                "WATERMARK FOR event_time AS event_time - INTERVAL '5' SECOND) "
                f"WITH ('connector'='datagen','rows-per-second'='100',"
                f"'fields.user_id.min'='{10 * idx}',"
                f"'fields.user_id.max'='{10 * idx + 9}')"
            )
            call("POST", f"{gw}/v1/sessions/{h}/statements",
                 {"statement": "SET 'execution.runtime-mode' = 'streaming'"})
            sop = run("SELECT user_id FROM gw_rate")
            out["stream"] = fetch_all(sop, 20)
            call("POST", f"{gw}/v1/sessions/{h}/statements",
                 {"statement": "SET 'execution.runtime-mode' = 'batch'"})
            out["batch2"] = fetch_all(run("SELECT COUNT(*) AS c FROM gw_iso"), 1)
            call("DELETE", f"{gw}/v1/sessions/{h}/operations/{sop}")
            call("DELETE", f"{gw}/v1/sessions/{h}")
        except Exception as e:  # noqa: BLE001
            errors.append((idx, e))

    threads = [
        threading.Thread(target=drive, args=(i, results[i])) for i in range(N)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    for i, out in enumerate(results):
        # (a) isolation: each session reads ONLY its own gw_iso row…
        assert out["batch"] == [[i]], (i, out["batch"])
        assert out["batch2"] == [[1]]
        # …and only its own datagen id range
        assert len(out["stream"]) >= 20
        assert all(10 * i <= r[0] <= 10 * i + 9 for r in out["stream"]), i


# ---------------------------------------------------------------------------
# Round 8 (VERDICT r7 ask #8): concurrent cancel + session-close races.
# ---------------------------------------------------------------------------


@pytest.fixture()
def gw_obj(spark):
    """Like ``gw`` but also yields the Gateway object, so tests can grab a
    session's per-``newSession`` SparkSession BEFORE closing it and assert
    its ``streams.active`` drains — a leaked query on a popped session is
    invisible to the monitor (the sessions lambda no longer lists it), so
    the wire surface alone cannot prove the absence of a leak."""
    server, gateway = serve(spark)
    base = f"http://127.0.0.1:{server.server_address[1]}"
    yield base, gateway
    server.shutdown()


def _call_status(method: str, url: str, payload: dict | None = None):
    """call() that returns (http_status, payload) instead of raising."""
    import urllib.error

    try:
        return 200, call(method, url, payload)
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read() or b"{}")


def _await_no_active_streams(session_sparks, timeout: float = 30.0) -> None:
    import time

    t0 = time.time()
    while time.time() - t0 < timeout:
        if all(not s.streams.active for s in session_sparks):
            return
        time.sleep(0.25)
    leaked = [q.name or q.id for s in session_sparks for q in s.streams.active]
    raise AssertionError(f"streaming queries still active: {leaked}")


def _open_streaming_op(base: str, h: str, tag: str) -> str:
    call("POST", f"{base}/v1/sessions/{h}/statements", {
        "statement": (
            f"CREATE TABLE {tag} (user_id INT, event_time TIMESTAMP(3), "
            "WATERMARK FOR event_time AS event_time - INTERVAL '5' SECOND) "
            "WITH ('connector'='datagen','rows-per-second'='200',"
            "'fields.user_id.min'='1','fields.user_id.max'='9')"
        )
    })
    return call("POST", f"{base}/v1/sessions/{h}/statements",
                {"statement": f"SELECT user_id FROM {tag}"})["operationHandle"]


def test_cancel_while_polling_race(gw_obj):
    """DELETE the operation while several clients poll its results: every
    in-flight response must be a valid protocol shape (PAYLOAD / NOT_READY /
    EOS — never a 500), the terminal status is CANCELED, and the session's
    streaming query is gone afterwards."""
    import threading
    import time

    base, gateway = gw_obj
    h = call("POST", f"{base}/v1/sessions", {})["sessionHandle"]
    sess_spark = gateway.manager.get(h).spark
    op = _open_streaming_op(base, h, "gw_cxl_poll")

    stop = threading.Event()
    bad: list = []

    def poll():
        token = 0
        while not stop.is_set():
            code, page = _call_status(
                "GET", f"{base}/v1/sessions/{h}/operations/{op}/result/{token}"
            )
            if code != 200:
                bad.append((code, page))
                return
            if page["resultType"] == "PAYLOAD":
                token += 1
            elif page["resultType"] == "EOS":
                return
            else:
                time.sleep(0.05)

    threads = [threading.Thread(target=poll) for _ in range(4)]
    for t in threads:
        t.start()
    time.sleep(1.0)  # let pages flow mid-cancel
    # two concurrent cancels: idempotent, both 200 CANCELED
    results = []

    def cxl():
        results.append(
            _call_status("DELETE", f"{base}/v1/sessions/{h}/operations/{op}")
        )

    c1, c2 = threading.Thread(target=cxl), threading.Thread(target=cxl)
    c1.start(); c2.start(); c1.join(); c2.join()
    assert [r[0] for r in results] == [200, 200]
    assert all(r[1]["status"] == "CANCELED" for r in results)

    stop.set()
    for t in threads:
        t.join(timeout=30)
    assert not bad, f"poller saw non-200 during cancel: {bad}"
    assert call(
        "GET", f"{base}/v1/sessions/{h}/operations/{op}/status"
    )["status"] == "CANCELED"
    _await_no_active_streams([sess_spark])
    call("DELETE", f"{base}/v1/sessions/{h}")


def test_close_session_with_live_operations_race(gw_obj):
    """DELETE /v1/sessions/{h} while a streaming op and a batch op are live
    and being polled: pollers may see valid pages until the close lands and
    404 after (the registry purge is atomic with the session pop — never a
    torn state or 500), and the session's streaming query stops."""
    import threading
    import time

    base, gateway = gw_obj
    h = call("POST", f"{base}/v1/sessions", {})["sessionHandle"]
    sess_spark = gateway.manager.get(h).spark
    s_op = _open_streaming_op(base, h, "gw_close_live")
    call("POST", f"{base}/v1/sessions/{h}/statements", {
        "statement": "CREATE TABLE gw_close_b (id INT) WITH ("
        "'connector'='datagen','number-of-rows'='500',"
        "'fields.id.kind'='sequence','fields.id.start'='1','fields.id.end'='500')"
    })
    b_op = call("POST", f"{base}/v1/sessions/{h}/statements",
                {"statement": "SELECT id FROM gw_close_b ORDER BY id"})[
        "operationHandle"
    ]

    stop = threading.Event()
    bad: list = []
    saw_404 = threading.Event()

    def poll(op_id):
        token = 0
        while not stop.is_set():
            code, page = _call_status(
                "GET", f"{base}/v1/sessions/{h}/operations/{op_id}/result/{token}"
            )
            if code == 404:
                saw_404.set()  # close landed — expected terminal signal
                return
            if code != 200:
                bad.append((op_id, code, page))
                return
            if page["resultType"] == "PAYLOAD":
                token += 1
            elif page["resultType"] == "EOS":
                time.sleep(0.05)  # keep polling: 404 must follow the purge
            else:
                time.sleep(0.05)

    threads = [threading.Thread(target=poll, args=(o,)) for o in (s_op, b_op)]
    for t in threads:
        t.start()
    time.sleep(1.0)
    assert call("DELETE", f"{base}/v1/sessions/{h}")["status"] == "CLOSED"
    t0 = time.time()
    while not saw_404.is_set() and time.time() - t0 < 15:
        time.sleep(0.1)
    stop.set()
    for t in threads:
        t.join(timeout=30)
    assert not bad, f"poller saw invalid response during close: {bad}"
    assert saw_404.is_set(), "pollers never observed the purged registry"
    # ops are gone from the registry
    code, _ = _call_status(
        "GET", f"{base}/v1/sessions/{h}/operations/{s_op}/status"
    )
    assert code == 404
    _await_no_active_streams([sess_spark])


@pytest.mark.slow
def test_execute_statement_vs_close_session_race(gw_obj):
    """Hammer the execute/close window: a thread POSTs a streaming statement
    while the main thread closes the session. Whatever interleaving occurs,
    the statement either registers (and the close cancels it) or arrives
    after the pop (the gateway cancels it and 404s) — in NO case may a
    streaming query survive the close."""
    import threading
    import time

    base, gateway = gw_obj
    session_sparks = []
    outcomes = []
    for i in range(6):
        h = call("POST", f"{base}/v1/sessions", {})["sessionHandle"]
        session_sparks.append(gateway.manager.get(h).spark)
        call("POST", f"{base}/v1/sessions/{h}/statements", {
            "statement": (
                f"CREATE TABLE gw_xc_{i} (user_id INT, event_time TIMESTAMP(3), "
                "WATERMARK FOR event_time AS event_time - INTERVAL '5' SECOND) "
                "WITH ('connector'='datagen','rows-per-second'='100')"
            )
        })

        def submit(hh=h, ii=i):
            outcomes.append(_call_status(
                "POST", f"{base}/v1/sessions/{hh}/statements",
                {"statement": f"SELECT user_id FROM gw_xc_{ii}"},
            ))

        t = threading.Thread(target=submit)
        t.start()
        time.sleep(i * 0.15)  # sweep the stagger across the start window
        call("DELETE", f"{base}/v1/sessions/{h}")
        t.join(timeout=60)

    assert len(outcomes) == 6
    for code, payload in outcomes:
        assert code in (200, 404), (code, payload)  # registered-then-killed | late
    _await_no_active_streams(session_sparks)


@pytest.mark.slow
def test_ttl_stateful_stream_serves_changelog_kinds(gw_obj, spark, sf_dir):
    """A TTL'd keyed-state stream (the round-11 funnel with EventTimeTimeout
    eviction) submitted through the gateway must serve Flink-style changelog
    rows over the SAME HTTP result protocol as SQL statements (reference
    models/types.ts:24-27): per-user revision rows arrive as INSERT for a
    user's first revision and correctly PAIRED UPDATE_BEFORE/UPDATE_AFTER
    for later ones — the before row is the user's previous revision, the
    after row the new one, adjacent and key-matched."""
    import time

    from flink_notebooks_spark.queries.corpus import _funnel_state_stream
    from flink_notebooks_spark.queries.streaming3 import EVENTS_STATE_HORIZON_S

    base, gateway = gw_obj
    h = call("POST", f"{base}/v1/sessions",
             {"properties": {"execution.runtime-mode": "streaming"}})["sessionHandle"]
    df = _funnel_state_stream(spark, sf_dir, horizon_s=EVENTS_STATE_HORIZON_S)
    op = gateway.submit_stream(h, df)["operationHandle"]
    try:
        rows, cols = [], None
        url = f"{base}/v1/sessions/{h}/operations/{op}/result/0"
        deadline = time.time() + 120
        while time.time() < deadline:
            page = call("GET", url)
            rows.extend(page["results"]["data"])
            if page["results"]["columns"]:
                cols = [c["name"] for c in page["results"]["columns"]]
            if page["resultType"] == "EOS":
                break
            url = base + page["nextResultUri"]
            # only stop on a COMPLETE pair tail: a UB whose UA sits in the
            # next unfetched page would make the adjacency assert read past
            # the collected rows
            if (
                sum(1 for r in rows if r["kind"] == "UPDATE_BEFORE") >= 5
                and rows
                and rows[-1]["kind"] != "UPDATE_BEFORE"
            ):
                break
            time.sleep(0.3)
    finally:
        call("DELETE", f"{base}/v1/sessions/{h}/operations/{op}")
        call("DELETE", f"{base}/v1/sessions/{h}")

    kinds = [r["kind"] for r in rows]
    assert "INSERT" in kinds
    ub_idx = [i for i, k in enumerate(kinds) if k == "UPDATE_BEFORE"]
    assert len(ub_idx) >= 5  # the 4-trigger replay revises users repeatedly
    ui, ri = cols.index("user_id"), cols.index("rev")
    for i in ub_idx:
        assert kinds[i + 1] == "UPDATE_AFTER"  # ±U strictly adjacent
        before, after = rows[i]["fields"], rows[i + 1]["fields"]
        assert before[ui] == after[ui]  # same key
        assert after[ri] > before[ri]  # the after row is the newer revision
    # first row of any user must be an INSERT (no orphan updates)
    first_kind = {}
    for r in rows:
        first_kind.setdefault(r["fields"][ui], r["kind"])
    assert set(first_kind.values()) == {"INSERT"}


# ---------------------------------------------------------------------------
# Batch results travel as Arrow batches and are encoded column by column.
# Every case below must give what the row path gave: ``collect()`` values
# from Statement.fetch, and the row path's JSON encoding over the gateway.
# ---------------------------------------------------------------------------


def _row_jsonable(v):
    """The gateway's encoding of a ``Row`` value before results moved to
    Arrow, kept here as the reference."""
    if v is None or isinstance(v, (bool, int, float, str)):
        return v
    if isinstance(v, (list, tuple)):
        return [_row_jsonable(x) for x in v]
    if isinstance(v, dict):
        return {k: _row_jsonable(x) for k, x in v.items()}
    return str(v)


_NULLS = ", ".join(
    f"CAST(NULL AS {t})"
    for t in (
        "TINYINT", "INT", "BIGINT", "FLOAT", "DOUBLE", "DECIMAL(5,2)", "STRING",
        "BINARY", "BOOLEAN", "DATE", "TIMESTAMP_NTZ", "TIMESTAMP",
        "INTERVAL DAY TO SECOND", "ARRAY<INT>", "MAP<STRING,INT>", "STRUCT<a:INT>",
    )
)

PARITY_CASES = {
    "integers": (
        "SELECT CAST(-128 AS TINYINT) a, CAST(32767 AS SMALLINT) b, "
        "-2147483648 c, 9223372036854775807 d"
    ),
    "floats": (
        "SELECT CAST(0.1 AS FLOAT) a, 0.1D b, CAST('NaN' AS DOUBLE) c, "
        "CAST('Infinity' AS DOUBLE) d, CAST('-Infinity' AS FLOAT) e, -0.0D f"
    ),
    "decimals": (
        "SELECT CAST(1.5 AS DECIMAL(10,2)) a, CAST(0 AS DECIMAL(20,10)) b, "
        "CAST(-123456789.123456789 AS DECIMAL(38,18)) c, "
        "CAST(1e20 AS DECIMAL(38,0)) d"
    ),
    "string_binary_boolean": (
        "SELECT 'héllo ☃ 日本' a, '' b, X'00FF41' c, true d, false e"
    ),
    "dates": "SELECT DATE'1969-07-20' a, DATE'0001-01-01' b, DATE'9999-12-31' c",
    "day_time_intervals": (
        "SELECT INTERVAL '1 02:03:04.5' DAY TO SECOND a, INTERVAL '-3' HOUR b"
    ),
    "timestamp_ntz": (
        "SELECT * FROM VALUES (TIMESTAMP_NTZ'1969-07-20 20:17:40'), "
        "(TIMESTAMP_NTZ'1900-03-01 12:00:00.5'), "
        "(TIMESTAMP_NTZ'1970-01-01 00:00:00.000001'), "
        "(TIMESTAMP_NTZ'2024-02-29 23:59:59.999999'), "
        "(TIMESTAMP_NTZ'0001-01-01 00:00:00') t(ts)"
    ),
    "timestamp_ltz": (
        "SELECT TIMESTAMP_LTZ'2024-03-10 07:30:00 UTC' a, "
        "TIMESTAMP_LTZ'1960-01-01 00:00:00.123 UTC' b"
    ),
    "nested": (
        "SELECT array(1, NULL, 3) a, "
        "named_struct('x', 1, 'y', array(named_struct('z', DATE'2020-01-01')), "
        "'w', CAST(NULL AS STRING)) s, "
        "array(map(1, X'01'), NULL) am, map('k', array(NULL, 'v')) ma"
    ),
    "maps": (
        "SELECT map('n', 1, 'k', 2, 'é☃', 3, 'zz', NULL) s, "
        "map(5, 'a', -7, 'b', 65536, 'c', 17, 'd') i, "
        "map(5000000000L, 1, -1L, 2, 3L, 3) l, "
        "map(1.5D, 1, -0.0D, 2, CAST('NaN' AS DOUBLE), 3) d, "
        "map(true, 1, false, 2) b, "
        "map(CAST(1.5 AS FLOAT), 1, CAST('NaN' AS FLOAT), 2, CAST(-7 AS FLOAT), 3) f, "
        "map(CAST(12345678901234567890.5 AS DECIMAL(38,2)), 1, "
        "CAST(-98765432109876543210.25 AS DECIMAL(38,2)), 2) bigdec, "
        "map(CAST(1.25 AS DECIMAL(10,2)), 1, CAST(-3.5 AS DECIMAL(10,2)), 2) dec, "
        "map(DATE'2020-01-01', 1, DATE'1969-01-01', 2, DATE'2000-02-29', 3) dt, "
        "map_from_arrays(sequence(1, 40), sequence(1, 40)) big"
    ),
    "nulls_everywhere": f"SELECT {_NULLS}",
    "null_variant_time": (
        "SELECT NULL AS n, parse_json('{\"a\": [1, 2]}') AS v, TIME'12:34:56.789' AS t"
    ),
    "duplicate_names": (
        "SELECT 1 AS a, 2 AS a, named_struct('a', 1, 'a', 2) s, "
        "array(named_struct('b', 'x', 'b', 'y')) arr"
    ),
    "empty": "SELECT id, CAST(id AS STRING) s FROM range(0)",
    "multi_partition_batches": (
        "SELECT id, CAST(id AS STRING) s, id % 3 = 0 b, "
        "TIMESTAMP_NTZ'2020-01-01 00:00:00' + make_interval(0, 0, 0, 0, 0, 0, id / 7) ts, "
        "DATE'2020-01-01' + CAST(id % 400 AS INT) d, "
        "IF(id % 5 = 0, NULL, id * 0.5D) x FROM range(0, 25000, 1, 2)"
    ),
}


@pytest.fixture()
def local_tz_new_york():
    """The gateway process in a non-UTC zone (the Spark session stays UTC)."""
    import os
    import time

    old = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    yield
    if old is None:
        del os.environ["TZ"]
    else:
        os.environ["TZ"] = old
    time.tzset()


@pytest.mark.parametrize("case", list(PARITY_CASES))
def test_batch_results_match_the_row_path(spark, local_tz_new_york, case):
    from flink_notebooks_spark.engine.statement import BatchStatement
    from flink_notebooks_spark.gateway import Gateway

    sql = PARITY_CASES[case]
    want = [list(r) for r in spark.sql(sql).collect()]

    stmt, native, token = BatchStatement(spark.sql(sql)), [], 0
    while (page := stmt.fetch(token)).result_type == "PAYLOAD":
        assert len(page.data) == 100 or len(native) + len(page.data) == len(want)
        native += [r["fields"] for r in page.data]
        token = page.next_token
    # repr: NaN compares equal to itself there, and dict order counts
    assert repr(native) == repr(want)

    gw = Gateway(spark)
    h = gw.open_session({})["sessionHandle"]
    op = gw.submit_stream(h, spark.sql(sql))["operationHandle"]
    wire, token = [], 0
    while (out := gw.fetch_result(h, op, token))["resultType"] == "PAYLOAD":
        assert gw.fetch_result(h, op, token) == out  # idempotent retry
        wire += out["results"]["data"]
        token += 1
    assert out["resultType"] == "EOS"
    expected = [{"kind": "INSERT", "fields": _row_jsonable(r)} for r in want]
    assert repr(wire) == repr(expected)
    if case != "maps":  # date and decimal map keys are not JSON object keys
        assert json.dumps(wire) == json.dumps(expected)
    gw.close_session(h)


def test_timestamp_ltz_renders_in_the_process_time_zone(spark, local_tz_new_york):
    """TIMESTAMP (LTZ) values come back as naive wall time in the gateway
    process's zone, not in ``spark.sql.session.timeZone`` (UTC here)."""
    import datetime

    from flink_notebooks_spark.engine.statement import BatchStatement

    stmt = BatchStatement(spark.sql("SELECT TIMESTAMP_LTZ'2024-03-10 07:30:00 UTC' t"))
    page = stmt.fetch(0)
    assert page.data[0]["fields"] == [datetime.datetime(2024, 3, 10, 3, 30)]
    assert page.wire()[0]["fields"] == ["2024-03-10 03:30:00"]
