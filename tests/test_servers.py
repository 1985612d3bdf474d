"""Serving layer: inbound rest_connector + RAG REST servers, offline.

Mirrors the reference round-trips (`io/http/_server.py:723` uppercase
example; `xpacks/llm/servers.py` DocumentStore/QA endpoints) against a
local ephemeral port — no external services.
"""

from __future__ import annotations

import json
import urllib.request

import pytest

from tests.conftest import SF_DIR


def _post(url: str, payload: dict, timeout: float = 60.0):
    req = urllib.request.Request(
        url, data=json.dumps(payload).encode(),
        headers={"Content-Type": "application/json"}, method="POST",
    )
    with urllib.request.urlopen(req, timeout=timeout) as resp:
        return resp.status, json.loads(resp.read())


def test_rest_connector_streaming_roundtrip(spark):
    """The reference's canonical example: POST a word, the streaming
    dataflow uppercases it, the response carries the result."""
    import pathway_spark as pw
    from pathway_spark.io.http_server import rest_connector
    from pathway_spark.schema import schema_from_types

    words, writer = rest_connector(
        port=0, route="/uppercase",
        schema=schema_from_types(word=str),
        spark=spark, autocommit_duration_ms=200,
    )
    result = pw.Table(words._df.withColumn(
        "result", words._df["word"].substr(1, 100)
    ).selectExpr("_pw_id", "UPPER(word) AS result"))
    q = writer(result)
    try:
        port = writer.webserver.port
        status, body = _post(
            f"http://127.0.0.1:{port}/uppercase", {"word": "stream"}
        )
        assert status == 200
        assert body == {"result": "STREAM"}
    finally:
        q.stop()
        writer.webserver.stop()


def test_document_store_server_roundtrip(spark):
    import pathway_spark as pw
    from pathway_spark.ml.document_store import DocumentStore
    from pathway_spark.xpacks.llm.servers import DocumentStoreServer

    docs = pw.io.parquet.read(f"{SF_DIR}/documents.parquet", spark=spark)
    store = DocumentStore(docs, text_col="text", id_col="doc_id")
    srv = DocumentStoreServer("127.0.0.1", 0, store, spark=spark)
    try:
        base = f"http://127.0.0.1:{srv.port}"
        status, hits = _post(f"{base}/v1/retrieve",
                             {"query": "data pipeline", "k": 3})
        assert status == 200
        assert isinstance(hits, list) and 1 <= len(hits) <= 3
        assert {"doc_id", "chunk_pos", "rank"} <= set(hits[0])

        status, stats = _post(f"{base}/v1/statistics", {})
        assert status == 200
        assert stats[0]["chunk_count"] > 0 and stats[0]["doc_count"] > 0

        status, inputs = _post(f"{base}/v1/inputs", {})
        assert status == 200
        assert len(inputs) == stats[0]["doc_count"]

        # schema endpoint + 404 behavior
        with urllib.request.urlopen(f"{base}/_schema", timeout=30) as r:
            assert "/v1/retrieve" in json.loads(r.read())
        with pytest.raises(urllib.error.HTTPError):
            _post(f"{base}/nope", {})
    finally:
        srv.webserver.stop()


def test_qa_rest_server_roundtrip(spark):
    import pathway_spark as pw
    from pathway_spark.ml.document_store import DocumentStore
    from pathway_spark.xpacks.llm.question_answering import (
        BaseRAGQuestionAnswerer,
    )
    from pathway_spark.xpacks.llm.llms import EchoChat
    from pathway_spark.xpacks.llm.servers import QARestServer

    docs = pw.io.parquet.read(f"{SF_DIR}/documents.parquet", spark=spark)
    store = DocumentStore(docs, text_col="text", id_col="doc_id")
    rag = BaseRAGQuestionAnswerer(EchoChat(), store)
    srv = QARestServer("127.0.0.1", 0, rag, spark=spark)
    try:
        base = f"http://127.0.0.1:{srv.port}"
        status, body = _post(f"{base}/v2/answer",
                             {"prompt": "what is a table", "k": 2})
        assert status == 200
        assert isinstance(body, str) and len(body) > 0
        status, docs_list = _post(f"{base}/v2/list_documents", {})
        assert status == 200 and len(docs_list) > 0
    finally:
        srv.webserver.stop()


def test_mcp_server_roundtrip(spark):
    """MCP protocol over streamable-http: initialize → tools/list →
    tools/call against a DocumentStore servable (reference
    mcp_server.py:168 / document_store.py:104)."""
    import pathway_spark as pw
    from pathway_spark.ml.document_store import DocumentStore
    from pathway_spark.xpacks.llm.mcp_server import PathwayMcp

    docs = pw.io.parquet.read(f"{SF_DIR}/documents.parquet", spark=spark)
    store = DocumentStore(docs, text_col="text", id_col="doc_id")
    mcp = PathwayMcp(name=f"test-mcp-{id(store)}", host="127.0.0.1", port=0,
                     serve=[store], spark=spark)
    try:
        url = f"http://127.0.0.1:{mcp.server.port}/mcp"

        def rpc(method, params=None, rid=1):
            status, body = _post(url, {"jsonrpc": "2.0", "id": rid,
                                       "method": method,
                                       "params": params or {}})
            assert status == 200
            return body

        init = rpc("initialize")
        assert init["result"]["serverInfo"]["name"].startswith("test-mcp")
        tools = rpc("tools/list")["result"]["tools"]
        names = {t["name"] for t in tools}
        assert {"retrieve_query", "statistics_query", "inputs_query"} <= names
        retr = next(t for t in tools if t["name"] == "retrieve_query")
        assert retr["inputSchema"]["properties"]["k"]["type"] == "integer"

        call = rpc("tools/call", {"name": "retrieve_query",
                                  "arguments": {"query": "data", "k": 2}})
        content = call["result"]["content"]
        assert content[0]["type"] == "text"
        import json as _json
        hits = _json.loads(content[0]["text"])
        assert 1 <= len(hits) <= 2 and "doc_id" in hits[0]

        bad = rpc("tools/call", {"name": "nope", "arguments": {}})
        assert bad["error"]["code"] == -32601
    finally:
        mcp.server.webserver.stop()


def test_pending_requests_no_leak_after_timeout():
    """A fulfill() landing after the 504 must not park results forever
    (io/http_server.py _PendingRequests.discard)."""
    from pathway_spark.io.http_server import _PendingRequests

    p = _PendingRequests()
    ev = p.create(7)
    assert not ev.wait(timeout=0.01)  # simulated timeout
    p.discard(7)
    p.fulfill(7, {"late": True})  # event gone -> result must not be stored
    assert p._events == {} and p._results == {}

    # normal path still works
    ev2 = p.create(8)
    p.fulfill(8, "ok")
    assert ev2.is_set() and p.take(8) == "ok" and p._results == {}


def test_mcp_schema_defaults_and_tool_error(spark):
    """inputSchema marks only default-less fields required; a raising
    handler surfaces as an MCP result with isError, not HTTP 500."""
    import pathway_spark as pw
    from pathway_spark.xpacks.llm.mcp_server import McpConfig, McpServer

    class Sch(pw.Schema):
        query: str
        k: int = pw.column_definition(dtype=int, default_value=3)

    server = McpServer(McpConfig(name="test-mcp-err", host="127.0.0.1",
                                 port=0), spark=spark)

    def boom(t):
        raise RuntimeError("tool exploded")

    server.tool("boom", request_handler=boom, schema=Sch)
    _status, listing = server._handle("POST", {
        "jsonrpc": "2.0", "id": 1, "method": "tools/list"})
    [tool] = listing["result"]["tools"]
    assert tool["inputSchema"]["required"] == ["query"]

    _status, resp = server._handle("POST", {
        "jsonrpc": "2.0", "id": 2, "method": "tools/call",
        "params": {"name": "boom", "arguments": {"query": "x"}}})
    res = resp["result"]
    assert res["isError"] is True
    assert "tool exploded" in res["content"][0]["text"]


def test_monitoring_server(spark):
    """/status + /metrics JSON snapshot (reference engine http_server
    status endpoint re-expressed over Spark's trackers)."""
    import json as _json
    import urllib.request

    from pathway_spark.monitoring import run_monitoring_server

    mon = run_monitoring_server(spark)
    try:
        # an active streaming query should show up in the snapshot
        q = (spark.readStream.format("rate").option("rowsPerSecond", 10)
             .load().writeStream.format("noop")
             .queryName("mon_probe").start())
        try:
            q.processAllAvailable()
            url = f"http://127.0.0.1:{mon.webserver.port}"
            status = _json.load(urllib.request.urlopen(f"{url}/status"))
            assert status["app"]["id"] and status["app"]["uptimeSec"] >= 0
            names = [s["name"] for s in status["streamingQueries"]]
            assert "mon_probe" in names
            metrics = _json.load(urllib.request.urlopen(f"{url}/metrics"))
            assert metrics["pathway_spark_active_queries"] >= 1
            assert any(k.startswith("pathway_spark_query_") for k in metrics)
            # round-8 web dashboard: HTML (not JSON) served at / and
            # /dashboard, polling the JSON endpoints client-side
            for route in ("/", "/dashboard"):
                resp = urllib.request.urlopen(f"{url}{route}")
                assert resp.headers.get_content_type() == "text/html"
                body = resp.read().decode()
                assert "pathway-spark dashboard" in body
                assert "fetch(\"status\")" in body
                # round-9: per-operator graph section rendered
                assert "differential graph" in body
        finally:
            q.stop()
    finally:
        mon.stop()


def test_monitoring_differential_topology(spark):
    """/status carries the differential graph's node list + per-node
    tick timings split by execution path (round 9 — the reference
    dashboard's operator-graph view)."""
    import json as _json
    import urllib.request

    from pathway_spark.monitoring import run_monitoring_server
    from pathway_spark.streaming.differential import DifferentialGraph
    from pyspark.sql import functions as F

    base = spark.createDataFrame([(i, i % 4) for i in range(100)],
                                 "k long, g long")
    g = DifferentialGraph(spark, resident=True)
    out = (g.source("mon_topo_src", base).filter(F.col("k") >= 0)
            .reduce(["g"], n=("count",)))
    # a first step within the caps would run resident: lower the
    # per-instance delta cap for it so both paths show up
    g.RESIDENT_MAX_DELTA_ROWS = 0
    g.step(out, mon_topo_src=base)                      # distributed
    del g.RESIDENT_MAX_DELTA_ROWS
    g.step(out, mon_topo_src=spark.createDataFrame(     # resident
        [(500, 1, 1)], "k long, g long, _pw_diff long"))
    assert g._res_last_t == g._t

    mon = run_monitoring_server(spark)
    try:
        url = f"http://127.0.0.1:{mon.webserver.port}"
        status = _json.load(urllib.request.urlopen(f"{url}/status"))
        graphs = status["differential"]
        # other tests' graphs may still be alive in this session —
        # find OURS by its unique source name
        mine = [t for t in graphs
                if any(n["name"] == "mon_topo_src" for n in t["nodes"])]
        assert mine, [len(graphs)]
        topo = mine[-1]
        red = [n for n in topo["nodes"] if n["op"] == "ReduceNode"][0]
        assert red["dist_ticks"] >= 1, red     # batch 0 ran distributed
        assert red["res_ticks"] >= 1, red      # the steady tick resident
        assert red["inputs"], red              # edges present
        # r10: mirror-memory telemetry — bytes/rows per store, caps,
        # admission/detach events, pyexpr states — observable before
        # a cap trips
        mem = topo["resident_memory"]
        assert mem["events"]["mirror_admissions"] >= 1, mem
        assert mem["est_bytes_total"] > 0, mem
        assert mem["stores"] and all(
            s["est_bytes"] > 0 and s["rows"] > 0 for s in mem["stores"])
        assert mem["max_state_bytes_per_store"] > 0
        assert set(mem["pyexpr"]) == {"on", "verify", "off"}
        # and the Prometheus face carries the totals
        metrics = _json.load(urllib.request.urlopen(f"{url}/metrics"))
        assert any(k.startswith("pathway_spark_resident_state_bytes")
                   for k in metrics), sorted(metrics)[:8]
    finally:
        mon.stop()
        g.restore_session_confs()
