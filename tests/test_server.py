"""S6 HTTP shim: the controller/broker REST surface over PinotCatalog +
PinotEngine (reference basics/Architecture.md:71-79, :121-152). Drives the
endpoints over a real socket with urllib — no web framework involved."""

from __future__ import annotations

import json
import urllib.error
import urllib.request

import pytest

from tests.conftest import SF_SMOKE

EVENTS_SCHEMA_DOC = {
    "schemaName": "events_http",
    "dimensionFieldSpecs": [
        {"name": "event_id", "dataType": "LONG"},
        {"name": "user_id", "dataType": "LONG"},
        {"name": "event_type", "dataType": "STRING"},
    ],
    "metricFieldSpecs": [{"name": "value", "dataType": "DOUBLE"}],
    "dateTimeFieldSpecs": [
        {
            "name": "ts_ms",
            "dataType": "LONG",
            "format": "1:MILLISECONDS:EPOCH",
            "granularity": "1:DAYS",
        }
    ],
}


def _req(port, method, path, body=None):
    data = json.dumps(body).encode() if body is not None else None
    req = urllib.request.Request(
        f"http://127.0.0.1:{port}{path}", data=data, method=method,
        headers={"Content-Type": "application/json"},
    )
    with urllib.request.urlopen(req) as resp:
        return resp.status, json.loads(resp.read())


@pytest.fixture(scope="module")
def http_server(spark, tmp_path_factory):
    from pyspark.sql import functions as F

    from apache_pinot_spark.catalog import PinotCatalog, load_tables
    from apache_pinot_spark.server import PinotHttpServer
    from apache_pinot_spark.sources.batch import TableConfig
    from apache_pinot_spark.sqlfront import PinotEngine

    wh = str(tmp_path_factory.mktemp("http_wh"))
    engine = PinotEngine(spark, SF_SMOKE, ["lineitem", "events"])
    catalog = PinotCatalog(spark, wh)
    catalog.create_schema(EVENTS_SCHEMA_DOC)
    ev = load_tables(spark, SF_SMOKE, ["events"])["events"].withColumn(
        "ts_ms", F.unix_millis(F.col("ts").cast("timestamp"))
    ).select("event_id", "user_id", "event_type", "value", "ts_ms")
    catalog.create_table(
        "events_http",
        TableConfig(table_name="events_http", time_column="ts_ms"),
        ev,
    )
    srv = PinotHttpServer(engine, catalog)
    srv.start()
    yield srv
    srv.stop()


def test_health(http_server):
    status, body = _req(http_server.port, "GET", "/health")
    assert status == 200 and body == {"status": "OK"}


def test_query_sql_returns_envelope(http_server):
    status, body = _req(
        http_server.port, "POST", "/query/sql",
        {"sql": "SELECT l_returnflag, COUNT(*) AS cnt FROM lineitem "
                "GROUP BY l_returnflag ORDER BY l_returnflag"},
    )
    assert status == 200
    assert body["exceptions"] == []
    rt = body["resultTable"]
    assert rt["dataSchema"]["columnNames"] == ["l_returnflag", "cnt"]
    assert len(rt["rows"]) == 3  # A/N/R
    assert body["numDocsScanned"] > 0 and body["timeUsedMs"] >= 0


def test_query_sql_error_is_enveloped(http_server):
    status, body = _req(
        http_server.port, "POST", "/query/sql", {"sql": "SELECT FROM nothing"}
    )
    assert status == 200  # broker reports errors inside the envelope
    assert body["exceptions"] and body["exceptions"][0]["errorCode"] == 200


def test_catalog_crud_over_http(http_server):
    port = http_server.port
    status, schemas = _req(port, "GET", "/schemas")
    assert status == 200 and "events_http" in schemas
    status, doc = _req(port, "GET", "/schemas/events_http")
    assert status == 200 and doc["schemaName"] == "events_http"
    status, tables = _req(port, "GET", "/tables")
    assert status == 200 and "events_http" in tables["tables"]
    status, meta = _req(port, "GET", "/tables/events_http")
    assert status == 200 and meta["config"]["tableName"] == "events_http"
    status, segs = _req(port, "GET", "/tables/events_http/segments")
    assert status == 200 and len(segs) > 0
    # create a second schema over HTTP, then drop the table
    doc2 = dict(EVENTS_SCHEMA_DOC, schemaName="events_http2")
    status, body = _req(port, "POST", "/schemas", doc2)
    assert status == 200 and "created" in body["status"]
    status, _ = _req(port, "DELETE", "/tables/events_http")
    assert status == 200
    status, tables = _req(port, "GET", "/tables")
    assert "events_http" not in tables["tables"]


def test_unknown_route_404(http_server):
    try:
        _req(http_server.port, "GET", "/nope")
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 404


def test_path_traversal_rejected(http_server):
    import os

    port = http_server.port
    for method, path in [
        ("DELETE", "/tables/.."),
        ("GET", "/tables/../secrets"),
        ("GET", "/schemas/.."),
    ]:
        try:
            _req(port, method, path)
            raise AssertionError(f"{method} {path} should have been rejected")
        except urllib.error.HTTPError as e:
            assert e.code in (400, 404)
    # warehouse parent still intact (nothing rmtree'd)
    assert os.path.isdir(os.path.dirname(http_server_warehouse(http_server)))


def http_server_warehouse(srv):
    return srv.catalog.warehouse


def test_sketch_columns_over_http(http_server, spark):
    """POST /tables/{name}/sketchColumns wires wire-format registrations
    config-driven over HTTP; bad bodies and unknown kinds are 4xx/5xx,
    and a registered theta column answers DISTINCTCOUNTTHETASKETCH
    through /query/sql."""
    import numpy as np
    import pandas as pd

    from apache_pinot_spark.functions import theta as TH

    port = http_server.port
    blobs = [
        ("g", TH.serialize(TH.ThetaSketch.from_values(pd.Series(
            np.arange(seg * 100, seg * 100 + 400)))))
        for seg in range(3)
    ]
    df = spark.createDataFrame(blobs, "g string, u_theta binary")
    http_server.engine.register("http_theta_t", df)
    code, body = _req(
        port, "POST", "/tables/http_theta_t/sketchColumns",
        {"u_theta": "theta"},
    )
    assert code == 200 and "wired" in body["status"]
    code, env = _req(
        port, "POST", "/query/sql",
        {"sql": "SELECT DISTINCTCOUNTTHETASKETCH(u_theta) AS u FROM http_theta_t"},
    )
    assert code == 200 and env["resultTable"]["rows"][0][0] == 600
    # malformed body and unknown kind
    try:
        _req(port, "POST", "/tables/http_theta_t/sketchColumns", ["nope"])
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 400
    try:
        _req(port, "POST", "/tables/http_theta_t/sketchColumns",
             {"u_theta": "moments"})  # cpc became a real kind in r8
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 400  # unknown sketch kind: a client error
    try:
        _req(port, "POST", "/tables/http_theta_t/sketchColumns", {"nope": "theta"})
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 400  # column not in the table
    try:
        _req(port, "POST", "/tables/no_such_table/sketchColumns", {"x": "theta"})
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 404  # unknown table


def test_sketch_columns_over_http_refuse_non_bytes(http_server, spark):
    """A sketch kind on a column that is not BYTES is the client's error:
    400, and the column stays undeclared."""
    port = http_server.port
    http_server.engine.register(
        "http_int_t", spark.createDataFrame([(1, 2)], "g int, x int")
    )
    try:
        _req(port, "POST", "/tables/http_int_t/sketchColumns", {"x": "theta"})
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 400
        assert "must be BYTES" in json.loads(e.read())["error"]
    sql = http_server.engine.rewrite(
        "SELECT DISTINCTCOUNTTHETASKETCH(x) FROM http_int_t"
    ).sql
    assert "COUNT(DISTINCT x)" in sql
