"""S6 — controller/broker HTTP surface over PinotCatalog + PinotEngine.

The reference exposes its catalog DDL and query entry points as REST
endpoints (basics/Architecture.md:71-79: controller admin endpoints;
:121-152: the broker's `POST /query/sql` returning the JSON result
envelope). This module is the HTTP shim over the Python equivalents —
stdlib `http.server` only (the container has no web framework), threaded
so a Spark driver can serve queries while tests call it.

Endpoints (paths follow the reference's controller/broker split):
  POST /query/sql            {"sql": "..."} → broker envelope (S5)
  GET  /health               liveness
  GET  /schemas              schema names
  POST /schemas              create schema from the JSON schema doc
  GET  /schemas/{name}       one schema doc
  GET  /tables               table names
  GET  /tables/{name}        table metadata (_pinot_table.json)
  GET  /tables/{name}/segments  segment (partition directory) list
  DELETE /tables/{name}      drop table

Single-process scope: this is the documented single-node stand-in for the
controller quorum — state lives in the catalog's warehouse directory, so
a restart re-attaches via PinotCatalog.attach_all.
"""

from __future__ import annotations

import json
import re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

# Catalog object names reachable over HTTP: a conservative identifier
# shape. Anything else (.., %2F tricks, absolute paths) is rejected with
# 400 BEFORE it can reach os.path.join — BaseHTTPRequestHandler does NOT
# normalize the request path, so 'DELETE /tables/..' would otherwise
# rmtree the warehouse's parent.
_SAFE_NAME = re.compile(r"^[A-Za-z0-9_][A-Za-z0-9_.-]*$")


def _safe_name(name: str) -> bool:
    return bool(_SAFE_NAME.match(name)) and ".." not in name


def _jsonable(o):
    """JSON-encode envelope values DuckDB/Spark may emit (bytes, Decimal,
    datetimes) the way the reference's broker does: binary as hex,
    temporals as ISO strings, big decimals as strings (a float cast would
    silently round past 15-16 significant digits)."""
    import datetime
    import decimal

    if isinstance(o, (bytes, bytearray)):
        return o.hex()
    if isinstance(o, decimal.Decimal):
        return str(o)
    if isinstance(o, (datetime.datetime, datetime.date)):
        return o.isoformat()
    raise TypeError(f"not JSON serializable: {type(o)}")


class PinotHttpServer:
    """Thin REST layer; see module docstring. Serves on a daemon thread:
    ``srv = PinotHttpServer(engine, catalog); port = srv.start()``."""

    def __init__(self, engine, catalog=None, host: str = "127.0.0.1", port: int = 0):
        self.engine = engine
        self.catalog = catalog
        self._httpd = ThreadingHTTPServer((host, port), self._handler_class())
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._httpd.server_address[1]

    def start(self) -> int:
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self.port

    def stop(self) -> None:
        self._httpd.shutdown()
        if self._thread:
            self._thread.join(timeout=5)

    # ------------------------------------------------------------------
    def _handler_class(self):
        server = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, fmt, *args):  # silence per-request stderr
                pass

            def _reply(self, code: int, payload):
                body = json.dumps(payload, default=_jsonable).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def _body(self):
                n = int(self.headers.get("Content-Length", 0))
                return json.loads(self.rfile.read(n) or b"{}")

            def _name(self, raw: str):
                """Validated catalog object name, or None (400 already sent)."""
                if _safe_name(raw):
                    return raw
                self._reply(400, {"error": f"invalid name {raw!r}"})
                return None

            def do_GET(self):
                parts = [p for p in self.path.split("?")[0].split("/") if p]
                try:
                    if parts == ["health"]:
                        return self._reply(200, {"status": "OK"})
                    if parts == ["schemas"]:
                        return self._reply(200, server.catalog.list_schemas())
                    if len(parts) == 2 and parts[0] == "schemas":
                        if (name := self._name(parts[1])) is None:
                            return None
                        return self._reply(200, server.catalog.schema_doc(name))
                    if parts == ["tables"]:
                        return self._reply(200, {"tables": server.catalog.list_tables()})
                    if len(parts) == 2 and parts[0] == "tables":
                        if (name := self._name(parts[1])) is None:
                            return None
                        return self._reply(200, server.catalog.table_meta(name))
                    if len(parts) == 3 and parts[0] == "tables" and parts[2] == "segments":
                        if (name := self._name(parts[1])) is None:
                            return None
                        return self._reply(200, server.catalog.list_segments(name))
                    return self._reply(404, {"error": f"no route {self.path}"})
                except FileNotFoundError:
                    return self._reply(404, {"error": "not found"})
                except Exception as e:  # noqa: BLE001 — surface as HTTP 500
                    return self._reply(500, {"error": str(e)[:500]})

            def do_POST(self):
                parts = [p for p in self.path.split("?")[0].split("/") if p]
                try:
                    if parts == ["query", "sql"]:
                        sql = self._body().get("sql", "")
                        return self._reply(200, server.engine.query(sql))
                    if parts == ["schemas"]:
                        doc = self._body()
                        if not _safe_name(str(doc.get("schemaName", ""))):
                            return self._reply(
                                400, {"error": "invalid or missing schemaName"}
                            )
                        sch = server.catalog.create_schema(doc)
                        return self._reply(200, {"status": f"{sch.schema_name} created"})
                    if (
                        len(parts) == 3
                        and parts[0] == "tables"
                        and parts[2] == "sketchColumns"
                    ):
                        # config-driven sketch-column wiring over HTTP:
                        # {"col": "theta" | "bitmap" | "kll" | …} routes
                        # each BYTES column to its wire-format
                        # registration (PinotEngine.apply_sketch_columns)
                        if (tbl := self._name(parts[1])) is None:
                            return None
                        tdf = getattr(server.engine, "_dfs", {}).get(tbl)
                        if tdf is None:
                            return self._reply(
                                404, {"error": f"unknown table {tbl!r}"}
                            )
                        mapping = self._body()
                        if not isinstance(mapping, dict) or not all(
                            isinstance(k, str) and isinstance(v, str)
                            for k, v in mapping.items()
                        ):
                            return self._reply(
                                400, {"error": "body must map column -> sketch kind"}
                            )
                        missing = [c for c in mapping if c not in tdf.columns]
                        if missing:
                            return self._reply(
                                400,
                                {"error": f"columns not in {tbl!r}: {missing}"},
                            )
                        from apache_pinot_spark.sqlfront import check_sketch_columns

                        try:
                            check_sketch_columns(mapping)
                        except ValueError as e:
                            return self._reply(400, {"error": str(e)})
                        # (registration is engine-wide by column name,
                        # like the dialect's other column declarations —
                        # the table scoping here validates the request)
                        server.engine.apply_sketch_columns(mapping)
                        return self._reply(
                            200, {"status": f"{len(mapping)} sketch columns wired"}
                        )
                    return self._reply(404, {"error": f"no route {self.path}"})
                except Exception as e:  # noqa: BLE001
                    return self._reply(500, {"error": str(e)[:500]})

            def do_DELETE(self):
                parts = [p for p in self.path.split("?")[0].split("/") if p]
                try:
                    if len(parts) == 2 and parts[0] == "tables":
                        if (name := self._name(parts[1])) is None:
                            return None
                        server.catalog.drop_table(name)
                        return self._reply(200, {"status": f"{name} dropped"})
                    return self._reply(404, {"error": f"no route {self.path}"})
                except FileNotFoundError:
                    return self._reply(404, {"error": "not found"})
                except Exception as e:  # noqa: BLE001
                    return self._reply(500, {"error": str(e)[:500]})

        return Handler
