"""HTTP SQL entry point — `POST /api/sql/query {"query": "..."}`.

The reference's primary programmatic door (reference:
mindsdb/api/http/namespaces/sql.py:41-190 — Flask-RESTX resource →
ExecuteCommands → answer as column names + row lists;
result_set.py:400-424 JSON type coercion). Here the same contract sits on
the stdlib ThreadingHTTPServer in front of one EngineSession: every
request body runs through the full SQL door (dialect rewrite → commands /
pushdown / federated Catalyst plan) and the result serializes as

    {"type": "table", "column_names": [...], "data": [[...], ...]}
    {"type": "error", "error_message": "..."}

Only the FINAL result crosses the driver (`.collect()` on the answer —
same boundary the reference draws); everything upstream is a distributed
plan. The server is a thin shell by design: multi-user sessions, auth,
and wire-protocol compatibility are out of scope (SURVEY §7.4).
"""

from __future__ import annotations

import datetime as _dt
import decimal
import json
import re as _re
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer


def _json_value(v):
    """JSON-type coercion at the result edge (result_set.py:400-424 role):
    dates/times → ISO strings, Decimal → float, bytes → hex, NaN/±inf →
    NULL (the reference's edge normalization, sql.py:350 — and json.dumps
    would otherwise emit non-standard JSON)."""
    if isinstance(v, float) and (v != v or v in (float("inf"), float("-inf"))):
        return None
    if isinstance(v, (_dt.datetime, _dt.date, _dt.time)):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, list):
        return [_json_value(x) for x in v]
    if isinstance(v, dict):
        return {k: _json_value(x) for k, x in v.items()}
    return v


class SQLServer:
    """One EngineSession behind an HTTP door. start() binds an ephemeral
    (or given) port; stop() shuts the listener down."""

    def __init__(self, session, host: str = "127.0.0.1", port: int = 0):
        self.session = session
        # one EngineSession + fixed-name intermediate temp views
        # (__kb_select, __model_join, information_schema_*) are shared across
        # handler threads — serialize execute+collect so parallel POSTs never
        # observe each other's intermediates or race session-var mutations
        self._exec_lock = threading.Lock()
        outer = self

        class Handler(BaseHTTPRequestHandler):
            def log_message(self, *args):  # quiet: tests and embedded use
                pass

            def do_POST(self):
                path = self.path.rstrip("/")
                try:
                    length = int(self.headers.get("Content-Length", 0))
                    body = json.loads(self.rfile.read(length) or b"{}")
                except Exception as e:
                    self._reply(400, {"type": "error", "error_message": str(e)})
                    return
                if path == "/api/sql/query":
                    try:
                        with outer._exec_lock:
                            df = outer.session.sql(body["query"])
                            rows = df.collect()
                        payload = {
                            "type": "table",
                            "column_names": list(df.columns),
                            "data": [[_json_value(v) for v in row] for row in rows],
                        }
                        self._reply(200, payload)
                    except Exception as e:  # errors in-band, like the reference
                        self._reply(200, {"type": "error", "error_message": str(e)})
                    return
                if path == "/api/databases":
                    # reference: POST /api/databases {database: {name,
                    # engine, parameters}} (namespaces/databases.py:37-60)
                    db = body.get("database") or {}
                    if "name" not in db or "engine" not in db:
                        self._reply(400, {"type": "error", "error_message":
                                          'Missing "name" or "engine" field'})
                        return
                    try:
                        with outer._exec_lock:
                            outer.session.create_database(
                                db["name"], db["engine"], db.get("parameters", {})
                            )
                        self._reply(201, {"name": db["name"].lower()})
                    except Exception as e:
                        self._reply(400, {"type": "error", "error_message": str(e)})
                    return
                if path == "/api/projects/mindsdb/models":
                    # reference: POST {query: "CREATE MODEL ..."} trains and
                    # deploys (namespaces/models.py:41-53 — the body IS the
                    # SQL statement)
                    if "query" not in body:
                        self._reply(400, {"type": "error", "error_message":
                                          'Missing "query" SQL statement'})
                        return
                    # reference answers 409 Conflict when the model already
                    # exists (namespaces/models.py:69-73) instead of
                    # silently retraining
                    cm = _re.match(
                        r"\s*CREATE\s+(?P<rep>OR\s+REPLACE\s+)?MODEL\s+"
                        r"(?:IF\s+NOT\s+EXISTS\s+)?([\w.`]+)",
                        body["query"],
                        _re.IGNORECASE,
                    )
                    new_name = (
                        cm.group(2).lower().strip("`").split(".")[-1] if cm else None
                    )
                    if (
                        new_name in outer.session._models
                        and cm.group("rep") is None
                    ):
                        self._reply(409, {"type": "error", "error_message":
                                          f"model {new_name!r} already exists"})
                        return
                    try:
                        with outer._exec_lock:
                            outer.session.sql(body["query"])
                        n = new_name if new_name in outer.session._models else None
                        self._reply(201, {
                            "name": n,
                            "active_version": outer.session._model_active.get(n, 1),
                        } if n else {"name": None})
                    except Exception as e:
                        self._reply(400, {"type": "error", "error_message": str(e)})
                    return
                m = _re.match(r"^/api/projects/mindsdb/models/([\w]+)/predict$", path)
                if m:
                    # reference: POST /api/projects/{p}/models/{m}/predict
                    # {data: [row, ...]} → list of prediction rows
                    # (docs/rest/models/query-model.mdx; clients send string
                    # values, so numeric-looking columns are coerced first)
                    name = m.group(1).lower()
                    spec = outer.session._models.get(name)
                    if spec is None:
                        self._reply(404, {"type": "error", "error_message":
                                          f"model {name!r} not found"})
                        return
                    try:
                        import pandas as pd

                        from mindsdb_spark.operators.model import apply_model
                        from mindsdb_spark.session import local_frame

                        pdf = pd.DataFrame(body.get("data") or [])
                        for c in pdf.columns:
                            try:
                                pdf[c] = pd.to_numeric(pdf[c])
                            except (ValueError, TypeError):
                                pass
                        with outer._exec_lock:
                            sdf = local_frame(outer.session.spark, pdf)
                            rows = apply_model(sdf, spec).collect()
                        self._reply(200, [
                            {c: _json_value(v) for c, v in row.asDict().items()}
                            for row in rows
                        ])
                    except Exception as e:
                        self._reply(400, {"type": "error", "error_message": str(e)})
                    return
                if path == "/api/projects/mindsdb/views":
                    # reference: POST {view: {name, query}} → 201
                    # (namespaces/views.py:34-63)
                    v = body.get("view") or {}
                    if "name" not in v or "query" not in v:
                        self._reply(400, {"type": "error", "error_message":
                                          'Missing "name" or "query" field'})
                        return
                    try:
                        with outer._exec_lock:
                            if v["name"].lower() in outer.session._views:
                                self._reply(409, {"type": "error", "error_message":
                                                  f"View {v['name']} already exists"})
                                return
                            outer.session.sql(
                                f"CREATE VIEW {v['name']} AS {v['query']}"
                            )
                        self._reply(201, {"name": v["name"].lower(),
                                          "query": v["query"]})
                    except Exception as e:
                        self._reply(400, {"type": "error", "error_message": str(e)})
                    return
                self._reply(404, {"type": "error", "error_message": "not found"})

            def do_GET(self):
                # the REST catalog namespaces every reference client uses
                # (namespaces/databases.py:25-35 list, :156 tables;
                # namespaces/projects.py, models.py)
                path = self.path.rstrip("/")
                sess = outer.session
                with outer._exec_lock:
                    if path == "/api/databases":
                        self._reply(200, outer._database_list())
                        return
                    if path == "/api/files":
                        # reference: GET /api/files lists uploads
                        # (namespaces/file.py:33-35)
                        self._reply(200, [
                            {"name": n, "source": p}
                            for n, p in sorted(sess._files.items())
                        ])
                        return
                    if path == "/api/projects":
                        self._reply(200, [{"name": "mindsdb"}])
                        return
                    m = _re.match(r"^/api/databases/([\w]+)/tables$", path)
                    if m:
                        name = m.group(1).lower()
                        tables = outer._tables_of(name)
                        if tables is None:
                            self._reply(404, {"type": "error",
                                              "error_message": f"database {name!r} not found"})
                            return
                        self._reply(200, [{"name": t} for t in sorted(tables)])
                        return
                    if _re.match(r"^/api/projects/mindsdb/models$", path):
                        # reference lists with_versions=True (models.py:37)
                        self._reply(200, [
                            {"name": n, "active_version": sess._model_active.get(n, 1),
                             "versions": list(range(1, len(sess._model_versions.get(n, [0])) + 1)),
                             "predict": mm.output_schema}
                            for n, mm in sorted(sess._models.items())
                        ])
                        return
                    m = _re.match(r"^/api/projects/mindsdb/models/([\w]+)$", path)
                    if m:
                        # reference: GET one model (namespaces/models.py:122-133)
                        name = m.group(1).lower()
                        mm = sess._models.get(name)
                        if mm is None:
                            self._reply(404, {"type": "error", "error_message":
                                              f"model {name!r} not found"})
                            return
                        self._reply(200, {
                            "name": name,
                            "active_version": sess._model_active.get(name, 1),
                            "predict": mm.output_schema,
                            "info": {k: _json_value(v) for k, v in mm.info.items()},
                        })
                        return
                    # remaining catalog namespaces the reference serves per
                    # project (namespaces/views.py:13-33, jobs.py:13-22,
                    # agents.py, knowledge_bases.py) — list shapes only;
                    # mutation stays on the SQL door
                    if path == "/api/projects/mindsdb/views":
                        self._reply(200, [
                            {"name": n, "query": q}
                            for n, q in sorted(sess._views.items())
                        ])
                        return
                    if path == "/api/projects/mindsdb/jobs":
                        self._reply(200, [
                            {"name": n, "query": j.sql,
                             "every_seconds": j.every_seconds, "runs": j.runs}
                            for n, j in sorted(sess.jobs.jobs.items())
                        ])
                        return
                    if path == "/api/projects/mindsdb/agents":
                        self._reply(200, [
                            {"name": n, "model": getattr(a, "model", None)}
                            for n, a in sorted(sess._agents.items())
                        ])
                        return
                    if path == "/api/projects/mindsdb/knowledge_bases":
                        self._reply(200, [
                            {"name": n, "dim": kb.get("dim")}
                            for n, kb in sorted(sess._kbs.items())
                        ])
                        return
                self._reply(404, {"type": "error", "error_message": "not found"})

            def do_PUT(self):
                # reference: PUT /api/files/{name} registers a file as the
                # queryable table files.{name} (namespaces/file.py:43-90;
                # multipart or JSON). This door takes the JSON forms:
                # {source_type: "path", source: "/local/file"} or
                # {source_type: "data", content: "<base64>", format: "csv"}
                path = self.path.rstrip("/")
                m = _re.match(r"^/api/files/([\w]+)$", path)
                if not m:
                    self._reply(404, {"type": "error", "error_message": "not found"})
                    return
                try:
                    length = int(self.headers.get("Content-Length", 0))
                    body = json.loads(self.rfile.read(length) or b"{}")
                except Exception as e:
                    self._reply(400, {"type": "error", "error_message": str(e)})
                    return
                name = m.group(1).lower()
                try:
                    if body.get("source_type") == "data":
                        import base64
                        import tempfile

                        suffix = "." + body.get("format", "csv").lstrip(".")
                        fd, fpath = tempfile.mkstemp(
                            prefix="mindsdb_file_", suffix=suffix
                        )
                        with open(fd, "wb") as f:
                            f.write(base64.b64decode(body["content"]))
                    elif body.get("source_type") in ("path", "file"):
                        fpath = body["source"]
                    else:
                        self._reply(400, {"type": "error", "error_message":
                                          'source_type must be "path" or "data"'})
                        return
                    with outer._exec_lock:
                        outer.session.register_file(
                            name, fpath, owned=body.get("source_type") == "data"
                        )
                    self._reply(201, {"name": name})
                except Exception as e:
                    self._reply(400, {"type": "error", "error_message": str(e)})

            def do_DELETE(self):
                path = self.path.rstrip("/")
                m = _re.match(r"^/api/files/([\w]+)$", path)
                if m:
                    # reference: DELETE file (namespaces/file.py:286-294)
                    try:
                        with outer._exec_lock:
                            outer.session.drop_file(m.group(1))
                        self._reply(204, {})
                    except FileNotFoundError as e:
                        self._reply(400, {"type": "error", "error_message": str(e)})
                    return
                m = _re.match(r"^/api/databases/([\w]+)$", path)
                if m:
                    with outer._exec_lock:
                        outer.session.drop_database(m.group(1))
                    self._reply(204, {})
                    return
                m = _re.match(r"^/api/projects/mindsdb/models/([\w]+)$", path)
                if m:
                    # reference: DELETE model (namespaces/models.py:167-178)
                    name = m.group(1).lower()
                    with outer._exec_lock:
                        if name not in outer.session._models:
                            self._reply(404, {"type": "error", "error_message":
                                              f"model {name!r} not found"})
                            return
                        outer.session.sql(f"DROP MODEL {name}")
                    self._reply(204, {})
                    return
                m = _re.match(r"^/api/projects/mindsdb/views/([\w]+)$", path)
                if m:
                    # reference: DELETE view (namespaces/views.py:124-138)
                    name = m.group(1).lower()
                    with outer._exec_lock:
                        if name not in outer.session._views:
                            self._reply(404, {"type": "error", "error_message":
                                              f"view {name!r} not found"})
                            return
                        outer.session.sql(f"DROP VIEW {name}")
                    self._reply(204, {})
                    return
                self._reply(404, {"type": "error", "error_message": "not found"})

            def _reply(self, code: int, payload: dict) -> None:
                data = json.dumps(payload).encode()
                self.send_response(code)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                self.end_headers()
                self.wfile.write(data)

        self._httpd = ThreadingHTTPServer((host, port), Handler)
        self.host, self.port = self._httpd.server_address[:2]
        self._thread: threading.Thread | None = None

    def _database_list(self) -> list[dict]:
        sess = self.session
        names = set(sess._db_params)
        names |= {s for s, _t in sess.catalog.tables()}
        names |= set(sess._native) | set(sess._writable)
        out = []
        for n in sorted(names):
            if n in sess._db_params:
                eng = (sess._db_params[n][0] or "project").lower()
            elif n in sess._native:
                eng = "native"
            elif n in sess._writable:
                eng = "parquet_writable"
            else:
                eng = "parquet"
            out.append(
                {"name": n, "engine": eng,
                 "type": "project" if eng == "project" else "data"}
            )
        return out

    def _tables_of(self, name: str):
        return [t for s, t in self.session._source_tables() if s == name] or None

    def start(self) -> "SQLServer":
        self._thread = threading.Thread(target=self._httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._httpd.shutdown()
        self._httpd.server_close()
