"""REST query API — the reference's primary client entry point.

Drill serves `POST /query.json` ({"queryType": "SQL", "query": ...} →
{"columns": [...], "rows": [{col: val}, ...]}) plus profile/storage/
option listings from its embedded web server (reference:
exec/java-exec/src/main/java/org/apache/drill/exec/server/rest/
QueryResources.java:85-138, ProfileResources.java, StorageResources.java).

This module exposes a DrillSession over the same wire shape using only
the standard library (ThreadingHTTPServer). The HTTP layer is
driver-side by nature — it is the session's front door, not a data
path; query execution underneath is ordinary distributed Catalyst, and
`autoLimit` (Drill's result-row cap, ExecConstants.QUERY_MAX_ROWS
analog) keeps driver materialization bounded.

Endpoints:
- POST /query.json   {"query": "...", "autoLimit": N?} → columns+rows
- GET  /profiles.json  recent statements (sys.profiles view)
- GET  /storage.json   workspaces (storage plugin configs analog)
- GET  /options.json   session options

Plus the embedded web UI the reference renders from FreeMarker templates
(exec/java-exec/src/main/resources/rest/index.ftl, query/query.ftl,
profile/list.ftl, storage/list.ftl, options.ftl — served by DrillRoot /
QueryResources / ProfileResources / StorageResources): stdlib-rendered
HTML at GET / (cluster summary), GET+POST /query (editor + result
table), GET /profiles (statement browser), /storage, /options. The UI
is a thin skin over the same session calls as the JSON API.
"""

from __future__ import annotations

import datetime
import html as _html
import json
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

DEFAULT_AUTO_LIMIT = 10_000

_PAGE = """<!DOCTYPE html>
<html><head><title>{title} - drill_spark</title>
<style>
 body {{ font-family: sans-serif; margin: 2em; color: #222; }}
 nav a {{ margin-right: 1.2em; }}
 table {{ border-collapse: collapse; margin-top: 1em; }}
 th, td {{ border: 1px solid #bbb; padding: 4px 10px; text-align: left; }}
 th {{ background: #eee; }}
 textarea {{ width: 100%; font-family: monospace; }}
 .err {{ color: #a00; white-space: pre-wrap; }}
</style></head>
<body>
<nav><a href="/">Home</a><a href="/query">Query</a>
<a href="/profiles">Profiles</a><a href="/storage">Storage</a>
<a href="/options">Options</a></nav>
<h2>{title}</h2>
{body}
</body></html>"""


def _esc(v) -> str:
    return _html.escape("" if v is None else str(v))


def _table(cols, rows, raw: bool = False) -> str:
    head = "".join(f"<th>{_esc(c)}</th>" for c in cols)
    cell = (lambda v: "" if v is None else str(v)) if raw else _esc
    body = "".join(
        "<tr>" + "".join(f"<td>{cell(v)}</td>" for v in r) + "</tr>" for r in rows
    )
    return f"<table><tr>{head}</tr>{body}</table>"


_QUERY_FORM = """<form method="post" action="/query">
<textarea name="query" rows="6" placeholder="select ...">{q}</textarea><br>
<label>Row limit <input name="autoLimit" value="{limit}" size="8"></label>
<button type="submit">Submit</button>
</form>"""


def _drill_type(dt) -> str:
    """Spark type → the Drill SQL type name the reference's REST
    QueryResult.metadata carries (RestQueryRunner.java:114 — the
    remote-drill client rebuilds a typed schema from these)."""
    from pyspark.sql import types as T

    if isinstance(dt, T.DecimalType):
        return f"VARDECIMAL({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        return "ARRAY"
    if isinstance(dt, (T.StructType, T.MapType)):
        return "MAP"
    return {
        "string": "VARCHAR", "bigint": "BIGINT", "int": "INT",
        "smallint": "SMALLINT", "tinyint": "TINYINT", "double": "FLOAT8",
        "float": "FLOAT4", "boolean": "BIT", "date": "DATE",
        "timestamp": "TIMESTAMP", "timestamp_ntz": "TIMESTAMP",
        "binary": "VARBINARY", "time": "TIME",
    }.get(dt.simpleString(), dt.simpleString().upper())


def _json_safe(v):
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if isinstance(v, bytes):
        import base64

        return base64.b64encode(v).decode()
    if isinstance(v, dict):
        return {k: _json_safe(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_json_safe(x) for x in v]
    return v


class _Handler(BaseHTTPRequestHandler):
    session = None  # set by serve()
    auth = None  # (user, password) when serve(..., auth=...) enabled

    def _unauthorized(self) -> bool:
        """HTTP Basic auth gate (the reference's drill.exec.http auth
        analog): active only when serve() got credentials."""
        if type(self).auth is None:
            return False
        import base64

        hdr = self.headers.get("Authorization", "")
        if hdr.startswith("Basic "):
            try:
                got = base64.b64decode(hdr[6:]).decode().split(":", 1)
            except Exception:
                got = []
            if tuple(got) == type(self).auth:
                return False
        body = b'{"errorMessage": "authentication required"}'
        self.send_response(401)
        self.send_header("WWW-Authenticate", 'Basic realm="drill_spark"')
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)
        return True

    def _reply(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *a):  # quiet test output
        pass

    def _reply_html(self, code: int, title: str, body: str) -> None:
        out = _PAGE.format(title=_esc(title), body=body).encode()
        self.send_response(code)
        self.send_header("Content-Type", "text/html; charset=utf-8")
        self.send_header("Content-Length", str(len(out)))
        self.end_headers()
        self.wfile.write(out)

    def _ui_index(self, s) -> None:
        import pyspark

        rows = [
            ("engine", "drill_spark on Apache Spark " + pyspark.__version__),
            ("workspaces", len(s.workspaces)),
            ("session options", len(s.options)),
            ("statements run", len(s.profiles)),
        ]
        self._reply_html(200, "drill_spark", _table(["property", "value"], rows))

    def _ui_profiles(self, s) -> None:
        cols = ["queryId", "query", "state", "plan_ms", "start_ts"]
        rows = [
            (f'<a href="/profiles/{_esc(p.get("queryId", ""))}">'
             f'{_esc(p.get("queryId", "")[:8])}</a>',
             _esc(p["query"][:120]), _esc(p["state"]), p["plan_ms"],
             p["start_ts"].isoformat())
            for p in reversed(s.profiles[-100:])
        ]
        self._reply_html(200, "Profiles", _table(cols, rows, raw=True))

    def _ui_profile_detail(self, s, qid: str) -> None:
        """Per-query profile page (the reference's /profiles/{queryid}:
        full statement + the captured physical plan, plus how many
        path-table reads inferred a schema or reused a stored one)."""
        p = next((x for x in s.profiles if x.get("queryId") == qid), None)
        if p is None:
            self._reply_html(404, "Profile", f"<p>no profile {_esc(qid)}</p>")
            return
        body = (
            _table(["field", "value"],
                   [("queryId", p.get("queryId", "")), ("state", p["state"]),
                    ("plan_ms", p["plan_ms"]),
                    ("schema_inferred", p["schema_inferred"]),
                    ("schema_reused", p["schema_reused"]),
                    ("start_ts", p["start_ts"].isoformat())])
            + f"<h2>Statement</h2><pre>{_esc(p['query'])}</pre>"
            + "<h2>Physical plan</h2><pre>"
            + _esc(p.get("plan") or "(not captured)") + "</pre>"
        )
        self._reply_html(200, f"Profile {qid[:8]}", body)

    def _ui_storage(self, s) -> None:
        rows = [
            (w.name, w.kind, w.path, w.default_format, w.writable)
            for w in s.workspaces.values()
        ]
        self._reply_html(
            200, "Storage", _table(["name", "kind", "path", "defaultFormat", "writable"], rows)
        )

    def _ui_options(self, s) -> None:
        self._reply_html(
            200, "Options", _table(["option", "value"], sorted(s.options.items()))
        )

    def _ui_query(self, s, form=None) -> None:
        if not form:
            self._reply_html(200, "Query", _QUERY_FORM.format(q="", limit=1000))
            return
        sql = (form.get("query") or [""])[0]
        try:
            limit = int((form.get("autoLimit") or ["1000"])[0])
        except ValueError:
            limit = 1000
        page = _QUERY_FORM.format(q=_esc(sql), limit=limit)
        try:
            df = s.sql(sql)
            rows = df.limit(limit).collect()
            page += f"<p>{len(rows)} row(s)</p>" + _table(
                df.columns, [tuple(_json_safe(v) for v in r) for r in rows]
            )
            self._reply_html(200, "Query", page)
        except Exception as e:
            self._reply_html(400, "Query", page + f'<p class="err">{_esc(e)}</p>')

    def do_GET(self):
        if self._unauthorized():
            return
        s = type(self).session
        route = self.path.split("?", 1)[0]
        if route in ("/", "/index.html"):
            self._ui_index(s)
            return
        if route == "/query":
            self._ui_query(s)
            return
        if route == "/profiles":
            self._ui_profiles(s)
            return
        if route.startswith("/profiles/") and route.endswith(".json"):
            qid = route[len("/profiles/"):-len(".json")]
            p = next((x for x in s.profiles if x.get("queryId") == qid), None)
            if p is None:
                self._reply(404, {"errorMessage": f"no profile {qid}"})
            else:
                self._reply(200, _json_safe(
                    {**p, "start_ts": p["start_ts"].isoformat()}))
            return
        if route.startswith("/profiles/"):
            self._ui_profile_detail(s, route[len("/profiles/"):])
            return
        if route == "/storage":
            self._ui_storage(s)
            return
        if route == "/options":
            self._ui_options(s)
            return
        if self.path.startswith("/profiles"):
            self._reply(200, {"profiles": _json_safe(
                [{k: v for k, v in p.items() if k != "plan"}
                 | {"start_ts": p["start_ts"].isoformat()}
                 for p in s.profiles[-100:]]
            )})
        elif self.path.startswith("/storage"):
            self._reply(200, {"workspaces": [
                {"name": w.name, "path": w.path, "kind": w.kind,
                 "defaultFormat": w.default_format, "writable": w.writable}
                for w in s.workspaces.values()
            ]})
        elif self.path.startswith("/options"):
            self._reply(200, {"options": dict(s.options)})
        else:
            self._reply(404, {"errorMessage": f"no such resource {self.path}"})

    def _cross_site(self) -> bool:
        """CSRF guard: any browser page can auto-submit a form (or a
        text/plain fetch) to this port, and /query executes
        side-effecting SQL (DML/VACUUM). Browsers label such requests
        with Sec-Fetch-Site / Origin; reject them unless same-origin.
        Non-browser clients (curl, python-requests, JDBC bridges) send
        neither header and pass untouched."""
        sfs = self.headers.get("Sec-Fetch-Site")
        if sfs and sfs not in ("same-origin", "none"):
            return True
        origin = self.headers.get("Origin")
        if origin and origin != "null":
            host = self.headers.get("Host")
            if host and urllib.parse.urlsplit(origin).netloc != host:
                return True
        return origin == "null"

    def do_POST(self):
        if self._unauthorized():
            return
        if not self.path.startswith("/query"):
            self._reply(404, {"errorMessage": f"no such resource {self.path}"})
            return
        if self._cross_site():
            self._reply(403, {"queryState": "FAILED",
                              "errorMessage": "cross-site request rejected"})
            return
        s = type(self).session
        ctype = (self.headers.get("Content-Type") or "").split(";")[0].strip()
        if self.path.split("?", 1)[0] == "/query" and ctype == "application/x-www-form-urlencoded":
            n = int(self.headers.get("Content-Length", 0))
            form = urllib.parse.parse_qs(self.rfile.read(n).decode())
            self._ui_query(s, form)
            return
        try:
            n = int(self.headers.get("Content-Length", 0))
            req = json.loads(self.rfile.read(n) or b"{}")
            raw_limit = req.get("autoLimit")
            limit = DEFAULT_AUTO_LIMIT if raw_limit is None else int(raw_limit)
            df = s.sql(req["query"])
            if limit <= 0:  # explicit 0 disables the cap
                rows = df.collect()
                truncated = False
            else:
                # fetch one extra row so truncation is DETECTABLE —
                # a capped reply must never look like a complete table
                rows = df.limit(limit + 1).collect()
                truncated = len(rows) > limit
                rows = rows[:limit]
            self._reply(200, {
                "queryState": "COMPLETED",
                "columns": df.columns,
                "metadata": [_drill_type(f.dataType) for f in df.schema.fields],
                "rows": [_json_safe(r.asDict(recursive=True)) for r in rows],
                "rowCount": len(rows),
                "attemptedAutoLimit": limit,
                "truncated": truncated,
            })
        except Exception as e:
            self._reply(400, {"queryState": "FAILED", "errorMessage": str(e)})


def serve(session, host: str = "127.0.0.1", port: int = 0,
          auth: tuple | None = None):
    """Start the REST server on a daemon thread; returns (server, port).
    ``auth=(user, password)`` enables HTTP Basic authentication on every
    route (the reference's web/REST auth). Stop with server.shutdown()."""
    handler = type("BoundHandler", (_Handler,),
                   {"session": session,
                    "auth": tuple(auth) if auth else None})
    srv = ThreadingHTTPServer((host, port), handler)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    return srv, srv.server_address[1]
