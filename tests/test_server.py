"""REST query API (server/rest/QueryResources.java:85-138 analog):
POST /query.json over a real HTTP socket against a live session."""

from __future__ import annotations

import json
import urllib.parse
import urllib.request

import pytest

from drill_spark.server import serve


@pytest.fixture()
def rest(session, tmp_path):
    (tmp_path / "people.json").write_text(
        '{"name": "ada", "age": 36}\n{"name": "bob", "age": 41}\n'
    )
    session.register_workspace("dfs.web", str(tmp_path), "json")
    srv, port = serve(session)
    yield f"http://127.0.0.1:{port}"
    srv.shutdown()


def _post(url, payload):
    req = urllib.request.Request(
        url, json.dumps(payload).encode(), {"Content-Type": "application/json"}
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, json.loads(r.read())
    except urllib.error.HTTPError as e:
        return e.code, json.loads(e.read())


def test_query_endpoint(rest):
    code, out = _post(
        f"{rest}/query.json",
        {"queryType": "SQL", "query": "select name, age from dfs.web.`people.json` where age > 40"},
    )
    assert code == 200 and out["queryState"] == "COMPLETED"
    assert out["columns"] == ["name", "age"]
    assert out["rows"] == [{"name": "bob", "age": 41}]


def test_query_auto_limit(rest):
    code, out = _post(
        f"{rest}/query.json",
        {"query": "select id from range(100)", "autoLimit": 7},
    )
    assert code == 200 and out["rowCount"] == 7


def test_query_error_shape(rest):
    code, out = _post(f"{rest}/query.json", {"query": "select * from no_such_table_xyz"})
    assert code == 400 and out["queryState"] == "FAILED"
    assert "no_such_table_xyz" in out["errorMessage"]


def test_metadata_endpoints(rest):
    with urllib.request.urlopen(f"{rest}/storage.json") as r:
        ws = {w["name"] for w in json.loads(r.read())["workspaces"]}
    assert "dfs.web" in ws
    with urllib.request.urlopen(f"{rest}/profiles.json") as r:
        profs = json.loads(r.read())["profiles"]
    assert any("people.json" in p["query"] or "range(100)" in p["query"] for p in profs)


def _get(url):
    try:
        with urllib.request.urlopen(url) as r:
            return r.status, r.headers.get("Content-Type", ""), r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.headers.get("Content-Type", ""), e.read().decode()


def _post_form(url, data):
    body = urllib.parse.urlencode(data).encode()
    req = urllib.request.Request(
        url, body, {"Content-Type": "application/x-www-form-urlencoded"}
    )
    try:
        with urllib.request.urlopen(req) as r:
            return r.status, r.read().decode()
    except urllib.error.HTTPError as e:
        return e.code, e.read().decode()


def test_web_ui_index_and_nav(rest):
    code, ctype, page = _get(f"{rest}/")
    assert code == 200 and ctype.startswith("text/html")
    assert "drill_spark" in page and 'href="/query"' in page


def test_web_ui_query_editor_roundtrip(rest):
    code, _, page = _get(f"{rest}/query")
    assert code == 200 and "<textarea" in page

    code, page = _post_form(
        f"{rest}/query",
        {"query": "select name, age from dfs.web.`people.json` order by age",
         "autoLimit": "10"},
    )
    assert code == 200
    assert "2 row(s)" in page
    assert "<td>ada</td>" in page and "<td>41</td>" in page

    # the statement lands in the profiles browser
    code, _, profs = _get(f"{rest}/profiles")
    assert code == 200 and "people.json" in profs and "COMPLETED" in profs


def test_web_ui_query_error_page(rest):
    code, page = _post_form(f"{rest}/query", {"query": "select * from nope_xyz"})
    assert code == 400 and "nope_xyz" in page and 'class="err"' in page


def test_web_ui_query_escapes_html(rest):
    # result cells and the echoed SQL must be escaped, not injected
    code, page = _post_form(
        f"{rest}/query", {"query": "select '<script>x</script>' as col1"}
    )
    assert code == 200 and "<script>x</script>" not in page
    assert "&lt;script&gt;" in page


def test_web_ui_storage_and_options_pages(rest):
    code, _, page = _get(f"{rest}/storage")
    assert code == 200 and "dfs.web" in page
    code, _, page = _get(f"{rest}/options")
    assert code == 200 and "<table>" in page


def test_web_ui_rejects_cross_site_posts(rest):
    """A browser-labeled cross-site POST (Sec-Fetch-Site / foreign
    Origin — what a hostile page's auto-submitted form carries) is
    refused with 403 before any SQL runs; same-origin browser posts
    and header-less CLI clients keep working."""
    import urllib.error
    import urllib.parse
    import urllib.request

    def post(headers):
        data = urllib.parse.urlencode({"query": "select 1 as x"}).encode()
        req = urllib.request.Request(
            f"{rest}/query", data=data,
            headers={"Content-Type": "application/x-www-form-urlencoded",
                     **headers},
        )
        try:
            with urllib.request.urlopen(req) as r:
                return r.status
        except urllib.error.HTTPError as e:
            return e.code

    assert post({"Sec-Fetch-Site": "cross-site"}) == 403
    assert post({"Origin": "http://evil.example"}) == 403
    assert post({"Origin": "null"}) == 403
    host = rest.split("//", 1)[1]
    assert post({"Sec-Fetch-Site": "same-origin", "Origin": f"http://{host}"}) == 200
    assert post({}) == 200  # curl-style client, no browser headers

    # the JSON API route is guarded too (text/plain CSRF vector)
    req = urllib.request.Request(
        f"{rest}/query.json", data=b'{"query": "select 1 as x"}',
        headers={"Content-Type": "text/plain", "Sec-Fetch-Site": "cross-site"},
    )
    try:
        with urllib.request.urlopen(req) as r:
            code = r.status
    except urllib.error.HTTPError as e:
        code = e.code
    assert code == 403


def test_web_ui_profile_detail_page(rest):
    """Per-query profile pages (the reference's /profiles/{queryId}):
    the list links to a detail page carrying the statement and the
    captured physical plan; a JSON twin serves the same record."""
    # run a statement so a fresh profile exists
    _post_form(f"{rest}/query", {"query": "select 41 + 1 as answer",
                                 "autoLimit": "10"})
    code, _, page = _get(f"{rest}/profiles")
    assert code == 200 and 'href="/profiles/' in page
    import re as _re

    qid = _re.search(r'href="/profiles/([0-9a-f-]{36})"', page).group(1)
    code, _, detail = _get(f"{rest}/profiles/{qid}")
    assert code == 200
    assert "Physical plan" in detail and "Statement" in detail
    code, _, body = _get(f"{rest}/profiles/{qid}.json")
    assert code == 200
    prof = json.loads(body)
    assert prof["queryId"] == qid and prof["state"] == "COMPLETED"
    assert "Project" in prof["plan"] or "Scan" in prof["plan"]
    code, _, _body = _get(f"{rest}/profiles/{'0' * 36}")
    assert code == 404


def test_rest_basic_auth():
    """serve(auth=(user, pass)): every route 401s without credentials
    and works with them; the default server stays open."""
    import base64

    from drill_spark import DrillSession
    from drill_spark.server import serve

    s = DrillSession()
    srv, port = serve(s, auth=("alice", "s3cret"))
    try:
        base = f"http://127.0.0.1:{port}"
        code, _, body = _get(f"{base}/options.json")
        assert code == 401 and "authentication" in body
        tok = base64.b64encode(b"alice:s3cret").decode()
        req = urllib.request.Request(f"{base}/options.json",
                                     headers={"Authorization": f"Basic {tok}"})
        with urllib.request.urlopen(req) as r:
            assert r.status == 200 and "options" in r.read().decode()
        bad = base64.b64encode(b"alice:wrong").decode()
        req = urllib.request.Request(f"{base}/options.json",
                                     headers={"Authorization": f"Basic {bad}"})
        try:
            urllib.request.urlopen(req)
            raise AssertionError("expected 401")
        except urllib.error.HTTPError as e:
            assert e.code == 401
    finally:
        srv.shutdown()


def test_profile_page_shows_schema_reuse(rest, session):
    """The profile record and its REST page carry how many path-table
    reads inferred a schema and how many reused a stored one."""
    import re as _re

    q = {"query": "select name from dfs.web.`people.json` where age > 30",
         "autoLimit": "10"}
    session.schema_store.clear()
    seen = []
    for _ in range(2):
        _post_form(f"{rest}/query", q)
        p = session.profiles[-1]
        seen.append((p["schema_inferred"], p["schema_reused"]))
        code, _, page = _get(f"{rest}/profiles/{p['queryId']}")
        assert code == 200
        shown = dict(_re.findall(
            r"<td>(schema_\w+)</td><td>(\d+)</td>", page))
        assert shown == {"schema_inferred": str(seen[-1][0]),
                         "schema_reused": str(seen[-1][1])}
    assert seen == [(1, 0), (0, 1)]
