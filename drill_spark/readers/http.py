"""HTTP/REST storage plugin analog (contrib/storage-http/).

Drill's http plugin fetches a REST endpoint in the scan fragment and
reads the JSON response as a table, with `dataPath` descending into the
payload (contrib/storage-http/README.md usage; HttpBatchReader).

Spark shape: the fetch runs driver-side (Drill's http scan is likewise
single-fragment — an HTTP endpoint has no splits); the parsed records
are then read by spark.read.json from a driver-side local relation
(``session.json_frame``) so downstream operators scale normally.
Pagination: fetch all pages driver-side (bounded by max_pages), then
distribute once — the row set, not the fetch, is the scalable part.
"""

from __future__ import annotations

import json
import urllib.request

from pyspark.sql import DataFrame, SparkSession


def _fetch(url: str, headers: dict | None = None, timeout: float = 30.0) -> str:
    req = urllib.request.Request(url, headers=headers or {})
    with urllib.request.urlopen(req, timeout=timeout) as resp:  # noqa: S310 (user-supplied source URL, as in the reference plugin)
        return resp.read().decode("utf-8")


def _descend(payload, data_path: str | None):
    """dataPath: dotted field path descending into the response."""
    if data_path:
        for part in data_path.split("."):
            payload = payload[part]
    return payload


def read_http(
    spark: SparkSession,
    url: str,
    data_path: str | None = None,
    headers: dict | None = None,
    page_param: str | None = None,
    max_pages: int = 1,
) -> DataFrame:
    """Read a JSON REST endpoint as a DataFrame.

    data_path descends into the response ('result.items'); page_param
    names a query parameter to iterate 1..max_pages for paginated APIs
    (stops early on an empty page, like the reference's pagination).
    """
    records: list = []
    for page in range(1, max_pages + 1):
        page_url = url
        if page_param:
            sep = "&" if "?" in url else "?"
            page_url = f"{url}{sep}{page_param}={page}"
        payload = _descend(json.loads(_fetch(page_url, headers)), data_path)
        if isinstance(payload, dict):
            payload = [payload]
        if not payload:
            break
        records.extend(payload)
        if not page_param:
            break
    from drill_spark.session import json_frame

    return json_frame(spark, [json.dumps(r) for r in records] or ["{}"])
