"""S7 — HTTP serving layer over a built index.

The reference's primary user surface is a REST API over its index protocol
(iscc_search/protocols/index.py:39-98; server/search.py:13-46 routes search
requests and maps errors to 400/404).  This shim re-expresses that surface
over the Spark engine with the stdlib http.server (zero new dependencies;
a production deployment would put the same handlers behind any ASGI stack
or a Spark Connect client):

    GET /health                          -> {"status": "ok"}
    GET /stats                           -> index meta + table counts (S8)
    GET /search?q=...&k=10               -> BM25 top-k (driver-local fast
                                            path; falls back to the
                                            distributed scorer over the cap)
    GET /doc?doc_id=...                  -> stored docs row (driver-local
                                            from the reader's docs cache;
                                            404 unknown doc)
    GET /more_like_this?doc_id=...&k=10  -> J5 (404 unknown doc)
    GET /similar?doc_id=...&k=10         -> multi-unit ISCC search from the
                                            PERSISTED units + band tables
                                            (driver-local over the
                                            reader's table caches; 404
                                            unknown doc)
    GET /granular?q=...&k=10&max_hamming=8
                                         -> chunk-level simprint search
                                            from the PERSISTED band table
                                            (driver-local likewise; both
                                            fall back to the Spark
                                            operators over the cache cap)

Registry mode (pass ``base_path`` instead of ``index_dir``) serves the
NAMED-index surface the reference's RemoteIndex client drives
(remote/client.py:95-267; routes server/indexes.py):

    GET    /indexes                       -> list (name, assets, size, sizes)
    POST   /indexes        {"name": ...}  -> create (400 invalid, 409 exists)
    GET    /indexes/{name}                -> metadata (404 unknown)
    DELETE /indexes/{name}                -> delete (404 unknown)
    POST   /indexes/{name}/assets [rows]  -> batch ingest (url/text/lang
                                             rows; build-then-upsert)
    GET    /indexes/{name}/search?q=&k=   -> BM25 top-k on that index
    GET    /indexes/{name}/stats          -> per-index stats
    GET    /status                        -> deployment mode + per-hub
                                             aggregator ingestion table
                                             (public, auth-exempt)

Error mapping mirrors the reference: missing/invalid parameters -> 400,
unknown doc_id/index -> 404, create-exists -> 409 (server/search.py:31-44).
Responses are JSON rows.

Auth mirrors the reference's key check + aggregator guard
(server/auth.py:29-45, exercised by tests/test_server_auth.py):
``api_secret=None`` (default) is public mode — no authentication;
when set, every route except /health requires a matching ``X-API-Key``
header (constant-time compare) and failures get 401 {"error":
"Unauthorized"}.  ``aggregator_mode=True`` (registry mode) suppresses the
index-mutating surface — /indexes CRUD and asset ingest — with a
route-hiding 404, and restricts reads (search/stats/assets) to
``aggregator_index``; the guard resolves BEFORE auth, so a key-less
request to a suppressed endpoint sees 404, never 401 (auth.py:14-21).

Queries run on the server's long-lived SparkSession; the underlying
IndexReader revalidates against meta.json mtime per query, so in-place
upsert/delete are picked up without restarting the server.
"""

from __future__ import annotations

import json
import secrets
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

from pyspark.sql import functions as F


class ApiError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status
        self.message = message


def _rows(df) -> list[dict]:
    return [r.asDict() for r in df.collect()]


class SearchApp:
    """Route table + handlers, independent of the HTTP plumbing (testable
    directly; the reference keeps the same split between protocol and
    server, protocols/index.py vs server/search.py)."""

    def __init__(self, spark, index_dir: str):
        from iscc_search_spark.plans.search import SearchIndex

        self.index = SearchIndex(spark, index_dir)
        self.spark = spark

    # --- param helpers -------------------------------------------------------

    @staticmethod
    def _int(params: dict, name: str, default: int | None = None) -> int:
        vals = params.get(name)
        if not vals:
            if default is None:
                raise ApiError(400, f"missing required parameter: {name}")
            return default
        try:
            return int(vals[0])
        except ValueError:
            raise ApiError(400, f"invalid integer for {name}: {vals[0]!r}")

    @staticmethod
    def _str(params: dict, name: str) -> str:
        vals = params.get(name)
        if not vals or not vals[0]:
            raise ApiError(400, f"missing required parameter: {name}")
        return vals[0]

    def _require_doc(self, doc_id: int) -> None:
        """404 unless the doc is indexed: answered from the reader's cached
        units table (one row per doc), by a docs scan above its cap."""
        from iscc_search_spark.operators.multiunit import unit_row

        reader = self.index.reader
        reader.ensure_fresh()
        tables = reader.sim_tables("units")
        if tables is not None:
            hit = unit_row(tables[0], doc_id) is not None
        else:
            hit = (
                self.spark.read.parquet(self.index.cat.docs)
                .filter(F.col("doc_id") == doc_id)
                .select("doc_id")
                .limit(1)
                .collect()
            )
        if not hit:
            raise ApiError(404, f"doc_id {doc_id} not indexed")

    # --- endpoints -----------------------------------------------------------

    def handle(self, path: str, params: dict) -> tuple[int, object]:
        if path == "/health":
            return 200, {"status": "ok"}
        if path == "/stats":
            return 200, self.index.stats()
        if path == "/search":
            q = self._str(params, "q")
            k = self._int(params, "k", 10)
            from iscc_search_spark.operators.wand import bm25_wand_topk_local

            out = bm25_wand_topk_local(self.index.reader, q, k=k)
            return 200, out.to_dict(orient="records")
        if path == "/doc":
            doc_id = self._int(params, "doc_id")
            try:
                return 200, self.index.get_doc(doc_id)
            except KeyError:
                raise ApiError(404, f"doc_id {doc_id} not indexed")
        if path == "/more_like_this":
            doc_id = self._int(params, "doc_id")
            k = self._int(params, "k", 10)
            try:
                return 200, _rows(self.index.more_like_this(doc_id, k=k))
            except KeyError:
                raise ApiError(404, f"doc_id {doc_id} not indexed")
        if path == "/similar":
            doc_id = self._int(params, "doc_id")
            k = self._int(params, "k", 10)
            self._require_doc(doc_id)
            return 200, _rows(self.index.search_similar(doc_id, k=k))
        if path == "/granular":
            q = self._str(params, "q")
            k = self._int(params, "k", 10)
            max_hamming = self._int(params, "max_hamming", 8)
            return 200, _rows(
                self.index.search_granular(q, k=k, max_hamming=max_hamming)
            )
        raise ApiError(404, f"no such endpoint: {path}")


class RegistryApp:
    """Named-index registry routes over an IndexManager (the reference's
    /indexes surface, server/indexes.py + remote/client.py:95-267)."""

    def __init__(self, spark, base_path: str, **mgr_kw):
        from iscc_search_spark.manager import IndexManager

        self.spark = spark
        self.manager = IndexManager(spark, base_path, **mgr_kw)

    def handle(self, method: str, path: str, params: dict, body) -> tuple[int, object]:
        m = self.manager
        parts = [p for p in path.split("/") if p]
        try:
            if parts == ["health"]:
                return 200, {"status": "ok"}
            if parts == ["indexes"]:
                if method == "GET":
                    return 200, m.list_indexes()
                if method == "POST":
                    if not isinstance(body, dict) or "name" not in body:
                        raise ApiError(400, "body must be {\"name\": ...}")
                    return 201, m.create_index(body["name"])
            if len(parts) == 2 and parts[0] == "indexes":
                name = parts[1]
                if method == "GET":
                    return 200, m.get_index(name)
                if method == "DELETE":
                    m.delete_index(name)
                    return 204, None
            if (
                len(parts) == 4
                and parts[0] == "indexes"
                and parts[2] == "assets"
                and method == "GET"
            ):
                try:
                    doc_id = int(parts[3])
                except ValueError:
                    raise ApiError(400, f"invalid doc_id: {parts[3]!r}")
                try:
                    return 200, m.open(parts[1]).get_doc(doc_id)
                except KeyError:
                    raise ApiError(404, f"doc_id {doc_id} not indexed")
            if len(parts) == 3 and parts[0] == "indexes":
                name, tail = parts[1], parts[2]
                if tail == "assets" and method == "POST":
                    if not isinstance(body, list) or not body:
                        raise ApiError(400, "body must be a non-empty row list")
                    rows = [
                        (r.get("url"), r.get("text"), r.get("lang", "und"))
                        for r in body
                    ]
                    if any(u is None or t is None for u, t, _ in rows):
                        raise ApiError(400, "each row needs url and text")
                    df = self.spark.createDataFrame(
                        rows, "url string, text string, lang string"
                    )
                    info = m.add_assets(name, df)
                    return 200, {
                        "results": [{"url": u, "status": "ok"} for u, _, _ in rows],
                        "index": info,
                    }
                if tail == "search" and method == "GET":
                    q = SearchApp._str(params, "q")
                    k = SearchApp._int(params, "k", 10)
                    from iscc_search_spark.operators.wand import (
                        bm25_wand_topk_local,
                    )

                    out = bm25_wand_topk_local(m.open(name).reader, q, k=k)
                    return 200, out.to_dict(orient="records")
                if tail == "stats" and method == "GET":
                    return 200, m.open(name).stats()
        except ValueError as e:
            raise ApiError(400, str(e))
        except FileExistsError as e:
            raise ApiError(409, str(e))
        except FileNotFoundError as e:
            raise ApiError(404, str(e))
        raise ApiError(404, f"no such endpoint: {method} {path}")


def _status_payload(registry, aggregator_mode: bool, aggregator_index: str, poller):
    """Public /status body (reference server/frontend.py:55-74,119-140):
    deployment mode + the per-hub ingestion table from the poller, with
    last_poll rendered ISO-8601 and raw errors replaced by a generic
    marker so anonymous callers never see internal strings.  Exempt from
    auth, like /health."""
    from datetime import datetime, timezone

    out = {"status": "ok", "mode": "aggregator" if aggregator_mode else "normal"}
    if aggregator_mode:
        out["index"] = aggregator_index
        try:
            out["assets"] = registry.manager.get_index(aggregator_index)["assets"]
        except FileNotFoundError:
            out["assets"] = 0
    if poller is not None:
        hubs = []
        for row in poller.status_rows():
            if row["last_poll"] is not None:
                row["last_poll"] = datetime.fromtimestamp(
                    row["last_poll"], tz=timezone.utc
                ).isoformat()
            if row["error"] is not None:
                row["error"] = "poll failed"
            hubs.append(row)
        out["hubs"] = hubs
    return out


def _aggregator_guard(method: str, parts: list[str], aggregator_index: str) -> None:
    """Route-hiding 404s of the reference's aggregator mode
    (server/auth.py:12-42): the whole /indexes CRUD surface and asset
    ingest are suppressed; reads (search/stats/asset-get) are allowed on
    the aggregator's own derived index only."""
    if parts[:1] == ["indexes"]:
        if len(parts) <= 2:
            # list/create (len 1) and get/delete (len 2): all suppressed
            raise ApiError(404, "Not Found")
        if parts[2] == "assets" and method == "POST":
            raise ApiError(404, "Not Found")  # ingest suppressed
        if parts[1] != aggregator_index:
            raise ApiError(404, "Not Found")  # foreign-index read hidden


def make_server(
    spark,
    index_dir: str | None = None,
    host: str = "127.0.0.1",
    port: int = 0,
    base_path: str | None = None,
    api_secret: str | None = None,
    aggregator_mode: bool = False,
    aggregator_index: str = "idp",
    poller=None,
):
    """ThreadingHTTPServer bound to (host, port); port=0 picks a free one.
    Pass ``index_dir`` for single-index mode or ``base_path`` for the
    named-index registry.  ``api_secret`` enables protected mode (see
    module docstring); ``aggregator_mode`` hides the mutating surface.
    Returns the server; run with serve_forever() (or in a thread)."""
    if (index_dir is None) == (base_path is None):
        raise ValueError("pass exactly one of index_dir / base_path")
    single = SearchApp(spark, index_dir) if index_dir else None
    registry = RegistryApp(spark, base_path) if base_path else None

    class Handler(BaseHTTPRequestHandler):
        def _respond(self, method: str):
            u = urlparse(self.path)
            params = parse_qs(u.query)
            body = None
            length = int(self.headers.get("Content-Length") or 0)
            if length:
                try:
                    body = json.loads(self.rfile.read(length))
                except json.JSONDecodeError:
                    self._write(400, {"error": "invalid JSON body"})
                    return
            try:
                # aggregator suppression resolves BEFORE auth: a key-less
                # request to a hidden endpoint gets 404, never 401
                parts = [p for p in u.path.split("/") if p]
                if aggregator_mode and registry is not None:
                    _aggregator_guard(method, parts, aggregator_index)
                if api_secret is not None and u.path not in ("/health", "/status"):
                    key = self.headers.get("X-API-Key")
                    if key is None or not secrets.compare_digest(key, api_secret):
                        raise ApiError(401, "Unauthorized")
                if u.path == "/status" and registry is not None and method == "GET":
                    status, out = 200, _status_payload(
                        registry, aggregator_mode, aggregator_index, poller
                    )
                elif registry is not None:
                    status, out = registry.handle(method, u.path, params, body)
                elif method == "GET":
                    status, out = single.handle(u.path, params)
                else:
                    raise ApiError(404, f"no such endpoint: {method} {u.path}")
            except ApiError as e:
                status, out = e.status, {"error": e.message}
            except Exception as e:  # internal error -> 500, never a hang
                status, out = 500, {"error": str(e)}
            self._write(status, out)

        def _write(self, status: int, body) -> None:
            data = b"" if body is None else json.dumps(
                body, default=str
            ).encode("utf-8")
            self.send_response(status)
            self.send_header("Content-Type", "application/json")
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            if data:
                self.wfile.write(data)

        def do_GET(self):  # noqa: N802 (http.server API)
            self._respond("GET")

        def do_POST(self):  # noqa: N802
            self._respond("POST")

        def do_DELETE(self):  # noqa: N802
            self._respond("DELETE")

        def log_message(self, *args):  # quiet test output
            pass

    srv = ThreadingHTTPServer((host, port), Handler)
    srv.app = single or registry
    return srv


def serve_in_thread(
    spark,
    index_dir: str | None = None,
    host: str = "127.0.0.1",
    port: int = 0,
    base_path: str | None = None,
    **kw,
):
    """Start the server on a daemon thread; returns (server, base_url).
    Extra keywords (api_secret, aggregator_mode, aggregator_index) pass
    through to make_server."""
    srv = make_server(spark, index_dir, host, port, base_path=base_path, **kw)
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    h, p = srv.server_address
    return srv, f"http://{h}:{p}"
