"""Closed-loop read load against ``api.http_api.serve`` and the reply checks.

One client, no think time: the next GET goes out when the previous reply
has been read and checked. The mix cycles through four requests —
``/api/data/pages`` at a seeded random offset, ``/api/data/pages/search``
for a seeded host name, ``/api/data/pages/count`` and ``/api/data/stats``.
"""

from __future__ import annotations

import http.client
import json
import random
import time

PAGE_LIMIT = 20
SEARCH_LIMIT = 50
MIN_REQUESTS = 100        # p90 then has 10 samples beyond it
WARMUP = 8              # first requests (two mix cycles): checked, not timed


def request_mix(seed: int, n_stored: int, hosts: list[str]):
    """Endless deterministic sequence of (kind, path, params)."""
    rng = random.Random(seed)
    while True:
        off = rng.randrange(max(1, n_stored - PAGE_LIMIT + 1))
        yield ("pages", f"/api/data/pages?limit={PAGE_LIMIT}&offset={off}",
               {"offset": off})
        host = rng.choice(hosts)
        q = host.split(".")[0]          # e.g. "h0042"
        yield ("search", f"/api/data/pages/search?query={q}"
               f"&limit={SEARCH_LIMIT}", {"query": q})
        yield ("count", "/api/data/pages/count", {})
        yield ("stats", "/api/data/stats", {})


def check_reply(kind: str, params: dict, body: dict, urls: list[str]) -> bool:
    """``urls`` is the sorted stored-URL list the golden check confirmed."""
    if body.get("status") != "success":
        return False
    if kind == "pages":
        got = [p["url"] for p in body["pages"]]
        off = params["offset"]
        # url order, and exactly the slice at this offset: slices at
        # different offsets are then disjoint by construction
        return got == urls[off:off + PAGE_LIMIT]
    if kind == "search":
        q = params["query"].lower()
        got = [p["url"] for p in body["pages"]]
        want = [u for u in urls if q in u.lower()][:SEARCH_LIMIT]
        return got == want and all(q in u.lower() for u in got)
    if kind == "count":
        return body.get("totalPages") == len(urls)
    if kind == "stats":
        st = body.get("statistics") or {}
        return (st.get("totalPages") == len(urls)
                and (st.get("totals") or {}).get("stored") == len(urls))
    return False


def closed_loop(port: int, seed: int, urls: list[str], seconds: float,
                tally, min_requests: int = MIN_REQUESTS
                ) -> tuple[list[float], list[float]]:
    """Run the mix for ``seconds`` (and at least ``min_requests`` timed
    requests) after WARMUP untimed ones. Returns, per timed request, the
    client-side latency and the CPU time this process (client, server
    threads, DuckDB) spent from send to reply, both in ms. Every reply
    that is not 200 or fails its check is a failure in ``tally``."""
    hosts = sorted({u.split("/")[2] for u in urls})
    mix = request_mix(seed, len(urls), hosts)
    lat: list[float] = []
    cpu: list[float] = []
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=60)
    t_end = None
    try:
        while (t_end is None or time.perf_counter() < t_end
               or len(lat) < min_requests + WARMUP):
            if t_end is None and len(lat) == WARMUP:
                t_end = time.perf_counter() + seconds
            kind, path, params = next(mix)
            t0, c0 = time.perf_counter(), time.process_time()
            try:
                conn.request("GET", path)
                resp = conn.getresponse()
                raw = resp.read()
                ok = resp.status == 200
            except (OSError, http.client.HTTPException):
                conn.close()
                conn = http.client.HTTPConnection("127.0.0.1", port,
                                                  timeout=60)
                ok, raw = False, b""
            lat.append((time.perf_counter() - t0) * 1000.0)
            cpu.append((time.process_time() - c0) * 1000.0)
            if ok:
                try:
                    ok = check_reply(kind, params, json.loads(raw), urls)
                except (ValueError, KeyError, TypeError):
                    ok = False
            tally.record(ok, f"api {path}")
    finally:
        conn.close()
    return lat[WARMUP:], cpu[WARMUP:]


def direct_reads(reader, seed: int, urls: list[str], n: int, tally) -> None:
    """The same mix through StoreReader directly (no HTTP, no JSON), n
    calls of each method; the traced run times these calls."""
    hosts = sorted({u.split("/")[2] for u in urls})
    mix = request_mix(seed, len(urls), hosts)
    done = {"pages": 0, "search": 0, "count": 0}
    while min(done.values()) < n:
        kind, _, params = next(mix)
        if kind == "pages":
            got = reader.pages(PAGE_LIMIT, params["offset"])
            body = {"status": "success", "pages": got}
        elif kind == "search":
            got = reader.search(params["query"], SEARCH_LIMIT)
            body = {"status": "success", "pages": got}
        elif kind == "count":
            body = {"status": "success", "totalPages": reader.count()}
        else:
            continue
        done[kind] += 1
        tally.record(check_reply(kind, params, body, urls),
                     f"reader {kind}")
