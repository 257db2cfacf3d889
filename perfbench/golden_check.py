"""Golden parity with a per-(workload, seed) digest cache.

The golden model (``distributed_web_crawler_spark.golden.golden_crawl``)
rebuilds every page single-threaded, which on ``wide_fetch`` costs more
than the crawl itself. Its outcome — a digest of the visit sequence and
the stored-URL set, plus the per-round lineage counts — is cached in
``perfbench/golden/<workload>.json`` under a key that covers the
workload shape and the source of every package module the golden model
imports — a change to any of them recomputes the digest.
"""

from __future__ import annotations

import ast
import dataclasses
import hashlib
import json
import os

PKG = "distributed_web_crawler_spark"
CACHE_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "golden")


def digest(visits, urls) -> str:
    """sha256 of the (round, host, url) visit sequence and the URL set."""
    h = hashlib.sha256()
    h.update(json.dumps([list(v) for v in visits]).encode())
    h.update(json.dumps(sorted(urls)).encode())
    return h.hexdigest()


def normalize_lineage(rows) -> list[dict]:
    """Per-round counts without zero entries, in round order — the golden
    model omits zero counts, the engine omits absent metrics."""
    return [{k: v for k, v in sorted(r.items()) if v or k == "round"}
            for r in sorted(rows, key=lambda r: r["round"])]


def _module_file(root: str, mod: str) -> str | None:
    base = os.path.join(root, *mod.split("."))
    for cand in (base + ".py", os.path.join(base, "__init__.py")):
        if os.path.isfile(cand):
            return cand
    return None


def source_closure(root: str, start: str = f"{PKG}.golden") -> list[str]:
    """Files of every package module reachable from ``start`` by import
    statements (relative or absolute), sorted."""
    seen: dict[str, str] = {}
    todo = [start]
    while todo:
        mod = todo.pop()
        if mod in seen:
            continue
        path = _module_file(root, mod)
        if path is None:
            continue
        seen[mod] = path
        is_pkg = path.endswith("__init__.py")
        pkg_parts = mod.split(".") if is_pkg else mod.split(".")[:-1]
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Import):
                names = [a.name for a in node.names]
            elif isinstance(node, ast.ImportFrom):
                if node.level:
                    base = pkg_parts[:len(pkg_parts) - node.level + 1]
                    stem = ".".join(base + ([node.module]
                                            if node.module else []))
                else:
                    stem = node.module or ""
                names = [stem] + [f"{stem}.{a.name}" for a in node.names]
            else:
                continue
            todo.extend(n for n in names if n.startswith(PKG))
    return sorted(seen.values())


def cache_key(root: str, workload) -> str:
    # fetch partitioning follows the core count and never changes what
    # the crawl visits, so it stays out of the key
    cfg = dataclasses.replace(workload.cfg, fetch_partitions=0)
    h = hashlib.sha256()
    h.update(repr((workload.name, workload.synth, cfg,
                   workload.rounds)).encode())
    h.update(json.dumps(workload.seeds).encode())
    for path in source_closure(root):
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def _cache_path(name: str) -> str:
    return os.path.join(CACHE_DIR, f"{name}.json")


def load(name: str) -> dict:
    try:
        with open(_cache_path(name)) as fh:
            return json.load(fh)
    except (OSError, ValueError):
        return {}


def expected(root: str, workload, seed: int) -> tuple[dict, bool]:
    """The golden outcome for (workload, seed): {"digest", "stored",
    "lineage"}, and whether it came from the cache."""
    key = cache_key(root, workload)
    entry = load(workload.name).get(str(seed))
    if entry and entry.get("key") == key:
        return entry, True
    from distributed_web_crawler_spark.golden import golden_crawl

    g = golden_crawl(workload.seeds, workload.cfg, workload.synth,
                     max_rounds=workload.rounds)
    entry = {"key": key,
             "digest": digest(g.visits, g.stored_urls),
             "stored": len(g.stored_urls),
             "lineage": normalize_lineage(g.lineage)}
    os.makedirs(CACHE_DIR, exist_ok=True)
    cache = load(workload.name)
    cache[str(seed)] = entry
    tmp = _cache_path(workload.name) + f".{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(cache, fh, indent=1, sort_keys=True)
    os.replace(tmp, _cache_path(workload.name))
    return entry, False
