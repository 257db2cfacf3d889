"""Which crawler calls the traced run wraps, and how spans, Spark jobs and
store listings become the per-layer metrics named in BENCHMARK.json.

Layers are the package modules: session, crawl.driver, crawl.round,
operators.{gates,robots,politeness} ("decide"), operators.extract,
operators.dedup + functions.bloom ("dedup"), tables.snapshot_store
("store") and api.http_api ("api"). crawl.synthweb is the load generator.
"""

from __future__ import annotations

import os
import time

from .stats import clip, interval_union, median
from .tracing import GROUP_PREFIX, Tracer, job_cost

DECIDE_FNS = ("apply_gates", "resolve_robots", "filter_robots",
              "apply_politeness", "apply_domain_cap")
COMPACT_TABLES = ("url_seen", "hash_seen", "robots_compact", "feeds_compact")
WRITE_TABLES = ("frontier", "stored", "bloom", "hash_bloom", "robots",
                "lineage")


def tree_size(root: str) -> tuple[int, int]:
    """(files, bytes) under a directory."""
    files = size = 0
    for d, _, names in os.walk(root):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(d, n))
            except OSError:
                continue
            files += 1
    return files, size


class CrawlTrace:
    """Installs the wrappers for one traced crawl and keeps what they
    observe besides spans: commit times and store size per commit."""

    def __init__(self, tracer: Tracer, store_root: str):
        self.tracer = tracer
        self.root = store_root
        self.commits: dict[int, float] = {}
        self.store_size: dict[int, tuple[int, int]] = {}
        self._pending = None

    # -- hooks ---------------------------------------------------------------

    def _after_build_fetch(self, plan, _args) -> None:
        # the decision chain is lazy; its frame is persisted by the
        # program, so counting it here runs it once, inside a decide span
        with self.tracer.span("decide.materialize"):
            plan.decided.count()
        # jobs the driver launches between build_fetch and finish_round
        # (the fetch + payload sink collect) belong to extract
        self._pending = self.tracer.open("extract.fetch")

    def _before_finish_round(self, _args) -> None:
        if self._pending is not None:
            self.tracer.close(self._pending)
            self._pending = None

    def _after_finish_round(self, res, _args) -> None:
        # both frames are persisted by the program: materialise them in
        # dedup spans (D1 content probe, D4 URL-seen probe + the child
        # extraction that feeds it) instead of inside the frontier write
        with self.tracer.span("dedup.probe.content"):
            res.stored.count()
        with self.tracer.span("dedup.probe.urls"):
            res.new_urls.count()

    def _after_commit(self, _out, args) -> None:
        round_no = args[1]
        self.tracer.trace = round_no
        self.commits[round_no] = time.time()
        self.store_size[round_no] = tree_size(self.root)

    # -- install ---------------------------------------------------------------

    def install(self) -> None:
        from distributed_web_crawler_spark.api.http_api import StoreReader
        from distributed_web_crawler_spark.crawl import driver as drv
        from distributed_web_crawler_spark.crawl import round as rnd
        from distributed_web_crawler_spark.tables.snapshot_store import (
            SnapshotStore,
        )

        t = self.tracer
        t.patch(drv.Crawler, "bootstrap", "driver.bootstrap")
        t.patch(drv.Crawler, "run", "driver.run")
        t.patch(drv, "build_fetch", "round.build_fetch",
                after=self._after_build_fetch)
        t.patch(drv, "finish_round", "round.finish_round",
                before=self._before_finish_round,
                after=self._after_finish_round)
        t.patch(drv, "build_bloom_shards", "dedup.build_bloom_shards")
        t.patch(drv, "filter_unseen_urls", "dedup.filter_unseen_urls")
        for fn in DECIDE_FNS:
            t.patch(rnd, fn, f"decide.{fn}")
        for fn in ("salted_repartition_for_fetch", "fetch_pages_sink",
                   "extract_children"):
            t.patch(rnd, fn, f"extract.{fn}")
        t.patch(rnd, "dedup_content", "dedup.dedup_content")
        t.patch(rnd, "filter_unseen_urls", "dedup.filter_unseen_urls")
        t.patch(SnapshotStore, "read", "store.read")
        t.patch(SnapshotStore, "stage_write",
                lambda a, kw: f"store.write.{a[1]}")
        t.patch(SnapshotStore, "commit_round", "store.commit",
                after=self._after_commit)
        for fn in ("pages", "search", "count"):
            t.patch(StoreReader, fn, f"api.reader.{fn}")


def _sum(spans, pred) -> float:
    return sum(s.duration for s in spans if pred(s.name))


def crawl_layer_metrics(ct: CrawlTrace, jobs, stages, rounds: int,
                        cores: int, run_start: float,
                        gen_s: float, metas: list[dict]) -> dict[str, float]:
    """Per-round layer metrics of the crawl phase (sums over the crawl's
    spans divided by the number of rounds)."""
    spans = [s for s in ct.tracer.spans
             if s.phase == "crawl" and s.end is not None]
    n = max(1, rounds)
    cost = job_cost(jobs, stages)

    def span_cost(pred, key):
        return sum(cost.get(f"{GROUP_PREFIX}{s.id}", {}).get(key, 0)
                   for s in spans if pred(s.name))

    def is_decide(nm):
        return nm.startswith("decide.")

    def is_probe(nm):
        return nm in ("dedup.dedup_content", "dedup.filter_unseen_urls") \
            or nm.startswith("dedup.probe.")

    def is_bloom(nm):
        return nm in ("dedup.build_bloom_shards", "store.write.bloom",
                      "store.write.hash_bloom")

    def is_fetch(nm):
        return nm == "extract.fetch"

    # round windows: commit-to-commit, the first from the run's start
    windows = []
    for r in range(rounds):
        end = ct.commits.get(r + 1)
        if end is None:
            continue
        start = max(run_start, ct.commits.get(r, run_start))
        windows.append((start, end))
    job_iv = [(j["submit"], j["end"]) for j in jobs
              if j["submit"] is not None and j["end"] is not None]
    round_s = [e - s for s, e in windows]
    jobs_in = [sum(1 for js, _ in job_iv if s <= js < e) for s, e in windows]
    idle = [(e - s) - interval_union(clip(job_iv, s, e)) for s, e in windows]

    fetch_s = _sum(spans, is_fetch)
    fetch_task_s = span_cost(is_fetch, "task_s")
    files0, bytes0 = ct.store_size.get(0, (0, 0))
    filesn, bytesn = ct.store_size.get(rounds, (files0, bytes0))

    def lineage_total(metric):
        return sum((m.get("counts") or {}).get(metric, 0) for m in metas)

    fetched, stored = lineage_total("fetched"), lineage_total("stored")
    polled = lineage_total("polled")

    # cross-check against the stage timings the driver writes into each
    # commit marker: median |span - stage_sec| over the matching stages
    pairs = (("fetch_write", "extract.fetch"),
             ("frontier", "store.write.frontier"),
             ("stored", "store.write.stored"),
             ("robots", "store.write.robots"))
    gaps = []
    for r, meta in enumerate(metas):
        sec = meta.get("stage_sec") or {}
        for stage, name in pairs:
            durs = [s.duration for s in spans
                    if s.name == name and s.trace == r]
            if stage in sec and durs:
                gaps.append(abs(sum(durs) - sec[stage]))

    mb = 1e6
    return {
        "driver.round_s": sum(round_s) / n,
        "driver.jobs_per_round": sum(jobs_in) / n,
        "driver.idle_s_per_round": sum(idle) / n,
        "round.plan_s": _sum(spans, lambda nm: nm in (
            "round.build_fetch", "round.finish_round")) / n,
        "decide.s": _sum(spans, is_decide) / n,
        "decide.shuffle_mb": span_cost(is_decide, "shuffle_bytes") / mb / n,
        "decide.defer_ratio": lineage_total("deferred") / max(1, polled),
        "decide.reject_ratio": lineage_total("rejected") / max(1, polled),
        "extract.fetch_s": fetch_s / n,
        "extract.fetch_task_s": fetch_task_s / n,
        "extract.fetch_busy_ratio":
            fetch_task_s / (fetch_s * cores) if fetch_s else 0.0,
        "extract.shuffle_mb": span_cost(is_fetch, "shuffle_bytes") / mb / n,
        "synthweb.gen_s": gen_s / n,
        "dedup.bloom_s": _sum(spans, is_bloom) / n,
        "dedup.probe_s": _sum(spans, is_probe) / n,
        "dedup.stored_ratio": stored / max(1, fetched),
        "dedup.discovered_per_stored":
            lineage_total("discovered") / max(1, stored),
        **{f"store.write_s.{t}":
           _sum(spans, lambda nm, t=t: nm == f"store.write.{t}") / n
           for t in WRITE_TABLES},
        "store.write_s.compact": _sum(spans, lambda nm: nm in {
            f"store.write.{t}" for t in COMPACT_TABLES}) / n,
        "store.read_s": _sum(spans, lambda nm: nm == "store.read") / n,
        "store.commit_s": _sum(spans, lambda nm: nm == "store.commit") / n,
        "store.files_per_round": (filesn - files0) / n,
        "store.bytes_per_round": (bytesn - bytes0) / n,
        "trace.stage_sec_gap_s": median(gaps) if gaps else 0.0,
    }


def reader_metrics(tracer: Tracer) -> dict[str, float]:
    """Median milliseconds of the direct StoreReader calls (phase "api";
    the HTTP phase's reader calls are left out)."""
    out = {}
    for fn in ("pages", "search", "count"):
        durs = [s.duration * 1000 for s in tracer.spans
                if s.name == f"api.reader.{fn}" and s.phase == "api"
                and s.end is not None]
        out[f"api.reader_ms.{fn}"] = median(durs) if durs else 0.0
    return out
