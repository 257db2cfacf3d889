#!/usr/bin/env python3
"""Crawl-engine benchmark: one workload per process.

    python3 perfbench/run.py --workload wide_fetch --seed 1 --seconds 3 --trace 0

Runs from the repository root at local[<usable cores>]. It drives the
public API — ``Crawler.bootstrap`` then ``Crawler.run`` — checks the
crawl against the golden model, then serves reads of the committed store
through ``api.http_api.serve`` to one closed-loop client for ``--seconds``
seconds (at least 100 requests). ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a traced run. Context
lines (JSON) come first; the last stdout line is the result object.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import gc
import glob
import json
import os
import shutil
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "distributed_web_crawler_spark")
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

from perfbench import sysinfo  # noqa: E402  (light: stdlib only)
from perfbench.stats import Tally, median, percentile, reportable  # noqa: E402

WORKLOADS = ("wide_fetch", "dup_serve")
BOOTSTRAPS = 3          # set-up is timed this often per run; median reported
DRIVER_MEM = "2g"

END_TO_END = {
    "setup_s": "s",
    "pages_per_s": "pages/s",
    "round_s.p50": "s",
    "api_cpu_ms.p50": "ms",
    "api_cpu_ms.p90": "ms",
    "store_bytes_per_page": "B",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "session.start_s": "s",
    "driver.bootstrap_s": "s",
    "driver.round_s": "s",
    "driver.jobs_per_round": "count",
    "driver.idle_s_per_round": "s",
    "round.plan_s": "s",
    "decide.s": "s",
    "decide.shuffle_mb": "MB",
    "decide.defer_ratio": "ratio",
    "decide.reject_ratio": "ratio",
    "extract.fetch_s": "s",
    "extract.fetch_task_s": "s",
    "extract.fetch_busy_ratio": "ratio",
    "extract.shuffle_mb": "MB",
    "synthweb.gen_s": "s",
    "dedup.bloom_s": "s",
    "dedup.probe_s": "s",
    "dedup.stored_ratio": "ratio",
    "dedup.discovered_per_stored": "ratio",
    "store.write_s.frontier": "s",
    "store.write_s.stored": "s",
    "store.write_s.bloom": "s",
    "store.write_s.hash_bloom": "s",
    "store.write_s.robots": "s",
    "store.write_s.lineage": "s",
    "store.write_s.compact": "s",
    "store.read_s": "s",
    "store.commit_s": "s",
    "store.files_per_round": "count",
    "store.bytes_per_round": "B",
    "api.latency_ms.p50": "ms",
    "api.latency_ms.p90": "ms",
    "api.reader_ms.pages": "ms",
    "api.reader_ms.search": "ms",
    "api.reader_ms.count": "ms",
    "api.files_scanned": "count",
    "trace.overhead_s": "s",
    "trace.stage_sec_gap_s": "s",
}


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def setup_env(work: str) -> None:
    """Keep every file the run writes inside the checkout and make the
    package importable by Spark's Python workers."""
    for sub in ("spark", "tmp"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    # bounded driver heap: peak memory then depends on the work, not on
    # how far the collector lets a 24 GB default heap grow
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM


def emit(kind: str, payload) -> None:
    print(json.dumps({kind: payload}), flush=True)


def commit_latencies(store_root: str, rounds: int, run_start: float):
    """Commit-to-commit round latency from the commit markers' mtimes;
    the first round starts when ``Crawler.run`` was called."""
    prev, out = run_start, []
    for k in range(1, rounds + 1):
        path = os.path.join(store_root, "_commits", f"round-{k}.json")
        if not os.path.exists(path):
            break
        t = os.stat(path).st_mtime
        out.append(t - prev)
        prev = t
    return out


def phase_seconds(t_proc: float, marks: dict) -> dict:
    """Wall seconds of each phase of the run, in order."""
    out, prev = {}, t_proc
    for k, t in marks.items():
        out[k] = round(t - prev, 3)
        prev = t
    return out


def count_reader_files(store_root: str, rounds: int) -> int:
    """Parquet files the StoreReader's pages ⋉ stored scan covers."""
    base = os.path.join(store_root, "tables")
    n = 0
    for r in range(rounds):
        n += len(glob.glob(os.path.join(base, "pages", f"round={r}", "*",
                                        "*.parquet")))
        n += len(glob.glob(os.path.join(base, "stored", f"round={r}",
                                        "*.parquet")))
    return n


def run(args, work: str, t_proc: float) -> dict:
    """One measured run; whatever happens, the memory sampler and Spark
    (JVM and Python workers) have ended when it returns."""
    sampler = sysinfo.RssSampler().start()
    sessions: list = []
    try:
        return measure(args, work, t_proc, sampler, sessions)
    finally:
        for spark in sessions:
            sysinfo.stop_spark(spark)
        sampler.stop()


def measure(args, work: str, t_proc: float, sampler, sessions: list) -> dict:
    from perfbench import apiload, golden_check, workloads
    from perfbench.layers import CrawlTrace, crawl_layer_metrics, \
        reader_metrics, tree_size
    from perfbench.tracing import Tracer, spark_jobs, timed_fetcher

    from distributed_web_crawler_spark.api.http_api import StoreReader, serve
    from distributed_web_crawler_spark.crawl.driver import Crawler
    from distributed_web_crawler_spark.operators.extract import (
        make_synth_fetcher,
    )
    from distributed_web_crawler_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    spark = get_spark("perfbench", cores=cores)
    sessions.append(spark)
    session_s = time.time() - t_proc
    marks = {"session": time.time()}
    wl = workloads.build(args.workload, args.seed, cores)
    tally = Tally()
    store = os.path.join(work, "store")

    tracer = ct = acc = None
    fetcher = None
    if args.trace:
        tracer = Tracer(spark.sparkContext)
        ct = CrawlTrace(tracer, store)
        ct.install()
        acc = spark.sparkContext.accumulator(0.0)
        fetcher = timed_fetcher(make_synth_fetcher(wl.synth), acc)

    # -- set-up: session (once per process) + bootstrap, timed BOOTSTRAPS
    # times into fresh stores; the first store is the one crawled
    boots, crawler = [], None
    for i in range(BOOTSTRAPS):
        root = store if i == 0 else os.path.join(work, f"boot{i}")
        c = Crawler(spark, wl.cfg, wl.synth, root, fetcher=fetcher)
        t = time.time()
        c.bootstrap(wl.seeds)
        boots.append(time.time() - t)
        if i == 0:
            crawler = c
        else:
            shutil.rmtree(root, ignore_errors=True)

    marks["setup"] = time.time()

    # -- crawl ------------------------------------------------------------------
    if tracer is not None:
        tracer.phase = "crawl"
        overhead0 = tracer.overhead_s
    run_start = time.time()
    ticks = {"crawl": sysinfo.cpu_ticks()}
    stats = None
    try:
        stats = crawler.run(wl.rounds)
    except Exception:  # a round that raises is a counted failure
        traceback.print_exc()
    wall = time.time() - run_start
    marks["crawl"] = time.time()
    ticks["crawl"] = (ticks["crawl"], sysinfo.cpu_ticks())
    rounds_done = stats["rounds"] if stats else 0
    for _ in range(rounds_done):
        tally.record(True)
    if stats is None:
        tally.record(False, "crawl round raised")
    metas = [crawler.store.round_meta(k) or {}
             for k in range(1, rounds_done + 1)]
    lineage = [{"round": m.get("round_processed", k), **m.get("counts", {})}
               for k, m in enumerate(metas)]
    emit("round_counts", golden_check.normalize_lineage(lineage))
    if tracer is not None:
        tracer.phase = "verify"
        crawl_overhead = tracer.overhead_s - overhead0
        jobs, stages = spark_jobs(spark.sparkContext)

    # -- golden parity (outside every timed region) -----------------------------
    exp, cached = golden_check.expected(ROOT, wl, args.seed)
    urls = crawler.url_seen_set()
    tally.record(golden_check.digest(crawler.visit_sequence(), urls)
                 == exp["digest"], "visit sequence / URL set != golden")
    tally.record(golden_check.normalize_lineage(lineage) == exp["lineage"],
                 "lineage counts != golden")
    urls_sorted = sorted(urls)
    stored_total = sum(r.get("stored", 0) for r in lineage)
    store_bytes = tree_size(store)[1]
    marks["verify"] = time.time()

    # the read service holds no Spark session: stop Spark first, so the
    # idle JVM neither competes with the reads nor adds to their memory
    gen_s = acc.value if acc is not None else 0.0
    if tracer is not None:
        tracer.sc = None
    sysinfo.stop_spark(spark)
    # the crawl holds the memory peak; sampling stops so it does not
    # compete with the reads, whose own footprint is sampled once after
    peak_rss = sampler.stop()
    marks["spark_stop"] = time.time()

    # -- reads of the committed store ---------------------------------------
    # a stand-alone API process holds none of the objects the crawl left
    # in this interpreter; freezing them keeps collector pauses out of
    # the read latencies
    gc.collect()
    gc.freeze()
    ticks["reads"] = sysinfo.cpu_ticks()
    if tracer is not None:
        tracer.phase = "http"
    srv = serve(store)
    try:
        lat, cpu = apiload.closed_loop(srv.server_address[1], args.seed,
                                       urls_sorted, args.seconds, tally)
    finally:
        srv.shutdown()
        srv.server_close()
    if tracer is not None:
        tracer.phase = "api"
        apiload.direct_reads(StoreReader(store), args.seed, urls_sorted,
                             n=20, tally=tally)

    marks["reads"] = time.time()
    ticks["reads"] = (ticks["reads"], sysinfo.cpu_ticks())
    peak_rss = max(peak_rss, sysinfo.tree_rss_bytes(os.getpid()))

    if tracer is None:
        round_lat = commit_latencies(store, rounds_done, run_start)
        metrics = {
            "setup_s": session_s + median(boots),
            "pages_per_s": (stats["fetched"] / wall) if stats else 0.0,
            "round_s.p50": median(round_lat) if round_lat else 0.0,
            "api_cpu_ms.p50": percentile(cpu, 50),
            "api_cpu_ms.p90": percentile(cpu, 90),
            "store_bytes_per_page": store_bytes / max(1, stored_total),
            "peak_rss_mb": peak_rss / 1e6,
        }
        units = END_TO_END
        emit("samples", {"bootstraps": len(boots), "round_s": len(round_lat),
                         "api_requests": len(lat),
                         "p90_reportable": reportable(len(lat), 90),
                         "api_latency_ms.p50": percentile(lat, 50),
                         "api_latency_ms.p90": percentile(lat, 90),
                         "crawl_wall_s": wall, "session_s": session_s,
                         "bootstrap_s": boots})
    else:
        layer = crawl_layer_metrics(ct, jobs, stages, rounds_done, cores,
                                    run_start, gen_s, metas)
        layer["trace.overhead_s"] = crawl_overhead / max(1, rounds_done)
        metrics = {
            "session.start_s": session_s,
            "driver.bootstrap_s": median(boots),
            **layer,
            "api.latency_ms.p50": percentile(lat, 50),
            "api.latency_ms.p90": percentile(lat, 90),
            **reader_metrics(tracer),
            "api.files_scanned": count_reader_files(store, rounds_done),
        }
        units = PER_LAYER
        tracer.restore()
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        path = os.path.join(out_dir,
                            f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(path, {"jobs": jobs, "workload": args.workload,
                           "seed": args.seed, "cores": cores})
        emit("trace_file", os.path.relpath(path, ROOT))
        emit("traced_round", {"pages_per_s": (stats["fetched"] / wall)
                              if stats else 0.0, "crawl_wall_s": wall})

    emit("context", {
        "workload": args.workload, "seed": args.seed,
        "nproc": os.cpu_count(), "cores": cores,
        "cpu_set": sorted(os.sched_getaffinity(0)),
        "cpu_probe_units_per_s": sysinfo.cpu_probe(cores, seconds=0.5),
        "versions": sysinfo.versions(),
        "golden_cached": cached, "stored": stored_total,
        "phase_s": phase_seconds(t_proc, marks),
        "steal_share": {k: round(sysinfo.steal_share(*v), 4)
                        for k, v in ticks.items()},
        "error_rate": tally.error_rate, "failures": tally.reasons,
    })
    return {
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": float(metrics[k]), "unit": u}
                    for k, u in units.items()},
    }


def main(argv=None) -> int:
    t_proc = sysinfo.process_start_time()
    args = parse_args(argv)
    if not os.path.isdir(PKG_DIR):
        print(f"perfbench: crawler package not found at {PKG_DIR}",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    setup_env(work)
    try:
        result = run(args, work, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
