"""Kill-before-commit recovery: a round whose staged table directories
all exist but whose atomic marker rename never happened (the crash window
of tables/snapshot_store.commit_mark) must be invisible to a resuming
engine, which redoes the round IN PLACE over the orphaned staging and
lands on the exact uninterrupted-crawl state — the north-rule "killed job
resumes mid-crawl with identical ordering" claim, exercised at the
marker grain rather than the between-rounds grain test_resume_identical
covers.
"""

from __future__ import annotations

import os

from distributed_web_crawler_spark.config import CrawlConfig, SynthWebConfig
from distributed_web_crawler_spark.crawl.driver import Crawler
from distributed_web_crawler_spark.crawl.synthweb import seed_urls
from distributed_web_crawler_spark.golden import golden_crawl

SYNTH = SynthWebConfig(n_hosts=10, base_pages_per_host=20)
CFG = CrawlConfig(max_depth=3, host_budget_per_round=2, max_rounds=3,
                  allowed_domains=(r".*\.example\.com",),
                  url_seen_shards=4, bloom_bits_per_shard=1 << 14)
SEEDS = 3


def test_crash_before_commit_marker_redoes_round_identically(
        spark, tmp_path):
    store = str(tmp_path / "store")
    c1 = Crawler(spark, CFG, SYNTH, store)
    seeds = seed_urls(SYNTH, SEEDS)
    c1.bootstrap(seeds)
    c1.run()
    last = c1.store.last_round()

    # simulate dying INSIDE the final round's commit window: every staged
    # table dir for it is on disk, but no marker of any kind got renamed
    commits = os.path.join(store, "_commits")
    removed = [f for f in os.listdir(commits)
               if f.endswith(f"-{last}.json")]
    assert removed  # the round marker at minimum
    for f in removed:
        os.remove(os.path.join(commits, f))
    # marker round-k commits round k-1's execution (whose output frontier
    # is round k): the orphans are pages/round=k-1 and frontier/round=k
    assert os.path.isdir(
        os.path.join(store, "tables", "pages", f"round={last - 1}"))
    assert os.path.isdir(
        os.path.join(store, "tables", "frontier", f"round={last}"))

    # a fresh engine sees one round less and redoes the round in place
    c2 = Crawler(spark, CFG, SYNTH, store)
    assert c2.store.last_round() == last - 1
    stats = c2.run()
    assert stats["rounds"] == 1

    golden = golden_crawl(seeds, CFG, SYNTH)
    assert c2.visit_sequence() == golden.visits
    # no double-counted payload from the orphaned shards
    assert c2.pages().count() == len(golden.visits)
    assert c2.pages().select("url").distinct().count() == \
        len(golden.visits)


def test_expire_state_preserves_crawl_and_shrinks_dirs(spark, tmp_path):
    """Crawler.expire_state deletes only absorbed/superseded state:
    after expiry mid-crawl, a fresh driver resumes and finishes with
    golden-identical visits, and the deleted directories are the
    compaction-absorbed frontier/robots rounds, old filter generations,
    superseded compact snapshots and leftover content-hash filter dirs
    (``hash_bloom``, which no reader consults any more)."""
    from distributed_web_crawler_spark.golden import golden_crawl

    synth = SynthWebConfig(n_hosts=10, base_pages_per_host=24)
    cfg = CrawlConfig(max_depth=4, host_budget_per_round=3, max_rounds=8,
                      allowed_domains=(r".*\.example\.com",),
                      url_seen_shards=2, bloom_bits_per_shard=1 << 12,
                      compact_every_rounds=3)
    seeds = seed_urls(synth, 4)
    c = Crawler(spark, cfg, synth, str(tmp_path))
    c.bootstrap(seeds)
    c.run(max_rounds=5)

    # a leftover content-hash filter generation, as older stores hold
    leftover = os.path.join(c.store.tables_dir, "hash_bloom",
                            f"round={c.store.last_round()}")
    os.makedirs(leftover)
    with open(os.path.join(leftover, "part-00000.parquet"), "wb") as fh:
        fh.write(b"PAR1")

    pre_frontier = set(c.store.rounds_present("frontier"))
    pre_bloom = set(c.store.rounds_present("bloom"))
    counts = c.expire_state()
    assert counts.get("frontier") and counts.get("bloom"), counts
    assert counts.get("hash_bloom") == 1, counts
    assert c.store.rounds_present("hash_bloom") == []
    post_frontier = set(c.store.rounds_present("frontier"))
    assert post_frontier < pre_frontier
    assert max(pre_frontier) in post_frontier  # live frontier kept
    assert set(c.store.rounds_present("bloom")) == {max(pre_bloom)}
    # only the latest compaction generation survives
    for t in ("url_seen", "hash_seen", "robots_compact"):
        assert len(c.store.rounds_present(t)) == 1

    # idempotent
    assert c.expire_state() == {}

    # fresh process resumes on the expired store and finishes the crawl
    c2 = Crawler(spark, cfg, synth, str(tmp_path))
    c2.run()
    g = golden_crawl(seeds, cfg, synth)
    assert c2.visit_sequence() == g.visits
    assert c2.url_seen_set() == g.stored_urls
