"""Workload shapes. Each is a function of (seed, cores) only: the seed
feeds ``SynthWebConfig.seed`` (the simulated web) and the API request mix;
the crawler receives only the generated seed URLs. Why each workload
exists is recorded in BENCHMARK.json."""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Workload:
    name: str
    synth: object        # SynthWebConfig
    cfg: object          # CrawlConfig
    seeds: list
    rounds: int


def build(name: str, seed: int, cores: int) -> Workload:
    from distributed_web_crawler_spark.config import CrawlConfig, SynthWebConfig
    from distributed_web_crawler_spark.crawl.synthweb import seed_pages

    if name == "wide_fetch":
        synth = SynthWebConfig(seed=seed, n_hosts=300,
                               base_pages_per_host=20000, max_out_links=12,
                               cross_host_fraction=0.4, min_dim=128,
                               max_dim=256)
        rounds = 1
        # 20 seeds per host against a budget of 4: 6000 polled rows,
        # ~1200 fetched, the rest deferred by politeness. Two fetch
        # partitions per core rather than eight: the pages table gets a
        # file per partition, and every read scans all of them
        cfg = CrawlConfig(max_depth=8, host_budget_per_round=4,
                          max_rounds=rounds, url_seen_shards=16,
                          bloom_bits_per_shard=1 << 20,
                          fetch_rows_per_salt=128,
                          fetch_partitions=2 * cores)
        seeds = seed_pages(synth, 20)
    elif name == "dup_serve":
        synth = SynthWebConfig(seed=seed, n_hosts=200,
                               base_pages_per_host=2000, max_out_links=8,
                               duplicate_every=2, cross_host_fraction=0.6,
                               min_dim=16, max_dim=32)
        rounds = 1
        # compaction after every round, so the run writes the url_seen /
        # hash_seen / robots snapshots once
        cfg = CrawlConfig(max_depth=8, host_budget_per_round=30,
                          max_rounds=rounds, url_seen_shards=16,
                          bloom_bits_per_shard=1 << 18,
                          fetch_partitions=max(8, cores),
                          compact_every_rounds=1)
        seeds = seed_pages(synth, 2)     # 400 seeds: pages 0 and 1 of each host
    else:
        raise KeyError(name)
    return Workload(name, synth, cfg, seeds, rounds)
