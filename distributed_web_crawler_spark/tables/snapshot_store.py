"""Snapshot-committed parquet tables: the engine's Kafka/Cassandra analog.

The reference achieves at-least-once round atomicity with a poll → process →
``commitSync`` barrier on Kafka offsets (reference:
queue/KafkaUrlQueue.java:105-112, called from core/WebCrawler.java:117-119).
Our BSP loop needs the same property across *several* tables per round
(frontier, pages, url_seen, lineage, hosts). The design is Iceberg's
snapshot-log idea (this container has no Iceberg runtime jars, so we
implement the minimal subset directly over parquet):

- every table write for round *r* goes to ``tables/<name>/round=<r>/`` —
  a staging location until the round commits;
- the commit point is a single atomic rename of ``_commits/.round-<r>.tmp``
  to ``_commits/round-<r>.json`` **after** all staged writes finish;
- independent maintenance passes get their OWN marker namespaces
  (``commit_mark(kind, seq)``, e.g. ``reval-<k>`` for revalidation
  epochs) so they never perturb crawl round numbering or resume;
- readers enumerate committed rounds from the marker files and pass the
  explicit directory list to ``spark.read.parquet`` — uncommitted or
  orphaned data is invisible, so a job killed mid-round resumes from the
  last committed snapshot with identical state (north_rule checkpoint
  requirement).

On a real cluster the same layout works on any HDFS-compatible FS whose
rename is atomic (HDFS, local). For S3 one would swap the marker rename for
an Iceberg/Delta catalog commit; the engine only touches this module.

Round-partitioned directories also give free partition pruning: reading one
round's frontier scans exactly one directory, never the whole history.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class SnapshotStore:
    def __init__(self, root: str):
        self.root = root
        self.tables_dir = os.path.join(root, "tables")
        self.commits_dir = os.path.join(root, "_commits")
        os.makedirs(self.tables_dir, exist_ok=True)
        os.makedirs(self.commits_dir, exist_ok=True)

    # -- commit log ---------------------------------------------------------

    def committed_marks(self, kind: str) -> list[int]:
        """Committed sequence numbers of one marker namespace ('round' is
        the crawl loop; 'reval' the revalidation epochs — independent
        counters so a maintenance pass never perturbs crawl numbering)."""
        pre, suf = f"{kind}-", ".json"
        return sorted(int(f[len(pre):-len(suf)])
                      for f in os.listdir(self.commits_dir)
                      if f.startswith(pre) and f.endswith(suf))

    def commit_mark(self, kind: str, seq: int, meta: dict | None = None
                    ) -> None:
        tmp = os.path.join(self.commits_dir, f".{kind}-{seq}.tmp")
        final = os.path.join(self.commits_dir, f"{kind}-{seq}.json")
        with open(tmp, "w") as fh:
            json.dump({kind: seq, **(meta or {})}, fh)
        os.replace(tmp, final)  # atomic commit point

    def committed_rounds(self) -> list[int]:
        return self.committed_marks("round")

    def last_round(self) -> int | None:
        rounds = self.committed_rounds()
        return rounds[-1] if rounds else None

    def round_meta(self, round_no: int) -> dict | None:
        path = os.path.join(self.commits_dir, f"round-{round_no}.json")
        if not os.path.exists(path):
            return None
        with open(path) as fh:
            return json.load(fh)

    def commit_round(self, round_no: int, meta: dict | None = None) -> None:
        self.commit_mark("round", round_no, meta)

    # -- staged writes ------------------------------------------------------
    # Orphaned staged dirs from a crash are invisible to readers (reads pass
    # explicit committed round lists) and are overwritten in place when the
    # killed round re-runs — no rollback pass needed.

    # The pages table is dominated by the already-compressed image payload
    # (zlib/JPEG bytes are incompressible); snappy re-compression there is
    # pure wasted CPU on the hottest write path. Slim tables keep snappy.
    _UNCOMPRESSED = frozenset({"pages"})

    def round_dir(self, name: str, round_no: int, create: bool = False) -> str:
        """Path of one table's round directory (for writers that manage
        their own files, e.g. the in-worker payload sink)."""
        path = os.path.join(self.tables_dir, name, f"round={round_no}")
        if create:
            shutil.rmtree(path, ignore_errors=True)
            os.makedirs(path, exist_ok=True)
        return path

    def delete_round(self, name: str, round_no: int) -> bool:
        """Remove one committed round directory (state expiry). The
        commit markers are untouched — they are the log, not the data."""
        path = os.path.join(self.tables_dir, name, f"round={round_no}")
        if not os.path.isdir(path):
            return False
        shutil.rmtree(path)
        return True

    def rounds_present(self, name: str) -> list[int]:
        """Round numbers that physically exist for one table."""
        base = os.path.join(self.tables_dir, name)
        if not os.path.isdir(base):
            return []
        return sorted(int(d.split("=", 1)[1]) for d in os.listdir(base)
                      if d.startswith("round="))

    def stage_write(self, name: str, df: DataFrame, round_no: int,
                    partition_by: list[str] | None = None) -> str:
        path = os.path.join(self.tables_dir, name, f"round={round_no}")
        codec = "uncompressed" if name in self._UNCOMPRESSED else "snappy"
        w = df.write.mode("overwrite").option("compression", codec)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)
        return path

    # -- reads --------------------------------------------------------------

    def _round_paths(self, name: str, rounds: list[int]) -> list[str]:
        tdir = os.path.join(self.tables_dir, name)
        return [
            p for r in rounds
            if os.path.isdir(p := os.path.join(tdir, f"round={r}"))
        ]

    # tables whose round dirs contain a further partition level
    # (pages/round=r/fetch_date=…): each round must be read with its own
    # basePath so the nested key is discovered as a partition column —
    # passing the leaf dirs together trips CONFLICTING_DIRECTORY_STRUCTURES,
    # and a table-level basePath would surface `round` as a partition
    # column colliding with the data column of the same name. Real Iceberg
    # replaces this per-round union with manifest-based planning.
    _NESTED = frozenset({"pages"})

    # tables whose row schema has evolved across engine versions (robots
    # gained crawl_delay): merge footers so a store written partly by older
    # code reads with the union schema, missing columns as null
    _MERGED = frozenset({"robots"})

    def read(self, spark: SparkSession, name: str,
             rounds: list[int] | None = None) -> DataFrame | None:
        """Union of the table's committed round directories (or the explicit
        ``rounds`` subset). None ⇔ no committed data yet."""
        if rounds is None:
            rounds = self.committed_rounds()
        paths = self._round_paths(name, rounds)
        if not paths:
            return None
        if name in self._NESTED:
            # allowMissingColumns: a store committed by pre-date-partition
            # code has flat round dirs (no fetch_date= layer); resuming it
            # must not fail the union — missing partition columns read as
            # null.
            dfs = [spark.read.option("basePath", p).parquet(p)
                   for p in paths]
            out = dfs[0]
            for df in dfs[1:]:
                out = out.unionByName(df, allowMissingColumns=True)
            return out
        if name in self._MERGED:
            return spark.read.option("mergeSchema", "true").parquet(*paths)
        return spark.read.parquet(*paths)

    def read_round(self, spark: SparkSession, name: str,
                   round_no: int) -> DataFrame | None:
        """Single-round read; callers pass rounds they know are committed."""
        return self.read(spark, name, [round_no])

    def exists(self, name: str, round_no: int) -> bool:
        return os.path.isdir(
            os.path.join(self.tables_dir, name, f"round={round_no}"))
