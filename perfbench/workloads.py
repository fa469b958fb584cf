"""The two traffic shapes and the closed loop that drives them.

Every workload runs the same job definition (``ReplayConfig()``
defaults, the default bucket count scaled to this machine's cores, plus
the content transforms) from one client thread. A run is a loop of
rounds; each round applies a *write unit* and then issues one or more
*read sets*: point lookups on seeded live keys, predicate scans
(``lang = ...``) and one change-feed read of the newest commit. The
workloads differ only in traffic:

* ``backfill``: the write unit replays a whole dense log (about 15
  events per key, ``repo_000`` taking about a third of them, schema
  evolving at epoch 2) into a fresh table, so the dedup exchange and
  the Arrow content UDFs do most of the work.
* ``serve``: a base table is loaded during set-up; the write unit is
  one small epoch whose keys land in every bucket, so the per-epoch
  fixed cost, the copy-on-write bucket rewrite and the commit dominate
  the write, and the reads run against a table under live writes.

Every read is recorded with the epoch it observed and checked against
the DuckDB oracle after the loop, off the clock.
"""

from __future__ import annotations

import os
import random
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from datax_spark.engine.replay import EpochResult, ReplayConfig, ReplayEngine
from datax_spark.fixtures.changelog import LANGS, ChangelogSpec, events_df, write_events
from datax_spark.functions.content import (
    normalize_trailing_ws,
    sha256_hex,
    token_count_bpeish,
)
from datax_spark.lake.table import LakeTable

from eventlog import TAG_PROPERTY
from lwworacle import COLS


def content_transforms(df):
    """The content pipeline ``bench.py`` runs after dedup."""
    if "content" not in df.columns:
        return df
    return (
        df.withColumn("content", normalize_trailing_ws("content"))
        .withColumn("content_sha256", sha256_hex("content"))
        .withColumn("n_tokens", token_count_bpeish("content"))
    )


# The engine's defaults, like bench.py's 64 buckets, are sized for a
# 32-core host: two buckets per core.
DEFAULTS_SIZED_FOR_CORES = 32


def job_config(cores: int) -> ReplayConfig:
    """``ReplayConfig()`` defaults plus the content transforms, with the
    default bucket count scaled to ``cores``, so a change of the default
    still moves it. The literal 64 buckets run 64 Python merge tasks per
    epoch, about 10 s per epoch on 4 cores, which leaves no room for
    repeated samples inside one run."""
    default = ReplayConfig().num_buckets
    return ReplayConfig(
        num_buckets=max(1, default * cores // DEFAULTS_SIZED_FOR_CORES),
        transforms=(content_transforms,),
    )


PATHS_PER_REPO = 400
# one read set
LOOKUPS_PER_READ_SET = 2
SCANS_PER_READ_SET = 3
# backfill log: epochs, and the first epoch with the evolved schema
LOG_EPOCHS = 3
EVOLVE_EPOCH = 2


@dataclass(frozen=True)
class Shape:
    n_repos: int
    # read sets issued after each write unit
    read_sets: int
    # backfill: the whole log is one write unit
    log_events: int = 0
    # serve: base epoch 0, then small epochs
    base_events: int = 0
    epoch_events: int = 0


SHAPES = {
    # a round is a whole replay, so it issues two read sets to get
    # enough read samples out of the few rounds a run has
    "backfill": Shape(n_repos=15, read_sets=2, log_events=90_000),
    "serve": Shape(n_repos=60, read_sets=1, base_events=40_000, epoch_events=1_000),
}

@dataclass
class Record:
    """What one pass of the loop measured, plus the reads to check."""

    epoch_s: list[float] = field(default_factory=list)
    results: list[EpochResult] = field(default_factory=list)
    replay_s: float = 0.0
    events: int = 0
    lookup_plan_s: list[float] = field(default_factory=list)
    lookup_exec_s: list[float] = field(default_factory=list)
    scan_s: list[float] = field(default_factory=list)
    changes_s: list[float] = field(default_factory=list)
    changes_rows: list[int] = field(default_factory=list)
    reads: list[tuple] = field(default_factory=list)
    failed: list[str] = field(default_factory=list)
    attempted: int = 0

    @property
    def lookup_s(self) -> list[float]:
        return [a + b for a, b in zip(self.lookup_plan_s, self.lookup_exec_s)]


class Workload:
    def __init__(self, shape: Shape, work: str, seed: int, cores: int) -> None:
        self.shape = shape
        self.work = work
        self.seed = seed
        self.cores = cores
        self.cfg = job_config(cores)
        self.events_root = os.path.join(work, "events")
        self.rng = random.Random(seed)
        self.live_keys: list[tuple] = []
        self.last_table: tuple[str, int] | None = None  # (root, last epoch)
        self.tagging = False
        self._next_epoch = 0
        self._rounds = 0
        self._warm = 0

    # ---------- inputs ----------
    def generate(self, spark: SparkSession, seconds: float) -> None:
        s = self.shape
        if s.log_events:
            write_events(spark, ChangelogSpec(
                n_events=s.log_events, n_repos=s.n_repos,
                paths_per_repo=PATHS_PER_REPO,
                events_per_epoch=-(-s.log_events // LOG_EPOCHS),
                evolve_from_epoch=EVOLVE_EPOCH, seed=self.seed,
            ), self.events_root)
            return
        # enough small epochs for both passes (a warm epoch, then at most
        # one epoch per second)
        n_small = 2 * (1 + int(seconds)) + 4
        total = s.base_events + n_small * s.epoch_events
        # one spec epoch: the small epochs are cut from lsn below, and
        # the generator runs one partition per core
        spec = ChangelogSpec(
            n_events=total, n_repos=s.n_repos, paths_per_repo=PATHS_PER_REPO,
            events_per_epoch=total, evolve_from_epoch=0, seed=self.seed,
        )
        lsn = F.col("lsn")
        small = ((lsn - s.base_events) / s.epoch_events).cast("long") + 1
        # the base epoch predates the lang_variant column
        events_df(spark, spec, (0, s.base_events)).withColumn(
            "epoch", F.lit(0).cast("long")
        ).drop("lang_variant").write.mode("overwrite").partitionBy(
            "epoch").parquet(self.events_root)
        events_df(spark, spec, (s.base_events, total)).withColumn(
            "epoch", small
        ).repartition(self.cores, "epoch").write.mode("append").partitionBy(
            "epoch").parquet(self.events_root)

    def epochs(self) -> list[int]:
        return sorted(int(d.split("=")[1]) for d in os.listdir(self.events_root)
                      if d.startswith("epoch="))

    # ---------- engine ----------
    def engine(self, spark: SparkSession, table_root: str) -> ReplayEngine:
        return ReplayEngine(
            spark, self.events_root, table_root, table_root + "_metrics", self.cfg
        )

    def _tag(self, spark: SparkSession, tag: str | None) -> None:
        if self.tagging:
            spark.sparkContext.setLocalProperty(TAG_PROPERTY, tag)

    def _apply(self, spark: SparkSession, eng: ReplayEngine, epoch: int,
               rec: Record | None) -> bool:
        self._tag(spark, "epoch")
        t0 = time.perf_counter()
        try:
            r = eng.apply_epoch(epoch)
        except Exception as e:  # counted as a failed operation
            if rec is None:
                raise
            rec.attempted += 1
            rec.failed.append(f"epoch {epoch}: {type(e).__name__}: {e}")
            return False
        finally:
            self._tag(spark, None)
        dt = time.perf_counter() - t0
        if rec is not None:
            rec.attempted += 1
            rec.epoch_s.append(dt)
            rec.results.append(r)
            rec.events += r.n_events
            rec.replay_s += dt
        return True

    # ---------- set-up ----------
    def load_and_warm(self, spark: SparkSession, oracle_keys) -> None:
        """Set-up, so the loop starts warm on both schema shapes and on
        every read: backfill replays the whole log once into a table of
        its own; serve loads the base table (on the first call) and
        applies one evolved-schema epoch. Each is followed by a read set.
        Called again after a context restart to warm the new context."""
        s = self.shape
        if s.log_events:
            self.live_keys = oracle_keys(self.epochs()[-1])
            self._warm += 1
            root = os.path.join(self.work, f"warm_table_{self._warm}")
            self.engine(spark, root).run()
            self.read_set(spark, LakeTable.load(spark, root), self.epochs()[-1], Record())
            return
        root = os.path.join(self.work, "table")
        if not LakeTable.exists(root):
            self.live_keys = oracle_keys(0)
            self._apply(spark, self.engine(spark, root), 0, None)
            self._next_epoch = 1
        self._apply(spark, self.engine(spark, root), self._next_epoch, None)
        self.read_set(spark, LakeTable.load(spark, root), self._next_epoch, Record())
        self._next_epoch += 1

    # ---------- the loop ----------
    def run(self, spark: SparkSession, seconds: float, rec: Record) -> None:
        """Whole rounds (whole replays, for backfill) until one ends past
        the deadline; a run overshoots ``seconds`` by less than a round."""
        deadline = time.perf_counter() + seconds
        while self._round(spark, rec) and time.perf_counter() < deadline:
            pass

    def _round(self, spark: SparkSession, rec: Record) -> bool:
        """One write unit and its read sets; False when none could run."""
        self._rounds += 1
        if self.shape.log_events:
            root = os.path.join(self.work, f"table_{self._rounds}")
            eng = self.engine(spark, root)
            ok = all(self._apply(spark, eng, e, rec) for e in self.epochs())
            last = self.epochs()[-1]
        else:
            root = os.path.join(self.work, "table")
            if self._next_epoch > self.epochs()[-1]:
                return False
            ok = self._apply(spark, self.engine(spark, root), self._next_epoch, rec)
            last = self._next_epoch
            self._next_epoch += 1
        if not ok:
            return False
        self.last_table = (root, last)
        self.read_sets(spark, LakeTable.load(spark, root), last, rec)
        return not rec.failed

    def read_sets(self, spark: SparkSession, tab: LakeTable, epoch: int,
                  rec: Record) -> None:
        for _ in range(self.shape.read_sets):
            self.read_set(spark, tab, epoch, rec)

    def read_set(self, spark: SparkSession, tab: LakeTable, epoch: int,
                 rec: Record) -> None:
        for _ in range(LOOKUPS_PER_READ_SET):
            key = self.rng.choice(self.live_keys)
            self._read(spark, rec, "lookup", epoch, key, lambda: _lookup(tab, key, rec))
        for lang in self.rng.sample(LANGS, SCANS_PER_READ_SET):

            def scan():
                t0 = time.perf_counter()
                n = len(tab.read(filters=[("lang", "=", lang)]).collect())
                rec.scan_s.append(time.perf_counter() - t0)
                return n

            self._read(spark, rec, "scan", epoch, lang, scan)
        v = tab.current_version()
        prev = tab.manifest(v - 1).last_epoch

        def changes():
            t0 = time.perf_counter()
            n = len(tab.changes(v - 1, v).collect())
            rec.changes_s.append(time.perf_counter() - t0)
            rec.changes_rows.append(n)
            return n

        self._read(spark, rec, "changes", (prev, epoch), None, changes)

    def _read(self, spark, rec: Record, kind: str, epoch, arg, fn) -> None:
        rec.attempted += 1
        self._tag(spark, kind)
        try:
            rec.reads.append((kind, epoch, arg, fn()))
        except Exception as e:  # counted as a failed operation
            rec.failed.append(f"{kind} {arg}: {type(e).__name__}: {e}")
        finally:
            self._tag(spark, None)


def _lookup(tab: LakeTable, key: tuple, rec: Record) -> list[tuple]:
    t0 = time.perf_counter()
    df = tab.lookup([key])
    t1 = time.perf_counter()
    rows = df.select(*table_cols(df)).collect()
    rec.lookup_plan_s.append(t1 - t0)
    rec.lookup_exec_s.append(time.perf_counter() - t1)
    return [tuple(r) for r in rows]


def table_cols(df) -> list:
    """The oracle's columns, read from a table frame."""
    return [F.col(c) if c in df.columns else F.lit(None).alias(c) for c in COLS]
