"""Snapshot state store — atomic per-round commits with resume.

Plays the role the reference's HSQLDB tables play
(``HSQLConnection.kt:40-54``; in-memory vs ``persistentCrawl``
file-backed), redesigned for a lakehouse: every crawl round commits a
consistent snapshot, and a killed job resumes from the last committed
round with no re-fetches and no URL-seen false negatives (north_rule
resumability).

Layout::

    warehouse/
      delta/r=<N>/kind=<K>/   ONE unified round delta, hive-partitioned.
                              Every row the round produced, discriminated
                              by ``kind``; the logical tables are views:
                                history  = kind ∈ HIST_KINDS
                                visited  = kind = 'visited'
                                events   = kind ∈ EVENT_KINDS
                                frontier@N+1 = kind ∈ ('child','deferred')
                              plus kind = 'host_state': per-host
                              cumulative fetch counts (host, host_seq),
                              read by round N+1 and by no view
      frontier/r=<N>/         explicit frontier snapshots (seeds at r=0,
                              maintenance-op rewrites); take precedence
                              over the delta-derived view
      bloom/r=<N>/            per-bucket bloom shards snapshot, written
                              once history reaches bloom_activation_rows
      metrics/r=<N>/          tiny per-round lineage counters
      _commits/r<N>.json      commit marker — written LAST, atomically
      _history_floor.json     clearHistory watermark (rounds below are
                              retired from the URL-seen view)

A round is visible iff its marker exists; a crash mid-round leaves
orphan data directories that ``discard_uncommitted`` drops on resume —
the same snapshot-isolation contract an Iceberg catalog provides. The
views are defined once, in ``StoreCore``; a backend supplies only its
I/O and its commit protocol. ``plans.iceberg_store.IcebergSnapshotStore``
is the Iceberg backend; the engine touches only the public methods, so
the backend is chosen by the ``store=`` argument of ``CrawlEngine``.

Scale note (north_rule): the single partitioned write replaces five
separate table writes per round — one Spark job materializes the whole
round DAG exactly once, and every logical table is a partition-pruned
read (``kind=`` and ``r=`` are hive partition columns, so Catalyst
prunes to exactly the files each view needs).
"""

from __future__ import annotations

import json
import os
import shutil
import tempfile
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import schemas

# kinds that constitute the URL-seen history (rows consumed WITH a
# history insert — Krawler.kt:369-380)
HIST_KINDS = ("visited", "fetch_error", "filtered", "robots_denied", "budget_extra")
# kinds surfaced as side-output events (O21)
EVENT_KINDS = ("repeat_visit", "depth_cut", "robots_denied", "fetch_error",
               "unexpected_status")
# kinds that form the next round's frontier
FRONTIER_KINDS = ("child", "deferred")


class StoreCore:
    """The four state views (history, visited, events, frontier),
    defined once over a backend's read surface:

    * ``read_delta_all()``: every round delta with ``r`` and ``kind``
      columns, or None before the first write;
    * ``read_delta_round(n)``: round n's delta, or None;
    * ``history_floor()``: the clearHistory watermark;
    * ``read_snapshot(name, n)``: round n of a snapshot table, or None
      when that round has none;
    * ``_table_dir(name, n)``: the filesystem directory of round n of a
      table (the bloom probe reads its shards there with pyarrow).

    A backend adds its writes, its commit protocol and its maintenance
    operations."""

    def read_history(self, upto_round: int) -> Optional[DataFrame]:
        """URL-seen view (History/Dao.kt:57-58): rows of any consumed
        kind, above the clearHistory floor."""
        d = self.read_delta_all()
        if d is None:
            return None
        floor = self.history_floor()
        return d.filter(
            (F.col("r") <= upto_round) & (F.col("r") >= floor)
            & F.col("kind").isin(*HIST_KINDS)
        ).select(
            "id", "url", F.xxhash64("url").alias("url_hash64"),
            F.col("r").cast("int").alias("seen_round"),
        )

    def read_visited(self, upto_round: int) -> Optional[DataFrame]:
        d = self.read_delta_all()
        if d is None:
            return None
        # delta schema v1 (pre-links) degrades to a NULL links column
        links = (
            F.col("links") if "links" in d.columns
            else F.lit(None).cast(schemas.LINKS_T).alias("links")
        )
        # KrawlDocument's lower-cased response headers
        # (KrawlDocument.kt:51-61), synthesized from the stored content
        # length: the offline-fetch pair a static server would send. A
        # live connector would store its real response map instead.
        headers = F.when(
            F.col("clen").isNotNull(),
            F.create_map(
                F.lit("content-type"), F.lit("text/html; charset=utf-8"),
                F.lit("content-length"), F.col("clen").cast("string"),
            ),
        ).alias("headers")
        return d.filter(
            (F.col("r") <= upto_round) & (F.col("kind") == "visited")
        ).select(
            "url", "host", "depth", "root_page_id", "parent_url",
            F.col("r").cast("int").alias("fetch_round"),
            "host_seq", "action", "status", "text", "lang", "redirect_history",
            links, headers,
        )

    def read_events(self, upto_round: int) -> Optional[DataFrame]:
        d = self.read_delta_all()
        if d is None:
            return None
        return d.filter(
            (F.col("r") <= upto_round) & F.col("kind").isin(*EVENT_KINDS)
        ).select(
            "url", "parent_url", F.col("r").cast("int").alias("round"),
            F.col("kind").cast("string").alias("kind"), "detail",
        )

    def read_frontier(self, round_no: int) -> Optional[DataFrame]:
        """Frontier@N: an explicit snapshot if one exists (seeds,
        maintenance rewrites), else the delta-derived view of round N-1
        (child ∪ deferred) — the queue state is never written twice."""
        cols = [f.name for f in schemas.FRONTIER.fields]
        explicit = self.read_snapshot("frontier", round_no)
        if explicit is not None:
            return explicit.select(*cols)
        d = self.read_delta_round(round_no - 1) if round_no >= 1 else None
        if d is None:
            return None
        return d.filter(F.col("kind").isin(*FRONTIER_KINDS)).select(*cols)

    def bloom_dir(self, round_no: int) -> str:
        """Directory of round N's bloom shards, for the probe's reads."""
        return self._table_dir("bloom", round_no)


class SnapshotStore(StoreCore):
    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = path
        # logical-table name → inferred StructType, filled on first read.
        # Every uncached spark.read.parquet runs a driver-side footer/
        # schema-inference job; the round loop re-reads the same logical
        # tables every round (delta view, bloom, metrics) —
        # measured ~10 tiny jobs plus their driver gaps per crawl before
        # caching. Keyed by table NAME, not path, so each new round's
        # directory reuses the schema; per-instance, so a resumed store
        # with an older on-disk layout still infers on first touch.
        self._schema_cache: dict = {}
        os.makedirs(os.path.join(path, "_commits"), exist_ok=True)

    def _read_parquet_cached(self, key: str, *paths: str,
                             base_path: Optional[str] = None) -> DataFrame:
        r = self.spark.read
        if base_path:
            r = r.option("basePath", base_path)
        schema = self._schema_cache.get(key)
        if schema is not None:
            return r.schema(schema).parquet(*paths)
        df = r.parquet(*paths)
        self._schema_cache[key] = df.schema
        return df

    # -- paths ----------------------------------------------------------------
    def _table_dir(self, name: str, round_no: int) -> str:
        return os.path.join(self.path, name, f"r={round_no}")

    def _delta_root(self) -> str:
        return os.path.join(self.path, "delta")

    def _marker(self, round_no: int) -> str:
        return os.path.join(self.path, "_commits", f"r{round_no}.json")

    # -- commit protocol --------------------------------------------------------
    def write_delta(self, round_no: int, df: DataFrame) -> None:
        """The round's ONE materializing Spark job: every output row,
        partitioned by kind for partition-pruned view reads."""
        df.write.partitionBy("kind").mode("overwrite").parquet(
            self._table_dir("delta", round_no)
        )

    def write_table(self, name: str, round_no: int, df: DataFrame) -> None:
        """Write to a side dir then swap it into place — never
        overwrite a directory the input plan may still be reading."""
        final_dir = self._table_dir(name, round_no)
        tmp_dir = final_dir + ".swap"
        df.write.mode("overwrite").parquet(tmp_dir)
        shutil.rmtree(final_dir, ignore_errors=True)
        os.replace(tmp_dir, final_dir)

    def write_rows_local(self, name: str, round_no: int, rows: list, schema) -> None:
        """Driver-side write for tiny tables (metrics) — one pyarrow
        file, no Spark job."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        from pyspark.sql.pandas.types import to_arrow_schema

        d = self._table_dir(name, round_no)
        os.makedirs(d, exist_ok=True)
        cols = list(zip(*rows)) if rows else [[] for _ in schema.fields]
        # the declared types, not pyarrow's inference (an int column
        # would otherwise come back as bigint)
        table = pa.table(
            {f.name: list(c) for f, c in zip(schema.fields, cols)},
            schema=to_arrow_schema(schema),
        )
        pq.write_table(table, os.path.join(d, "part-0.parquet"))

    def commit_round(self, round_no: int, state: Optional[dict] = None) -> None:
        """Write the commit marker — tables must already be written."""
        payload = {"round": round_no, "state": state or {}}
        fd, tmp = tempfile.mkstemp(dir=os.path.join(self.path, "_commits"))
        with os.fdopen(fd, "w") as f:
            json.dump(payload, f)
        os.replace(tmp, self._marker(round_no))  # atomic rename = commit

    def last_committed(self) -> Optional[int]:
        rounds = []
        for fn in os.listdir(os.path.join(self.path, "_commits")):
            if fn.startswith("r") and fn.endswith(".json"):
                try:
                    rounds.append(int(fn[1:-5]))
                except ValueError:
                    pass
        return max(rounds) if rounds else None

    def committed_state(self, round_no: int) -> dict:
        with open(self._marker(round_no)) as f:
            return json.load(f)["state"]

    # -- live submissions (Krawler.kt:205-214) ---------------------------------
    def stage_submissions(self, df: DataFrame) -> None:
        """Append frontier-shaped rows to the staging area; they enter
        the crawl at the next round boundary (snapshot isolation
        replaces the reference's concurrent queue insert)."""
        df.write.mode("append").parquet(os.path.join(self.path, "submissions"))

    def drain_submissions(self, round_no: int) -> Optional[DataFrame]:
        """Move staged files into this round's consumed dir (atomic
        per-file renames — no Spark job) and return them. Idempotent
        across a crash/resume of the same round: the consumed dir is
        re-read, never re-consumed."""
        sub_dir = os.path.join(self.path, "submissions")
        consumed = os.path.join(self.path, f"submissions_r{round_no}_consumed")
        if os.path.isdir(sub_dir):
            staged_files = [f for f in os.listdir(sub_dir) if f.endswith(".parquet")]
            if staged_files:
                os.makedirs(consumed, exist_ok=True)
                for f in staged_files:
                    os.replace(os.path.join(sub_dir, f), os.path.join(consumed, f))
                # writer sidecars (_SUCCESS markers, .crc files) would
                # otherwise accumulate in submissions/ forever
                for f in os.listdir(sub_dir):
                    p = os.path.join(sub_dir, f)
                    if os.path.isfile(p) and not f.endswith(".parquet"):
                        os.remove(p)
        if not os.path.isdir(consumed) or not any(
            f.endswith(".parquet") for f in os.listdir(consumed)
        ):
            return None
        return self._read_parquet_cached("submissions", consumed)

    # -- unified-delta reads ------------------------------------------------------
    def delta_rounds(self) -> List[int]:
        root = self._delta_root()
        if not os.path.isdir(root):
            return []
        return sorted(
            int(fn.split("=")[1]) for fn in os.listdir(root) if fn.startswith("r=")
        )

    def read_delta_all(self) -> Optional[DataFrame]:
        """All round deltas; ``r`` and ``kind`` arrive as hive partition
        columns, so downstream r/kind filters are pure partition pruning
        (zero data files touched outside the slice)."""
        if not self.delta_rounds():
            return None
        return self._read_parquet_cached("delta", self._delta_root())

    def read_delta_round(self, round_no: int) -> Optional[DataFrame]:
        d = self._table_dir("delta", round_no)
        if not os.path.isdir(d):
            return None
        return self._read_parquet_cached("delta", d, base_path=self._delta_root())

    def history_floor(self) -> int:
        p = os.path.join(self.path, "_history_floor.json")
        if not os.path.isfile(p):
            return 0
        with open(p) as f:
            return int(json.load(f)["floor"])

    def set_history_floor(self, floor: int) -> None:
        p = os.path.join(self.path, "_history_floor.json")
        fd, tmp = tempfile.mkstemp(dir=self.path)
        with os.fdopen(fd, "w") as f:
            json.dump({"floor": int(floor)}, f)
        os.replace(tmp, p)

    # -- plain snapshot reads -------------------------------------------------
    def read_snapshot(self, name: str, round_no: int) -> Optional[DataFrame]:
        d = self._table_dir(name, round_no)
        if not os.path.isdir(d):
            return None
        return self._read_parquet_cached(f"snapshot:{name}", d)

    def read_metrics(self, upto_round: int) -> Optional[DataFrame]:
        base = os.path.join(self.path, "metrics")
        if not os.path.isdir(base):
            return None
        dirs = [
            os.path.join(base, fn)
            for fn in sorted(os.listdir(base))
            if fn.startswith("r=") and int(fn.split("=")[1]) <= upto_round
        ]
        if not dirs:
            return None
        return self._read_parquet_cached("metrics", *dirs)

    # -- maintenance ----------------------------------------------------------
    def discard_uncommitted(self, from_round: int) -> None:
        """Drop the delta dirs a crashed attempt left at or above
        ``from_round``, so partition discovery never trips over
        half-written files."""
        for r in self.delta_rounds():
            if r >= from_round:
                shutil.rmtree(self._table_dir("delta", r), ignore_errors=True)

    def prune_snapshots(self, keep_from_round: int) -> None:
        """Drop old snapshot rounds (bloom/frontier) and old rounds'
        ``kind=host_state`` delta partitions; the rest of the unified
        delta is kept — it is the history/lineage."""
        for name in ("frontier", "bloom"):
            base = os.path.join(self.path, name)
            if not os.path.isdir(base):
                continue
            for fn in os.listdir(base):
                if fn.startswith("r=") and int(fn.split("=")[1]) < keep_from_round:
                    shutil.rmtree(os.path.join(base, fn), ignore_errors=True)
        for r in self.delta_rounds():
            if r < keep_from_round:
                shutil.rmtree(os.path.join(self._table_dir("delta", r), "kind=host_state"),
                              ignore_errors=True)

    def destroy(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
