"""Iceberg-backed snapshot store — the production twin of
``plans.store.SnapshotStore``.

Both backends subclass ``plans.store.StoreCore``, which defines the
history, visited, events and frontier views once; this class supplies
only the Iceberg I/O and commit protocol. The engine touches only the
public store methods, so a crawl runs on Iceberg by passing an instance
as ``CrawlEngine(store=...)``. It needs ``iceberg-spark-runtime`` on the
classpath and a configured catalog, e.g.::

    spark.sql.catalog.krawl = org.apache.iceberg.spark.SparkCatalog
    spark.sql.catalog.krawl.type = hadoop        # or hive / rest
    spark.sql.catalog.krawl.warehouse = s3://bucket/krawl

Mapping from the parquet-dir layout to Iceberg:

==================  =====================================================
parquet-dir store   Iceberg store
==================  =====================================================
delta/r=N/kind=K    table ``<ns>.delta`` PARTITIONED BY (r, kind);
                    one ``append`` per round (atomic Iceberg snapshot);
                    per-host fetch counts are its ``host_state`` kind
frontier/r=N        table ``<ns>.frontier_snap`` partitioned by r
bloom/r=N           table ``<ns>.bloom`` partitioned by r, written once
                    history reaches ``bloom_activation_rows``
metrics/r=N         table ``<ns>.metrics`` partitioned by r
_commits/rN.json    table ``<ns>.commits`` (r, state_json) — the commit
                    row append IS the transaction boundary; a crashed
                    round leaves orphan partitions that the next attempt
                    replaces via ``overwrite(r == N)``
_history_floor      row in ``<ns>.commits`` with r = -1
(round dir exists)  row in ``<ns>.commits`` with r = -2 per
                    ``write_table`` call: written-but-empty ≠ missing
==================  =====================================================

Resumability story (north_rule): a killed job resumes from the last
committed round. The views read rounds ``r <= upto_round``, and the
engine passes a committed round; on resume, ``discard_uncommitted``
deletes the crashed round's delta rows, and the round-filter
``overwrite`` makes round retries idempotent (not
``overwritePartitions``: with the delta's second partition column
``kind``, a retry missing some kind would strand the crashed attempt's
rows in that kind's partition). The bloom shard snapshots ride along as
an ordinary partitioned table, i.e. "per-partition bloom shards carried
by snapshot checkpoints".

This environment has no Iceberg runtime (no network to fetch the
iceberg-spark-runtime jar), so the class raises at construction unless
the catalog probe succeeds; ``tests/test_iceberg_store.py`` exercises
it against a real catalog when available and skips otherwise, and
``tests/test_iceberg_emulated.py`` runs the same scenarios in-sandbox
against a catalog emulator that supplies only the DataFrameWriterV2 /
catalog surface this store consumes.
"""

from __future__ import annotations

import json
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .store import StoreCore


def iceberg_available(spark: SparkSession, catalog: str) -> bool:
    """True iff `catalog` resolves to a usable Iceberg catalog."""
    try:
        jvm_conf = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
        if not jvm_conf or "iceberg" not in jvm_conf.lower():
            return False
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {catalog}.__ks_probe__")
        spark.sql(f"DROP NAMESPACE {catalog}.__ks_probe__")
        return True
    except Exception:
        return False


class IcebergSnapshotStore(StoreCore):
    """SnapshotStore API over Iceberg tables. Construct with a catalog
    name and namespace; raises RuntimeError when Iceberg is absent."""

    def __init__(self, spark: SparkSession, catalog: str, namespace: str = "krawl"):
        if not iceberg_available(spark, catalog):
            raise RuntimeError(
                f"catalog '{catalog}' is not an Iceberg catalog — add "
                "iceberg-spark-runtime and spark.sql.catalog.* settings"
            )
        self.spark = spark
        self.ns = f"{catalog}.{namespace}"
        # catalog-namespace identifier kept for API/debug parity only
        self.path = f"{self.ns}"
        spark.sql(f"CREATE NAMESPACE IF NOT EXISTS {self.ns}")
        spark.sql(
            f"CREATE TABLE IF NOT EXISTS {self.ns}.commits "
            "(r INT, state_json STRING) USING iceberg"
        )

    # -- helpers ---------------------------------------------------------------
    def _tbl(self, name: str) -> str:
        return f"{self.ns}.{name}"

    def _exists(self, name: str) -> bool:
        return self.spark.catalog.tableExists(self._tbl(name))

    def _write_partitioned(self, name: str, round_no: int, df: DataFrame,
                           extra_part: Optional[str] = None) -> None:
        out = df.withColumn("r", F.lit(round_no).cast("int"))
        parts = ["r"] + ([extra_part] if extra_part else [])
        if not self._exists(name):
            (out.writeTo(self._tbl(name)).partitionedBy(*[F.col(p) for p in parts])
             .using("iceberg").create())
        else:
            # idempotent round retry: replace exactly this round's rows.
            # overwrite-by-filter, NOT overwritePartitions — with a
            # second partition column (delta's kind), a retry whose new
            # attempt lacks some kind would leave the crashed attempt's
            # stale rows in that kind's partition; the r-filter
            # overwrite deletes the whole round atomically instead
            # (caught by tests/test_iceberg_emulated.py round-retry).
            out.writeTo(self._tbl(name)).overwrite(
                F.col("r") == int(round_no))

    # -- commit protocol ----------------------------------------------------------
    def write_delta(self, round_no: int, df: DataFrame) -> None:
        self._write_partitioned("delta", round_no, df, extra_part="kind")

    def write_table(self, name: str, round_no: int, df: DataFrame) -> None:
        """Write round N, then record it: a round written with no rows
        (an emptied frontier) reads back empty, not missing."""
        name = "frontier_snap" if name == "frontier" else name
        self._write_partitioned(name, round_no, df)
        self._append_commits(-2, {"table": name, "round": int(round_no)})

    def _table_dir(self, name: str, round_no: int) -> str:
        """Filesystem path of one round's partition (used by the bloom
        probe's pyarrow shard reads). Best-effort: resolved from the
        table location (hadoop-catalog layout); if unresolvable the
        probe sees a missing dir and the engine falls back to the exact
        anti-join — correctness never depends on it."""
        try:
            loc = (
                self.spark.sql(f"DESCRIBE TABLE EXTENDED {self._tbl(name)}")
                .filter(F.col("col_name") == "Location")
                .first()["data_type"]
            )
            return f"{loc.removeprefix('file:')}/data/r={round_no}"
        except Exception:
            return f"/nonexistent/{name}/r={round_no}"

    def write_rows_local(self, name: str, round_no: int, rows: list, schema) -> None:
        # read through read_metrics only: no write_table record per round
        self._write_partitioned(name, round_no, self.spark.createDataFrame(rows, schema))

    def _append_commits(self, r: int, state: dict) -> None:
        self.spark.createDataFrame(
            [(int(r), json.dumps(state))], "r int, state_json string"
        ).writeTo(self._tbl("commits")).append()

    def commit_round(self, round_no: int, state: Optional[dict] = None) -> None:
        self._append_commits(round_no, state or {})

    def last_committed(self) -> Optional[int]:
        row = self.spark.sql(
            f"SELECT max(r) AS m FROM {self._tbl('commits')} WHERE r >= 0"
        ).first()
        return int(row["m"]) if row and row["m"] is not None else None

    def committed_state(self, round_no: int) -> dict:
        row = (
            self.spark.table(self._tbl("commits"))
            .filter(F.col("r") == round_no).orderBy(F.length("state_json").desc())
            .first()
        )
        return json.loads(row["state_json"]) if row else {}

    # -- live submissions ---------------------------------------------------------
    def stage_submissions(self, df: DataFrame) -> None:
        """Append to an ordinary Iceberg table with a ``consumed_r``
        column (NULL = staged). The append is an atomic snapshot, so
        concurrent submitters never torn-write."""
        out = df.withColumn("consumed_r", F.lit(None).cast("int"))
        if not self._exists("submissions"):
            try:
                out.writeTo(self._tbl("submissions")).using("iceberg").create()
                return
            except Exception:
                # two first-time submitters raced on create(): the loser
                # falls through to an ordinary append — both snapshots
                # land (Iceberg appends are atomic)
                pass
        out.writeTo(self._tbl("submissions")).append()

    def drain_submissions(self, round_no: int) -> Optional[DataFrame]:
        """Claim all staged rows for this round (row-level UPDATE — an
        Iceberg copy-on-write/merge-on-read commit), then read back the
        claimed set. Idempotent across a crash/resume of the same
        round: rows already claimed with this round_no are re-read,
        never re-claimed by a later round."""
        if not self._exists("submissions"):
            return None
        self.spark.sql(
            f"UPDATE {self._tbl('submissions')} "
            f"SET consumed_r = {int(round_no)} WHERE consumed_r IS NULL"
        )
        out = self.spark.table(self._tbl("submissions")).filter(
            F.col("consumed_r") == int(round_no)
        ).drop("consumed_r")
        return out if out.limit(1).count() > 0 else None

    # -- unified-delta reads -----------------------------------------------------
    def delta_rounds(self) -> List[int]:
        if not self._exists("delta"):
            return []
        return [
            int(r["r"])
            for r in self.spark.table(self._tbl("delta")).select("r").distinct().collect()
        ]

    def read_delta_all(self) -> Optional[DataFrame]:
        if not self._exists("delta"):
            return None
        return self.spark.table(self._tbl("delta"))

    def read_delta_round(self, round_no: int) -> Optional[DataFrame]:
        d = self.read_delta_all()
        return None if d is None else d.filter(F.col("r") == round_no)

    def history_floor(self) -> int:
        """The highest floor set (floors only rise; each set appends a
        row)."""
        row = (
            self.spark.table(self._tbl("commits")).filter(F.col("r") == -1)
            .agg(F.max(F.get_json_object("state_json", "$.floor").cast("int")))
            .first()
        )
        return int(row[0]) if row and row[0] is not None else 0

    def set_history_floor(self, floor: int) -> None:
        self._append_commits(-1, {"floor": int(floor)})

    def read_snapshot(self, name: str, round_no: int) -> Optional[DataFrame]:
        """Round N, or None if ``write_table`` never wrote it."""
        name = "frontier_snap" if name == "frontier" else name
        if not self._exists(name):
            return None
        written = self.spark.table(self._tbl("commits")).filter(
            (F.col("r") == -2) & (F.col("state_json") == json.dumps(
                {"table": name, "round": int(round_no)}))
        )
        if written.limit(1).count() == 0:
            return None
        return self.spark.table(self._tbl(name)).filter(F.col("r") == round_no).drop("r")

    def read_metrics(self, upto_round: int) -> Optional[DataFrame]:
        if not self._exists("metrics"):
            return None
        return self.spark.table(self._tbl("metrics")).filter(
            F.col("r") <= upto_round
        ).drop("r")

    # -- maintenance ----------------------------------------------------------
    def discard_uncommitted(self, from_round: int) -> None:
        """Delete the delta rows a crashed attempt left at or above
        ``from_round`` (a row-level delete, so the catalog stays in
        step with its data files)."""
        if self._exists("delta"):
            self.spark.sql(f"DELETE FROM {self._tbl('delta')} WHERE r >= {int(from_round)}")

    def prune_snapshots(self, keep_from_round: int) -> None:
        for name, extra in (("frontier_snap", ""), ("bloom", ""),
                            ("delta", " AND kind = 'host_state'")):
            if self._exists(name):
                self.spark.sql(
                    f"DELETE FROM {self._tbl(name)} "
                    f"WHERE r < {int(keep_from_round)}{extra}"
                )
        # the pruned rounds are missing again, not empty
        self.spark.sql(
            f"DELETE FROM {self._tbl('commits')} WHERE r = -2 AND "
            "CAST(get_json_object(state_json, '$.round') AS INT) "
            f"< {int(keep_from_round)}"
        )

    def destroy(self) -> None:
        self.spark.sql(f"DROP NAMESPACE IF EXISTS {self.ns} CASCADE")
