"""simjoin: the similarity-join and near-dup query family.

Six ``__spark_entry__.queries()`` entries: ``ann_ivf``,
``ann_cosine_topk``, ``ann_lsh_bucketed`` and ``emb_neardup_pairs``
(the blocked-join family) plus ``dedup_minhash_lsh_pairs`` and
``text_quality_filter``, which take other code paths. Each query's rows
are collected into the driver, so a timed query wall includes moving its
result to Python, and the rows timed are the rows checked.

The input is the contract's sf0.1 ``documents`` and ``embeddings``
tables, kept in ``sf0.1/`` next to this file (5,000 documents, 2,000
embeddings). It does not depend on the run's seed, so the runs of this
workload repeat one input and measure run-to-run variation only.

Every query's rows are checked against its ``oracle_sql()`` twin on
DuckDB: same row count, same columns, same order-insensitive value hash.
The DuckDB side is computed on the first run in a checkout (the
``ann_lsh_bucketed`` twin alone takes tens of seconds) and cached under
the work dir, keyed by the data and the twins' SQL.
"""

from __future__ import annotations

import datetime
import hashlib
import json
import math
import os
import statistics
import time
import traceback

from spans import spark_totals

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "sf0.1")
TABLES = ("documents", "embeddings")
QUERIES = ("ann_ivf", "ann_cosine_topk", "ann_lsh_bucketed",
           "emb_neardup_pairs", "dedup_minhash_lsh_pairs",
           "text_quality_filter")


# Same cell normalization and order-insensitive hash as the contract check
# in scripts/; a copy, so the benchmark does not depend on a script.
def _norm_cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else f"{v:.6g}"
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    return str(v)


def value_hash(rows, cols) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.md5()
    for ln in sorted("|".join(_norm_cell(r[i]) for i in order) for r in rows):
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


class SimJoin:
    # per-layer metric prefixes of the layers this workload never calls
    UNCALLED = ("engine.", "store.", "bloom.", "extract.", "kanon.", "corpus.")

    def __init__(self, sess, work: str, seed: int, tracer=None):
        import __spark_entry__ as entry

        self.sess, self.spark, self.tracer = sess, sess.spark, tracer
        self.queries = entry.queries()
        self.oracle_sql = entry.oracle_sql()
        key = hashlib.md5()
        for q in QUERIES:
            key.update(self.oracle_sql[q].encode())
        for t in TABLES:
            with open(os.path.join(DATA_DIR, f"{t}.parquet"), "rb") as f:
                key.update(f.read())
        self.expected_path = os.path.join(
            work, "simjoin", f"duckdb_expected-{key.hexdigest()[:16]}.json")
        self.attempted = self.failed = 0
        self.expected = None        # query -> (rows, sorted cols, value hash)
        self.walls = {False: [], True: []}
        self.query_walls: dict = {q: [] for q in QUERIES}
        self.traced_spans: list = []
        self.rows: dict = {}

    def prepare(self) -> float:
        """Load both tables into Spark."""
        t0 = time.perf_counter()
        for t in TABLES:
            self.spark.read.parquet(os.path.join(DATA_DIR, f"{t}.parquet")).count()
        return time.perf_counter() - t0

    def _duckdb(self) -> dict:
        """query -> [rows, sorted lower-cased columns, value hash] of the
        DuckDB twin, cached in the work dir."""
        if self.expected is None:
            path = self.expected_path
            if not os.path.isfile(path):
                import duckdb

                con = duckdb.connect()
                for t in TABLES:
                    con.sql(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{os.path.join(DATA_DIR, t + '.parquet')}'")
                expected = {}
                for q in QUERIES:
                    rel = con.sql(self.oracle_sql[q])
                    rows = rel.fetchall()
                    expected[q] = [len(rows), sorted(c.lower() for c in rel.columns),
                                   value_hash(rows, rel.columns)]
                con.close()
                os.makedirs(os.path.dirname(path), exist_ok=True)
                with open(path + ".tmp", "w") as f:
                    json.dump(expected, f)
                os.replace(path + ".tmp", path)
            with open(path) as f:
                self.expected = json.load(f)
        return self.expected

    def _pass(self, traced: bool) -> dict:
        """Run the six queries once, each collected into the driver and
        checked against DuckDB (the check is outside the timed call)."""
        walls, starts = {}, {}
        for q in QUERIES:
            self.sess.restore_conf()
            self.attempted += 1
            starts[q] = time.time()
            t0 = time.perf_counter()
            try:
                df = self.queries[q](self.spark, DATA_DIR)
                rows = df.collect()
            except Exception:  # a failing query is a failed operation
                walls[q] = time.perf_counter() - t0
                self.failed += 1
                traceback.print_exc()
                continue
            walls[q] = time.perf_counter() - t0
            self.rows[q] = len(rows)
            self._check(q, rows, df.columns)
        t_end = time.time()
        if traced:
            tr = self.tracer
            run = tr.add("simjoin.pass", starts[QUERIES[0]], t_end, tr.root)
            for q in QUERIES:
                tr.add(f"textops.{q}", starts[q], starts[q] + walls[q], run)
            self.traced_spans.append(run)
        return {"wall": sum(walls.values()), "steps": list(walls.values()),
                "queries": walls, "items": sum(self.rows.values())}

    def _check(self, q: str, rows, cols) -> None:
        got = [len(rows), sorted(c.lower() for c in cols),
               value_hash([tuple(r) for r in rows], cols)]
        want = self._duckdb()[q]
        if got != want:
            self.failed += 1
            print(f"perfbench: simjoin {q} mismatch vs DuckDB: rows "
                  f"{got[0]}/{want[0]}", flush=True)

    def warmup(self) -> float:
        """One pass of the six queries: compiles their plans and starts
        the python workers before the timed passes."""
        self._duckdb()
        t0 = time.perf_counter()
        self._pass(traced=False)
        return time.perf_counter() - t0

    def run_pass(self, traced: bool) -> dict:
        p = self._pass(traced)
        self.walls[traced].append(p["wall"])
        if traced:
            for q, w in p["queries"].items():
                self.query_walls[q].append(w)
        return p

    def layers(self) -> dict:
        out = {"trace.overhead_s": statistics.mean(self.walls[True])
               - statistics.mean(self.walls[False])}
        for q in QUERIES:
            out[f"textops.{q}_s"] = statistics.median(self.query_walls[q])
            out[f"textops.{q}_rows"] = self.rows.get(q, 0)
        return out

    def spark_layers(self, jobs, tasks) -> dict:
        run = self.tracer.spans[self.traced_spans[-1]]
        return spark_totals(jobs, tasks, run["start"], run["end"], self.sess.cores)

    def cleanup(self) -> None:
        pass
