"""crawl_bfs: a breadth-first trickle crawl whose rounds are small.

16 hosts x 500 pages (the last host is hot, x10), 40 links and 300
words per page, served as a url-bucketed table. The crawl starts from
four pages, one per host archetype (robots-gated, malformed robots,
no robots, hot host) chosen by the seed, and runs 3 rounds with the
default politeness budget of 50 fetches per host per round, robots on
and repeat events recorded. Each round fetches a few hundred pages, so
the fixed per-round cost of the engine (Spark jobs, driver gaps, the
delta write and its follow-ups) dominates the wall time.

Every crawl is checked against the serial oracle
(``krawler_spark.oracle.crawl_oracle``) over the same corpus: the
visited (url, depth, host_seq, fetch_round) set and the history url
set must match exactly.

The corpus is built once per checkout and cached under the work dir,
keyed by its size parameters and by the source of the modules that
generate it. The traced run also times one uncached build
(``corpus.build_s``).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import random
import shutil
import statistics
import tempfile
import time

from pyspark.sql import functions as F

from krawler_spark.config import CrawlConfig
from krawler_spark.engine import CrawlEngine
from krawler_spark.functions import extract
from krawler_spark.oracle import crawl_oracle
from krawler_spark.sources import corpus
from krawler_spark.sources.corpus import build_pages_spark, host_name, page_url

from spans import (PHASES, ClockStore, TracedStore, round_phases, spark_totals,
                   traced_bloom)

HOSTS, PAGES_PER_HOST, HOT_FACTOR = 16, 500, 10
AVG_LINKS, N_WORDS = 40, 300
ROUNDS = 3
BUCKETS = 8
SAMPLE_PAGES = 200   # fixed page sample for the single-threaded extract/kanon timing
VIEW_REPS = 3


def start_pages(seed: int) -> list:
    """One start page per host archetype, picked by the seed. Pages under
    host 0's robots-disallowed /blocked segment are skipped so every
    seed starts four live branches."""
    rng = random.Random(seed)
    seeds = []
    for i in (0, 1, 2, HOSTS - 1):
        n = PAGES_PER_HOST * (HOT_FACTOR if i == HOSTS - 1 else 1)
        j = rng.randrange(n)
        while j % 17 == 3:
            j = rng.randrange(n)
        seeds.append(page_url(host_name(i, HOSTS), j))
    return seeds


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


def _source_digest(*modules) -> str:
    h = hashlib.md5()
    for m in modules:
        with open(m.__file__, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:12]


def _build_corpus_df(spark):
    return build_pages_spark(spark, HOSTS, PAGES_PER_HOST, HOT_FACTOR,
                             avg_links=AVG_LINKS, n_words=N_WORDS)


def _noop(df) -> float:
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    return time.perf_counter() - t0


class CrawlBfs:
    # per-layer metric prefixes of the layers this workload never calls
    UNCALLED = ("textops.",)

    def __init__(self, sess, work: str, seed: int, tracer=None):
        self.sess, self.spark, self.tracer = sess, sess.spark, tracer
        self.seeds = start_pages(seed)
        self.cfg = CrawlConfig(max_rounds=ROUNDS)
        name = f"pages_h{HOSTS}_p{PAGES_PER_HOST}_l{AVG_LINKS}_w{N_WORDS}"
        self.corpus_dir = os.path.join(
            work, "corpus", f"{name}_{_source_digest(corpus, extract)}")
        self.bucket_dir = self.corpus_dir + f"_b{BUCKETS}"
        self.table = f"perfbench_{name}"
        self.wh_root = os.path.join(work, "warehouse")
        os.makedirs(self.wh_root, exist_ok=True)
        self.attempted = self.failed = 0
        self.oracle = None
        self.walls = {False: [], True: []}
        self.traced_pass = None    # (run span id, engine, bloom calls)

    # ------------------------------------------------------------ set-up
    def _build_corpus(self) -> None:
        if not os.path.isdir(self.corpus_dir):
            tmp = self.corpus_dir + ".tmp"
            _build_corpus_df(self.spark).write.mode("overwrite").parquet(tmp)
            os.replace(tmp, self.corpus_dir)
        if not os.path.isdir(self.bucket_dir):
            # one file per bucket, or Spark cannot trust SORTED BY
            tmp = self.bucket_dir + ".tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
            (self.spark.read.parquet(self.corpus_dir)
             .repartition(BUCKETS, F.col("url"))
             .write.bucketBy(BUCKETS, "url").sortBy("url")
             .option("path", tmp).saveAsTable(self.table))
            self.spark.sql(f"DROP TABLE {self.table}")
            os.replace(tmp, self.bucket_dir)

    def prepare(self) -> float:
        """Corpus (built once per checkout, then loaded from the cache)
        and bucketed-table registration."""
        t0 = time.perf_counter()
        self._build_corpus()
        self.spark.sql(f"DROP TABLE IF EXISTS {self.table}")
        self.spark.sql(
            f"CREATE TABLE {self.table} (url STRING, warc_ts TIMESTAMP, "
            "html BINARY, text STRING, lang STRING) USING parquet "
            f"CLUSTERED BY (url) SORTED BY (url) INTO {BUCKETS} BUCKETS "
            f"LOCATION '{self.bucket_dir}'")
        self.pages = self.spark.table(self.table)
        self.pages.limit(1).count()
        return time.perf_counter() - t0

    def warmup(self) -> float:
        """One crawl of the same shape: codegen, JIT and the python
        workers are warm for the timed crawls. It is checked too."""
        t0 = time.perf_counter()
        eng, _ = self._crawl(traced=False)
        dt = time.perf_counter() - t0
        self.attempted += 1
        self._check(eng)
        return dt

    def _oracle(self):
        if self.oracle is None:
            import pyarrow.parquet as pq

            t = pq.read_table(self.corpus_dir, columns=["url", "html", "text", "lang"])
            pages = {u: {"html": h, "text": x, "lang": la} for u, h, x, la in zip(
                *(t.column(c).to_pylist() for c in ("url", "html", "text", "lang")))}
            res = crawl_oracle(self.seeds, pages, self.cfg)
            self.oracle = (
                {(v["url"], v["depth"], v["host_seq"], v["fetch_round"])
                 for v in res.visited},
                set(res.history),
            )
        return self.oracle

    # ------------------------------------------------------------ passes
    def _crawl(self, traced: bool):
        self.sess.restore_conf()
        wh = tempfile.mkdtemp(prefix="crawl_", dir=self.wh_root)
        store = (TracedStore if traced else ClockStore)(self.spark, wh)
        eng = CrawlEngine(self.spark, self.pages, config=self.cfg, store=store)
        bloom_calls: list = []
        with traced_bloom(bloom_calls) if traced else contextlib.nullcontext():
            t0 = time.time()
            eng.run(seeds=self.seeds)
            t1 = time.time()
        if traced:
            self.traced_pass = (self._record_spans(store, bloom_calls, t0, t1),
                                eng, bloom_calls)
        ticks = [t0] + store.commit_times
        return eng, {"wall": t1 - t0,
                     "steps": [b - a for a, b in zip(ticks, ticks[1:])]}

    def run_pass(self, traced: bool) -> dict:
        eng, p = self._crawl(traced)
        self.attempted += 1
        self.walls[traced].append(p["wall"])
        totals: dict = {}
        for r in eng.store.read_metrics(eng.store.last_committed()).collect():
            totals[r["metric"]] = totals.get(r["metric"], 0) + r["value"]
        # the paper's metric: URLs fetched plus URLs deduped (history rows)
        p["items"] = totals.get("visited", 0) + totals.get("history_inserted", 0)
        self._check(eng)
        return p

    def _check(self, eng) -> None:
        want_visited, want_history = self._oracle()
        got_visited = {tuple(r) for r in eng.visited().select(
            "url", "depth", "host_seq", "fetch_round").collect()}
        got_history = {r["url"] for r in eng.history().select("url").collect()}
        if got_visited != want_visited or got_history != want_history:
            self.failed += 1
            print(f"perfbench: crawl_bfs mismatch vs serial oracle: visited "
                  f"{len(got_visited)}/{len(want_visited)}, history "
                  f"{len(got_history)}/{len(want_history)}", flush=True)

    def _views(self, eng) -> dict:
        """Read every column of the visited, history and events views of
        a finished crawl into a noop sink; median of VIEW_REPS reads."""
        views = {"visited": eng.visited, "history": eng.history, "events": eng.events}
        walls = {k: [] for k in views}
        for _ in range(VIEW_REPS):
            for k, fn in views.items():
                self.sess.restore_conf()
                walls[k].append(_noop(fn()))
        return {f"store.view_{k}_s": statistics.median(w) for k, w in walls.items()}

    # ------------------------------------------------------------ tracing
    def _record_spans(self, store, bloom_calls, t0: float, t1: float) -> int:
        tr = self.tracer
        run = tr.add("engine.run", t0, t1, tr.root)
        rounds = round_phases(store.calls, t0)
        holders = [(run, t0, t1)]
        for r in rounds:
            rid = tr.add("engine.round", r["start"], r["end"], run, round=r["round"])
            tr.add("engine.round_other", *r["other"], rid, round=r["round"])
            for ph, (a, b) in r["phases"].items():
                holders.append((tr.add(f"engine.{ph}", a, b, rid, round=r["round"]), a, b))
        holders.sort(key=lambda h: h[2] - h[1])

        def parent_of(t: float) -> int:
            return next(sid for sid, a, b in holders if a <= t <= b)

        for name, label, a, b, thread in store.calls:
            if t0 <= a <= t1:
                tr.add(f"store.{name}", a, b, parent_of(a), arg=label, thread=thread)
        for name, a, b in bloom_calls:
            tr.add(name, a, b, parent_of(a))
        return run

    def layers(self) -> dict:
        _, eng, bloom_calls = self.traced_pass
        store = eng.store
        out = self._views(eng)
        out["trace.overhead_s"] = (statistics.mean(self.walls[True])
                                   - statistics.mean(self.walls[False]))
        out["bloom.calls"] = len(bloom_calls)

        def call_walls(name, label=None):
            return [b - a for n, lab, a, b, _ in store.calls
                    if n == name and label in (None, lab)]

        for key, name, label in (
                ("store.write_delta_s", "write_delta", None),
                ("store.write_table_s.host_state", "write_table", "host_state"),
                ("store.write_table_s.bloom", "write_table", "bloom"),
                ("store.write_table_s.frontier", "write_table", "frontier"),
                ("store.write_rows_local_s", "write_rows_local", None),
                ("store.commit_s", "commit_round", None)):
            w = call_walls(name, label)
            out[key] = statistics.median(w) if w else 0.0
        out["store.delta_bytes"] = _dir_bytes(os.path.join(eng.store.path, "delta"))
        out.update(self._bloom_probe(eng))
        out.update(self._harvest_sample())
        # the corpus build that set-up skips once it is cached
        self.sess.restore_conf()
        out["corpus.build_s"] = _noop(_build_corpus_df(self.spark))
        return out

    def _bloom_probe(self, eng) -> dict:
        """One direct ``bloom.probe`` call: the frontier the next round
        would read against the last committed shards."""
        from krawler_spark.operators import bloom

        store, cfg = eng.store, self.cfg
        last = store.last_committed()
        shard_dir = store._table_dir("bloom", last)
        probed = bloom.probe(store.read_frontier(last + 1), shard_dir,
                             cfg.bloom_buckets, cfg.bloom_bits_per_bucket)
        self.sess.restore_conf()
        probe_s = _noop(probed)
        counts = {r["maybe_seen"]: r["count"]
                  for r in probed.groupBy("maybe_seen").count().collect()}
        maybe = counts.get(True, 0)
        rows = maybe + counts.get(False, 0)
        false_pos = (probed.filter("maybe_seen")
                     .join(store.read_history(last).select("url"), "url", "left_anti")
                     .count())
        return {
            "bloom.probe_s": probe_s,
            "bloom.probe_rows": rows,
            "bloom.maybe_seen_ratio": maybe / rows if rows else 0.0,
            "bloom.false_pos_ratio": false_pos / maybe if maybe else 0.0,
            "bloom.shard_bytes": _dir_bytes(shard_dir),
        }

    def _harvest_sample(self) -> dict:
        """Single-threaded timing of the harvest's python work on a fixed
        page sample: href scan, text extraction, child canonicalization
        (fast path, else the full parser), median of three reps."""
        import pyarrow.parquet as pq

        from krawler_spark.functions.extract import extract_hrefs, extract_text
        from krawler_spark.functions.kanon import fast_child_canonical, parse_url

        t = pq.read_table(self.corpus_dir, columns=["url", "html"])
        rows = sorted((u, h) for u, h in zip(t.column("url").to_pylist(),
                                             t.column("html").to_pylist())
                      if not u.endswith("/robots.txt"))
        sample = rows[::max(1, len(rows) // SAMPLE_PAGES)][:SAMPLE_PAGES]
        href_ms, text_ms, child_us = [], [], []
        for _ in range(3):
            t0 = time.perf_counter()
            hrefs = [extract_hrefs(h) for _, h in sample]
            href_ms.append((time.perf_counter() - t0) * 1e3 / len(sample))
            t0 = time.perf_counter()
            for _, h in sample:
                extract_text(h)
            text_ms.append((time.perf_counter() - t0) * 1e3 / len(sample))
            hits = links = 0
            t0 = time.perf_counter()
            for (url, _), hs in zip(sample, hrefs):
                page = parse_url(url)
                for href, _kind in hs:
                    if href.startswith("#") or len(href) > 2048:
                        continue
                    links += 1
                    if fast_child_canonical(href, page) is not None:
                        hits += 1
                    else:
                        parse_url(href, page)
            child_us.append((time.perf_counter() - t0) * 1e6 / max(links, 1))
        return {
            "extract.hrefs_ms_per_page": statistics.median(href_ms),
            "extract.text_ms_per_page": statistics.median(text_ms),
            "extract.links_per_page": links / len(sample),
            "kanon.fast_hit_ratio": hits / max(links, 1),
            "kanon.child_us_per_link": statistics.median(child_us),
        }

    def spark_layers(self, jobs, tasks) -> dict:
        """Event-log numbers for the traced crawl, by round and phase."""
        tr = self.tracer
        run = tr.spans[self.traced_pass[0]]
        out = spark_totals(jobs, tasks, run["start"], run["end"], self.sess.cores)

        def subtree(sid: int, key: str) -> float:
            return tr.spans[sid][key] + sum(subtree(c["id"], key)
                                            for c in tr.children(sid))

        rounds = [s for s in tr.children(run["id"]) if s["name"] == "engine.round"]
        n = max(len(rounds), 1)
        out["engine.rounds"] = len(rounds)
        out["engine.jobs_per_round"] = sum(subtree(r["id"], "jobs") for r in rounds) / n
        out["engine.tasks_per_round"] = sum(subtree(r["id"], "tasks") for r in rounds) / n
        out["engine.round_s"] = statistics.median(r["end"] - r["start"] for r in rounds)
        for ph in PHASES + ("round_other",):
            spans = [c for r in rounds for c in tr.children(r["id"])
                     if c["name"] == f"engine.{ph}"]
            if ph != "write_delta":
                out[f"engine.{ph}_s"] = statistics.median(
                    s["end"] - s["start"] for s in spans)
            if ph != "round_other":
                out[f"engine.{ph}_jobs"] = sum(subtree(s["id"], "jobs") for s in spans) / n
            if ph in ("chain", "write_delta", "followup"):
                out[f"engine.{ph}_shuffle_bytes"] = sum(
                    subtree(s["id"], "shuffle_write") for s in spans)
        return out

    def cleanup(self) -> None:
        shutil.rmtree(self.wh_root, ignore_errors=True)
