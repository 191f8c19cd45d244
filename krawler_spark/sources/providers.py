"""Fetch providers — the engine's ``RequestProviderIf`` seam.

The reference abstracts "how a URL becomes a document" behind
``RequestProviderIf`` (``http/Requests.kt:46-61``: ``getUrl``,
``checkUrl``, ``fetchRobotsTxt``). The BSP engine's equivalent is a
provider that maintains the round's *pages frame*: a DataFrame
``(url, warc_ts, html, text, lang[, status, clen])`` the round DAG
reads once per round, in its fetch join: the frame is semi-joined to
the round's admitted urls (so it is always the streamed side), and the
hits carry the fetch mark, the visited payload and the harvest body.

Two implementations:

* ``CorpusRequestProvider`` — the offline default (BASELINE.json
  input_hint): a static url-bucketed corpus table. ``refresh`` is a
  no-op; robots rules are parsed once per crawl and cached.
* ``HttpRequestProvider`` — the live deployment path: each round, the
  not-yet-cached admitted URLs (plus robots.txt for new hosts) are
  fetched over HTTP inside an Arrow-batched ``mapInPandas`` stage
  (stdlib ``urllib`` — one worker fetches one partition's URLs), and
  appended to a parquet *fetch cache* that then serves as the round's
  pages frame. The downstream plan is IDENTICAL to the corpus path, so
  every correctness property (oracle equivalence, politeness, dedup)
  carries over; only the cache-fill stage is new.

Live-path semantics matching the reference wire behavior:

* **Per-host pacing** (``http/Requests.kt:150-186``, timing law pinned
  by ``RequestsTest.kt:56-72``): the fetch batch is hash-partitioned by
  host, so ONE task owns all of a host's URLs for the round, and the
  task spaces consecutive requests to the same host by
  ``politeness_delay_ms`` (different hosts within a task are
  interleaved round-robin so a slow host never serializes its
  partition). The engine's admission budget bounds per-host *volume*;
  this bounds per-host *rate*.
* **Redirect capture** (``HistoryTrackingRedirectStrategy``,
  ``http/Requests.kt:63-78``): requests are made with a NON-following
  opener. Each 3xx hop is recorded as a ``(url, status, location)``
  row in the cache's ``_redirects`` table — the engine consumes it as
  its ``redirects`` frame, so live crawls populate
  ``redirect_history`` / slow-mode re-enqueue exactly like the corpus
  twin. With ``follow_redirects=True`` (the fast strategy) the worker
  follows the chain itself (hop cap 5, like a real client) and caches
  the final document under the chain-final canonical url — which is
  the key the engine's distributed chain resolution arrives at.
* **Robots TTL** (``robots/RoboMinder.kt:39-42``: 10-min expiry):
  ``robots_ttl_rounds`` re-fetches a host's robots.txt once it is that
  many rounds old; the cache then serves latest-wins per url.
* **Transient errors**: retried ``retries`` times with backoff; a URL
  that still fails gets an explicit error row (``fetch_errors()``)
  whose detail the engine surfaces instead of the misleading offline
  "no corpus row".

Scale notes: the fetch cache is append-only parquet partitioned by
round — on a cluster this is an Iceberg table and the per-round append
an atomic snapshot. The cache join stays url-bucketed exactly like the
offline corpus. Fetch fan-out is bounded by the politeness budget per
host and round; hash(host) partitioning keeps each host's wire
politeness enforceable inside one task.
"""

from __future__ import annotations

import json
import os
from typing import Iterator, Optional

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .. import schemas

REDIRECT_CODES = (300, 301, 302, 303, 307, 308)


def build_robots_rules(pages: DataFrame, user_agent: str) -> DataFrame:
    """Parse robots.txt rows of a pages frame into per-host disallow
    arrays with the user-agent resolved (RoboMinder.kt:71). Pure
    python over a tiny input; the engine's per-round gate joins the
    result as JVM column algebra."""

    def _parse_rules(batches: Iterator) -> Iterator:
        import pandas as pd

        from ..functions.robots import (
            RobotsParseError,
            parse_robots,
            rules_for_agent,
        )

        for pdf in batches:
            out = []
            for u, body in zip(pdf["robots_url"], pdf["robots_body"]):
                try:
                    rules = sorted(rules_for_agent(parse_robots(body), user_agent))
                except RobotsParseError:
                    rules = None
                out.append((u, rules))
            yield pd.DataFrame(out, columns=["robots_url", "rules"])

    return (
        pages.filter(F.col("url").endswith("/robots.txt"))
        .select(F.col("url").alias("robots_url"), F.col("text").alias("robots_body"))
        .mapInPandas(_parse_rules, schema="robots_url string, rules array<string>")
        .withColumn("has_robots", F.lit(True))
    )


class CorpusRequestProvider:
    """Offline fetch: a static pages corpus (the input_hint table)."""

    dynamic = False
    miss_detail = "no corpus row"

    def __init__(self, pages: DataFrame):
        self._pages = pages
        self._robots = None

    def pages(self) -> DataFrame:
        return self._pages

    def robots_rules(self, user_agent: str) -> DataFrame:
        if self._robots is None:
            # parsed ONCE per crawl (tiny python stage), cached
            self._robots = build_robots_rules(self._pages, user_agent).cache()
        return self._robots

    def refresh(self, rnd: int, admitted_urls: DataFrame) -> None:
        """Static corpus — nothing to fetch."""

    def refresh_robots(self, rnd: int, urls: DataFrame) -> None:
        """Static corpus — robots rows are already in the table."""


class HttpRequestProvider:
    """Live fetch: fill a parquet fetch-cache over HTTP each round.

    ``base_rewrite`` optionally maps url prefixes (e.g. a test rewrites
    ``http://www.site-0.com/`` → ``http://127.0.0.1:PORT/site-0/``) so
    the provider can be driven against a local server; the CACHE always
    stores the logical url the engine asked for.
    """

    dynamic = True
    miss_detail = "connection error or no response"

    def __init__(
        self,
        spark: SparkSession,
        cache_dir: str,
        user_agent: str = "krawler-spark",
        timeout_s: float = 10.0,
        base_rewrite: Optional[dict] = None,
        fetch_partitions: Optional[int] = None,
        politeness_delay_ms: int = 0,
        follow_redirects: bool = True,
        max_redirect_hops: int = 5,
        robots_ttl_rounds: Optional[int] = None,
        retries: int = 1,
        retry_backoff_s: float = 0.2,
    ):
        self.spark = spark
        self.cache_dir = cache_dir
        self.user_agent = user_agent
        self.timeout_s = timeout_s
        self.base_rewrite = dict(base_rewrite or {})
        self.fetch_partitions = fetch_partitions
        self.politeness_delay_ms = politeness_delay_ms
        self.follow_redirects = follow_redirects
        self.max_redirect_hops = max_redirect_hops
        self.robots_ttl_rounds = robots_ttl_rounds
        self.retries = retries
        self.retry_backoff_s = retry_backoff_s
        os.makedirs(cache_dir, exist_ok=True)
        self._meta = self._load_meta()

    # -- cache metadata (robots fetch rounds; refetch flag) --------------------
    def _meta_path(self) -> str:
        return os.path.join(self.cache_dir, "_meta.json")

    def _load_meta(self) -> dict:
        p = self._meta_path()
        if os.path.isfile(p):
            with open(p) as f:
                return json.load(f)
        return {"robots_rounds": {}, "has_refetches": False}

    def _save_meta(self) -> None:
        tmp = self._meta_path() + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self._meta, f)
        os.replace(tmp, self._meta_path())

    # -- cache views -----------------------------------------------------------
    def _dir_nonempty(self, path: str) -> bool:
        for _root, _dirs, files in os.walk(path):
            if any(f.endswith(".parquet") for f in files):
                return True
        return False

    def pages(self) -> DataFrame:
        if not self._dir_nonempty(self.cache_dir):
            return self.spark.createDataFrame([], self._cache_schema())
        df = (
            self.spark.read.schema(self._cache_schema())
            .option("recursiveFileLookup", "true")
            .parquet(self.cache_dir)
        )
        if self._meta.get("has_refetches"):
            # robots TTL (or any forced refetch) appended a NEWER row for
            # an already-cached url — serve latest-wins so the fetch join
            # never sees duplicate url keys
            w = Window.partitionBy("url").orderBy(F.col("warc_ts").desc())
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_rn")
            )
        return df

    @staticmethod
    def _cache_schema():
        from pyspark.sql.types import IntegerType, StructField, StructType

        return StructType(schemas.PAGES.fields + [StructField("status", IntegerType(), True)])

    def robots_rules(self, user_agent: str) -> DataFrame:
        # the cache grows every round — rebuild (tiny python stage over
        # only the robots rows)
        return build_robots_rules(self.pages(), user_agent)

    # -- engine-facing side tables ---------------------------------------------
    def redirects(self) -> Optional[DataFrame]:
        """Captured 3xx hops: (url, status, location) — the engine's
        ``redirects`` frame (KrawlDocument.kt:66-67 history source)."""
        d = os.path.join(self.cache_dir, "_redirects")
        if not self._dir_nonempty(d):
            return None
        return (
            self.spark.read.schema("url string, status int, location string")
            .option("recursiveFileLookup", "true").parquet(d)
            .dropDuplicates(["url"])
        )

    def fetch_errors(self) -> Optional[DataFrame]:
        """URLs that failed after retries: (url, detail). The engine
        surfaces the detail on its fetch_error rows so live connection
        failures are distinguishable from genuine corpus misses."""
        d = os.path.join(self.cache_dir, "_errors")
        if not self._dir_nonempty(d):
            return None
        return (
            self.spark.read.schema("url string, detail string")
            .option("recursiveFileLookup", "true").parquet(d)
            .dropDuplicates(["url"])
        )

    # -- the wire --------------------------------------------------------------
    @staticmethod
    def _host_col():
        return F.substring_index(
            F.substring_index(F.col("url"), "://", -1), "/", 1
        )

    def _robots_urls(self, urls: DataFrame) -> DataFrame:
        scheme = F.substring_index(F.col("url"), "://", 1)
        return urls.select(
            F.concat(scheme, F.lit("://"), self._host_col(),
                     F.lit("/robots.txt")).alias("url")
        ).distinct()

    def refresh_robots(self, rnd: int, urls: DataFrame) -> None:
        """Prefetch robots.txt for the hosts of ``urls`` (cache misses,
        plus TTL-expired hosts when ``robots_ttl_rounds`` is set) so
        the round's robots gate sees them — the BSP twin of
        fetch-robots-before-request + expiry (RoboMinder.kt:39-53)."""
        targets = self._robots_urls(urls)
        if self.robots_ttl_rounds is not None:
            ttl = self.robots_ttl_rounds
            stale = [
                u for u, r in self._meta["robots_rounds"].items()
                if rnd - r >= ttl
            ]
            fetched_urls = [
                r["url"] for r in targets.collect()  # robots set: one per host,
            ]                                        # bounded by round's hosts
            cached = set(self._meta["robots_rounds"])
            todo = [u for u in fetched_urls if u not in cached or u in set(stale)]
            if not todo:
                return
            todo_df = self.spark.createDataFrame([(u,) for u in todo], "url string")
            refetches = [u for u in todo if u in cached]
            self._fetch_into(todo_df, f"round_{rnd}_robots", skip_cached=False)
            for u in todo:
                self._meta["robots_rounds"][u] = rnd
            if refetches:
                self._meta["has_refetches"] = True
            self._save_meta()
        else:
            fetched = self._fetch_into(targets, f"round_{rnd}_robots")
            if fetched:
                for u in fetched:
                    self._meta["robots_rounds"].setdefault(u, rnd)
                self._save_meta()

    def refresh(self, rnd: int, admitted_urls: DataFrame) -> None:
        """Fetch the admitted URLs absent from the cache and append
        them as round ``rnd``'s cache partition. ``admitted_urls``:
        DataFrame with a ``url`` column — the round's post-politeness
        admission set, so wire traffic per host is budget-bounded (and
        the in-task pacing below makes it rate-bounded)."""
        self._fetch_into(admitted_urls.select("url").distinct(), f"round_{rnd}")

    def _fetch_into(
        self, urls: DataFrame, subdir: str, skip_cached: bool = True
    ) -> Optional[list]:
        todo = urls
        if skip_cached:
            cached = self.pages().select("url")
            todo = urls.join(cached, "url", "left_anti")
        parts = self.fetch_partitions or self.spark.sparkContext.defaultParallelism
        # hash-partition by host: one task owns a host's URLs, making
        # the per-host politeness spacing below enforceable (and two
        # tasks can never hit one host concurrently)
        todo = todo.repartition(parts, self._host_col())

        rewrites = sorted(self.base_rewrite.items(), key=lambda kv: -len(kv[0]))
        inverse_rewrites = sorted(
            ((repl, pref) for pref, repl in rewrites), key=lambda kv: -len(kv[0])
        )
        ua, timeout = self.user_agent, self.timeout_s
        delay_s = self.politeness_delay_ms / 1000.0
        follow, max_hops = self.follow_redirects, self.max_redirect_hops
        retries, backoff = self.retries, self.retry_backoff_s

        def _fetch(batches: Iterator) -> Iterator:
            import datetime as dt
            import time
            import urllib.error
            import urllib.request

            import pandas as pd

            from ..functions.extract import extract_text
            from ..functions.kanon import parse_url

            class _NoFollow(urllib.request.HTTPRedirectHandler):
                # capture 3xx instead of transparently following — the
                # reference records every hop (Requests.kt:63-78)
                def redirect_request(self, *a, **kw):
                    return None

            opener = urllib.request.build_opener(_NoFollow)
            last_hit: dict = {}

            def to_wire(u: str) -> str:
                for pref, repl in rewrites:
                    if u.startswith(pref):
                        return repl + u[len(pref):]
                return u

            def to_logical(u: str) -> str:
                for pref, repl in inverse_rewrites:
                    if u.startswith(pref):
                        return repl + u[len(pref):]
                return u

            def decode_body(body: bytes, headers) -> bytes:
                """Transparent content decompression — the reference
                defaults allowContentCompression=true and Apache
                HttpClient decodes gzip/deflate before the crawler sees
                the entity (crawler/KrawlConfig.kt:21-63); urllib does
                not, so a server forcing Content-Encoding would
                otherwise cache compressed bytes as the page body."""
                enc = ""
                if headers is not None:
                    enc = (headers.get("Content-Encoding") or "").lower().strip()
                try:
                    if enc == "gzip" or enc == "x-gzip":
                        import gzip

                        return gzip.decompress(body)
                    if enc == "deflate":
                        import zlib

                        try:
                            return zlib.decompress(body)
                        except zlib.error:
                            # some servers send raw-deflate without the
                            # zlib wrapper
                            return zlib.decompress(body, -zlib.MAX_WBITS)
                except Exception:
                    pass  # damaged encoding: keep the raw bytes
                return body

            def paced_get(logical_url: str, host: str):
                """One polite GET: spaced ≥ delay per host, retried on
                transient failure. Returns (status, body, location) —
                status None ⇔ gave up. Advertises gzip and stores the
                DECODED bytes."""
                for attempt in range(retries + 1):
                    if delay_s > 0:
                        prev = last_hit.get(host)
                        now = time.monotonic()
                        if prev is not None and now - prev < delay_s:
                            time.sleep(delay_s - (now - prev))
                        last_hit[host] = time.monotonic()
                    try:
                        req = urllib.request.Request(
                            to_wire(logical_url),
                            headers={"User-Agent": ua,
                                     "Accept-Encoding": "gzip, deflate"},
                        )
                        with opener.open(req, timeout=timeout) as resp:
                            return (resp.status,
                                    decode_body(resp.read(), resp.headers),
                                    None)
                    except urllib.error.HTTPError as exc:
                        loc = exc.headers.get("Location") if exc.headers else None
                        body = b""
                        try:
                            body = decode_body(exc.read(), exc.headers)
                        except Exception:
                            pass
                        return exc.code, body, loc
                    except Exception:
                        if attempt < retries:
                            time.sleep(backoff * (attempt + 1))
                return None, None, None

            for pdf in batches:
                out: list = []
                # group per host, then round-robin across hosts so one
                # slow/paced host never serializes its whole partition
                by_host: dict = {}
                for url in pdf["url"]:
                    h = url.split("://", 1)[-1].split("/", 1)[0]
                    by_host.setdefault(h, []).append(url)
                order = []
                queues = {h: list(us) for h, us in by_host.items()}
                while queues:
                    for h in list(queues):
                        order.append((h, queues[h].pop(0)))
                        if not queues[h]:
                            del queues[h]

                def emit_page(url: str, status, body) -> None:
                    if url.endswith("/robots.txt"):
                        text = (body or b"").decode("utf-8", errors="replace")
                    else:
                        text = extract_text(body)
                    out.append((
                        "page", url, dt.datetime.now(dt.timezone.utc), body,
                        text, None, int(status), None, None,
                    ))

                for host, url in order:
                    cur, cur_host = url, host
                    for _hop in range(max_hops + 1):
                        status, body, loc = paced_get(cur, cur_host)
                        if status is None:
                            out.append(("error", url, None, None, None, None,
                                        None, None, "connection error"))
                            break
                        if status in REDIRECT_CODES and loc:
                            out.append(("redirect", cur, None, None, None, None,
                                        int(status), loc, None))
                            if not follow:
                                # slow strategy: cache the 3xx itself;
                                # the engine re-enqueues the location
                                emit_page(cur, status, b"")
                                break
                            nxt = to_logical(
                                parse_url(loc, parse_url(cur)).canonical
                            )
                            if nxt == cur:
                                emit_page(cur, status, body or b"")
                                break
                            cur = nxt
                            cur_host = cur.split("://", 1)[-1].split("/", 1)[0]
                            continue
                        # the fast strategy caches the final document
                        # under the chain-final canonical url — the key
                        # the engine's chain resolution computes
                        emit_page(cur, status, body or b"")
                        break
                    else:
                        # hop cap exceeded without reaching a document
                        out.append(("error", url, None, None, None, None,
                                    None, None, "redirect loop"))

                yield pd.DataFrame(
                    out,
                    columns=["rowkind", "url", "warc_ts", "html", "text",
                             "lang", "status", "location", "detail"],
                )

        out_schema = (
            "rowkind string, url string, warc_ts timestamp, html binary, "
            "text string, lang string, status int, location string, detail string"
        )
        fetched = todo.mapInPandas(_fetch, schema=out_schema).persist()
        try:
            pages = fetched.filter(F.col("rowkind") == "page").select(
                "url", "warc_ts", "html", "text", "lang", "status"
            )
            # chain-following can land two requested urls on one final
            # document — the cache stores one row per url
            pages.dropDuplicates(["url"]).write.mode("overwrite").parquet(
                os.path.join(self.cache_dir, subdir)
            )
            for kind, table, cols in (
                ("redirect", "_redirects", ["url", "status", "location"]),
                ("error", "_errors", ["url", "detail"]),
            ):
                side = fetched.filter(F.col("rowkind") == kind).select(*cols)
                side.dropDuplicates(["url"]).coalesce(1).write.mode(
                    "overwrite"
                ).parquet(os.path.join(self.cache_dir, table, subdir))
            got_urls = [
                r["url"]
                for r in fetched.filter(F.col("rowkind") == "page")
                .select("url").collect()
            ]
        finally:
            fetched.unpersist()
        return got_urls
