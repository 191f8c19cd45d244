"""Crawl configuration — same knobs and defaults as the reference
(``crawler/KrawlConfig.kt:21-63``), plus the BSP-round parameters that
replace its wall-clock behaviors.

The reference enforces politeness by sleeping ``politenessDelay`` per
host between requests (``http/Requests.kt:150-186``). In a batch round
of nominal length ``round_seconds`` a host can therefore receive at
most ``floor(round_seconds*1000 / politeness_delay_ms)`` fetches — that
budget is how politeness is *accounted* in the BSP engine (SURVEY.md
O6+O12): per-host admission rank ≤ budget, the remainder stays queued.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass
class CrawlConfig:
    # reference knobs (KrawlConfig.kt:21-63)
    max_depth: int = -1                 # -1 = unlimited
    total_pages: int = -1               # -1 = unlimited
    politeness_delay_ms: int = 200
    user_agent: str = "krawler-spark"
    respect_robots_txt: bool = True
    follow_redirects: bool = True
    use_fast_redirect_strategy: bool = True

    # BSP-round parameters (engine-specific)
    round_seconds: float = 10.0         # nominal round length → politeness budget
    max_rounds: int = 1_000             # hard stop for the driver loop
    # True: history ids are sequential in pop order (oracle-exact; costs
    # one single-partition window over the round's delta — test mode
    # only). False (default): ids are xxhash64(url) — deterministic and
    # unique w.h.p., no global ordering stage; the right choice at
    # 10^10-URL scale. The equivalence suite opts into True explicitly.
    deterministic_history_ids: bool = False
    # Bloom shards (O9 at scale): size bits to ~16× the expected URL
    # count for ~1e-4 FP with k=7 (FPs only cost an extra exact check —
    # never correctness). Shards are bucket-co-partitioned parquet read
    # per-task via pyarrow (operators/bloom.py) — they never transit
    # the driver and are not broadcast.
    bloom_buckets: int = 64
    bloom_bits_per_bucket: int = 1 << 17
    # Below this many history rows a plain JVM anti-join beats the
    # python probe stage, and no shards are written. The round whose
    # commit reaches it builds the first shards from the full history
    # view; later rounds merge their own history rows in. (At 10^10
    # rows the probe is the only viable plan — that's what it exists
    # for.)
    bloom_activation_rows: int = 2_000_000
    use_bloom: bool = True
    host_salt: int = 1                  # >1 = salted two-phase politeness rank (hot hosts)
    # The corpus/pages table is bucketed by url (Iceberg bucket(url)
    # transform or a bucketed Hive table). When True the harvest stage
    # trusts the payload join's bucket partitioning — url-hash-uniform
    # and ≥ bucket-count tasks — and SKIPS its de-skew repartition,
    # saving one full shuffle of the round's fetched html per round
    # (the dominant byte mover at 10^10-URL scale). Leave False for
    # ad-hoc/unbucketed corpora, where a broadcast fetch join can leave
    # the payload scan-partitioned (host-clumped files → one python
    # worker serializing a hot host's pages).
    corpus_bucketed: bool = False
    # Materialize repeat_visit event rows (the onRepeatVisit hook's
    # payload, Krawler.kt:168-172). Default ON for reference-semantics
    # parity; a 10^10-URL frontier crawl turns this OFF — in steady
    # state most frontier rows are repeats, so recording them writes a
    # frontier-sized event partition every round for a hook that is an
    # overridable no-op in the reference. fetched/deduped counts (the
    # north-star metric) are unaffected either way.
    record_repeat_events: bool = True
    # Per-round data-derived shuffle-partition sizing: before each round
    # the engine sets spark.sql.shuffle.partitions to
    # clamp(defaultParallelism, committed frontier_next / this, 4096) —
    # a cluster sizes exchanges to input volume, not core count, and
    # lets AQE coalesce. 0 disables (the session setting then applies
    # to every round). run() restores the caller's value when it returns.
    shuffle_rows_per_partition: int = 500_000
    # Attach the harvested link array (href/text/attrs/kind — the
    # KrawlDocument.anchorTags + otherOutgoingLinks surface,
    # KrawlDocument.kt:77-89) to every visited row. Off by default:
    # it costs a second Arrow pass over the page HTML and widens the
    # visited branch of the delta.
    emit_links: bool = False

    @property
    def per_host_budget(self) -> int:
        if self.politeness_delay_ms <= 0:
            return 1 << 30
        return max(1, int(self.round_seconds * 1000 // self.politeness_delay_ms))
