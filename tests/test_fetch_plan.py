"""The corpus is never a broadcast build side (ROADMAP aim 3).

The engine's session sets a 64 MB ``autoBroadcastJoinThreshold``, so a
plain join against a small corpus gets the corpus broadcast. The fetch
join must keep the corpus on the streamed side whatever its size: it
semi-joins the corpus against the round's admitted keys, so a broadcast
over the corpus scan only ever carries the admitted hits. These tests
crawl a tiny corpus (the case where AQE would broadcast it) and read
the executed plan of every Spark SQL execution the crawl ran from the
SQL status store.
"""

import re

import pytest

from krawler_spark.config import CrawlConfig
from krawler_spark.engine import CrawlEngine
from krawler_spark.plans.store import SnapshotStore
from krawler_spark.schemas import PAGES, REDIRECTS
from krawler_spark.sources.corpus import build_pages_local, default_seeds

# operators that pass rows through one by one: a broadcast that reaches
# the corpus scan through only these ships (a projection of) the whole
# corpus. A join, a Python stage or an aggregate on the way means the
# build side is some other relation.
_ROW_WISE = {
    "Project", "Filter", "ColumnarToRow", "Exchange", "ShuffleQueryStage",
    "AQEShuffleRead", "Sort", "TableCacheQueryStage", "InMemoryTableScan",
    "InMemoryRelation", "AdaptiveSparkPlan", "ResultQueryStage",
}

_NODE = re.compile(r"^(?P<pre>[ :|+\-]*)(?:\* )?(?P<name>[A-Z][^(]*?)\s*\((?P<id>\d+)\)")


def _final_tree(desc: str):
    """The executed plan of a formatted plan description as
    ``(nodes, children, details)``: node id → name, node id → child ids,
    node id → its detail block."""
    tree, _, detail_text = desc.partition("\n\n\n")
    nodes, children, stack = {}, {}, []  # stack of (column, id)
    # an adaptive plan (also one nested in a cached relation) prints its
    # final, or while running its current, plan and then its initial
    # plan: skip the initial plan's subtree
    skip = None
    for line in tree.splitlines():
        marker = re.match(r"^([ :|+\-]*)== Initial Plan ==", line)
        if marker:
            skip = len(marker.group(1))
            continue
        m = _NODE.match(line)
        if not m:
            continue
        col, nid = len(m.group("pre")), int(m.group("id"))
        if skip is not None:
            if col >= skip:
                continue
            skip = None
        while stack and stack[-1][0] >= col:
            stack.pop()
        if stack:
            children.setdefault(stack[-1][1], []).append(nid)
        nodes[nid] = m.group("name")
        stack.append((col, nid))
    details = {
        int(m.group(1)): m.group(0)
        for m in re.finditer(r"^\((\d+)\) .*?(?=^\(\d+\) |\Z)", detail_text,
                             re.M | re.S)
    }
    return nodes, children, details


def _corpus_broadcasts(desc: str, corpus_dir: str):
    """(broadcast ids whose build side is the corpus, corpus scanned?)"""
    nodes, children, details = _final_tree(desc)

    def is_corpus(nid):
        return (nodes[nid].startswith("Scan ")
                and f"{corpus_dir}]" in details.get(nid, ""))

    def row_wise_to_corpus(nid):
        for c in children.get(nid, []):
            if is_corpus(c):
                return True
            if nodes[c].split()[0] in _ROW_WISE and row_wise_to_corpus(c):
                return True
        return False

    bad = [n for n, name in nodes.items()
           if name.startswith("BroadcastExchange") and row_wise_to_corpus(n)]
    return bad, any(is_corpus(n) for n in nodes)


def _executions_after(spark, after_id: int):
    """(execution id, plan description) of every SQL execution with a
    higher id, from the SQL status store (ordered by id)."""
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    out = []
    for i in reversed(range(lst.size())):
        e = lst.apply(i)
        if e.executionId() <= after_id:
            break
        out.append((e.executionId(), e.physicalPlanDescription()))
    return out


def _last_execution_id(spark) -> int:
    lst = spark._jsparkSession.sharedState().statusStore().executionsList()
    return lst.apply(lst.size() - 1).executionId() if lst.size() else -1


@pytest.mark.parametrize("variant", ["default", "links_and_redirects"])
def test_corpus_is_never_a_broadcast_side(spark, tmp_path, variant):
    rows = build_pages_local(n_hosts=3, pages_per_host=10, hot_factor=3)
    corpus_dir = str(tmp_path / "corpus")
    spark.createDataFrame(rows, PAGES).write.parquet(corpus_dir)
    pages = spark.read.parquet(corpus_dir)
    seeds = default_seeds(3)
    kw = {}
    if variant == "links_and_redirects":
        seeds = seeds + ["http://www.site-0.com/moved"]
        kw["redirects"] = spark.createDataFrame(
            [("http://www.site-0.com/moved", 301, "/p/1.html")], REDIRECTS)
    cfg = CrawlConfig(max_depth=3, round_seconds=1.0, max_rounds=2,
                      use_bloom=False,
                      emit_links=variant == "links_and_redirects")
    eng = CrawlEngine(spark, pages, config=cfg,
                      store=SnapshotStore(spark, str(tmp_path / "wh")), **kw)
    before = _last_execution_id(spark)
    eng.run(seeds)
    # the SQL status store is fed by the listener bus: drain it so the
    # final (adaptive) plans of the crawl's last executions are in
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    executions = _executions_after(spark, before)

    scanned = 0
    for eid, desc in executions:
        bad, reads_corpus = _corpus_broadcasts(desc, corpus_dir)
        assert not bad, f"execution {eid} broadcasts the corpus:\n{desc}"
        scanned += reads_corpus
    # the check is not vacuous: two rounds ran and their plans read the
    # corpus
    assert eng.store.last_committed() == 1
    assert eng.visited().count() > 0
    assert scanned > 0
