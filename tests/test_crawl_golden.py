"""Golden crawl-order + seen-set tests (north_rule correctness gate).

The Spark strict-mode crawl must reproduce, visit-for-visit, the pure-Python
oracle of the reference scheduler (operators/reference_oracle.py), on:
  1. mock4 — the reference's own fixture graph (crawler/mock/mockrpc.go:3);
  2. seeded synthetic graphs at small scale, including chunk sizes small
     enough to exercise same-round pickup across keyset chunks.
"""

from __future__ import annotations

import pytest

from obp_search_engine_spark.functions.extract import extract_links
from obp_search_engine_spark.functions.urls import canonicalize_url
from obp_search_engine_spark.operators.crawl import strict_crawl
from obp_search_engine_spark.operators.reference_oracle import reference_crawl
from obp_search_engine_spark.sources.pages import (
    MOCK4_SEED_URL,
    mock4_pages_df,
    mock4_pages_records,
    mock4_url,
    synth_pages_df,
)


def _links_fn(records):
    by_url = {r["url"]: extract_links(r["html"]) for r in records}
    return lambda u: by_url.get(u, [])


def test_mock4_oracle_matches_survey_expectation():
    recs = mock4_pages_records()
    visits, seen = reference_crawl(
        [MOCK4_SEED_URL], _links_fn(recs), rounds=1, canonicalize=canonicalize_url
    )
    # FIXTURES.md §7.1: round-1 order 1,2,3,4; final seen {1,2,3,4}
    assert [u for (_, _, u) in visits] == [mock4_url(n) for n in "1234"]
    assert seen == {mock4_url(n) for n in "1234"}


def test_mock4_spark_matches_oracle(spark):
    recs = mock4_pages_records()
    want_visits, want_seen = reference_crawl(
        [MOCK4_SEED_URL], _links_fn(recs), rounds=2, canonicalize=canonicalize_url
    )
    got_visits, got_seen = strict_crawl(
        spark, mock4_pages_df(spark), [MOCK4_SEED_URL], rounds=2
    )
    assert got_visits == want_visits
    assert got_seen == want_seen


@pytest.mark.parametrize("chunk_size", [3, 7, 100])
def test_synthetic_graph_matches_oracle(spark, chunk_size):
    n = 60
    pages_df = synth_pages_df(spark, n_pages=n, n_hosts=6, seed=42)
    recs = [r.asDict() for r in pages_df.collect()]
    seeds = [recs[0]["url"], recs[7]["url"]]
    want_visits, want_seen = reference_crawl(
        seeds,
        _links_fn(recs),
        rounds=2,
        chunk_size=chunk_size,
        canonicalize=canonicalize_url,
    )
    got_visits, got_seen = strict_crawl(
        spark, pages_df, seeds, rounds=2, chunk_size=chunk_size
    )
    assert got_seen == want_seen
    assert got_visits == want_visits


def test_same_round_pickup_semantics():
    """A discovery sorting after the cursor is crawled in the same round;
    one sorting before waits for the next round (crawler/db/mysql.go:102)."""
    # graph: b -> a and b -> c. seed = b. Round 1 must visit b, then c (a
    # sorts before cursor "b" -> deferred); round 2 visits a, b, c.
    links = {"http://b.x/": ["http://a.x/", "http://c.x/"]}
    visits, seen = reference_crawl(
        ["http://b.x/"], lambda u: links.get(u, []), rounds=2, canonicalize=canonicalize_url
    )
    r1 = [u for (r, _, u) in visits if r == 1]
    r2 = [u for (r, _, u) in visits if r == 2]
    assert r1 == ["http://b.x/", "http://c.x/"]
    assert r2 == ["http://a.x/", "http://b.x/", "http://c.x/"]
    assert seen == {"http://a.x/", "http://b.x/", "http://c.x/"}


def test_extract_documents_inline_store(spark, tmp_path):
    """With extract_documents, the harvest spill IS the per-round documents
    store: text + JVM stats written once, documents df is a pruned view,
    and the spill survives the round's cleanup."""
    import os

    from obp_search_engine_spark.operators.checkpoint import run_crawl
    from obp_search_engine_spark.sources.pages import synth_pages_df

    pages = synth_pages_df(spark, n_pages=300, n_hosts=6, seed=9).cache()
    seed_url = pages.orderBy("url").first().url
    ckpt = str(tmp_path / "ckpt")
    res = run_crawl(
        spark, pages, seeds=[seed_url], rounds=2, ckpt_dir=ckpt,
        extract_documents=True,
    )
    total_docs = sum(r["n_documents"] for r in res["per_round"])
    assert total_docs == res["visited"] > 0
    # the last run round's harvest parquet carries the full documents schema
    last = res["per_round"][-1]["round"]
    h = spark.read.parquet(os.path.join(ckpt, f"round={last}", "harvest"))
    for c in ("url", "text", "fetch_ts", "lang", "n_tokens", "fp", "quality"):
        assert c in h.columns, c
    assert h.filter(h.text.isNull()).count() == 0


def test_crawl_one_on_demand_and_recrawl(spark):
    """S4/S8 on-demand single-node crawl (GET /crawl/{nodeID} ->
    ProcessOneNodeSync): unknown urls are inserted then crawled, discovered
    neighbors dedup against the frontier (INSERT IGNORE), and an
    already-done url is re-crawlable (the reference re-crawls any id it is
    handed) without duplicating frontier rows."""
    from obp_search_engine_spark.operators.crawl import crawl_one, init_frontier
    from obp_search_engine_spark.sources.pages import MOCK4_SEED_URL, mock4_pages_df

    pages = mock4_pages_df(spark)
    f = init_frontier(spark, [MOCK4_SEED_URL])
    r1 = crawl_one(spark, f, pages, MOCK4_SEED_URL)
    f1 = r1.frontier.localCheckpoint(eager=True)
    got1 = {(r.url, r.depth, r.state) for r in f1.select("url", "depth", "state").collect()}
    assert got1 == {
        ("http://n1.example/", 0, "done"),
        ("http://n2.example/", 1, "due"),
        ("http://n3.example/", 1, "due"),
    }
    # re-crawl the same node: same rows, no duplicates, still done
    r2 = crawl_one(spark, f1, pages, MOCK4_SEED_URL, round_no=2)
    f2 = r2.frontier.localCheckpoint(eager=True)
    got2 = {(r.url, r.depth, r.state) for r in f2.select("url", "depth", "state").collect()}
    assert got2 == got1
    assert f2.count() == 3

