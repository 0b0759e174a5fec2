"""The crawl round — the engine's core job.

Two modes:

* **strict** (``strict_crawl``) — reproduces the reference scheduler's
  visit order exactly (keyset chunks, same-round pickup iff id > cursor;
  crawler/crawling/crawler.go:181-240, crawler/db/mysql.go:101-129) for the
  golden fixtures. The dequeue batch is collected to the driver — the
  reference does literally the same SELECT ... LIMIT chunk — while fetch,
  extraction, canonicalization and self-link filtering run as Spark jobs.

* **scale** (``crawl_round`` / ``run_crawl``) — the 10^10-URL design: one
  wave per round, window-rank dequeue per host partition with politeness +
  salting (operators/frontier.py), fetch join against the pages table,
  Arrow-vectorized link extraction, bloom-prefiltered anti-join dedup
  (operators/seen_set.py), frontier merge, snapshot checkpoint + metrics
  per round (operators/checkpoint.py).

The "fetch" is a join against the pages corpus — the simulated-network
analogue of the reference's RPC GetConnections/GetProfile/GetItems
(crawler/rpc/rpc.go:62-147); a left-join miss is an unreachable node
(reference F2, crawler/crawling/crawler.go:86-88).
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.extract import extract_links_udf
from ..functions.urls import canonicalize_udf, canonicalize_url, with_url_keys
from ..schemas import (
    FRONTIER_SCHEMA,
    FRONTIER_STATE_DONE,
    FRONTIER_STATE_DUE,
    FRONTIER_STATE_FAILED,
)
from .frontier import dequeue_wave
from .reference_oracle import reference_crawl

_ROUND_TS0 = "2026-06-01 00:00:00"


def init_frontier(spark: SparkSession, seeds: list[str], depth: int = 0) -> DataFrame:
    """Seed the frontier (reference self-seeding, crawler/main.go:64-83)."""
    canon = sorted({c for s in seeds if (c := canonicalize_url(s))})
    df = spark.createDataFrame([(u,) for u in canon], "url string")
    return (
        with_url_keys(df)
        .withColumn("depth", F.lit(depth))
        .withColumn("discovered_ts", F.lit(_ROUND_TS0).cast("timestamp"))
        .withColumn("last_crawled", F.lit(None).cast("timestamp"))
        .withColumn("state", F.lit(FRONTIER_STATE_DUE))
        .select([f.name for f in FRONTIER_SCHEMA.fields])
    )


def fetch_join(batch: DataFrame, pages: DataFrame, broadcast_batch: bool) -> DataFrame:
    """THE fetch join (J5) — single definition for every caller so the join
    strategy and the reachability contract can't diverge between the
    in-memory path, the spill path, and the benchmark probes.

    html IS NOT NULL: a pages row with no body is an unreachable node
    (reference F2, crawler/crawling/crawler.go:86-88) — it must fall out of
    the fetch join so the merge marks it 'failed', not 'done'. The filter
    pushes to the parquet scan.

    Strategy: small waves broadcast (build-right inner; pages streamed once,
    never shuffled). Otherwise a shuffle-HASH join building on the wave — a
    sort-merge join would SORT the pages side, and KB-sized html rows
    through a sorter is pure memory-bandwidth burn (on a bucketed table it
    also wipes out the exchange-free win). The hash map is wave-sized.
    """
    b = batch.select("url", "depth")
    reachable_pages = pages.select("url", "html").filter(F.col("html").isNotNull())
    if broadcast_batch:
        return reachable_pages.join(F.broadcast(b), "url", "inner")
    return b.hint("shuffle_hash").join(reachable_pages, "url", "inner")


def discover_links(batch: DataFrame, pages: DataFrame, broadcast_batch: bool = True):
    """Fetch join + link extraction + canonicalization + validity filter.

    Returns (harvest, candidates):
      harvest    — (url, src_depth, _links) for wave urls present in pages;
                   html is projected away before any reuse/caching
      candidates — (url, src_depth) canonical outlink targets, self-links
                   dropped (reference F1, crawler/crawling/crawler.go:73-77),
                   deduped within the wave.

    Join strategy: the wave is budget-bounded while pages is the 100 TB
    side, so with broadcast_batch the wave broadcasts into an INNER
    broadcast-hash join (build-right — a left-outer can't broadcast its
    preserved side) and pages is streamed exactly once with only
    (url, html) read. Reachability of wave urls missing from pages is
    recovered small-side in crawl_round. With broadcast_batch=False the
    join is a shuffled-HASH join building on the wave — the fallback when a
    wave outgrows the broadcast budget; at real scale pages is bucketed by
    url so its side needs no exchange (co-located) and, because the build
    side is the wave, no sort either.
    """
    fetched = fetch_join(batch, pages, broadcast_batch)
    # harvest = url + extracted link array. This is what gets reused (and
    # persisted by the caller) — html is extracted from ONCE and never
    # cached: caching the raw-html wave at 10^5-10^6 rows x KBs thrashes
    # executor memory for no benefit.
    harvest = fetched.select(
        F.col("url"),
        F.col("depth").alias("src_depth"),
        extract_links_udf(F.col("html")).alias("_links"),
    )
    return harvest, candidates_from_harvest(harvest)


def candidates_from_harvest(harvest: DataFrame, canonical: bool = False) -> DataFrame:
    """(url, src_depth, _links) -> deduped canonical candidates.

    canonical=True: _links were canonicalized inside the extraction UDF
    (spill path) — the explode/self-filter/groupBy run entirely JVM-side,
    no Python in this job. canonical=False: raw links pay the
    canonicalize_udf here (in-memory path)."""
    links = harvest.select(
        F.col("url").alias("src"),
        F.col("src_depth"),
        F.explode("_links").alias("raw_link"),
    )
    if canonical:
        canon = links.withColumn("link", F.col("raw_link"))
    else:
        canon = links.withColumn("link", canonicalize_udf(F.col("raw_link")))
    return (
        canon.filter(F.col("link").isNotNull() & (F.col("link") != F.col("src")))
        .groupBy(F.col("link").alias("url"))
        .agg(F.min("src_depth").alias("src_depth"))
    )


def new_frontier_rows(candidates: DataFrame, round_ts) -> DataFrame:
    return (
        with_url_keys(candidates)
        .withColumn("depth", (F.col("src_depth") + 1).cast("int"))
        .withColumn("discovered_ts", F.lit(round_ts).cast("timestamp"))
        .withColumn("last_crawled", F.lit(None).cast("timestamp"))
        .withColumn("state", F.lit(FRONTIER_STATE_DUE))
        .select([f.name for f in FRONTIER_SCHEMA.fields])
    )


# ---------------------------------------------------------------------------
# strict fidelity mode
# ---------------------------------------------------------------------------
def strict_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str],
    rounds: int = 1,
    chunk_size: int = 100,
    group_size: int = 10,
):
    """Reference-exact crawl. Returns (visit_log, seen_set).

    visit_log rows: (round, seq, url) — ascending-url order per keyset
    chunk, discoveries visible from the next chunk fetch on (group barriers
    inside a chunk don't alter scheduling: the chunk list is snapshotted
    before processing, exactly as GetNextNodesChan's single SELECT).
    """
    del group_size  # parallelism knob only in the reference; no order effect
    # strict mode is a FIDELITY oracle (driver-side loop, one Spark job per
    # chunk — the reference does the same SELECT). It must never be pointed
    # at a real corpus: the scale path is crawl_round/run_crawl.
    STRICT_MAX_SEEN = 50_000
    seen: set[str] = {c for s in seeds if (c := canonicalize_url(s))}
    visits: list[tuple[int, int, str]] = []
    pages = pages.select("url", "html")
    for r in range(1, rounds + 1):
        cursor = ""
        seq = 0
        while True:
            if len(seen) > STRICT_MAX_SEEN:
                raise RuntimeError(
                    f"strict_crawl is the fixture-fidelity path (per-chunk "
                    f"driver loop); seen-set grew past {STRICT_MAX_SEEN} — "
                    f"use crawl_round/run_crawl for scale"
                )
            chunk = sorted(u for u in seen if u > cursor)[:chunk_size]
            if not chunk:
                break
            for u in chunk:
                visits.append((r, seq, u))
                seq += 1
            batch = spark.createDataFrame(
                [(u, 0) for u in chunk], "url string, depth int"
            )
            _, candidates = discover_links(batch, pages)
            discovered = [row.url for row in candidates.select("url").collect()]
            seen.update(discovered)  # INSERT IGNORE (crawler/db/mysql.go:293)
            cursor = chunk[-1]
    return visits, seen


# ---------------------------------------------------------------------------
# scale mode
# ---------------------------------------------------------------------------
@dataclass
class RoundResult:
    round: int
    frontier: DataFrame
    visited: int
    discovered: int
    frontier_size: int
    wall_sec: float
    host_state: DataFrame | None = None
    metrics: dict = field(default_factory=dict)


def crawl_round(
    spark: SparkSession,
    frontier: DataFrame,
    pages: DataFrame,
    round_no: int,
    per_host_budget: int | None = None,
    host_state: DataFrame | None = None,
    hot_host_salts: int = 1,
    seen_probe=None,
    round_ts=None,
    broadcast_batch: bool = False,
    harvest_dir: str | None = None,
    extract_documents: bool = False,
    wave_override: DataFrame | None = None,
) -> RoundResult:
    """One scale-mode wave. Pure DataFrame plan; caller materializes.

    seen_probe: optional callable(candidates_df, frontier_df) -> new urls df
    (the bloom path, operators/seen_set.py); defaults to exact left-anti.

    harvest_dir: when set, the wave's single pass over pages (link + text
    extraction) SPILLS to parquet and all downstream consumers (candidates,
    reachability, documents) read the spill — html/text never sit on the
    executor heap. This is the scale path; the in-memory persist path
    remains for small fixtures.

    extract_documents: also produce the per-round ``documents`` rows (text
    extraction + JVM text stats — SURVEY.md §7 step 6); returned as
    ``res.documents`` for the caller to write.
    """
    if extract_documents and harvest_dir is None:
        raise ValueError(
            "extract_documents=True requires harvest_dir: text extraction "
            "lives in the spill pass (the in-memory path never produces a "
            "text column, so documents would silently be None)"
        )
    t0 = time.monotonic()
    write_sec = 0.0  # harvest-spill job time (phase telemetry)
    round_ts = round_ts or f"2026-06-01 {round_no // 3600:02d}:{(round_no // 60) % 60:02d}:{round_no % 60:02d}"

    wave = (
        wave_override
        if wave_override is not None
        else dequeue_wave(
            frontier,
            per_host_budget=per_host_budget,
            host_state=host_state,
            now=round_ts,
            hot_host_salts=hot_host_salts,
        )
    )
    persisted = []
    if harvest_dir is not None:
        # spill path extracts links ALREADY CANONICALIZED (one Python pass;
        # the merge job then needs no second ArrowEvalPython stage over the
        # exploded links — see extract_canonical_links_and_text_udf)
        from ..functions.extract import (
            extract_canonical_links_and_text_udf,
            extract_canonical_links_udf,
        )

        fetched = fetch_join(wave, pages, broadcast_batch)
        if extract_documents:
            from ..functions import textstats as ts

            # single Arrow pass over html: links + text together, with the
            # JVM text stats computed IN the same pass — the spill file IS
            # the round's documents store (plus _links/src_depth), so text
            # is written exactly once per round instead of harvest +
            # documents copies
            harvested = fetched.select(
                "url",
                F.col("depth").alias("src_depth"),
                extract_canonical_links_and_text_udf(F.col("html")).alias("_h"),
            ).select(
                "url", "src_depth",
                F.col("_h.links").alias("_links"),
                F.col("_h.text").alias("text"),
                F.lit(round_ts).cast("timestamp").alias("fetch_ts"),
                ts.lang_id_col(F.col("_h.text")).alias("lang"),
                ts.token_count_col(F.col("_h.text")).alias("n_tokens"),
                ts.fingerprint_col(F.col("_h.text")).alias("fp"),
                ts.quality_score_col(F.col("_h.text")).alias("quality"),
            )
        else:
            harvested = fetched.select(
                "url",
                F.col("depth").alias("src_depth"),
                extract_canonical_links_udf(F.col("html")).alias("_links"),
            )
        t_w = time.monotonic()
        harvested.write.mode("overwrite").parquet(harvest_dir)
        write_sec = time.monotonic() - t_w
        harvest = spark.read.parquet(harvest_dir)
        candidates = candidates_from_harvest(harvest, canonical=True)
    else:
        harvest, candidates = discover_links(
            wave, pages, broadcast_batch=broadcast_batch
        )
        # the harvest feeds two consumers (candidates + reachability);
        # persist so the pages scan + extraction happen once per round. It
        # holds only urls + link arrays — never html.
        harvest = harvest.persist()
        persisted.append(harvest)

    documents = None
    documents_inline = False
    if extract_documents and "text" in harvest.columns:
        # the spill already carries the stats columns: documents is a
        # column-pruned VIEW of the written file, not a second copy
        documents = harvest.select(
            "url", "fetch_ts", "text", "lang", "n_tokens", "fp", "quality"
        )
        documents_inline = harvest_dir is not None

    # dedup: candidates not already in the frontier (J4 anti-join).
    # shuffle-hash hint: the anti-join's build side is the FRONTIER (the big
    # side at steady state) — a hash map of longs beats sort-merge sorting
    # both sides every round.
    if seen_probe is not None:
        fresh = seen_probe(candidates, frontier)
    else:
        fresh = candidates.join(
            frontier.select("url_hash")
            .withColumnRenamed("url_hash", "_seen_hash")
            .hint("shuffle_hash"),
            F.xxhash64(F.col("url")) == F.col("_seen_hash"),
            "left_anti",
        )
    new_rows = new_frontier_rows(fresh, round_ts)
    if host_state is not None and "robots_rules" in host_state.columns:
        from ..functions.robots import filter_robots_allowed

        # disallowed urls never enter the frontier (cheaper than filtering
        # every dequeue); hosts without rules pass through
        new_rows = filter_robots_allowed(new_rows, host_state)

    # frontier merge: visited -> done/failed, append discoveries. A wave url
    # absent from pages (or with null html) is unreachable (reference F2,
    # crawler/crawling/crawler.go:86-88) -> state 'failed'. Both sides of
    # this recovery join are wave-sized.
    reached = harvest.select("url", F.lit(True).alias("_r"))
    visited_mark = (
        wave.select("url")
        .join(F.broadcast(reached) if broadcast_batch else reached, "url", "left")
        .select("url", F.coalesce(F.col("_r"), F.lit(False)).alias("_reachable"))
    )
    # broadcast the wave-sized mark so the frontier-side update (the huge
    # side) never shuffles; in shuffle mode, hash-build on the mark so the
    # frontier is never sorted
    if broadcast_batch:
        visited_mark = F.broadcast(visited_mark)
    else:
        visited_mark = visited_mark.hint("shuffle_hash")
    updated = (
        frontier.join(visited_mark, "url", "left")
        .withColumn(
            "state",
            F.when(F.col("_reachable").isNull(), F.col("state"))
            .when(F.col("_reachable"), F.lit(FRONTIER_STATE_DONE))
            .otherwise(F.lit(FRONTIER_STATE_FAILED)),
        )
        .withColumn(
            "last_crawled",
            F.when(
                F.col("_reachable").isNotNull(), F.lit(round_ts).cast("timestamp")
            ).otherwise(F.col("last_crawled")),
        )
        .drop("_reachable")
    )
    merged = updated.unionByName(new_rows)

    return RoundResult(
        round=round_no,
        frontier=merged,
        visited=-1,  # caller fills after materialization
        discovered=-1,
        frontier_size=-1,
        wall_sec=time.monotonic() - t0,
        host_state=host_state,
        metrics={
            "persisted": persisted,
            "documents": documents,
            "documents_inline": documents_inline,
            "write_sec": write_sec,
        },
    )


def crawl_one(
    spark: SparkSession,
    frontier: DataFrame,
    pages: DataFrame,
    url: str,
    round_no: int = 1,
    round_ts=None,
    broadcast_batch: bool = True,
) -> RoundResult:
    """On-demand single-node crawl — the reference's ``GET /crawl/{nodeID}``
    endpoint (crawler/server/server.go:26-40 → ProcessOneNodeSync,
    crawler/crawling/crawler.go:150-174): crawl exactly ONE url through the
    same fetch/extract/dedup/merge machinery, bypassing the frontier's
    dequeue priorities. An unknown url is first inserted (the reference
    crawls any id it is handed); an already-crawled url is re-crawled.
    Always broadcasts by default — the wave is one row.
    """
    canon = canonicalize_url(url) or url
    one = init_frontier(spark, [canon])
    seeded = frontier.unionByName(
        one.join(frontier.select("url"), "url", "left_anti")
    )
    wave = seeded.filter(F.col("url") == F.lit(canon))
    return crawl_round(
        spark,
        seeded,
        pages,
        round_no=round_no,
        round_ts=round_ts,
        broadcast_batch=broadcast_batch,
        wave_override=wave,
    )


__all__ = [
    "init_frontier",
    "fetch_join",
    "discover_links",
    "new_frontier_rows",
    "strict_crawl",
    "crawl_round",
    "crawl_one",
    "RoundResult",
    "reference_crawl",
]


def trap_hosts(
    df: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    min_pages: int = 5,
    dup_threshold: float = 0.5,
) -> DataFrame:
    """Crawl-trap detection: hosts whose pages are mostly byte-duplicate
    content behind distinct URLs (calendar loops, session-id explosions,
    faceted-search mazes). A production frontier feeds these back as
    per-host budget cuts — the skew/politeness machinery's third input
    next to robots delay and hot-host salting.

    Per host: page count, distinct md5 content fingerprints, and
    ``dup_ratio = 1 - distinct/pages`` (rounded to 6 so the DuckDB oracle
    compares exactly); ``is_trap`` flags hosts with >= ``min_pages`` pages
    and dup_ratio >= ``dup_threshold``.

    100 TB shape: fingerprints reduce each page to 32 bytes map-side, one
    shuffle on host with partial aggregation; no joins, no Python. The
    trap list is tiny (hosts, not pages) and broadcast-joins back into
    dequeue_wave budgets.
    """
    fp = F.md5(F.lower(F.trim(F.col(text_col))))
    agg = (
        df.groupBy(F.col(host_col).alias("host"))
        .agg(
            F.count("*").alias("n_pages"),
            F.countDistinct(fp).alias("n_distinct"),
        )
        .select(
            "host",
            "n_pages",
            "n_distinct",
            F.round(1.0 - F.col("n_distinct") / F.col("n_pages"), 6).alias(
                "dup_ratio"
            ),
        )
    )
    return agg.select(
        "*",
        (
            (F.col("n_pages") >= F.lit(min_pages))
            & (F.col("dup_ratio") >= F.lit(dup_threshold))
        ).alias("is_trap"),
    )
