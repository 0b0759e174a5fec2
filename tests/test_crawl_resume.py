"""Crash and resume semantics of ``checkpoint.run_crawl`` in its durable
shape: bloom seen-set, robots ``host_state``, inline documents store and a
checkpoint directory.

A crawl stopped after a committed round, or by a failure inside a round's
background persist, and then resumed must end with the frontier of an
uninterrupted crawl. LATEST must never name a round whose snapshots,
manifests and metrics file are not all written, and the background writer
thread must not outlive the call.
"""

from __future__ import annotations

import os
import threading

import pytest
from pyspark.sql import functions as F

from obp_search_engine_spark.functions.robots import crawl_delay_col, parse_robots
from obp_search_engine_spark.functions.urls import host_hash_col
from obp_search_engine_spark.operators import checkpoint
from obp_search_engine_spark.schemas import ROUND_METRICS_SCHEMA
from obp_search_engine_spark.sources.pages import synth_pages_df

N_HOSTS = 8


def _host_state(spark):
    """One parsed robots rulebook per host: a disallowed id prefix and a
    crawl delay of 0, 1 or 2 logical seconds (rounds are 1 s apart)."""
    rows = [
        (
            f"host{h}.example",
            parse_robots(f"User-agent: *\nDisallow: /p/{1 + h % 9}\nCrawl-delay: {h % 3}\n"),
        )
        for h in range(N_HOSTS)
    ]
    return spark.createDataFrame(rows, "host string, robots_rules string").select(
        "host",
        host_hash_col(F.col("host")).alias("host_hash"),
        crawl_delay_col(F.col("robots_rules")).alias("crawl_delay"),
        F.lit(None).cast("timestamp").alias("next_allowed_ts"),
        "robots_rules",
    )


@pytest.fixture(scope="module")
def corpus(spark):
    pages = synth_pages_df(spark, n_pages=400, n_hosts=N_HOSTS, seed=11).cache()
    return pages, pages.orderBy("url").first().url, _host_state(spark).cache()


def _crawl(spark, corpus, ckpt, rounds, resume=False):
    pages, seed_url, host_state = corpus
    return checkpoint.run_crawl(
        spark,
        pages,
        seeds=None if resume else [seed_url],
        host_state=None if resume else host_state,
        rounds=rounds,
        ckpt_dir=ckpt,
        resume=resume,
        use_bloom_seen=True,
        seen_shards=8,
        extract_documents=True,
    )


def _rows(res) -> set:
    return {
        (r.url, r.depth, r.state)
        for r in res["frontier"].select("url", "depth", "state").collect()
    }


def _metrics_rounds(spark, ckpt) -> list[int]:
    return sorted(r["round"] for r in spark.read.parquet(os.path.join(ckpt, "metrics")).collect())


def _no_writer_thread() -> bool:
    return not [t for t in threading.enumerate() if t.name.startswith("snap")]


@pytest.fixture(scope="module")
def uninterrupted(spark, corpus, tmp_path_factory):
    ckpt = str(tmp_path_factory.mktemp("full"))
    res = _crawl(spark, corpus, ckpt, rounds=4)
    assert [r["round"] for r in res["per_round"]] == [1, 2, 3, 4]
    assert checkpoint.latest_round(ckpt) == 4
    return _rows(res)


def test_durable_resume_equals_uninterrupted(spark, corpus, uninterrupted, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    first = _crawl(spark, corpus, ckpt, rounds=2)
    assert checkpoint.latest_round(ckpt) == 2
    resumed = _crawl(spark, corpus, ckpt, rounds=2, resume=True)
    assert checkpoint.latest_round(ckpt) == 4
    assert _rows(resumed) == uninterrupted

    # the metrics store: exactly one row per committed round, with the
    # declared names and types, carrying the rows run_crawl returned
    m = spark.read.parquet(os.path.join(ckpt, "metrics"))
    assert [(f.name, f.dataType) for f in m.schema] == [
        (f.name, f.dataType) for f in ROUND_METRICS_SCHEMA.fields
    ]
    got = sorted((r["round"], r["visited"], r["frontier_size"]) for r in m.collect())
    want = [
        (r["round"], r["visited"], r["frontier_size"])
        for r in first["per_round"] + resumed["per_round"]
    ]
    assert got == want
    assert [g[0] for g in got] == [1, 2, 3, 4]
    assert _no_writer_thread()


def test_round0_snapshot_failure_commits_nothing(spark, corpus, tmp_path, monkeypatch):
    """The round-0 snapshot runs on the background writer; its failure must
    still fail the call, leave LATEST unwritten and stop the writer."""
    real = checkpoint.write_snapshot

    def failing(df, path, shard_col="host_hash"):
        if path.endswith(os.path.join("round=0", "frontier")):
            raise OSError("injected: round-0 frontier snapshot")
        return real(df, path, shard_col)

    monkeypatch.setattr(checkpoint, "write_snapshot", failing)
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(OSError, match="injected"):
        _crawl(spark, corpus, ckpt, rounds=2)
    assert checkpoint.latest_round(ckpt) is None
    assert _no_writer_thread()


def test_metrics_failure_keeps_last_commit_and_resumes(
    spark, corpus, uninterrupted, tmp_path, monkeypatch
):
    """A failed round-2 metrics write stops the crawl at LATEST == 1; the
    resume redoes round 2 on and ends equal to the uninterrupted crawl."""
    real = checkpoint.append_metrics

    def failing(ckpt_, row):
        if row["round"] == 2:
            raise OSError("injected: round-2 metrics")
        return real(ckpt_, row)

    monkeypatch.setattr(checkpoint, "append_metrics", failing)
    ckpt = str(tmp_path / "ckpt")
    with pytest.raises(OSError, match="injected"):
        _crawl(spark, corpus, ckpt, rounds=4)
    assert checkpoint.latest_round(ckpt) == 1
    assert _no_writer_thread()
    assert _metrics_rounds(spark, ckpt) == [1]

    monkeypatch.undo()
    resumed = _crawl(spark, corpus, ckpt, rounds=3, resume=True)
    assert checkpoint.latest_round(ckpt) == 4
    assert _rows(resumed) == uninterrupted
    assert _metrics_rounds(spark, ckpt) == [1, 2, 3, 4]
