"""Snapshot checkpointing + the scale-mode crawl runner.

North_rule: runs resumable mid-crawl with per-partition lineage + metrics.
Each round writes immutable parquet snapshots (Iceberg-style: new files +
a manifest pointer, never in-place mutation):

    <ckpt>/round=<k>/frontier/   partitioned by shard = pmod(host_hash, N)
    <ckpt>/round=<k>/host_state/
    <ckpt>/metrics/              one zstd parquet file per round, one row
                                 each, written by pyarrow (A7 analogue:
                                 crawler/crawling/crawler.go:233-238)
    <ckpt>/LATEST                text file with the last committed round

Resume = read LATEST, reload that round's snapshots, continue. The parquet
write doubles as the lineage truncation point, so iterative rounds don't
accumulate an unbounded plan.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
import uuid
from concurrent.futures import Future, ThreadPoolExecutor

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..functions.urls import canonicalize_url
from ..schemas import FRONTIER_STATE_DUE, ROUND_METRICS_SCHEMA
from .crawl import crawl_round, init_frontier

N_FRONTIER_SHARDS = 32


def _round_dir(ckpt: str, k: int) -> str:
    return os.path.join(ckpt, f"round={k}")


def write_snapshot(df: DataFrame, path: str, shard_col: str | None = "host_hash") -> None:
    out = df
    if shard_col is not None and shard_col in df.columns:
        out = df.withColumn("shard", F.pmod(F.col(shard_col), F.lit(N_FRONTIER_SHARDS)))
        # repartition ON the partition column first: without it a dynamic
        # partitionBy write fans out to tasks x shards files (1024 at 32
        # cores — measured ANTI-scaling in tools/phase_scaling.py: 5.8 s at
        # 8c -> 9.1 s at 32c, small-file churn + a serial driver-side
        # manifest over every footer). One shuffle of slim frontier rows
        # buys exactly one file per shard at any core count.
        out = out.repartition(N_FRONTIER_SHARDS, "shard")
        out.write.mode("overwrite").partitionBy("shard").parquet(path)
    else:
        out.write.mode("overwrite").parquet(path)
    write_manifest(path)


def write_manifest(path: str) -> dict:
    """Iceberg-style per-partition lineage (north_rule): after the immutable
    snapshot write, record every data file's shard, row count and byte size
    in ``_MANIFEST.json`` next to the data. Counts come from parquet FOOTERS
    read driver-side — no Spark job, no data scan (exactly how Iceberg
    manifests carry per-file stats). The leading underscore keeps the file
    invisible to Spark's directory reader."""
    import re

    import pyarrow.parquet as pq

    entries = []
    for root, _dirs, files in os.walk(path):
        m = re.search(r"shard=(\d+)", root)
        shard = int(m.group(1)) if m else None
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            fp = os.path.join(root, fn)
            entries.append(
                {
                    "file": os.path.relpath(fp, path),
                    "shard": shard,
                    "rows": pq.read_metadata(fp).num_rows,
                    "bytes": os.path.getsize(fp),
                }
            )
    entries.sort(key=lambda e: e["file"])
    shards: dict = {}
    for e in entries:
        if e["shard"] is not None:
            s = shards.setdefault(e["shard"], {"rows": 0, "bytes": 0, "n_files": 0})
            s["rows"] += e["rows"]
            s["bytes"] += e["bytes"]
            s["n_files"] += 1
    man = {
        "n_files": len(entries),
        "n_rows": sum(e["rows"] for e in entries),
        "n_bytes": sum(e["bytes"] for e in entries),
        "per_shard": {str(k): shards[k] for k in sorted(shards)},
        "files": entries,
    }
    with open(os.path.join(path, "_MANIFEST.json"), "w") as f:
        json.dump(man, f)
    return man


def read_manifest(path: str) -> dict | None:
    p = os.path.join(path, "_MANIFEST.json")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def commit_round(ckpt: str, k: int) -> None:
    tmp = os.path.join(ckpt, "LATEST.tmp")
    with open(tmp, "w") as f:
        f.write(str(k))
    os.replace(tmp, os.path.join(ckpt, "LATEST"))


def latest_round(ckpt: str) -> int | None:
    p = os.path.join(ckpt, "LATEST")
    if not os.path.exists(p):
        return None
    with open(p) as f:
        raw = f.read().strip()
    try:
        return int(raw)
    except ValueError as e:
        raise ValueError(
            f"corrupt checkpoint manifest {p!r}: expected a round number, "
            f"got {raw!r}"
        ) from e


def load_frontier(spark: SparkSession, ckpt: str, k: int) -> DataFrame:
    return spark.read.parquet(os.path.join(_round_dir(ckpt, k), "frontier")).drop("shard")


def load_host_state(spark: SparkSession, ckpt: str, k: int) -> DataFrame | None:
    """Reload the politeness/robots host_state snapshot committed at round k
    (None when the run never carried host_state). Mirrors load_frontier so a
    resume restores crawl-delay clocks instead of silently dropping them."""
    path = os.path.join(_round_dir(ckpt, k), "host_state")
    if not os.path.exists(path):
        return None
    return spark.read.parquet(path)


def append_metrics(ckpt: str, row: dict) -> None:
    """Write one round's metrics row as its own zstd parquet file in
    ``<ckpt>/metrics/``, driver-side with pyarrow (no Spark job), with the
    names, types and nullability of ROUND_METRICS_SCHEMA. The file is named
    after its round, so a resume that redoes an uncommitted round replaces
    that round's row instead of adding a second one. It is written under a
    hidden temp name (Spark's reader skips dot-files) and renamed into
    place, so a reader never sees a partial file."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    out = os.path.join(ckpt, "metrics")
    os.makedirs(out, exist_ok=True)
    table = pa.Table.from_pylist([row], schema=to_arrow_schema(ROUND_METRICS_SCHEMA))
    tmp = os.path.join(out, f".{uuid.uuid4().hex}.tmp")
    pq.write_table(table, tmp, compression="zstd")
    os.replace(tmp, os.path.join(out, f"round-{row['round']:08d}.parquet"))


def run_crawl(
    spark: SparkSession,
    pages: DataFrame,
    seeds: list[str] | None = None,
    rounds: int = 3,
    ckpt_dir: str | None = None,
    per_host_budget: int | None = None,
    hot_host_salts: int = 1,
    seen_probe=None,
    use_bloom_seen: bool | str = False,
    bloom_auto_threshold: int = 5_000_000,
    seen_shards: int = N_FRONTIER_SHARDS,
    resume: bool = False,
    stop_when_exhausted: bool = True,
    broadcast_batch: bool | str = "auto",
    host_state: DataFrame | None = None,
    broadcast_threshold: int = 100_000,
    spill_harvest: bool = False,
    extract_documents: bool = False,
    discard_harvest: bool = False,
) -> dict:
    """Run scale-mode crawl rounds; returns summary metrics.

    With ckpt_dir set, every round snapshots frontier + metrics and commits
    LATEST; ``resume=True`` continues from the last committed round (seeds
    ignored). Without ckpt_dir, lineage is truncated via localCheckpoint.
    ``discard_harvest=True`` (benchmarks) deletes the /tmp documents spill
    before returning; otherwise its path is returned as ``harvest_base``.
    """
    if resume:
        assert ckpt_dir, "resume requires ckpt_dir"
        start_round = latest_round(ckpt_dir)
        assert start_round is not None, "nothing to resume from"
        frontier = load_frontier(spark, ckpt_dir, start_round)
        if host_state is None:
            host_state = load_host_state(spark, ckpt_dir, start_round)
    else:
        assert seeds, "fresh run requires seeds"
        start_round = 0
        frontier = init_frontier(spark, seeds)
    last_round = start_round + rounds

    # --- async round machinery -------------------------------------------
    # Work that no later step of the round waits for runs on ONE background
    # writer thread, so the main thread goes straight on to the next round's
    # dequeue/fetch/extract. The writer's queue holds, in order:
    #   1. the bloom seen-set build (bloom path), resolved lazily: the probe
    #      first needs it after round 1's harvest write;
    #   2. the round-0 frontier + host_state snapshots and the LATEST=0
    #      commit (fresh leg with ckpt_dir);
    #   3. per round: the bloom update, then the durability tail — frontier
    #      + host_state snapshots over the memory-backed checkpointed frames
    #      (no recompute), the pyarrow metrics file, the LATEST commit.
    # Each round joins the previous persist before submitting its own, so at
    # most one is in flight, its errors surface, and round k-1 commits
    # before round k; LATEST advances only after that round's files and
    # manifests are fully written. The run returns only after the drain.
    # Round stats ride the lineage-truncating localCheckpoint as an
    # Observation, so no round runs a separate stats job.
    writer = ThreadPoolExecutor(max_workers=1, thread_name_prefix="snap")
    pending_write: Future | None = None

    class _SeenHolder:
        """seen_df handle that transparently resolves an in-flight async
        build or update (single producer: the round loop; single consumer:
        the probe inside the next round's plan build)."""

        def __init__(self):
            self.df = None
            self.future: Future | None = None

        def get(self):
            if self.future is not None:
                self.df = self.future.result()
                self.future = None
            return self.df

    seen = _SeenHolder()

    def _activate_bloom():
        # the 10^10-URL dedup path (north_rule): per-shard bloom blobs keyed
        # by pmod(host_hash, n_shards). The probe pre-filters candidates to
        # definitely-new + maybe-seen, and only the maybe residue pays the
        # exact anti-join against the frontier. Blobs are built from the
        # frontier on activation and updated incrementally with each
        # round's discoveries (tiny: n_shards rows of ~1 MB).
        nonlocal seen_probe
        from .seen_set import build_seen_set, seen_probe_factory

        keys = frontier.select("url_hash", "host_hash")
        seen.future = writer.submit(
            lambda: build_seen_set(spark, keys, n_shards=seen_shards).localCheckpoint(
                eager=True
            )
        )
        seen_probe = seen_probe_factory(seen.get, n_shards=seen_shards)

    def _persist_round(k, fr, hs, row=None):
        write_snapshot(fr, os.path.join(_round_dir(ckpt_dir, k), "frontier"))
        if hs is not None:
            write_snapshot(
                hs, os.path.join(_round_dir(ckpt_dir, k), "host_state"), shard_col=None
            )
        if row is not None:
            append_metrics(ckpt_dir, {f.name: row[f.name] for f in ROUND_METRICS_SCHEMA.fields})
        commit_round(ckpt_dir, k)

    totals = {"visited": 0, "discovered": 0, "rounds": 0, "wall_sec": 0.0}
    per_round = []
    tmp_harvest_base = None  # /tmp spill base when no ckpt_dir owns it
    try:
        # 'auto' = adaptive dedup escalation, same logic as join selection:
        # the exact anti-join re-shuffles the FRONTIER's url_hash column every
        # round (8 B/row — 80 GB/round at 10^10), while the bloom probe's cost
        # rides the CANDIDATES plus fixed-size shard blobs. Below the
        # threshold the long-key shuffle is cheaper than the Arrow probe's
        # fixed tax; past it the blooms win and are built once from the live
        # frontier, then updated incrementally.
        auto_bloom = use_bloom_seen == "auto"
        if use_bloom_seen is True and seen_probe is None:
            _activate_bloom()
        if resume:
            got = frontier.agg(
                F.count("*").alias("n"),
                F.sum((F.col("state") == FRONTIER_STATE_DUE).cast("long")).alias("due"),
            ).first()
            prev_size, due = int(got["n"]), int(got["due"] or 0)
        else:
            # init_frontier holds exactly the distinct canonical seeds, all due
            prev_size = due = len({c for s in seeds if (c := canonicalize_url(s))})
            if ckpt_dir:
                pending_write = writer.submit(_persist_round, 0, frontier, host_state)
        for k in range(start_round + 1, last_round + 1):
            t0 = time.monotonic()
            if stop_when_exhausted and due == 0:
                break
            if auto_bloom and seen_probe is None and prev_size > bloom_auto_threshold:
                _activate_bloom()
            round_ts = f"2026-06-01 {k // 3600:02d}:{(k // 60) % 60:02d}:{k % 60:02d}"
            # broadcast is a DRIVER-serial cost: right for small waves, wrong
            # for big ones (a 500k-row wave serializes tens of MB through one
            # thread). 'auto' flips to the shuffle join past the threshold.
            bcast = (
                due <= broadcast_threshold if broadcast_batch == "auto" else broadcast_batch
            )
            harvest_dir = None
            if spill_harvest or extract_documents:
                base = ckpt_dir or os.path.join(
                    "/tmp", f"crawl_harvest_{spark.sparkContext.applicationId}"
                )
                if not ckpt_dir:
                    tmp_harvest_base = base
                harvest_dir = os.path.join(_round_dir(base, k), "harvest")
            res = crawl_round(
                spark,
                frontier,
                pages,
                round_no=k,
                per_host_budget=per_host_budget,
                host_state=host_state,
                hot_host_salts=hot_host_salts,
                seen_probe=seen_probe,
                round_ts=round_ts,
                broadcast_batch=bcast,
                harvest_dir=harvest_dir,
                extract_documents=extract_documents,
            )
            docs = res.metrics.get("documents")
            n_docs = 0
            keep_harvest = False
            if docs is not None:
                # documents exist only on the harvest-spill path (crawl_round
                # emits them iff 'text' is in the spilled harvest), so the
                # spill already IS the documents store — text + stats written
                # once, in the extraction pass; the count reads parquet footers
                # only. Saves a full text write+read per round vs copying into
                # a separate documents dir.
                assert res.metrics.get("documents_inline"), "documents imply spill"
                n_docs = docs.count()
                keep_harvest = True
            # ONE job materializes the merged frontier in memory AND counts
            # size/due/visited through the Observation
            obs = Observation(f"frontier_stats_r{k}")
            observed = res.frontier.observe(
                obs,
                F.count(F.lit(1)).alias("n"),
                F.sum((F.col("state") == FRONTIER_STATE_DUE).cast("long")).alias("due"),
                F.sum(
                    (F.col("last_crawled") == F.lit(round_ts).cast("timestamp")).cast("long")
                ).alias("vis"),
            )
            t_ck = time.monotonic()
            frontier = observed.localCheckpoint(eager=True)
            merge_sec = time.monotonic() - t_ck
            got = obs.get
            size, due, visited = int(got["n"]), int(got["due"] or 0), int(got["vis"] or 0)
            # the update is for the NEXT round's probe: after this call's last
            # round (or an exhausted frontier) nothing reads it, and a resume
            # rebuilds the blooms from the frontier snapshot
            probed_again = k < last_round and not (stop_when_exhausted and due == 0)
            if probed_again and (seen.df is not None or seen.future is not None):
                from .seen_set import update_seen_set

                new_keys = frontier.filter(
                    F.col("discovered_ts") == F.lit(round_ts).cast("timestamp")
                ).select("url_hash", "host_hash")
                # resolve the previous build/update (main thread only — the
                # background thread never touches the holder), then overlap
                # this round's blob update with the next round's big jobs
                prev_seen = seen.get()
                seen.future = writer.submit(
                    lambda prev=prev_seen, nk=new_keys: update_seen_set(
                        prev, nk, n_shards=seen_shards
                    ).localCheckpoint(eager=True)
                )
            for df in res.metrics.get("persisted", []):
                df.unpersist()
            if harvest_dir is not None and not keep_harvest:
                # a links-only harvest spill is a per-round intermediate: once
                # the frontier snapshot is written it is dead weight (a heavy
                # crawl leaves ~GBs per round otherwise). When it doubles as
                # the documents store (documents_inline) it is OUTPUT and stays.
                shutil.rmtree(harvest_dir, ignore_errors=True)
            if host_state is not None:
                from .frontier import update_host_clock

                visited_hosts = frontier.filter(
                    F.col("last_crawled") == F.lit(round_ts).cast("timestamp")
                ).select("host")
                host_state = update_host_clock(
                    host_state, visited_hosts, round_ts
                ).localCheckpoint(eager=True)
            wall = time.monotonic() - t0
            row = {
                "round": k,
                "n_documents": n_docs,
                "visited": int(visited),
                "discovered": int(size - prev_size),
                "frontier_size": int(size),
                "wall_sec": float(wall),
                "urls_per_sec": float(visited / wall if wall > 0 else 0.0),
                "n_partitions": frontier.rdd.getNumPartitions(),
                # phase telemetry (not in ROUND_METRICS_SCHEMA — stripped
                # before append_metrics): where the round wall actually went
                "write_sec": round(float(res.metrics.get("write_sec") or 0.0), 3),
                "merge_sec": round(merge_sec, 3),
            }
            per_round.append(row)
            if ckpt_dir:
                if pending_write is not None:
                    pending_write.result()
                pending_write = writer.submit(_persist_round, k, frontier, host_state, row)
            totals["visited"] += row["visited"]
            totals["discovered"] += row["discovered"]
            totals["rounds"] += 1
            totals["wall_sec"] += wall
            prev_size = size
    finally:
        # drain the background writer: on clean exit this is the last
        # round's durability tail (counted into its wall below) and a
        # failed write must surface; on an exceptional exit the original
        # loop error stays the root cause (a failed pending write is
        # swallowed here — it was either already raised at the in-loop
        # join or is secondary to the in-flight exception) and shutdown
        # ALWAYS runs so the snap thread never leaks
        t_drain = time.monotonic()
        exc_in_flight = sys.exc_info()[0] is not None
        try:
            # the pending persist and any in-flight seen-set build/update
            # must surface: shutdown below waits for them but discards
            # their exceptions
            waits = [seen.get]
            if pending_write is not None:
                waits.insert(0, pending_write.result)
            for wait in waits:
                try:
                    wait()
                except Exception:
                    if not exc_in_flight:
                        raise
        finally:
            writer.shutdown(wait=True)
        drain = time.monotonic() - t_drain
    if per_round and drain > 0:
        last = per_round[-1]
        last["wall_sec"] = float(last["wall_sec"] + drain)
        last["urls_per_sec"] = float(
            last["visited"] / last["wall_sec"] if last["wall_sec"] else 0.0
        )
        totals["wall_sec"] += drain
    totals["frontier_size"] = prev_size
    totals["urls_per_sec"] = (
        totals["visited"] / totals["wall_sec"] if totals["wall_sec"] else 0.0
    )
    totals["per_round"] = per_round
    totals["frontier"] = frontier
    # the documents spill under /tmp (no ckpt_dir) is OUTPUT for a real
    # caller but 1.7-2.9 GB of dead weight per benchmark run (a day of
    # scaling pairs stranded ~60 GB before this existed). Benchmarks pass
    # discard_harvest=True — the frontier is localCheckpoint'ed (memory-
    # backed) by this point, so nothing still reads the spill; other
    # callers get the path in harvest_base and own the cleanup.
    if discard_harvest and tmp_harvest_base:
        shutil.rmtree(tmp_harvest_base, ignore_errors=True)
        tmp_harvest_base = None
    totals["harvest_base"] = tmp_harvest_base
    return totals
