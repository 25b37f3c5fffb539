#!/usr/bin/env python
"""Small-core nondeterminism forensic across every operator that
derives state from physical partitioning or batch boundaries
(VERDICT r8 #2).

The round-8 lesson: the distributed window returned a DIFFERENT wrong
answer on every run at 4 cores while 32-core evidence (two rounds of
green sweeps and benches) hid the bug completely — physical-layout-
derived state must be audited at the config that exposes layout
variation, not the config that masks it.  This tool generalizes the
``tools/pid_forensic.py`` discipline to the three remaining operator
families the r8 verdict called out:

* **connected_components** (``operators/dedup.py``) — localCheckpoint
  lineage truncation + per-round shuffle_hash joins; the audit plants a
  known component structure, runs the operator N times at 4 cores, and
  checksums (node, component) against the by-construction truth.
* **mapInPandas per-batch partial top-k** (``operators/similarity.py``
  ``cosine_topk_vectorized``) — each Arrow batch emits a partial top-k,
  so the OUTPUT ROWS seen by the final merge window depend on batch
  boundaries.  The claimed invariant: the per-batch selection uses the
  same total order (rounded sim desc, id asc) as the final ranking, so
  the merged top-k is batch-shape-independent.  The audit runs the
  operator under N deliberately different physical shapes (partition
  counts × Arrow batch sizes) and checksums (query, rank, neighbor)
  against an exact driver-side numpy oracle.
* **streaming stateful ops** (``streaming/jobs.py``) — watermarked
  dropDuplicatesWithinWatermark and the foreachBatch additive rollup,
  driven through chunked file arrivals with one cold checkpoint restart
  per chunk, N independent fresh-checkpoint runs, each checksummed
  against the batch oracle over the same files.

Every audit runs under the EXPOSING config (4 cores, shuffle=8 — the
exact shape that surfaced the r8 corruption) and reports the number of
distinct checksums observed (expect 1) plus whether that checksum
matches the oracle.  Exit code is non-zero on any divergence so the
harness can gate.

Usage:
    SPARK_GRAFT_CPUS=4 SPARK_GRAFT_SHUFFLE=8 \
        python tools/nondeterminism_forensic.py [--runs 3] \
            [--cc-nodes 300000] [--knn-rows 200000] [--stream-events 200000]

Emits one JSON object (committed as FORENSIC_r09.json).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z


def _audit_connected_components(spark, F, runs: int, n_nodes: int) -> dict:
    """Planted star/chain clusters of 20 consecutive ids; truth label is
    the cluster's lowest id, by construction.  ~15% extra within-cluster
    edges (xxhash-selected, no RNG) give duplicate paths so the
    large-star/small-star alternation does real merging work."""
    from gmail_etl_spark.operators.dedup import connected_components

    size = 20
    base = spark.range(n_nodes).select(F.col("id"))
    chains = base.filter(F.pmod(F.col("id") + 1, F.lit(size)) != 0).select(
        F.col("id").alias("u"), (F.col("id") + 1).alias("v")
    )
    extras = base.filter(
        (F.pmod(F.col("id"), F.lit(size)) != 0)
        & (F.pmod(F.xxhash64("id"), F.lit(100)) < 15)
    ).select(
        (F.col("id") - F.pmod(F.col("id"), F.lit(size))).alias("u"),
        F.col("id").alias("v"),
    )
    edges = chains.union(extras).repartition(8)

    truth_df = base.select(
        F.col("id").alias("node"),
        (F.col("id") - F.pmod(F.col("id"), F.lit(size))).alias("component"),
    )
    truth = truth_df.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("node", "component")).alias("x"),
    ).collect()[0]
    truth_chk = (truth["n"], truth["x"])

    checksums, walls = [], []
    for _ in range(runs):
        t0 = time.perf_counter()
        cc = connected_components(edges, "u", "v")
        r = cc.agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("node", "component")).alias("x"),
        ).collect()[0]
        walls.append(round(time.perf_counter() - t0, 2))
        checksums.append((r["n"], r["x"]))
    return {
        "operator": "connected_components",
        "nodes": n_nodes,
        "edges": edges.count(),
        "runs": runs,
        "truth_checksum": list(truth_chk),
        "run_checksums": [list(c) for c in checksums],
        "distinct_checksums": len(set(checksums)),
        "all_match_truth": all(c == truth_chk for c in checksums),
        "walls_s": walls,
    }


def _audit_topk_batch_shapes(spark, F, runs: int, n_rows: int) -> dict:
    """cosine_topk_vectorized under N deliberately DIFFERENT physical
    shapes: varying partition counts and Arrow batch sizes change which
    rows share a mapInPandas batch, hence which partial-top-k rows the
    final merge window sees.  The operator's determinism claim is that
    the per-batch selection order equals the final total order, making
    the merged result shape-independent — verified against an exact
    numpy oracle computed once on the driver."""
    import numpy as np

    from gmail_etl_spark.operators.similarity import cosine_topk_vectorized

    dim, k, n_q = 32, 10, 8
    # deterministic corpus: xxhash-uniform floats in [-1, 1)
    cols = [
        (
            (F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(2_000_000)) - 1_000_000)
            / 1_000_000.0
        ).cast("float")
        for j in range(dim)
    ]
    corpus = spark.range(n_rows).select(
        F.col("id").alias("vec_id"), F.array(*cols).alias("embedding")
    )
    queries = corpus.filter(F.col("vec_id") < n_q)

    # exact oracle on the driver (float64, full sort — no partial top-k)
    rows = corpus.orderBy("vec_id").collect()
    ids = np.array([r["vec_id"] for r in rows])
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    norms = np.linalg.norm(mat, axis=1, keepdims=True)
    unit = np.divide(mat, norms, where=norms > 0)
    truth = set()
    for qi in range(n_q):
        sims = unit @ unit[qi]
        mask = ids != ids[qi]
        cand_ids, cand_sims = ids[mask], np.round(sims[mask], 6)
        order = np.lexsort((cand_ids, -cand_sims))[:k]
        for rank, idx in enumerate(order, start=1):
            truth.add((int(ids[qi]), rank, int(cand_ids[idx])))

    shapes = [(3, 500), (7, 1777), (16, 10000), (5, 65536), (11, 123)]
    checksums, walls, used = [], [], []
    batch_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    saved = spark.conf.get(batch_key)
    try:
        for i in range(runs):
            n_parts, batch = shapes[i % len(shapes)]
            used.append({"partitions": n_parts, "arrow_batch": batch})
            spark.conf.set(batch_key, str(batch))
            t0 = time.perf_counter()
            got = {
                (int(r["query_id"]), int(r["rank"]), int(r["neighbor_id"]))
                for r in cosine_topk_vectorized(
                    queries, corpus.repartition(n_parts), k=k
                ).collect()
            }
            walls.append(round(time.perf_counter() - t0, 2))
            checksums.append(("match" if got == truth else "DIVERGED", len(got)))
    finally:
        spark.conf.set(batch_key, saved)
    return {
        "operator": "cosine_topk_vectorized",
        "corpus_rows": n_rows,
        "dim": dim,
        "k": k,
        "n_queries": n_q,
        "runs": runs,
        "shapes": used,
        "run_checksums": [list(c) for c in checksums],
        "distinct_checksums": len(set(checksums)),
        "all_match_truth": all(c[0] == "match" for c in checksums),
        "walls_s": walls,
    }


def _audit_streaming_stateful(spark, F, runs: int, n_events: int) -> dict:
    """Watermarked streaming dedup + foreachBatch additive rollup, each
    run from a FRESH checkpoint over the same chunked arrivals (2 chunks
    -> one cold restart per consumer), checksummed against batch oracles
    over the same files.  State here lives in the state store, keyed by
    shuffle partitioning — the exact 'physical layout feeds state'
    shape the r8 find warns about."""
    from gmail_etl_spark.streaming.jobs import (
        dedup_events_stream,
        maintain_daily_rollup,
        read_daily_rollup,
        read_events_stream,
    )

    work = tempfile.mkdtemp(prefix="forensic_stream_")
    chunks = 2
    bounds = [n_events * i // chunks for i in range(chunks + 1)]

    def _chunk(lo: int, hi: int):
        base = spark.range(lo, hi).select(
            F.col("id").alias("event_id"),
            F.timestamp_seconds(F.lit(EPOCH_2024) + F.col("id")).alias("ts"),
            F.pmod(F.xxhash64(F.lit("user"), F.col("id")), F.lit(50)).alias(
                "user_id"
            ),
            F.element_at(
                F.array(F.lit("view"), F.lit("click"), F.lit("purchase")),
                (F.pmod(F.xxhash64(F.lit("t"), F.col("id")), F.lit(3)) + 1).cast(
                    "int"
                ),
            ).alias("event_type"),
            (
                F.pmod(F.xxhash64(F.lit("v"), F.col("id")), F.lit(10000)) / 100.0
            ).alias("value"),
        )
        dups = base.filter(F.pmod(F.xxhash64(F.lit("d"), "event_id"), F.lit(20)) == 0)
        return base.union(dups)

    # reference corpus for the batch oracles (identical data to what
    # every run's chunked arrivals sum to — the generator is pure)
    ref = os.path.join(work, "events_ref")
    for i in range(chunks):
        _chunk(bounds[i], bounds[i + 1]).repartition(4).write.mode(
            "append"
        ).parquet(ref)

    full = spark.read.parquet(ref)
    cents = F.sum(F.round(F.col("value") * 100).cast("bigint"))
    o = (
        full.dropDuplicates(["event_id"])
        .agg(F.count(F.lit(1)).alias("n"), cents.alias("c"))
        .collect()[0]
    )
    dedup_truth = (o["n"], o["c"])
    rollup_truth = sorted(
        (r["day"].isoformat(), r["event_type"], r["n_events"], r["value_cents"])
        for r in full.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), cents.alias("value_cents"))
        .collect()
    )

    dedup_checksums, rollup_checksums, walls = [], [], []
    try:
        for run in range(runs):
            rundir = os.path.join(work, f"run{run}")
            src = os.path.join(rundir, "events")
            os.makedirs(src)
            dedup_out = os.path.join(rundir, "dedup_out")
            dedup_ckpt = os.path.join(rundir, "dedup_ckpt")
            rollup_dir = os.path.join(rundir, "rollup")
            rollup_ckpt = os.path.join(rundir, "rollup_ckpt")
            t0 = time.perf_counter()
            # real chunked arrivals: files land, each consumer cold-
            # restarts from its checkpoint over the grown directory
            for i in range(chunks):
                _chunk(bounds[i], bounds[i + 1]).repartition(4).write.mode(
                    "append"
                ).parquet(src)
                q = (
                    dedup_events_stream(read_events_stream(spark, src))
                    .writeStream.format("parquet")
                    .option("path", dedup_out)
                    .option("checkpointLocation", dedup_ckpt)
                    .trigger(availableNow=True)
                    .start()
                )
                q.awaitTermination()
                maintain_daily_rollup(spark, src, rollup_dir, rollup_ckpt)
            walls.append(round(time.perf_counter() - t0, 2))
            out = spark.read.parquet(dedup_out)
            r = out.agg(F.count(F.lit(1)).alias("n"), cents.alias("c")).collect()[0]
            dedup_checksums.append((r["n"], r["c"]))
            rollup_checksums.append(
                tuple(
                    sorted(
                        (
                            row["day"].isoformat(),
                            row["event_type"],
                            row["n_events"],
                            row["value_cents"],
                        )
                        for row in read_daily_rollup(spark, rollup_dir).collect()
                    )
                )
            )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "operator": "streaming_dedup_and_rollup",
        "events": n_events,
        "chunks": chunks,
        "runs": runs,
        "dedup_truth": list(dedup_truth),
        "dedup_run_checksums": [list(c) for c in dedup_checksums],
        "dedup_distinct": len(set(dedup_checksums)),
        "dedup_all_match_truth": all(c == dedup_truth for c in dedup_checksums),
        "rollup_distinct": len(set(rollup_checksums)),
        "rollup_all_match_truth": all(
            list(c) == [tuple(t) for t in rollup_truth] for c in rollup_checksums
        ),
        "walls_s": walls,
    }


def _audit_streaming_neardup(spark, F, runs: int, n_docs: int) -> dict:
    """maintain_near_dup_index derives state from BATCH BOUNDARIES (the
    survivor index a batch probes is whatever previous batches kept) —
    squarely the physical-layout-feeds-state class this forensic
    audits.  Each run streams the planted corpus from a FRESH work dir
    in group-straddling micro-batches (chunk size coprime to the group
    size, file order mtime-pinned) and checksums the retained id set
    against the planted-heads truth: all-pairs-similar groups +
    first-arrival == min-id make batch-operator equality exact (the
    60-token/single-row-band margin of tools/curation_scale.py)."""
    from gmail_etl_spark.streaming.jobs import (
        maintain_near_dup_index,
        read_near_dup_index,
    )
    from gmail_etl_spark.synthetic import planted_near_dup_corpus

    group, chunk = 10, (n_docs // 4 // 10) * 10 + 5
    pdf = (
        planted_near_dup_corpus(spark, n_docs, group=group, n_tokens=60)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    heads = list(range(0, n_docs, group))
    truth_chk = (len(heads), sum(heads))

    work = tempfile.mkdtemp(prefix="forensic_nd_")
    checksums, walls = [], []
    try:
        for run in range(runs):
            rundir = os.path.join(work, f"run{run}")
            src = os.path.join(rundir, "docs")
            os.makedirs(src)
            n_files = 0
            for i in range(0, n_docs, chunk):
                path = os.path.join(src, f"b{n_files:04d}.parquet")
                pdf.iloc[i : i + chunk].to_parquet(path)
                os.utime(path, (1_000_000_000 + n_files,) * 2)
                n_files += 1
            index = os.path.join(rundir, "index")
            t0 = time.perf_counter()
            # compact_every=2: the 4-batch run then crosses TWO tiered
            # folds (r11 layout), so the checksum pins fold determinism
            # too, not just the append path
            maintain_near_dup_index(
                spark, src, index, os.path.join(rundir, "ckpt"),
                k=3, n_hashes=16, bands=16, threshold=0.5,
                compact_every=2,
            )
            walls.append(round(time.perf_counter() - t0, 2))
            r = (
                read_near_dup_index(spark, index)
                .agg(F.count(F.lit(1)).alias("n"), F.sum("id").alias("s"))
                .collect()[0]
            )
            checksums.append((r["n"], r["s"]))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return {
        "operator": "streaming_neardup_index",
        "docs": n_docs,
        "batches": n_files,
        "runs": runs,
        "truth_checksum": list(truth_chk),
        "run_checksums": [list(c) for c in checksums],
        "distinct_checksums": len(set(checksums)),
        "all_match_truth": all(c == truth_chk for c in checksums),
        "walls_s": walls,
    }



def _audit_rollup_pointer_replay(spark, F, runs: int, n_events: int) -> dict:
    """Pointer semantics of the versioned-rollup family under REPLAY —
    the state-from-boundaries surface FORENSIC_r09 did not yet cover.
    Each run drives the full crash-recovery lifecycle at 4 cores:

      1. chunked availableNow run -> rollup state
      2. same-checkpoint restart (no-op replay)
      3. head pointer deleted (the crash window) -> the reader must
         resolve via the commit-marker-gated fallback
      4. FRESH-checkpoint restart with the pointer still missing: batch
         ids replay from 0 and every publish must be rejected against
         the fallback-resolved head (the double-merge hazard)

    After every stage the additive rollup must equal the batch oracle
    over the same files; the same lifecycle then runs for the
    HLL-sketch rollup, whose per-day estimates must equal batch
    COUNT(DISTINCT) EXACTLY (register-state merge, not estimate
    addition)."""
    from gmail_etl_spark.streaming.jobs import (
        maintain_daily_distinct_sketch,
        maintain_daily_rollup,
        read_daily_distinct_estimates,
        read_daily_rollup,
    )

    ev = spark.range(n_events).select(
        F.col("id").alias("event_id"),
        F.pmod(F.col("id"), F.lit(5000)).alias("user_id"),
        F.concat(
            F.lit("t"), F.pmod(F.col("id"), F.lit(5)).cast("string")
        ).alias("event_type"),
        F.timestamp_seconds(
            F.lit(EPOCH_2024) + F.pmod(F.xxhash64("id"), F.lit(86400 * 30))
        ).alias("ts"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(10000)).cast("double") / 100).alias(
            "value"
        ),
    )
    pdf = ev.toPandas().sort_values("event_id").reset_index(drop=True)
    rollup_truth = tuple(
        sorted(
            (r["day"].isoformat(), r["event_type"], r["n"], r["c"])
            for r in ev.groupBy(
                F.to_date("ts").alias("day"), "event_type"
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(F.round(F.col("value") * 100).cast("bigint")).alias("c"),
            )
            .collect()
        )
    )
    # truth = the ONE-SHOT batch sketch's estimate (same lgK=12 as the
    # maintainer): the operator's claim is that the streamed union is
    # byte-identical to the batch sketch, NOT that the estimate equals
    # exact COUNT(DISTINCT) — above the sparse-exact regime they differ
    distinct_truth = tuple(
        sorted(
            (r["day"].isoformat(), r["n"])
            for r in ev.groupBy(F.to_date("ts").alias("day"))
            .agg(
                F.expr(
                    "cast(hll_sketch_estimate(hll_sketch_agg(user_id, 12)) as long)"
                ).alias("n")
            )
            .collect()
        )
    )

    from gmail_etl_spark.streaming.state_store import POINTER

    def _del_pointer(d: str) -> None:
        ptr = os.path.join(d, POINTER)
        if os.path.exists(ptr):
            os.remove(ptr)

    work = tempfile.mkdtemp(prefix="forensic_rollup_")
    checksums, walls = [], []
    try:
        for run in range(runs):
            rundir = os.path.join(work, f"run{run}")
            src = os.path.join(rundir, "events")
            os.makedirs(src)
            chunk = n_events // 3 + 1
            for i in range(3):
                path = os.path.join(src, f"c{i}.parquet")
                pdf.iloc[i * chunk : (i + 1) * chunk].to_parquet(path)
                os.utime(path, (1_000_000_000 + i,) * 2)
            rollup = os.path.join(rundir, "rollup")
            sketch = os.path.join(rundir, "sketch")
            t0 = time.perf_counter()

            def _rollup_rows():
                return tuple(
                    sorted(
                        (r["day"].isoformat(), r["event_type"], r["n_events"],
                         r["value_cents"])
                        for r in read_daily_rollup(spark, rollup).collect()
                    )
                )

            stage = []
            maintain_daily_rollup(spark, src, rollup, os.path.join(rundir, "ck1"))
            stage.append(_rollup_rows())
            maintain_daily_rollup(spark, src, rollup, os.path.join(rundir, "ck1"))
            stage.append(_rollup_rows())
            _del_pointer(rollup)
            stage.append(_rollup_rows())  # commit-marker fallback resolution
            maintain_daily_rollup(spark, src, rollup, os.path.join(rundir, "ck2"))
            stage.append(_rollup_rows())  # replayed ids rejected vs fallback head

            maintain_daily_distinct_sketch(
                spark, src, sketch, os.path.join(rundir, "ck3")
            )
            _del_pointer(sketch)
            maintain_daily_distinct_sketch(
                spark, src, sketch, os.path.join(rundir, "ck4")
            )
            stage.append(
                tuple(
                    sorted(
                        (r["day"].isoformat(), r["approx_users"])
                        for r in read_daily_distinct_estimates(
                            spark, sketch
                        ).collect()
                    )
                )
            )
            walls.append(round(time.perf_counter() - t0, 2))
            checksums.append(tuple(stage))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    expected = (
        rollup_truth, rollup_truth, rollup_truth, rollup_truth, distinct_truth
    )
    return {
        "operator": "rollup_pointer_replay",
        "events": n_events,
        "runs": runs,
        "stages_per_run": 5,
        "distinct_checksums": len(set(checksums)),
        "all_match_truth": all(c == expected for c in checksums),
        "walls_s": walls,
    }


def _audit_ivf_lifecycle(spark, F, runs: int, n_rows: int) -> dict:
    """Persisted-IVF build/probe lifecycle under REPARTITIONING — the
    q256 cluster-partitioned layout as a physical-layout-feeds-state
    surface.  With ``exact_updates=True`` the trained centroids are an
    accumulation-order-free data function, so the ENTIRE persisted
    layout (cell assignments included), the exhaustive probe
    (nprobe=k, compared against a driver numpy oracle) and the PRUNED
    probe (nprobe=2, partition-pruned scan) must be bit-identical no
    matter how the input corpus was partitioned at build time.  Each
    run rebuilds the index from a deliberately different input
    partitioning (3/8/17-way)."""
    import numpy as np

    from gmail_etl_spark.operators.similarity import (
        query_ivf_index,
        save_ivf_index,
    )

    dim, k_cells, topk = 16, 8, 5
    corpus = spark.range(n_rows).select(
        F.col("id").alias("vec_id"),
        F.array(
            *[
                (
                    F.pmod(F.xxhash64(F.col("id"), F.lit(j)), F.lit(2000)).cast(
                        "double"
                    )
                    / 1000.0
                    - 1.0
                )
                for j in range(dim)
            ]
        ).alias("embedding"),
    )
    pdf = corpus.toPandas().sort_values("vec_id").reset_index(drop=True)
    mat = np.array(pdf["embedding"].tolist())
    norms = np.linalg.norm(mat, axis=1)
    truth = []
    for q in range(8):
        sims = (mat @ mat[q]) / (norms * norms[q])
        sims[q] = -np.inf  # exclude self, as the operator does
        order = np.lexsort((np.arange(n_rows), -np.round(sims, 6)))
        for rank, nb in enumerate(order[:topk], start=1):
            truth.append((q, rank, int(nb)))
    truth_chk = tuple(truth)

    work = tempfile.mkdtemp(prefix="forensic_ivf_")
    parts_cycle = [3, 8, 17]
    checksums, walls = [], []
    try:
        for run in range(runs):
            parts = parts_cycle[run % len(parts_cycle)]
            path = os.path.join(work, f"ivf{run}")
            t0 = time.perf_counter()
            save_ivf_index(
                spark,
                corpus.repartition(parts),
                path,
                k_cells=k_cells,
                iters=3,
                exact_updates=True,
            )
            assign = spark.read.parquet(f"{path}/vectors").agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64("vec_id", "cluster")).alias("x"),
            ).collect()[0]
            queries = corpus.filter(F.col("vec_id") < 8)
            exhaustive = tuple(
                (r["query_id"], r["rank"], r["neighbor_id"])
                for r in query_ivf_index(
                    spark, path, queries, k=topk, nprobe=k_cells
                )
                .orderBy("query_id", "rank")
                .collect()
            )
            pruned = tuple(
                (r["query_id"], r["rank"], r["neighbor_id"], r["sim"])
                for r in query_ivf_index(spark, path, queries, k=topk, nprobe=2)
                .orderBy("query_id", "rank")
                .collect()
            )
            walls.append(round(time.perf_counter() - t0, 2))
            checksums.append(((assign["n"], assign["x"]), exhaustive, pruned))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    return {
        "operator": "persisted_ivf_lifecycle",
        "rows": n_rows,
        "dim": dim,
        "k_cells": k_cells,
        "input_partitionings": parts_cycle[: max(runs, 1)],
        "runs": runs,
        "distinct_checksums": len(set(checksums)),
        "all_match_truth": all(c[1] == truth_chk for c in checksums),
        "walls_s": walls,
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--cc-nodes", type=int, default=300_000)
    ap.add_argument("--knn-rows", type=int, default=200_000)
    ap.add_argument("--stream-events", type=int, default=200_000)
    ap.add_argument("--neardup-docs", type=int, default=20_000)
    ap.add_argument("--rollup-events", type=int, default=120_000)
    ap.add_argument("--ivf-rows", type=int, default=20_000)
    args = ap.parse_args()

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    os.environ.setdefault("SPARK_GRAFT_SHUFFLE", "8")

    from pyspark.sql import functions as F

    from gmail_etl_spark.session import get_spark

    spark = get_spark("nondeterminism-forensic")
    spark.sparkContext.setLogLevel("ERROR")

    audits = [
        _audit_connected_components(spark, F, args.runs, args.cc_nodes),
        _audit_topk_batch_shapes(spark, F, max(args.runs, 3), args.knn_rows),
        _audit_streaming_stateful(spark, F, args.runs, args.stream_events),
        _audit_streaming_neardup(spark, F, args.runs, args.neardup_docs),
        _audit_rollup_pointer_replay(spark, F, args.runs, args.rollup_events),
        _audit_ivf_lifecycle(spark, F, args.runs, args.ivf_rows),
    ]
    def _ok(a: dict) -> bool:
        if a["operator"] == "streaming_dedup_and_rollup":
            return (
                a["dedup_distinct"] == 1
                and a["dedup_all_match_truth"]
                and a["rollup_distinct"] == 1
                and a["rollup_all_match_truth"]
            )
        return a["distinct_checksums"] == 1 and a["all_match_truth"]

    ok = all(_ok(a) for a in audits)
    out = {
        "metric": "nondeterminism_forensic",
        "cpus": os.environ["SPARK_GRAFT_CPUS"],
        "shuffle_partitions": os.environ["SPARK_GRAFT_SHUFFLE"],
        "audits": audits,
        "all_deterministic_and_correct": ok,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
    }
    print(json.dumps(out), flush=True)
    if not ok:
        sys.exit(1)


if __name__ == "__main__":
    main()
