"""The benchmark's workloads.

Each workload generates its inputs from the seed, defines one timed op,
checks every op's output, and has a staged traced form that times each
layer's public call on materialized input.

* ``gmail_daily`` — ``pipeline.run_pipeline`` over a seeded raw zone.
* ``near_dedup_batch`` — ``minhash_lsh_pairs`` → ``connected_components``
  over a planted near-duplicate corpus; its traced run also drives the
  incremental near-dup index (``streaming.jobs``) tick by tick.

The traced run of ``gmail_daily`` also runs one round of nine catalog
queries (``plans``, ``operators.similarity``) over seeded tables,
checked against the catalog's DuckDB oracles.
"""

from __future__ import annotations

import os
import random
import shutil
import statistics
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, StringType, StructField, StructType

from perfbench import gen_catalog, gen_gmail
from perfbench.trace import Tracer, planning_seconds, progress_listener


class CheckFailed(Exception):
    """An op's output differs from the expected output."""


def hash_frame(df: DataFrame) -> DataFrame:
    """One-row frame: (row count ``n``, bit_xor ``x`` of xxhash64 over
    every column of ``df``).

    Every column is consumed, so no projection can be pruned away (a
    bare ``count()`` lets Catalyst drop them).  Floating-point columns
    are rounded to 6 decimals first, so the hash does not depend on
    summation order across partitions."""
    cols = [
        F.round(F.col(f"`{f.name}`"), 6)
        if isinstance(f.dataType, (DoubleType, FloatType))
        else F.col(f"`{f.name}`")
        for f in df.schema.fields
    ]
    return df.select(F.xxhash64(*cols).alias("_h")).agg(
        F.count(F.lit(1)).alias("n"), F.bit_xor("_h").alias("x")
    )


def collect_hash(hashed: DataFrame) -> tuple[int, int]:
    row = hashed.collect()[0]
    return int(row["n"]), int(row["x"] or 0)


def hash_agg(df: DataFrame) -> tuple[int, int]:
    """Materialize ``df`` fully in one job; return (rows, hash)."""
    return collect_hash(hash_frame(df))


def dir_bytes(path: str) -> int:
    total = 0
    for dp, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dp, f))
    return total


def warm_page_cache(paths: list[str]) -> int:
    """Read every byte under ``paths`` once; return the bytes read."""
    total = 0
    for p in paths:
        for dp, _, files in os.walk(p):
            for f in files:
                with open(os.path.join(dp, f), "rb") as fh:
                    while chunk := fh.read(1 << 22):
                        total += len(chunk)
    return total


def _reset_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


class Workload:
    """One workload: inputs, a timed op, its check, and a staged trace."""

    name = ""
    #: An untraced run measures at least this many ops, past --seconds if
    #: it must, so that every op_p50_s is the median of the same minimum
    #: sample.
    min_ops = 4

    def __init__(self, work: str, seed: int, scale: float):
        self.work = work
        self.seed = seed
        self.scale = scale
        self.info: dict = {}  # input sizes and shares, printed per run

    def generate(self) -> None:
        """Write the seeded input files; untimed, once per run."""

    def setup(self, spark: SparkSession) -> None:
        """Program-side set-up on a fresh session (load, write or cache
        the inputs); timed as set-up, repeated."""
        raise NotImplementedError

    def input_paths(self) -> list[str]:
        return []

    def prepare_checks(self, spark: SparkSession) -> None:
        """Compute expected outputs; untimed, once per run."""

    def warmup(self, spark: SparkSession, first: bool) -> None:
        """Run the op's code paths, untimed.  ``first`` is the run's
        first warm-up, on a cold JVM; later ones follow a session
        restart in the same JVM, whose JIT is already warm."""
        raise NotImplementedError

    def before_op(self, spark: SparkSession, i: int) -> None:
        """Untimed per-op preparation."""

    def op(self, spark: SparkSession, i: int):
        raise NotImplementedError

    def items(self, i: int) -> int:
        raise NotImplementedError

    def check(self, spark: SparkSession, i: int, out) -> None:
        """Raise CheckFailed unless op ``i``'s output is correct."""
        raise NotImplementedError

    def traced(self, spark: SparkSession, tr: Tracer, metrics: dict) -> int:
        """Run the staged form under ``tr``; fill per-layer counts into
        ``metrics``; return the number of failed checks."""
        raise NotImplementedError


# ---------------------------------------------------------------------------
# gmail_daily
# ---------------------------------------------------------------------------

_STAGE1_COLS = ["id", "mimeType", "subject", "date_string", "from", "body", "role", "org", "location"]
_STAGE1_SCHEMA = StructType([StructField(c, StringType()) for c in _STAGE1_COLS])


class GmailDaily(Workload):
    name = "gmail_daily"
    min_ops = 5
    base_messages = 18_000

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.n_messages = max(60, int(self.base_messages * scale))
        self.raw_dir = os.path.join(work, "raw")
        self.ledger0 = os.path.join(work, "ledger0")
        self.zone = None
        self.expected = self.expected_ledger = None

    def _write_ledger(self, spark, ids: list[str], path: str) -> None:
        shutil.rmtree(path, ignore_errors=True)
        (
            spark.createDataFrame([(i,) for i in ids], "id string")
            .withColumn("date", F.current_date())
            .write.parquet(path)
        )

    def generate(self):
        self.zone = gen_gmail.generate(_reset_dir(self.raw_dir), self.n_messages, self.seed)
        self.info = {
            "messages": self.zone.n_messages,
            "blobs": len(os.listdir(self.raw_dir)),
            "raw_bytes": self.zone.raw_bytes,
            "expected_stage1_rows": len(self.zone.expected_rows),
            **self.zone.shares,
        }

    def setup(self, spark):
        self._write_ledger(spark, self.zone.ledger_ids, self.ledger0)

    def warmup(self, spark, first):
        """Full ops: three on a cold JVM, one after a restart.  The CPU
        time of all processes per op falls over the first five ops (42 s
        cold, then 14, 12.5, 8.6 and 7-7.5 s on 4 vCPUs) while the JIT
        compiles, and after one or two warm-up ops the measured ops
        still trended down by 30% within a run."""
        for i in range(-3 if first else -1, 0):
            self.before_op(spark, i)
            self.op(spark, i)

    def input_paths(self):
        return [self.raw_dir, self.ledger0]

    def prepare_checks(self, spark):
        import pandas as pd

        rows = pd.DataFrame(self.zone.expected_rows, columns=_STAGE1_COLS)
        self.expected = hash_agg(spark.createDataFrame(rows, _STAGE1_SCHEMA))
        ids = sorted(set(self.zone.ledger_ids) | set(rows["id"]))
        self.expected_ledger = hash_agg(spark.createDataFrame(pd.DataFrame({"id": ids}), "id string"))

    def _paths(self, i: int) -> tuple[str, str]:
        d = os.path.join(self.work, "ops", f"op{i % 2}")
        return os.path.join(d, "out"), os.path.join(d, "ledger")

    def before_op(self, spark, i):
        out, ledger = self._paths(i)
        _reset_dir(os.path.dirname(out))
        shutil.copytree(self.ledger0, ledger)

    def op(self, spark, i):
        from gmail_etl_spark.pipeline import run_pipeline

        out, ledger = self._paths(i)
        run_pipeline(spark, self.raw_dir, out, ledger)
        return out, ledger

    def items(self, i):
        return self.zone.n_messages

    def check(self, spark, i, out):
        out_dir, ledger = out
        got = hash_agg(spark.read.parquet(out_dir))
        if got != self.expected:
            raise CheckFailed(f"stage-1 output {got} != expected {self.expected}")
        row = spark.read.parquet(ledger).agg(
            F.count(F.lit(1)).alias("n"),
            F.bit_xor(F.xxhash64("id")).alias("x"),
            F.count_if(F.col("date").isNull()).alias("null_dates"),
        ).collect()[0]
        got = (int(row["n"]), int(row["x"] or 0))
        if got != self.expected_ledger or row["null_dates"]:
            raise CheckFailed(
                f"ledger {got}, {row['null_dates']} null dates; want {self.expected_ledger}, 0"
            )

    def stored_ratio(self, i: int) -> float:
        out, ledger = self._paths(i)
        return (dir_bytes(out) + dir_bytes(ledger)) / self.zone.raw_bytes

    def traced(self, spark, tr, metrics):
        from gmail_etl_spark.functions.dates import fuzzy_parse_ts
        from gmail_etl_spark.functions.html import html_to_text, plain_text_no_markup
        from gmail_etl_spark.functions.scalar import (
            body_text_fixed_depth,
            clean_date_header,
            header_map,
            lenient_timestamp_cleaned,
            parse_sender,
        )
        from gmail_etl_spark.functions.vendor import INDEED_SENDER, extract_indeed
        from gmail_etl_spark.pipeline import (
            dedup_against_ledger,
            new_ledger_entries,
            read_raw,
            transform_stage1,
            write_stage1_parquet,
        )

        i = 10_000
        self.before_op(spark, i)
        out, ledger_dir = self._paths(i)
        pinned = []

        def pin(df):
            pinned.append(df.persist())
            return pinned[-1]

        with tr.span("trace.op"):
            with tr.span("pipeline.read_raw"):
                raw = pin(read_raw(spark, self.raw_dir))
                n_raw, _ = hash_agg(raw)
            ledger = spark.read.parquet(ledger_dir)
            with tr.span("pipeline.dedup_against_ledger"):
                # a checkpoint, not a cache: the ledger append below
                # re-caches every cached plan that reads the ledger, which
                # would turn a cached ``fresh`` empty
                fresh = dedup_against_ledger(raw, ledger).localCheckpoint(eager=True)
                n_fresh, _ = hash_agg(fresh)
            with tr.span("pipeline.transform_stage1"):
                stage1 = pin(transform_stage1(fresh))
                got = hash_agg(stage1)
            with tr.span("pipeline.write_stage1_parquet"):
                write_stage1_parquet(stage1, out)
            with tr.span("pipeline.new_ledger_entries"):
                new_ledger_entries(fresh).write.mode("append").parquet(ledger_dir)
        failed = 0
        try:
            if got != self.expected:
                raise CheckFailed(f"staged stage-1 {got} != expected {self.expected}")
            self.check(spark, i, (out, ledger_dir))
        except CheckFailed as exc:
            print(f"[check] {self.name} traced: {exc}", flush=True)
            failed += 1

        # Each pandas UDF on exactly the rows the pipeline routes to it,
        # selected with the package's own gates.
        hm = fresh.select(
            header_map(F.col("payload.headers")).alias("_hm"),
            body_text_fixed_depth(F.col("payload")).alias("raw_body"),
        )
        routed = pin(
            hm.select(
                "raw_body",
                parse_sender(F.col("_hm")["from"]).alias("from"),
                F.col("_hm")["date"].alias("raw_date"),
            )
            .withColumn("_plain", plain_text_no_markup(F.col("raw_body")))
            .withColumn("_fast_ts", lenient_timestamp_cleaned(clean_date_header(F.col("raw_date"))))
        )
        html_in = pin(routed.filter(~F.col("_plain")).select("raw_body"))
        indeed_in = pin(routed.filter(F.col("from") == INDEED_SENDER).select("raw_body"))
        fuzzy_in = pin(routed.filter(F.col("_fast_ts").isNull()).select("raw_date"))
        n_html, n_indeed, n_fuzzy = (hash_agg(d)[0] for d in (html_in, indeed_in, fuzzy_in))
        with tr.span("functions.html_to_text"):
            hash_agg(html_in.select(html_to_text(F.col("raw_body")).alias("v")))
        with tr.span("functions.fuzzy_parse_ts"):
            hash_agg(fuzzy_in.select(fuzzy_parse_ts(F.col("raw_date")).alias("v")))
        with tr.span("functions.extract_indeed"):
            hash_agg(indeed_in.select(extract_indeed(F.col("raw_body")).alias("v")))
        for df in pinned:
            df.unpersist()

        metrics["pipeline.raw_rows"] = n_raw
        metrics["pipeline.ledger_drop_ratio"] = 1.0 - n_fresh / n_raw
        metrics["pipeline.stored_bytes_per_input_byte"] = self.stored_ratio(i)
        metrics["functions.html_rows_ratio"] = n_html / n_fresh
        metrics["functions.indeed_rows_ratio"] = n_indeed / n_fresh
        metrics["functions.fuzzy_rows_ratio"] = n_fuzzy / n_fresh

        # the query catalog (plans, operators.similarity) is traced here:
        # timing it as a workload of its own does not fit the run budget
        catalog = CatalogRound(self.work, self.seed, self.scale)
        catalog.generate()
        self.info["catalog"] = catalog.info
        return failed + catalog.traced(spark, tr, metrics)


# ---------------------------------------------------------------------------
# near_dedup_batch (+ the incremental index in its traced run)
# ---------------------------------------------------------------------------


class NearDedupBatch(Workload):
    name = "near_dedup_batch"
    min_ops = 3  # 6-11 s an op; a fourth lengthened runs by 8 s and did not narrow the spread
    base_docs = 20_000
    group = 10
    lsh = dict(k=3, n_hashes=16, bands=8, threshold=0.5, broadcast_verify=True)
    # incremental index, traced run only
    tick_docs = 1005  # ends in 5: every tick boundary splits a planted group
    ticks = 3
    fold_fanout = 2

    def __init__(self, work, seed, scale):
        super().__init__(work, seed, scale)
        self.n_docs = max(200, int(self.base_docs * scale) // self.group * self.group)
        self.tick_n = max(105, int(self.tick_docs * scale) // 10 * 10 + 5)
        self.docs = None
        self.expected = None

    def setup(self, spark):
        from gmail_etl_spark.synthetic import planted_near_dup_corpus

        self.docs = planted_near_dup_corpus(spark, self.n_docs, self.group).cache()
        self.docs.count()

    def generate(self):
        self.info = {
            "docs": self.n_docs,
            "group": self.group,
            "clusters": self.n_docs // self.group,
            **{f"lsh_{k}": v for k, v in self.lsh.items()},
        }

    def _run(self, docs: DataFrame) -> tuple[int, int, int, int]:
        from gmail_etl_spark.operators.dedup import minhash_lsh_pairs

        pairs = minhash_lsh_pairs(docs, "doc_id", "text", **self.lsh)
        return self._summary(self._components(pairs))

    def warmup(self, spark, first):
        """One full op on a cold JVM: after the same plans on a tenth of
        the corpus the four measured ops still fell from about 10.5 s to
        8.5 s within a run.  After a restart the JIT is warm, and the
        tenth does."""
        if first:
            self._run(self.docs)
            return
        from gmail_etl_spark.synthetic import planted_near_dup_corpus

        small = planted_near_dup_corpus(spark, max(200, self.n_docs // 10), self.group).cache()
        self._run(small)
        small.unpersist()

    def _components(self, pairs: DataFrame) -> DataFrame:
        from gmail_etl_spark.operators.dedup import connected_components

        return connected_components(
            pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")),
            canonical_input=True,
        )

    def _summary(self, comp: DataFrame) -> tuple[int, int, int, int]:
        """(nodes, clusters, nodes labelled outside their planted group,
        hash of every (node, component) row) in one job."""
        g = self.group
        r = comp.agg(
            F.count(F.lit(1)).alias("n"),
            F.count_distinct("component").alias("c"),
            F.sum(
                (F.floor(F.col("component") / g) != F.floor(F.col("node") / g)).cast("int")
            ).alias("bad"),
            F.bit_xor(F.xxhash64("node", "component")).alias("x"),
        ).collect()[0]
        return int(r["n"]), int(r["c"]), int(r["bad"] or 0), int(r["x"] or 0)

    def op(self, spark, i):
        return self._run(self.docs)

    def items(self, i):
        return self.n_docs

    def check(self, spark, i, out):
        """Exactly one cluster per planted group (``bench.py``'s check),
        no doc in the cluster of another group, at least 99.9% of docs
        clustered (LSH leaves a few docs in no candidate pair: 4 of the
        first 20,000), and the same (node, component) set from every op."""
        nodes, clusters, bad, h = out
        first_h = h if self.expected is None else self.expected
        if (
            (clusters, bad, h) != (self.n_docs // self.group, 0, first_h)
            or nodes < self.n_docs - self.n_docs // 1000
        ):
            raise CheckFailed(
                f"(nodes, clusters, mislabelled, hash) {out}; want (>= "
                f"{self.n_docs - self.n_docs // 1000}, {self.n_docs // self.group}, 0, {first_h})"
            )
        self.expected = h

    def traced(self, spark, tr, metrics):
        from gmail_etl_spark.operators.dedup import minhash_lsh_pairs

        failed = 0
        with tr.span("trace.op"):
            with tr.span("dedup.minhash_lsh_pairs.build"):
                pairs = minhash_lsh_pairs(self.docs, "doc_id", "text", **self.lsh)
            with tr.span("dedup.minhash_lsh_pairs.exec"):
                pairs = pairs.persist()
                n_pairs, _ = hash_agg(pairs)
            with tr.span("dedup.connected_components"):
                out = self._summary(self._components(pairs))
        pairs.unpersist()
        try:
            self.check(spark, 0, out)
        except CheckFailed as exc:
            print(f"[check] {self.name} traced: {exc}", flush=True)
            failed += 1
        metrics["dedup.pairs"] = n_pairs
        metrics["dedup.clusters"] = out[1]
        metrics["dedup.pairs_per_doc"] = n_pairs / self.n_docs
        return failed + self._traced_ticks(spark, tr, metrics)

    def _traced_ticks(self, spark, tr, metrics) -> int:
        """Incremental curation: one parquet file of planted docs lands
        before each tick; each tick is one availableNow run of
        ``maintain_near_dup_index``."""
        from gmail_etl_spark.streaming.jobs import maintain_near_dup_index, read_near_dup_index
        from gmail_etl_spark.synthetic import planted_near_dup_corpus, write_mtime_ordered_batches

        base = _reset_dir(os.path.join(self.work, "curation"))
        staged, docs_dir = os.path.join(base, "staged"), os.path.join(base, "docs")
        index, ckpt = os.path.join(base, "index"), os.path.join(base, "ckpt")
        os.makedirs(docs_dir)
        n = self.tick_n * self.ticks
        corpus = planted_near_dup_corpus(spark, n, self.group, partitions=4, n_tokens=60)
        write_mtime_ordered_batches(corpus, staged, self.tick_n)
        files = sorted(os.listdir(staged))
        listener = progress_listener(spark)
        fold_log: list = []
        probe_log: list = []
        walls: list[float] = []
        in_bytes = 0
        for k, f in enumerate(files):
            in_bytes += os.path.getsize(os.path.join(staged, f))
            os.replace(os.path.join(staged, f), os.path.join(docs_dir, f))
            with tr.span("streaming.maintain_near_dup_index") as sp:
                maintain_near_dup_index(
                    spark, docs_dir, index, ckpt, k=3, n_hashes=16, bands=16, threshold=0.5,
                    compact_every=self.fold_fanout, fold_log=fold_log, probe_log=probe_log,
                )
            walls.append(sp.wall_s)
            listener.wait_terminated(k + 1)
        spark.streams.removeListener(listener)

        failed = 0
        r = read_near_dup_index(spark, index).agg(
            F.count(F.lit(1)).alias("c"), F.sum("id").alias("s")
        ).collect()[0]
        heads = range(0, n, self.group)
        if (r["c"], r["s"]) != (len(heads), sum(heads)):
            print(f"[check] curation retained {(r['c'], r['s'])} != planted heads", flush=True)
            failed += 1

        runs: dict[str, dict] = {}
        for run_id, dur in listener.progress:
            acc = runs.setdefault(run_id, {})
            for key, v in dur.items():
                acc[key] = acc.get(key, 0) + v
        per_tick = list(runs.values())

        def med(key):
            return _median([d.get(key, 0) for d in per_tick])

        folded = [w for w, e in zip(walls, fold_log) if e.get("fold")]
        probed = [p for p in probe_log if p.get("hist_dirs")]
        metrics["streaming.add_batch_ms"] = med("addBatch")
        metrics["streaming.query_planning_ms"] = med("queryPlanning")
        metrics["streaming.wal_commit_ms"] = med("walCommit")
        metrics["streaming.trigger_ms"] = med("triggerExecution")
        metrics["streaming.query_overhead_s"] = _median(
            [w - d.get("triggerExecution", 0) / 1000.0 for w, d in zip(walls, per_tick)]
        )
        metrics["streaming.tick_p50_s"] = _median(walls)
        metrics["streaming.fold_tick_s"] = _median(folded)
        metrics["streaming.probe_candidates"] = sum(p.get("n_candidates", 0) for p in probed)
        metrics["streaming.probe_pruned_ratio"] = _median([
            1.0 - len(p["probe_shards"]) / 16 if p.get("prune") else 0.0 for p in probed
        ])
        metrics["streaming.fold_bytes_rewritten"] = sum(e.get("bytes_folded_in", 0) for e in fold_log)
        metrics["streaming.index_bytes"] = dir_bytes(index)
        metrics["streaming.index_bytes_per_input_byte"] = dir_bytes(index) / in_bytes
        self.info["curation"] = {
            "docs_per_tick": self.tick_n, "ticks": self.ticks, "fold_fanout": self.fold_fanout,
            "n_tokens": 60, "bands": 16, "folds": len(folded),
        }
        return failed


# ---------------------------------------------------------------------------
# the catalog round (traced with gmail_daily)
# ---------------------------------------------------------------------------

#: The catalog round: query → the layer class (span) it is traced under.
CATALOG_ROUND = {
    "q01_pricing_summary": "relational",
    "q02_top_orders": "relational",
    "q03_region_revenue": "relational",
    "q40_dedup_exact": "relational",
    "q60_tumbling_window": "relational",
    "q31_token_stats": "text",
    "q50_knn_exact": "similarity",
    "q51_knn_ivf": "similarity",
    "q136_ivf_pq_topk": "similarity",
}
#: recall@10 floor for q136 (no SQL oracle), the package's own test gate.
IVF_PQ_MIN_RECALL = 0.4


def _canon(v):
    import math

    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 6)
    return v


def _sorted_rows(rows: list[tuple]) -> list[tuple]:
    return sorted(rows, key=lambda t: tuple((x is None, str(x)) for x in t))


class CatalogRound:
    """One round of catalog queries over seeded tables, each traced
    under its layer class and checked against the catalog's DuckDB
    oracle (q136, which has none, against exact search)."""

    base_lineitem = 120_000

    def __init__(self, work: str, seed: int, scale: float):
        self.tables = os.path.join(work, "tables")
        self.seed = seed
        self.lineitem_rows = max(1000, int(self.base_lineitem * scale))
        self.order = list(CATALOG_ROUND)
        random.Random(seed).shuffle(self.order)
        self.oracle_rows: dict[str, list[tuple] | None] = {}
        self.info: dict = {}

    def generate(self) -> None:
        import duckdb

        from gmail_etl_spark.plans.catalog import oracle_map

        rows = gen_catalog.generate(_reset_dir(self.tables), self.seed, self.lineitem_rows)
        self.info = {"rows": rows, "order": self.order}
        oracles = oracle_map()
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        for t in gen_catalog.TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{self.tables}/{t}.parquet')"
            )
        for q in CATALOG_ROUND:
            if q not in oracles:
                self.oracle_rows[q] = None
                continue
            rel = con.execute(oracles[q])
            cols = [d[0] for d in rel.description]
            order = sorted(range(len(cols)), key=lambda k: cols[k])
            self.oracle_rows[q] = _sorted_rows(
                [tuple(_canon(r[k]) for k in order) for r in rel.fetchall()]
            )
        con.close()

    def _verify(self, q: str, df: DataFrame) -> list:
        """Collect ``df`` and check it against the query's oracle (or,
        for the approximate IVF-PQ query, recall@10 against exact
        search); return the collected rows."""
        rows = df.collect()
        if self.oracle_rows[q] is not None:
            cols = sorted(df.columns)
            got = _sorted_rows([tuple(_canon(r[c]) for c in cols) for r in rows])
            if got != self.oracle_rows[q]:
                raise CheckFailed(f"{q}: rows differ from the DuckDB oracle")
            return rows
        import numpy as np
        import pyarrow.parquet as pq

        emb = pq.read_table(os.path.join(self.tables, "embeddings.parquet")).to_pydict()
        ids = np.array(emb["vec_id"])
        vecs = np.array(emb["embedding"], dtype=np.float64)
        recalls = []
        for qid in sorted({r["query_id"] for r in rows}):
            got = {r["neighbor_id"] for r in rows if r["query_id"] == qid}
            d = ((vecs - vecs[ids == qid][0]) ** 2).sum(axis=1)
            exact = set(ids[np.argsort(d, kind="stable")[:10]].tolist())
            recalls.append(len(got & exact) / 10)
        if len(rows) != 50 or not recalls or statistics.mean(recalls) < IVF_PQ_MIN_RECALL:
            raise CheckFailed(f"{q}: {len(rows)} rows, recall@10 {recalls}")
        return rows

    def traced(self, spark: SparkSession, tr: Tracer, metrics: dict) -> int:
        """Each query once under ``plans.<class>`` (build, then hash
        materialization), then collected again untraced and checked; the
        collected rows must also hash to what the traced run produced."""
        from gmail_etl_spark.plans.catalog import query_map

        queries = query_map()
        failed = 0
        build = {c: 0.0 for c in set(CATALOG_ROUND.values())}
        plan = dict(build)
        for q in self.order:
            cls = CATALOG_ROUND[q]
            with tr.span(f"plans.{cls}"):
                t0 = time.perf_counter()
                df = queries[q](spark, self.tables)
                build[cls] += time.perf_counter() - t0
                hashed = hash_frame(df)
                got = collect_hash(hashed)
            plan[cls] += planning_seconds(hashed)
            try:
                rows = self._verify(q, df)
                if got != hash_agg(spark.createDataFrame(rows, df.schema)):
                    raise CheckFailed(f"{q}: traced output differs from the checked rows")
            except CheckFailed as exc:
                print(f"[check] {exc}", flush=True)
                failed += 1
        for cls in build:
            metrics[f"plans.{cls}.build_s"] = build[cls]
            metrics[f"plans.{cls}.planning_s"] = plan[cls]
        return failed


WORKLOADS = {w.name: w for w in (GmailDaily, NearDedupBatch)}
