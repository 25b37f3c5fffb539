"""Dedup catalog entries (D1/D2, J1–J3 generalized)."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gmail_etl_spark.operators.dedup import (
    exact_dedup,
    jaccard_pairs,
    jaccard_pairs_prefix,
    minhash_lsh_pairs,
    shingles,
)
from gmail_etl_spark.operators.text import with_winnow_fps
from gmail_etl_spark.plans.catalog import load_table, query

# ---------------------------------------------------------------------------
# q40 — exact content dedup (D1)
# ---------------------------------------------------------------------------


@query(
    "q40_dedup_exact",
    oracle="""
    SELECT sha256(text) AS content_hash,
           MIN(doc_id) AS canonical_id,
           COUNT(*) AS dup_count
    FROM documents
    GROUP BY sha256(text)
    ORDER BY canonical_id
    """,
    survey="D1,J3",
    headline=True,
)
def q40_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents")
    return exact_dedup(d, "doc_id", "text").orderBy("canonical_id")


# ---------------------------------------------------------------------------
# q41 — window-based canonical row selection
# ---------------------------------------------------------------------------


@query(
    "q41_dedup_canonical_rows",
    oracle="""
    SELECT doc_id, lang, source
    FROM documents
    QUALIFY ROW_NUMBER() OVER (PARTITION BY sha256(text) ORDER BY doc_id) = 1
    ORDER BY doc_id
    """,
    survey="D1",
)
def q41_dedup_canonical_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy(F.sha2("text", 256)).orderBy("doc_id")
    return (
        d.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("doc_id", "lang", "source")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q42 — cross-run ledger anti-join (J1/J2 at scale)
# ---------------------------------------------------------------------------


@query(
    "q42_ledger_anti_join",
    oracle="""
    SELECT d.doc_id, d.lang
    FROM documents d
    WHERE NOT EXISTS (
        SELECT 1 FROM documents p
        WHERE p.doc_id % 7 = 0 AND sha256(p.text) = sha256(d.text)
    )
    ORDER BY d.doc_id
    """,
    survey="J1,J2,D1",
)
def q42_ledger_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's processed-ledger dedup (N+1 point lookups,
    ``resources/gmail_functions.py:172-178``) as one hash anti-join:
    a simulated ledger (every 7th doc's content hash) filters the batch."""
    d = load_table(spark, sf_dir, "documents").withColumn(
        "content_hash", F.sha2("text", 256)
    )
    ledger = d.filter(F.col("doc_id") % 7 == 0).select("content_hash")
    return (
        d.join(ledger, "content_hash", "left_anti")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q43 — exact n-gram Jaccard pairs (D2 oracle path)
# ---------------------------------------------------------------------------


@query(
    "q43_jaccard_pairs",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents WHERE doc_id < 200
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
        FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id,
           CAST(n_common AS DOUBLE) / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) >= 0.8
    ORDER BY a_id, b_id
    """,
    survey="D2",
)
def q43_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return jaccard_pairs(d, "doc_id", "text", threshold=0.8).orderBy("a_id", "b_id")


# ---------------------------------------------------------------------------
# q44 — MinHash + LSH near-dup pairs (D2 scale path), HASH-ORACLED on the
# portable sha256 hash family.
#
# Rows-only until round 9.  The old rationale ("banding is probabilistic,
# so no SQL oracle reproduces the candidate set") conflated approximate-
# vs-TRUTH with oracle-ABILITY: the output is a deterministic function of
# the fixtures, and an oracle only has to REPLAY the algorithm, not prove
# it exact.  The one genuine blocker was xxhash64 (no DuckDB equivalent);
# swapping the base hash for the portable sha256-nibble family (the q145
# recipe) makes every value in the pipeline — base hash, Carter–Wegman
# permutations, band keys, verify sets, Jaccard — recomputable in SQL.
# The band-bucket fusion is replayed as (band, signature-slice) tuple
# equality (see minhash_lsh_pairs' docstring for why that's identical),
# and max_bucket is lifted above the slice size so the salted
# chunk-capping (an xxhash64 ordering no oracle can replay) never
# triggers on this bounded gate; the capped path stays exercised by the
# 100k-doc bench and its boundary fuzz tests.
# ---------------------------------------------------------------------------

#: Carter–Wegman (a, b) per permutation — same constants the operator
#: derives via _mh_ab, precomputed here in exact Python arithmetic (the
#: i * 0x9E37… products overflow int64, so they cannot live in the SQL).
_Q44_N_HASHES, _Q44_BANDS = 32, 16
_Q44_ROWS_PER_BAND = _Q44_N_HASHES // _Q44_BANDS

_Q44_HEX = "0123456789abcdef"
#: first-8-hex-nibbles value of sha256(shingle), as DuckDB arithmetic —
#: equals Spark's conv(substring(sha2(s,256),1,8),16,10)
_Q44_BASE8 = " + ".join(
    f"(strpos('{_Q44_HEX}', substr(hx, {i + 1}, 1)) - 1) * {16 ** (7 - i)}"
    for i in range(8)
)


def _sha_minhash_pair_ctes(
    source_cte: str,
    threshold: float,
    out_cte: str = "simpairs",
    with_jaccard: bool = False,
    materialized_out: bool = False,
    n_hashes: int = _Q44_N_HASHES,
    bands: int = _Q44_BANDS,
) -> str:
    """THE single emitter of the sha256-family MinHash+LSH+verify oracle
    CTE block — shared by q44 (the pair query itself), q258 (the
    composed curation row), and q259 (the streaming-index recurrence),
    so a threshold/shingle/nibble tweak can never desync the three (the
    same rationale as operators.dedup._banded_keys on the Spark side).

    Emits ``sh → hashed → base → seeds → sig → bandkeys → cand → sizes
    → common → <out_cte>`` sourced from ``source_cte`` (must expose
    ``doc_id`` and ``toks``); ``<out_cte>`` holds the verified pairs
    (a_id, b_id[, jaccard]) at ``threshold``.  ``base`` is MATERIALIZED
    (three consumers); mark ``materialized_out`` when the caller
    references ``<out_cte>`` more than once (the q258 CTE-inlining
    lesson: DuckDB re-executes multiply-referenced CTEs otherwise).
    Internal CTE names are fixed — callers must not reuse them."""
    from gmail_etl_spark.operators.dedup import _MH_P, _mh_ab

    seeds = ", ".join(
        f"({i}, {a}, {b})"
        for i, (a, b) in ((i, _mh_ab(i)) for i in range(n_hashes))
    )
    rows_per_band = n_hashes // bands
    jac = (
        "CAST(n_common AS DOUBLE)"
        " / CAST(sa.n_h + sb.n_h - n_common AS DOUBLE)"
    )
    jcol = f",\n           {jac} AS jaccard" if with_jaccard else ""
    mat = "MATERIALIZED " if materialized_out else ""
    return f"""
    sh AS (
        SELECT DISTINCT doc_id,
               unnest(CASE WHEN len(toks) >= 3
                   THEN list_transform(
                       generate_series(1, len(toks) - 2),
                       i -> array_to_string(list_slice(toks, i, i + 2), ' '))
                   ELSE [array_to_string(toks, ' ')] END) AS shingle
        FROM {source_cte}
    ),
    hashed AS (SELECT doc_id, shingle, sha256(shingle) AS hx FROM sh),
    base AS MATERIALIZED (
        SELECT doc_id, ({_Q44_BASE8}) % {_MH_P} AS h, substr(hx, 1, 16) AS h16
        FROM hashed
    ),
    seeds(i, a, b) AS (VALUES {seeds}),
    sig AS (
        SELECT doc_id, s.i AS i, MIN((s.a * base.h + s.b) % {_MH_P}) AS mh
        FROM base CROSS JOIN seeds s
        GROUP BY doc_id, s.i
    ),
    bandkeys AS (
        SELECT doc_id, i // {rows_per_band} AS band,
               string_agg(mh::VARCHAR, ',' ORDER BY i) AS bkey
        FROM sig GROUP BY doc_id, i // {rows_per_band}
    ),
    cand AS (
        SELECT x.doc_id AS a_id, y.doc_id AS b_id
        FROM bandkeys x
        JOIN bandkeys y ON x.band = y.band AND x.bkey = y.bkey
                       AND x.doc_id < y.doc_id
        GROUP BY x.doc_id, y.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(DISTINCT h16) AS n_h FROM base GROUP BY doc_id),
    common AS (
        SELECT c.a_id, c.b_id, COUNT(DISTINCT xa.h16) AS n_common
        FROM cand c
        JOIN base xa ON xa.doc_id = c.a_id
        JOIN base xb ON xb.doc_id = c.b_id AND xb.h16 = xa.h16
        GROUP BY c.a_id, c.b_id
    ),
    {out_cte} AS {mat}(
        SELECT c.a_id, c.b_id{jcol}
        FROM common c
        JOIN sizes sa ON sa.doc_id = c.a_id
        JOIN sizes sb ON sb.doc_id = c.b_id
        WHERE {jac} >= {threshold}
    )"""




def _q44_oracle() -> str:
    return f"""
    WITH docs AS (
        SELECT doc_id, string_split(text, ' ') AS toks
        FROM documents WHERE doc_id < 2000
    ),{_sha_minhash_pair_ctes("docs", 0.5, out_cte="pairs", with_jaccard=True)}
    SELECT a_id, b_id, jaccard FROM pairs
    ORDER BY a_id, b_id
    """


@query(
    "q44_minhash_lsh",
    oracle=_q44_oracle(),
    survey="D2",
)
def q44_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash + banded LSH + exact verify on the portable sha256 hash
    family — the full near-dup pipeline (shingle → signature → band
    buckets → candidate pairs → hashed-set Jaccard verify) replayed
    value-for-value by the DuckDB oracle.  The banding recall contract
    (the approximate part) stays pinned by the recall/no-FP property
    tests against exact Jaccard in tests/test_operators.py."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return minhash_lsh_pairs(
        d,
        "doc_id",
        "text",
        k=3,
        n_hashes=_Q44_N_HASHES,
        bands=_Q44_BANDS,
        threshold=0.5,
        max_bucket=1_000_000,
        hash_family="sha256",
    ).orderBy("a_id", "b_id")


# ---------------------------------------------------------------------------
# q47/q48 — near-dup clustering via connected components (D2 end-game)
# ---------------------------------------------------------------------------

#: exact-Jaccard pair edges + min-reachable-id components, as one
#: recursive CTE (DuckDB recursive CTEs dedup via UNION, so the reach
#: relation is finite and the fixpoint terminates on cyclic edge sets).
_CC_ORACLE_PREFIX = """
    WITH RECURSIVE toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents WHERE doc_id < 1000
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
        FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT a_id, b_id
      FROM common
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE CAST(n_common AS DOUBLE)
            / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) >= 0.95
    ),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION SELECT b_id, a_id FROM pairs),
    reach(id, r) AS (
      SELECT u, u FROM (SELECT DISTINCT u FROM edges) t
      UNION
      SELECT reach.id, edges.v FROM reach JOIN edges ON reach.r = edges.u
    ),
    comp AS (SELECT id, MIN(r) AS component FROM reach GROUP BY id)
"""


def _jaccard_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    # bounded slice: fixtures grow with SF, but the correctness surface
    # (and the recursive-CTE oracle's fixpoint) should stay O(1000 docs)
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    return jaccard_pairs(d, "doc_id", "text", threshold=0.95)


@query(
    "q47_near_dup_clusters",
    oracle=_CC_ORACLE_PREFIX
    + """
    SELECT id AS doc_id, component FROM comp ORDER BY doc_id
    """,
    survey="D2",
)
def q47_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: exact-Jaccard pairs (≥0.95) →
    alternating large-star/small-star connected components → (doc_id,
    component=min id in cluster).  The oracle recomputes the same
    components with a DuckDB recursive CTE (min reachable id)."""
    from gmail_etl_spark.operators.dedup import connected_components

    comp = connected_components(
        _jaccard_edges(spark, sf_dir).select(
            F.col("a_id").alias("u"), F.col("b_id").alias("v")
        )
    )
    return comp.select(F.col("node").alias("doc_id"), "component").orderBy("doc_id")


@query(
    "q48_near_dedup",
    oracle=_CC_ORACLE_PREFIX
    + """
    SELECT d.doc_id, d.lang
    FROM documents d
    LEFT JOIN comp ON comp.id = d.doc_id
    WHERE d.doc_id < 1000
      AND (comp.id IS NULL OR comp.component = d.doc_id)
    ORDER BY d.doc_id
    """,
    survey="D2,J3",
)
def q48_near_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end near-dedup: keep one canonical doc (min id) per
    near-dup cluster plus every unclustered doc."""
    from gmail_etl_spark.operators.dedup import near_dedup

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .select("doc_id", "lang")
    )
    return near_dedup(d, "doc_id", _jaccard_edges(spark, sf_dir)).orderBy("doc_id")


# ---------------------------------------------------------------------------
# q45 — SimHash signatures (D2 alternate), HASH-ORACLED on the portable
# sha256 hash family: bit b of a token's hash = parity of sha256 hex
# nibble b, so DuckDB recomputes every vote, bit, and packed half.
# Rows-only until round 9 — the xxhash64 bit votes were the only blocker
# (the Hamming-recall property of downstream pairing was never the
# oracle's job); the xxhash64 production form stays covered by the
# recall/no-FP property tests in tests/test_operators.py.
# ---------------------------------------------------------------------------


@query(
    "q45_simhash",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents WHERE doc_id < 500
    ),
    nib AS (
        SELECT doc_id, bb.b AS b, substr(sha256(token), bb.b + 1, 1) AS nibble
        FROM toks CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb
    ),
    votes AS (
        SELECT doc_id, b,
               SUM(CASE WHEN (strpos('0123456789abcdef', nibble) - 1) % 2 = 1
                        THEN 1 ELSE -1 END) AS v
        FROM nib GROUP BY doc_id, b
    ),
    bits AS (
        SELECT doc_id, b,
               CASE WHEN v > 0 THEN 1::BIGINT ELSE 0::BIGINT END AS bit
        FROM votes
    )
    SELECT doc_id AS id,
           CAST(SUM(CASE WHEN b >= 32 THEN bit << (b - 32) ELSE 0 END) AS BIGINT)
               AS sim_hi,
           CAST(SUM(CASE WHEN b < 32 THEN bit << b ELSE 0 END) AS BIGINT)
               AS sim_lo
    FROM bits GROUP BY doc_id ORDER BY id
    """,
    survey="D2",
)
def q45_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable-family SimHash signatures as (id, sim_hi, sim_lo) 32-bit
    halves — value-replayed by the DuckDB oracle (see
    simhash_signatures_portable).  Near-dup pairing downstream is
    Hamming distance over the halves; its recall properties are pinned
    against exact similarity in tests/test_operators.py."""
    from gmail_etl_spark.operators.dedup import simhash_signatures_portable

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 500)
    return simhash_signatures_portable(d, "doc_id", "text").orderBy("id")


# ---------------------------------------------------------------------------
# q74 — cross-source overlap matrix (containment between corpora)
# ---------------------------------------------------------------------------


@query(
    "q74_source_overlap",
    oracle="""
    WITH sh AS (
        SELECT DISTINCT source, token AS shingle
        FROM (
            SELECT source,
                   unnest(list_transform(
                       generate_series(1, len(string_split(text, ' ')) - 2),
                       i -> array_to_string(list_slice(string_split(text, ' '), i, i + 2), ' ')
                   )) AS token
            FROM documents
        )
    ),
    sizes AS (SELECT source, COUNT(*) AS n_sh FROM sh GROUP BY source),
    common AS (
        SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT source_a, source_b, n_common,
           round(CAST(n_common AS DOUBLE) / sa.n_sh, 6) AS containment_a,
           round(CAST(n_common AS DOUBLE) / sb.n_sh, 6) AS containment_b
    FROM common
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
    survey="D2,X3",
)
def q74_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise 3-shingle containment between source corpora — the
    contamination matrix a curation pipeline uses to find leaking or
    mirrored sources.  Inverted-index join on shingle (cost Σ df(s)²,
    never |A|×|B|); per-source shingle sets are the same distinct-explode
    used by the decontamination operator (q97)."""
    from gmail_etl_spark.operators.dedup import shingles

    d = load_table(spark, sf_dir, "documents")
    sh = d.select(
        "source", F.explode(shingles(F.col("text"), 3)).alias("shingle")
    ).distinct()
    sizes = sh.groupBy("source").agg(F.count(F.lit(1)).alias("n_sh"))
    # one-shuffle pair expansion over the shingle postings (sources per
    # shingle are few, so the collected array is tiny per key)
    common = (
        sh.groupBy("shingle")
        .agg(F.collect_list("source").alias("srcs"))
        .filter(F.size("srcs") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(srcs, (x, i) ->"
                    " transform(slice(srcs, i + 2, size(srcs) - i - 1),"
                    " y -> struct(least(x, y) as source_a, greatest(x, y) as source_b))))"
                )
            ).alias("p")
        )
        .groupBy("p.source_a", "p.source_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sa = sizes.select(F.col("source").alias("source_a"), F.col("n_sh").alias("a_n"))
    sb = sizes.select(F.col("source").alias("source_b"), F.col("n_sh").alias("b_n"))
    return (
        common.join(F.broadcast(sa), "source_a")
        .join(F.broadcast(sb), "source_b")
        .select(
            "source_a",
            "source_b",
            "n_common",
            F.round(F.col("n_common").cast("double") / F.col("a_n"), 6).alias(
                "containment_a"
            ),
            F.round(F.col("n_common").cast("double") / F.col("b_n"), 6).alias(
                "containment_b"
            ),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# q104 — near-dup pairs via winnowing fingerprints (inverted-index join)
# ---------------------------------------------------------------------------


@query(
    "q104_winnow_near_dup_pairs",
    oracle="""
    WITH h AS (
        SELECT doc_id, string_split(text, '') AS cs, length(text) AS n
        FROM documents
        WHERE length(text) >= 8
    ), hh AS (
        SELECT doc_id,
            list_transform(range(1, n - 5 + 2),
                i -> ((((ascii(cs[i])::BIGINT * 257 + ascii(cs[i+1])) * 257
                        + ascii(cs[i+2])) * 257
                        + ascii(cs[i+3])) * 257
                        + ascii(cs[i+4])) % 1000000007) AS hs
        FROM h
    ), fps0 AS (
        SELECT doc_id,
            unnest(list_distinct(list_transform(range(1, len(hs) - 4 + 2),
                i -> list_min(hs[i:i+3])))) AS fp
        FROM hh
    ), fps AS (
        SELECT doc_id, fp FROM fps0
        QUALIFY COUNT(*) OVER (PARTITION BY fp) <= 100
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS nfp FROM fps GROUP BY doc_id
    ), pairs AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS shared_fps
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT p.a_id, p.b_id, p.shared_fps, sa.nfp AS a_nfp, sb.nfp AS b_nfp,
           ROUND(p.shared_fps::DOUBLE / (sa.nfp + sb.nfp - p.shared_fps), 6)
               AS resemblance
    FROM pairs p
    JOIN sizes sa ON p.a_id = sa.doc_id
    JOIN sizes sb ON p.b_id = sb.doc_id
    WHERE p.shared_fps::DOUBLE / (sa.nfp + sb.nfp - p.shared_fps) >= 0.5
    ORDER BY a_id, b_id
    """,
    survey="D2,X3",
)
def q104_winnow_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level near-dup pairs from winnowing fingerprints: an
    inverted index (doc_id, fingerprint) self-joined on fingerprint,
    resemblance = |A∩B| / |A∪B| over fingerprint sets, thresholded at
    0.5 (recovers exactly the fixture's planted near-dup pairs).

    Scale posture: fingerprints occurring in > 100 documents are dropped
    BEFORE pair generation (window count over the fp partitioning — the
    same shuffle key the pair expansion needs).  Those ubiquitous
    fingerprints are exactly the skewed hot keys that would make pair
    generation quadratic at 100 TB, and they carry no near-dup signal;
    capping document frequency is the standard inverted-index pruning.
    Pairs come from ONE shuffle: groupBy fp + JVM-side i<j expansion,
    not a postings self-join.  All counts integer; the one float
    (resemblance) is a division of identical integers rounded
    identically on both engines.
    """
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    # explode_outer, NOT explode: plain explode makes
    # InferFiltersFromGenerate add a `size(fps) > 0` predicate whose
    # expression tree inlines the whole chained winnowing projection
    # (hs references cs 5x, fps re-evaluates hs per window position),
    # turning the per-document cost superlinear — measured as a hang at
    # sf0.01.  explode_outer cannot infer that filter; null rows (none
    # in practice, every length>=8 doc has >=1 fingerprint) are dropped
    # explicitly.
    fps = (
        with_winnow_fps(d)
        .select("doc_id", F.explode_outer("fps").alias("fp"))
        .filter(F.col("fp").isNotNull())
        .withColumn("_df", F.count("*").over(Window.partitionBy("fp")))
        .filter(F.col("_df") <= 100)
        .drop("_df")
    )
    sizes = fps.groupBy("doc_id").agg(F.count("*").alias("nfp"))
    # one-shuffle pair expansion (same shape as the LSH/Jaccard paths):
    # group the inverted index per fingerprint and expand i<j pairs
    # JVM-side instead of self-joining the postings on fp.
    pairs = (
        fps.groupBy("fp")
        .agg(F.collect_list("doc_id").alias("ids"))
        .filter(F.size("ids") > 1)
        .select(
            F.explode(
                F.expr(
                    "flatten(transform(ids, (x, i) ->"
                    " transform(slice(ids, i + 2, size(ids) - i - 1),"
                    " y -> struct(least(x, y) as a_id, greatest(x, y) as b_id))))"
                )
            ).alias("p")
        )
        .groupBy("p.a_id", "p.b_id")
        .agg(F.count("*").alias("shared_fps"))
    )
    shared = F.col("shared_fps").cast("double")
    union_sz = F.col("a_nfp") + F.col("b_nfp") - F.col("shared_fps")
    return (
        pairs.join(
            sizes.select(F.col("doc_id").alias("a_id"), F.col("nfp").alias("a_nfp")),
            "a_id",
        )
        .join(
            sizes.select(F.col("doc_id").alias("b_id"), F.col("nfp").alias("b_nfp")),
            "b_id",
        )
        .filter(shared / union_sz >= 0.5)
        .select(
            "a_id",
            "b_id",
            "shared_fps",
            "a_nfp",
            "b_nfp",
            F.round(shared / union_sz, 6).alias("resemblance"),
        )
        .orderBy("a_id", "b_id")
    )


# ---------------------------------------------------------------------------
# q113 — incremental near-dup admission (new batch vs existing corpus)
# ---------------------------------------------------------------------------


@query(
    "q113_incremental_near_dup",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents WHERE doc_id < 1000
    ), sizes AS (
        SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id
    ), common AS (
        SELECT n.doc_id AS new_id, o.doc_id AS corpus_id, COUNT(*) AS n_common
        FROM toks n JOIN toks o ON n.token = o.token
        WHERE n.doc_id < 100 AND o.doc_id >= 100
        GROUP BY 1, 2
    )
    SELECT c.new_id, c.corpus_id,
           ROUND(CAST(c.n_common AS DOUBLE)
                 / (sn.n_tok + so.n_tok - c.n_common), 6) AS jaccard
    FROM common c
    JOIN sizes sn ON sn.doc_id = c.new_id
    JOIN sizes so ON so.doc_id = c.corpus_id
    WHERE CAST(c.n_common AS DOUBLE)
          / (sn.n_tok + so.n_tok - c.n_common) >= 0.8
    ORDER BY new_id, corpus_id
    """,
    survey="D2,J1,J2",
)
def q113_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup admission: which documents of an incoming
    batch (doc_id < 100) near-duplicate the existing corpus (100-999)?
    This generalizes the reference's ledger anti-join
    (``resources/gmail_functions.py:172-178`` checks EXACT id matches
    before admitting a message) to fuzzy content matching — the shape a
    production pipeline runs on every ingest.

    Scale posture: the inverted index is built over both sides but pair
    expansion is ASYMMETRIC — per token, only (new x corpus) pairs
    emerge (a nested higher-order cross of the two small per-token
    lists), never corpus x corpus, so cost is bounded by the batch, not
    the lake.  One shuffle on token, one partial-aggregating pair
    count; sizes re-enter via the same grouped aggregates."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    toks = d.select(
        "doc_id",
        F.explode(F.array_distinct(F.split("text", " "))).alias("token"),
    )
    sizes = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    postings = (
        toks.groupBy("token")
        .agg(
            F.collect_list(F.when(F.col("doc_id") < 100, F.col("doc_id"))).alias(
                "new_ids"
            ),
            F.collect_list(F.when(F.col("doc_id") >= 100, F.col("doc_id"))).alias(
                "corpus_ids"
            ),
        )
        .filter((F.size("new_ids") > 0) & (F.size("corpus_ids") > 0))
    )
    common = (
        postings.select(
            F.explode(
                F.expr(
                    "flatten(transform(new_ids, x ->"
                    " transform(corpus_ids, y ->"
                    " struct(x as new_id, y as corpus_id))))"
                )
            ).alias("p")
        )
        .groupBy("p.new_id", "p.corpus_id")
        .agg(F.count(F.lit(1)).alias("n_common"))
    )
    sn = sizes.select(F.col("doc_id").alias("new_id"), F.col("n_tok").alias("n_new"))
    so = sizes.select(
        F.col("doc_id").alias("corpus_id"), F.col("n_tok").alias("n_corpus")
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_new") + F.col("n_corpus") - F.col("n_common")
    )
    return (
        common.join(sn, "new_id")
        .join(so, "corpus_id")
        .filter(jac >= 0.8)
        .select("new_id", "corpus_id", F.round(jac, 6).alias("jaccard"))
        .orderBy("new_id", "corpus_id")
    )


# ---------------------------------------------------------------------------
# q133 — exact substring-span dedup: repeated n-token windows across docs
# ---------------------------------------------------------------------------


@query(
    "q133_repeated_ngram_spans",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    w AS (
        SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS win
        FROM d, UNNEST(range(1, len(toks) - 6)) AS t(i)
        WHERE len(toks) >= 8
    ),
    dup AS (
        SELECT win FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
    )
    SELECT w.doc_id,
           COUNT(*) AS n_windows,
           CAST(SUM((dup.win IS NOT NULL)::INT) AS BIGINT) AS n_dup_windows,
           MIN(CASE WHEN dup.win IS NOT NULL THEN w.pos END) AS first_dup_pos
    FROM w LEFT JOIN dup USING (win)
    GROUP BY w.doc_id
    ORDER BY w.doc_id
    """,
    survey="D1,D2",
)
def q133_repeated_ngram_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact substring-span dedup statistic (the suffix-array method of
    "Deduplicating Training Data Makes Language Models Better", Lee et
    al. 2022, §4.1, re-expressed relationally): every 8-token window of
    every document, marked duplicated when the identical window occurs
    in at least two distinct documents.  Per document: window count,
    duplicated-window count, and the first duplicated position — the
    inputs a span-removal pass needs.

    Scale posture: two shuffles, both keyed on the window text — one
    grouped distinct-doc count (map-side partial) to find cross-doc
    windows, one join back onto the window stream — then a per-doc
    aggregation.  No all-pairs stage anywhere: cost is linear in total
    token count.  At 100 TB the window key should be xxhash64(win)
    (8-byte shuffle keys, collision odds ~n²/2⁶⁵); the string form here
    is what DuckDB reproduces byte-for-byte.
    """
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    w = (
        d.filter(F.size(toks) >= 8)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 7),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, 8)),
                )
            ).alias("p", "win"),
        )
        .select("doc_id", (F.col("p") + 1).cast("long").alias("pos"), "win")
    )
    dup = (
        w.groupBy("win")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("win", F.lit(1).alias("_dup"))
    )
    return (
        w.join(dup, "win", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(F.coalesce(F.col("_dup"), F.lit(0))).cast("long").alias(
                "n_dup_windows"
            ),
            F.min(F.when(F.col("_dup").isNotNull(), F.col("pos"))).alias(
                "first_dup_pos"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q139 — substring-span removal: drop tokens covered by cross-doc windows
# ---------------------------------------------------------------------------


@query(
    "q139_remove_dup_spans",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    w AS (
        SELECT doc_id, i AS pos, array_to_string(toks[i:i+7], ' ') AS win
        FROM d, UNNEST(range(1, len(toks) - 6)) AS t(i)
        WHERE len(toks) >= 8
    ),
    dup AS (
        SELECT win FROM w GROUP BY win HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    cover AS (
        SELECT DISTINCT w.doc_id, t.p AS pos
        FROM w JOIN dup USING (win), UNNEST(range(w.pos, w.pos + 8)) AS t(p)
        WHERE w.doc_id < 100
    ),
    toks AS (
        SELECT d.doc_id, toks[t.i] AS tok, t.i AS pos
        FROM d, UNNEST(range(1, len(toks) + 1)) AS t(i)
        WHERE d.doc_id < 100
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM((c.pos IS NOT NULL)::INT) AS BIGINT) AS n_removed,
           COALESCE(string_agg(CASE WHEN c.pos IS NULL THEN t.tok END,
                               ' ' ORDER BY t.pos), '') AS clean_text
    FROM toks t
    LEFT JOIN cover c ON c.doc_id = t.doc_id AND c.pos = t.pos
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    survey="D1,D2",
)
def q139_remove_dup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The apply form of q133 (Lee et al. 2022 §4.1's actual transform):
    every token position covered by an 8-token window that recurs in a
    second document is dropped; the cleaned text keeps original token
    order.  Duplicated-window detection runs over the WHOLE corpus;
    removal is materialized for the doc_id < 100 slice so the oracle's
    coverage join stays bounded.

    Scale posture: windows and coverage are (doc_id, pos) integer pairs
    — the shuffles carry positions, never text; re-assembly is one
    grouped sort-by-pos aggregation per document (the q101/q118
    collect-struct idiom).  At 100 TB window keys hash to longs exactly
    as in q133."""
    d = load_table(spark, sf_dir, "documents")
    toks_col = F.split("text", " ")
    w = (
        d.filter(F.size(toks_col) >= 8)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks_col) - 7),
                    lambda i: F.concat_ws(" ", F.slice(toks_col, i, 8)),
                )
            ).alias("p", "win"),
        )
        .select("doc_id", (F.col("p") + 1).cast("long").alias("pos"), "win")
    )
    dup = (
        w.groupBy("win")
        .agg(F.countDistinct("doc_id").alias("nd"))
        .filter(F.col("nd") >= 2)
        .select("win")
    )
    cover = (
        w.join(dup, "win")
        .filter(F.col("doc_id") < 100)
        .select(
            "doc_id",
            F.explode(F.sequence(F.col("pos"), F.col("pos") + 7)).alias("pos"),
        )
        .distinct()
        .withColumn("_cov", F.lit(1))
    )
    tokpos = (
        d.filter(F.col("doc_id") < 100)
        .select("doc_id", F.posexplode(toks_col).alias("p", "tok"))
        .select("doc_id", (F.col("p") + 1).cast("long").alias("pos"), "tok")
    )
    return (
        tokpos.join(cover, ["doc_id", "pos"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(F.coalesce(F.col("_cov"), F.lit(0))).cast("long").alias(
                "n_removed"
            ),
            F.concat_ws(
                " ",
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("_cov").isNull(),
                                F.struct("pos", "tok"),
                            )
                        )
                    ),
                    lambda s: s["tok"],
                ),
            ).alias("clean_text"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q154 — triangle census of the near-dup graph (dup-cluster cohesion)
# ---------------------------------------------------------------------------


@query(
    "q154_dup_graph_triangles",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents WHERE doc_id < 200
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
        FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    edges AS (
        SELECT a_id AS u, b_id AS v
        FROM common
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
        WHERE CAST(n_common AS DOUBLE)
              / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) >= 0.8
    ),
    tris AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e2.u = e1.v
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    per_node AS (
        SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (
            SELECT a AS node FROM tris
            UNION ALL SELECT b FROM tris
            UNION ALL SELECT c FROM tris
        )
        GROUP BY node
    )
    SELECT node, n_triangles FROM per_node ORDER BY node
    """,
    survey="D2,2.5-agg",
)
def q154_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the near-duplicate graph: per-document count
    of closed triples among its ≥0.8-Jaccard edges.  High triangle
    density marks tight duplicate cliques (safe to collapse to one
    canonical doc); bridge-heavy, triangle-poor components are the
    false-merge risk a dedup pass inspects before collapsing.

    The classic two-join triangle enumeration on canonically-ordered
    edges (u < v, so each triangle counts exactly once): at 100 TB the
    joins shuffle on node id, degeneracy-order the edges first to bound
    the e1⋈e2 intermediate (the standard MapReduce triangle recipe);
    the fixture's dup graph is small cliques, so the intermediate here
    is tiny.  Counts are exact integers."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    edges = (
        jaccard_pairs(d, "doc_id", "text", threshold=0.8)
        .select(F.col("a_id").alias("u"), F.col("b_id").alias("v"))
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tris = e1.join(e2, "b").join(e3, ["a", "c"])
    per_node = (
        tris.select(F.col("a").alias("node"))
        .unionAll(tris.select(F.col("b").alias("node")))
        .unionAll(tris.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("long").alias("n_triangles"))
    )
    return per_node.orderBy("node")


# ---------------------------------------------------------------------------
# q156 — PageRank (3 unrolled iterations) on the near-dup graph
# ---------------------------------------------------------------------------

_PR_ITER_SQL = """
    SELECT e.v AS node,
           ROUND(0.15 + 0.85 * CAST(SUM(CAST(ROUND({src}.r / deg.d, 9)
                 AS DECIMAL(28,9))) AS DOUBLE), 9) AS r
    FROM edges e
    JOIN {src} ON {src}.node = e.u
    JOIN deg ON deg.u = e.u
    GROUP BY e.v
"""


@query(
    "q156_pagerank",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents WHERE doc_id < 1000
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
        FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
      SELECT a_id, b_id
      FROM common
      JOIN sizes sa ON sa.doc_id = a_id
      JOIN sizes sb ON sb.doc_id = b_id
      WHERE CAST(n_common AS DOUBLE)
            / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) >= 0.95
    ),
    edges AS (SELECT a_id AS u, b_id AS v FROM pairs
              UNION ALL SELECT b_id, a_id FROM pairs),
    deg AS (SELECT u, COUNT(*) AS d FROM edges GROUP BY u),
    r0 AS (SELECT u AS node, CAST(1.0 AS DOUBLE) AS r FROM deg),
    r1 AS (""" + _PR_ITER_SQL.format(src="r0") + """),
    r2 AS (""" + _PR_ITER_SQL.format(src="r1") + """),
    r3 AS (""" + _PR_ITER_SQL.format(src="r2") + """)
    SELECT node, ROUND(r, 6) AS pagerank FROM r3 ORDER BY node
    """,
    survey="D2,2.5-agg",
)
def q156_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank (damping 0.85, three unrolled power iterations) over the
    ≥0.95-Jaccard near-dup graph — the canonical iterative graph
    algorithm as a DataFrame loop: each round is one edges⋈ranks join
    and one grouped sum, exactly the shuffle pattern a 1000-executor
    PageRank runs (ranks partitioned by node, edges by source).

    Engine-exactness for an ITERATIVE float computation: every per-edge
    contribution rounds to 9 dp and accumulates as exact DECIMAL, and
    each round's rank is re-rounded — so both engines carry bit-equal
    state into the next iteration and the final 6-dp hash matches (the
    q153 discipline, compounded across rounds)."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 1000)
    pairs = jaccard_pairs(d, "doc_id", "text", threshold=0.95)
    edges = pairs.select(F.col("a_id").alias("u"), F.col("b_id").alias("v")).unionAll(
        pairs.select(F.col("b_id").alias("u"), F.col("a_id").alias("v"))
    )
    deg = edges.groupBy("u").agg(F.count(F.lit(1)).alias("d"))
    ranks = deg.select(F.col("u").alias("node"), F.lit(1.0).alias("r"))
    for _ in range(3):
        contribs = (
            edges.join(ranks, edges["u"] == ranks["node"])
            .join(deg, "u")
            .select(
                "v",
                F.round(F.col("r") / F.col("d"), 9)
                .cast("decimal(28,9)")
                .alias("c"),
            )
        )
        ranks = contribs.groupBy("v").agg(
            F.round(
                F.lit(0.15) + F.lit(0.85) * F.sum("c").cast("double"), 9
            ).alias("r")
        ).select(F.col("v").alias("node"), "r")
    return ranks.select(
        "node", F.round("r", 6).alias("pagerank")
    ).orderBy("node")


# ---------------------------------------------------------------------------
# q157 — prefix-filtered exact Jaccard join (PPJoin family): same answer
# as q43's naive inverted index, provably fewer candidates
# ---------------------------------------------------------------------------


@query(
    "q157_jaccard_prefix_join",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents WHERE doc_id < 200
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
        FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    )
    SELECT a_id, b_id,
           CAST(n_common AS DOUBLE) / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) AS jaccard
    FROM common
    JOIN sizes sa ON sa.doc_id = a_id
    JOIN sizes sb ON sb.doc_id = b_id
    WHERE CAST(n_common AS DOUBLE) / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) >= 0.8
    ORDER BY a_id, b_id
    """,
    survey="D2",
)
def q157_jaccard_prefix_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact similarity join (operators.dedup.
    jaccard_pairs_prefix): the oracle is the NAIVE all-token inverted
    index's answer, so a green hash row is a machine-checked proof of
    the prefix-filter lemma on this corpus — rarest-token prefixes
    alone generate every qualifying pair."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    return jaccard_pairs_prefix(d, "doc_id", "text", threshold=0.8).orderBy(
        "a_id", "b_id"
    )


# ---------------------------------------------------------------------------
# q163 — dedup keeping the BEST copy (quality-ranked canonical selection)
# ---------------------------------------------------------------------------


@query(
    "q163_dedup_keep_best",
    oracle="""
    WITH scored AS (
        SELECT doc_id, lang, source,
               sha256(text) AS sha,
               ROUND(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE), 6) AS ttr
        FROM documents
    )
    SELECT doc_id, lang, source, ttr
    FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY sha
                                     ORDER BY ttr DESC, doc_id) AS rn
        FROM scored
    )
    WHERE rn = 1
    ORDER BY doc_id
    """,
    survey="D1",
)
def q163_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup that keeps the BEST copy, not the first: canonical row per
    content hash chosen by quality score (type-token ratio descending,
    id tie-break) — what production pipelines do when duplicates differ
    in extraction quality (same content, different boilerplate damage).
    Same one-shuffle shape as min-id dedup (q41); only the window order
    changes, which is exactly the point — canonical-selection policy is
    a pluggable ORDER BY."""
    from pyspark.sql import Window

    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    scored = d.select(
        "doc_id",
        "lang",
        "source",
        F.sha2("text", 256).alias("sha"),
        F.round(
            F.size(F.array_distinct(toks)).cast("double")
            / F.size(toks).cast("double"),
            6,
        ).alias("ttr"),
    )
    w = Window.partitionBy("sha").orderBy(F.desc("ttr"), F.asc("doc_id"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "ttr")
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q168 — dedup report: duplicate-cluster size distribution
# ---------------------------------------------------------------------------


@query(
    "q168_cluster_size_histogram",
    oracle=_CC_ORACLE_PREFIX
    + """
    , cluster_sizes AS (
        SELECT component, COUNT(*) AS size FROM comp GROUP BY component
    )
    SELECT size AS cluster_size,
           COUNT(*) AS n_clusters,
           CAST(SUM(size) AS BIGINT) AS n_docs,
           CAST(SUM(size - 1) AS BIGINT) AS n_removable
    FROM cluster_sizes
    GROUP BY size
    ORDER BY size
    """,
    survey="D2,2.5-agg",
)
def q168_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup run report: distribution of duplicate-cluster sizes
    plus the headline number — how many documents a collapse-to-
    canonical pass removes (size − 1 per cluster).  The table every
    dedup job logs; a sudden fat tail here is the first sign of a
    boilerplate explosion or a broken extractor upstream."""
    from gmail_etl_spark.operators.dedup import connected_components

    comp = connected_components(
        _jaccard_edges(spark, sf_dir).select(
            F.col("a_id").alias("u"), F.col("b_id").alias("v")
        )
    )
    sizes = comp.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy(F.col("size").alias("cluster_size"))
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("size").cast("long").alias("n_docs"),
            F.sum(F.col("size") - 1).cast("long").alias("n_removable"),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# q174 — corpus snapshot diff: content-level delta between two sources
# ---------------------------------------------------------------------------


@query(
    "q174_corpus_diff",
    oracle="""
    WITH a AS (
        SELECT DISTINCT sha256(text) AS sha,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents WHERE source = 'src0'
    ),
    b AS (
        SELECT DISTINCT sha256(text) AS sha,
               len(string_split(text, ' ')) AS n_tokens
        FROM documents WHERE source = 'src1'
    ),
    merged AS (
        SELECT COALESCE(a.sha, b.sha) AS sha,
               (a.sha IS NOT NULL) AS in_a,
               (b.sha IS NOT NULL) AS in_b,
               COALESCE(a.n_tokens, b.n_tokens) AS n_tokens
        FROM a FULL OUTER JOIN b ON a.sha = b.sha
    )
    SELECT
        CAST(SUM(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT)
            AS n_common,
        CAST(SUM(CASE WHEN in_a AND NOT in_b THEN 1 ELSE 0 END) AS BIGINT)
            AS n_only_a,
        CAST(SUM(CASE WHEN in_b AND NOT in_a THEN 1 ELSE 0 END) AS BIGINT)
            AS n_only_b,
        CAST(SUM(CASE WHEN in_a AND NOT in_b THEN n_tokens ELSE 0 END) AS BIGINT)
            AS tokens_only_a,
        CAST(SUM(CASE WHEN in_b AND NOT in_a THEN n_tokens ELSE 0 END) AS BIGINT)
            AS tokens_only_b
    FROM merged
    """,
    survey="D1,2.5-set",
)
def q174_corpus_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus snapshot diff at content granularity: the added/removed/
    shared breakdown (and the token budget of each delta) between two
    corpus snapshots — here the 'src0' and 'src1' source slices — keyed
    on content hash, so renames/re-crawls of identical text count as
    shared.  The table a data-versioning step logs per release to
    explain "what changed in the training set".

    Scale posture: each side reduces to distinct (sha, n_tokens) before
    the full-outer join — the join carries hashes, never text — and the
    final rollup is one row."""
    d = load_table(spark, sf_dir, "documents")

    def side(src: str, tag: str) -> DataFrame:
        return (
            d.filter(F.col("source") == src)
            .select(
                F.sha2("text", 256).alias("sha"),
                F.size(F.split("text", " ")).alias(f"n_tokens_{tag}"),
            )
            .distinct()
        )

    merged = side("src0", "a").join(side("src1", "b"), "sha", "full_outer")
    in_a = F.col("n_tokens_a").isNotNull()
    in_b = F.col("n_tokens_b").isNotNull()
    nt = F.coalesce("n_tokens_a", "n_tokens_b")
    return merged.agg(
        F.sum((in_a & in_b).cast("int")).cast("long").alias("n_common"),
        F.sum((in_a & ~in_b).cast("int")).cast("long").alias("n_only_a"),
        F.sum((in_b & ~in_a).cast("int")).cast("long").alias("n_only_b"),
        F.sum(F.when(in_a & ~in_b, nt).otherwise(0)).cast("long").alias(
            "tokens_only_a"
        ),
        F.sum(F.when(in_b & ~in_a, nt).otherwise(0)).cast("long").alias(
            "tokens_only_b"
        ),
    )


# ---------------------------------------------------------------------------
# q175 — corpus novelty curve: fraction of first-seen n-grams per document
# ---------------------------------------------------------------------------


@query(
    "q175_novelty_curve",
    oracle="""
    WITH d AS (
        SELECT doc_id, string_split(text, ' ') AS toks FROM documents
    ),
    w AS (
        SELECT doc_id, array_to_string(toks[i:i+7], ' ') AS win
        FROM d, UNNEST(range(1, len(toks) - 6)) AS t(i)
        WHERE len(toks) >= 8
    ),
    firsts AS (
        SELECT win, MIN(doc_id) AS first_doc FROM w GROUP BY win
    )
    SELECT w.doc_id,
           COUNT(*) AS n_windows,
           CAST(SUM((f.first_doc = w.doc_id)::INT) AS BIGINT) AS n_novel,
           ROUND(CAST(SUM((f.first_doc = w.doc_id)::INT) AS DOUBLE)
                 / COUNT(*), 6) AS novelty
    FROM w JOIN firsts f USING (win)
    GROUP BY w.doc_id
    ORDER BY w.doc_id
    """,
    survey="D1,D2",
)
def q175_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus-saturation diagnostic: per document (in ingestion-id
    order), the fraction of its 8-token windows never seen in any
    earlier document.  A falling novelty curve is the quantitative
    "more data is mostly repeats now" signal that stops a crawl or
    reweights a source; attribution is by MIN(doc_id) over each
    window's occurrences, so the answer is order-deterministic.

    Same two-shuffle shape as q133 (window groupBy + join back); at
    100 TB hash windows to longs and make doc_id the ingestion
    sequence number."""
    d = load_table(spark, sf_dir, "documents")
    toks = F.split("text", " ")
    w = (
        d.filter(F.size(toks) >= 8)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size(toks) - 7),
                    lambda i: F.concat_ws(" ", F.slice(toks, i, 8)),
                )
            ).alias("win"),
        )
    )
    firsts = w.groupBy("win").agg(F.min("doc_id").alias("first_doc"))
    novel = (F.col("first_doc") == F.col("doc_id")).cast("int")
    return (
        w.join(firsts, "win")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_windows"),
            F.sum(novel).cast("long").alias("n_novel"),
            F.round(F.sum(novel).cast("double") / F.count(F.lit(1)), 6).alias(
                "novelty"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# q177 — theta-sketch source overlap: set algebra on sketches, not data
# ---------------------------------------------------------------------------


# HASH-ORACLED as of round 9 via the q256 exhaustive-parameter trick:
# a theta sketch is EXACT (theta = 1, every hash retained) while its
# retained-entry count stays under the nominal 2^lgK, so at lgK=15
# (32768) — comfortably above the fixture's per-source (≤ ~11k at
# sf0.1) and pairwise-union (≤ ~21k) shingle cardinalities — every
# estimate here IS the exact set cardinality and the oracle is plain
# COUNT(DISTINCT) set algebra (the same replay q74 uses).  The union
# gadget gets an explicit lgK too: theta_union defaults to a smaller
# nominal that would re-enter estimation mode even on exact inputs.
# Estimation-mode behavior (the ≥-nominal regime) stays gated by the
# ≤5%-error property test in tests/test_operators.py, same as q256
# keeps pruned-probe semantics pinned by operator tests.  Measured
# before converting: lgK=15 sketch algebra vs exact SQL = 190/190
# pairs equal at sf0.01 AND sf0.1 on all five cardinalities.


@query(
    "q177_theta_source_overlap",
    oracle="""
    WITH toks AS (
        SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
    ),
    sh AS (
        SELECT DISTINCT source,
               unnest(CASE WHEN len(t) >= 3
                   THEN list_transform(
                       generate_series(1, len(t) - 2),
                       i -> array_to_string(list_slice(t, i, i + 2), ' '))
                   ELSE [array_to_string(t, ' ')] END) AS s
        FROM toks
    ),
    card AS (SELECT source, COUNT(*) AS c FROM sh GROUP BY source),
    com AS (
        SELECT a.source AS sa, b.source AS sb, COUNT(*) AS c
        FROM sh a JOIN sh b ON a.s = b.s AND a.source < b.source
        GROUP BY a.source, b.source
    )
    SELECT com.sa AS source_a, com.sb AS source_b,
           CAST(ca.c AS BIGINT) AS est_a,
           CAST(cb.c AS BIGINT) AS est_b,
           CAST(ca.c + cb.c - com.c AS BIGINT) AS est_union,
           CAST(com.c AS BIGINT) AS est_common,
           CAST(ca.c - com.c AS BIGINT) AS est_only_a,
           round(CAST(com.c AS DOUBLE) / CAST(ca.c + cb.c - com.c AS DOUBLE), 6)
               AS jaccard_est
    FROM com
    JOIN card ca ON ca.source = com.sa
    JOIN card cb ON cb.source = com.sb
    ORDER BY source_a, source_b
    """,
    survey="D2,X3",
)
def q177_theta_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-space form of q74's contamination matrix: one theta
    sketch of the distinct 3-shingle set per source
    (`theta_sketch_agg`, lgK=15 — exact mode at every fixture scale,
    which is what makes this hash-oracled; see the comment above), then
    pairwise |A|, |B|, |A∪B|, |A∩B| and |A\\B| straight off the
    sketches (`theta_union` / `theta_intersection` /
    `theta_difference`) plus the implied Jaccard.  q74 joins the full
    shingle postings (cost Σ df²); this touches the raw data ONCE to
    build per-source state of a few KB, after which every pairwise
    comparison — and any future source added to the matrix — is sketch
    algebra on the driver-sized state.  That is the only shape that
    survives a 100-source × 100 TB corpus, and theta (unlike HLL)
    supports intersection/difference natively."""
    d = load_table(spark, sf_dir, "documents")
    sk = (
        d.select("source", F.explode(shingles(F.col("text"), 3)).alias("shingle"))
        .groupBy("source")
        .agg(F.expr("theta_sketch_agg(shingle, 15)").alias("sk"))
    )
    a, b = sk.alias("a"), sk.alias("b")
    est = lambda e: F.expr(f"theta_sketch_estimate({e})").cast("long")  # noqa: E731
    pairs = a.join(F.broadcast(b), F.col("a.source") < F.col("b.source"))
    inter = est("theta_intersection(a.sk, b.sk)")
    union = est("theta_union(a.sk, b.sk, 15)")
    return pairs.select(
        F.col("a.source").alias("source_a"),
        F.col("b.source").alias("source_b"),
        est("a.sk").alias("est_a"),
        est("b.sk").alias("est_b"),
        union.alias("est_union"),
        inter.alias("est_common"),
        est("theta_difference(a.sk, b.sk)").alias("est_only_a"),
        F.round(inter / union, 6).alias("jaccard_est"),
    ).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# q181 — k-core peel: iterative subgraph pruning with an unrolled oracle
# ---------------------------------------------------------------------------

_KCORE_K = 30
_KCORE_ROUNDS = 4


def _kcore_oracle(k: int, rounds: int) -> str:
    """Unrolled peel: eR keeps edges whose BOTH endpoints have degree
    ≥ k in e(R-1).  Generated once at import — the oracle string is the
    loop, spelled out."""
    ctes = [
        "e0 AS (SELECT DISTINCT l_suppkey AS s, l_partkey AS p FROM lineitem)"
    ]
    for r in range(1, rounds + 1):
        prev = f"e{r - 1}"
        ctes.append(
            f"""e{r} AS (
        SELECT s, p FROM {prev}
        WHERE s IN (SELECT s FROM {prev} GROUP BY s HAVING COUNT(*) >= {k})
          AND p IN (SELECT p FROM {prev} GROUP BY p HAVING COUNT(*) >= {k})
    )"""
        )
    last = f"e{rounds}"
    return f"""
    WITH {','.join(ctes)}
    SELECT 's' AS side, s AS node_id, COUNT(*) AS degree
    FROM {last} GROUP BY s
    UNION ALL
    SELECT 'p' AS side, p AS node_id, COUNT(*) AS degree
    FROM {last} GROUP BY p
    ORDER BY side, node_id
    """


@query(
    "q181_kcore_peel",
    oracle=_kcore_oracle(_KCORE_K, _KCORE_ROUNDS),
    survey="D2,2.5-agg",
)
def q181_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition by iterative degree peeling on the bipartite
    supplier–part graph (edges = distinct l_suppkey↔l_partkey): each
    round drops every node of degree < k and its incident edges, until
    the {k}-core remains.  The classic iterative-subgraph shape next to
    CC (q47) and PageRank (q156) — each round is two left-semi joins
    against the qualifying-node sets (degree tables are |nodes|-sized,
    never |edges|), and the unroll depth is fixed at 4 rounds, which the
    convergence test pins as ≥ 1 past fixpoint on the fixtures.  The
    oracle is the same loop unrolled into nested CTEs — a hash match
    proves all four peel iterations, not just the final projection.
    Each round's edge set is localCheckpoint'ed (the CC discipline):
    every round references ``e`` three times (two degree aggs + the
    semi-join input), so an un-truncated lineage grows ~3× per round —
    at sf0.001 the stacked plan spent 2× longer PLANNING than running
    (VERDICT r10 #7's 39.9 s smoke tail), and at 100 TB it would
    recompute the base scan 3^rounds times."""
    e = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("s"), F.col("l_partkey").alias("p"))
        .distinct()
    )
    for _ in range(_KCORE_ROUNDS):
        good_s = (
            e.groupBy("s").agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= _KCORE_K)
            .select("s")
        )
        good_p = (
            e.groupBy("p").agg(F.count(F.lit(1)).alias("c"))
            .filter(F.col("c") >= _KCORE_K)
            .select("p")
        )
        e = (
            e.join(good_s, "s", "left_semi")
            .join(good_p, "p", "left_semi")
            .localCheckpoint(eager=True)
        )
    deg_s = (
        e.groupBy("s")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.lit("s").alias("side"), F.col("s").alias("node_id"), "degree")
    )
    deg_p = (
        e.groupBy("p")
        .agg(F.count(F.lit(1)).alias("degree"))
        .select(F.lit("p").alias("side"), F.col("p").alias("node_id"), "degree")
    )
    return deg_s.unionByName(deg_p).orderBy("side", "node_id")


# ---------------------------------------------------------------------------
# q247 — near-dup threshold sensitivity (pair counts per Jaccard band)
# ---------------------------------------------------------------------------


@query(
    "q247_threshold_sensitivity",
    oracle="""
    WITH toks AS (
        SELECT doc_id, unnest(list_distinct(string_split(text, ' '))) AS token
        FROM documents WHERE doc_id < 200
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_tok FROM toks GROUP BY doc_id),
    common AS (
        SELECT a.doc_id AS a_id, b.doc_id AS b_id, COUNT(*) AS n_common
        FROM toks a JOIN toks b ON a.token = b.token AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    scored AS (
        SELECT CAST(n_common AS DOUBLE)
               / CAST(sa.n_tok + sb.n_tok - n_common AS DOUBLE) AS j
        FROM common
        JOIN sizes sa ON sa.doc_id = a_id
        JOIN sizes sb ON sb.doc_id = b_id
    )
    SELECT CAST(least(floor(j * 10), 9) AS BIGINT) AS band,
           COUNT(*) AS n_pairs
    FROM scored
    GROUP BY band
    ORDER BY band
    """,
    survey="D2",
)
def q247_threshold_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning in one pass: exact token-Jaccard for every
    intersecting pair in the slice, bucketed into 0.1-wide bands — the
    histogram an operator reads to pick the near-dup cut (q43 runs at
    ONE threshold; this shows what every other threshold would have
    done).  The similarity is the identical integer-fed division on
    both engines, so band assignment (floor of identical doubles) can
    never straddle engines.  At corpus scale the same readout runs over
    LSH candidates instead of the exact pair set — the bands above the
    LSH floor are unbiased, which is exactly the region the cut lives
    in.  Shape: the doc-frequency-capped inverted-index pair path, one
    10-row fold."""
    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    pairs = jaccard_pairs(d, "doc_id", "text", threshold=0.0)
    return (
        pairs.select(
            F.least(F.floor(F.col("jaccard") * 10), F.lit(9))
            .cast("long")
            .alias("band")
        )
        .groupBy("band")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# q259 — streaming near-dup index driven through REAL Structured
# Streaming, hash-oracled by replaying the batch recurrence in SQL.
#
# The q255 precedent made stream-stream joins driver-verifiable; this
# row does the same for the INCREMENTAL near-dedup contract
# (streaming/jobs.py::maintain_near_dup_index): three deterministic
# micro-batches (doc_id ranges, file order pinned by mtime under
# maxFilesPerTrigger=1), each deduped in-batch AND against the
# retained-corpus index, survivors appended exactly-once.
#
# Oracle-ability rests on one reduction: both the history probe
# (band-bucket collision + exact verify) and the in-batch pairing
# (minhash_lsh_pairs) ask the SAME question — "do X and Y share a band
# key AND verify at >= threshold Jaccard?" — so the oracle computes
# that verified-similar pair relation ONCE over the whole slice (the
# q44 sha256-family pipeline, band keys replayed as signature-slice
# tuples) and then replays the three-batch recurrence as pure set
# logic: dup_b = batch-b docs linked to the retained set; fresh_b =
# batch_b − dup_b; kept_b = min-id component representatives of
# simpairs restricted to fresh_b (three recursive-CTE component
# fixpoints, one per batch, the q47/q48 shape).
# ---------------------------------------------------------------------------

#: (lo, hi) doc_id range of each micro-batch — the file written per
#: range IS the batch (mtime-ordered, maxFilesPerTrigger=1).  The batch
#: COUNT is the q259 smoke knob (VERDICT r9 #3, the q255 precedent):
#: each cold availableNow micro-batch pays a fixed LSH+CC+publish
#: overhead that dwarfs the row work at the sf0.001 smoke tier, so
#: tools/sweep.py sets SPARK_GRAFT_Q259_BATCHES=2 there — the oracle
#: below is GENERATED from the same tuple, so Spark and DuckDB always
#: replay the same recurrence.  Cross-batch history probing is still
#: exercised (batch 1 probes batch 0's index); the sf0.01 driver-gate
#: tier and the default keep the 3-batch production shape.
_Q259_BATCH_SHAPES = {
    2: ((0, 300), (300, 1000)),
    3: ((0, 200), (200, 400), (400, 1000)),
}
_Q259_N_BATCHES_RAW = os.environ.get("SPARK_GRAFT_Q259_BATCHES", "3")
try:
    _Q259_N_BATCHES = int(_Q259_N_BATCHES_RAW)
    _Q259_BATCHES = _Q259_BATCH_SHAPES[_Q259_N_BATCHES]
except (ValueError, KeyError):
    # a bad value must not take down the ENTIRE catalog import with a
    # bare KeyError — name the knob and its supported values
    raise ValueError(
        f"SPARK_GRAFT_Q259_BATCHES={_Q259_N_BATCHES_RAW!r} is not "
        f"supported; use one of {sorted(_Q259_BATCH_SHAPES)} "
        "(the q259 smoke-tier batch-count knob)"
    ) from None
_Q259_BATCH_CASE = "CASE {} ELSE {} END".format(
    " ".join(
        f"WHEN doc_id < {hi} THEN {i}"
        for i, (_, hi) in enumerate(_Q259_BATCHES[:-1])
    ),
    len(_Q259_BATCHES) - 1,
)


def _q259_oracle() -> str:
    # per-batch recurrence blocks: kept{b} depends on retained{b-1}
    blocks = []
    for b in range(len(_Q259_BATCHES)):
        prev_kept = " UNION ALL ".join(
            f"SELECT doc_id FROM kept{j}" for j in range(b)
        )
        if prev_kept:
            fresh = f"""
    dup{b} AS (
        SELECT DISTINCT d.doc_id
        FROM docs d
        JOIN simpairs s ON (s.a_id = d.doc_id OR s.b_id = d.doc_id)
        JOIN ({prev_kept}) r
          ON r.doc_id = CASE WHEN s.a_id = d.doc_id THEN s.b_id ELSE s.a_id END
        WHERE d.batch = {b}
    ),
    fresh{b} AS (
        SELECT doc_id FROM docs WHERE batch = {b}
        AND doc_id NOT IN (SELECT doc_id FROM dup{b})
    )"""
        else:
            fresh = f"""
    fresh{b} AS (SELECT doc_id FROM docs WHERE batch = {b})"""
        blocks.append(
            fresh
            + f""",
    edges{b} AS (
        SELECT s.a_id AS u, s.b_id AS v FROM simpairs s
        JOIN fresh{b} fa ON fa.doc_id = s.a_id
        JOIN fresh{b} fb ON fb.doc_id = s.b_id
        UNION
        SELECT s.b_id, s.a_id FROM simpairs s
        JOIN fresh{b} fa ON fa.doc_id = s.a_id
        JOIN fresh{b} fb ON fb.doc_id = s.b_id
    ),
    reach{b}(id, r) AS (
        SELECT u, u FROM (SELECT DISTINCT u FROM edges{b}) t
        UNION
        SELECT reach{b}.id, edges{b}.v
        FROM reach{b} JOIN edges{b} ON reach{b}.r = edges{b}.u
    ),
    comp{b} AS (SELECT id, MIN(r) AS component FROM reach{b} GROUP BY id),
    kept{b} AS (
        SELECT f.doc_id FROM fresh{b} f
        LEFT JOIN comp{b} c ON c.id = f.doc_id
        WHERE c.id IS NULL OR c.component = f.doc_id
    )"""
        )
    body = ",".join(blocks)
    retained = " UNION ALL ".join(
        f"SELECT doc_id FROM kept{j}" for j in range(len(_Q259_BATCHES))
    )
    return f"""
    WITH RECURSIVE docs AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS toks,
               {_Q259_BATCH_CASE} AS batch
        FROM documents WHERE doc_id < 1000
    ),
{_sha_minhash_pair_ctes('docs', 0.5, materialized_out=True)},{body}
    SELECT {_Q259_BATCH_CASE.replace("doc_id", "r.doc_id")} AS batch,
           COUNT(*) AS n_kept,
           CAST(SUM(r.doc_id) AS BIGINT) AS id_sum
    FROM ({retained}) r
    GROUP BY 1
    ORDER BY batch
    """


@query(
    "q259_streaming_near_dup_index",
    oracle=_q259_oracle(),
    survey="D2,ST2,ST5",
)
def q259_streaming_near_dup_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dedup driven through REAL Structured Streaming:
    the documents slice re-enters as three mtime-ordered micro-batches
    (availableNow, maxFilesPerTrigger=1); each batch is deduped in-batch
    and against the persisted survivor index
    (streaming/jobs.py::maintain_near_dup_index, sha256 hash family),
    survivors append exactly-once behind the state-store head, and the
    final retained set folds to one (n_kept, id_sum) row per batch.
    The oracle replays the whole recurrence in SQL — one global
    verified-similar pair relation (the q44 pipeline), then per-batch
    set logic with recursive-CTE components (see the comment above).

    Retained-corpus semantics (kept-doc linkage, not transitive
    closure) are the production dedup contract; the chain-divergence
    case is pinned in tests/test_streaming.py.

    Scale shape: the probe broadcasts the micro-batch's band keys and
    streams the index once; survivors append, nothing rewrites.  The
    driver-gate form materializes the bounded slice to three local
    files; at 100 TB the same job tails a document lake directory."""
    import atexit
    import os
    import shutil
    import tempfile

    from gmail_etl_spark.streaming.jobs import (
        maintain_near_dup_index,
        read_near_dup_index,
    )

    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 1000)
        .select("doc_id", "text")
    )
    tmp = tempfile.mkdtemp(prefix="q259_stream_")
    # the returned plan scans the index lazily at collect time, so the
    # directory is reclaimed at process exit, not here (q256 convention)
    atexit.register(shutil.rmtree, tmp, ignore_errors=True)
    src = os.path.join(tmp, "docs")
    os.makedirs(src)
    # one single-file batch per doc_id range, written driver-side (the
    # slice is bounded) with strictly increasing mtimes: the file source
    # processes oldest-first, so file order IS batch order
    pdf = d.toPandas().sort_values("doc_id")
    for b, (lo, hi) in enumerate(_Q259_BATCHES):
        path = os.path.join(src, f"b{b}.parquet")
        pdf[(pdf["doc_id"] >= lo) & (pdf["doc_id"] < hi)].to_parquet(path)
        os.utime(path, (1_000_000_000 + b, 1_000_000_000 + b))
    maintain_near_dup_index(
        spark,
        src,
        os.path.join(tmp, "index"),
        os.path.join(tmp, "ckpt"),
        k=3,
        n_hashes=_Q44_N_HASHES,
        bands=_Q44_BANDS,
        threshold=0.5,
        max_bucket=1_000_000,
        hash_family="sha256",
    )
    retained = read_near_dup_index(spark, os.path.join(tmp, "index"))
    return (
        retained.select(F.expr(_Q259_BATCH_CASE.replace("doc_id", "id")).alias("batch"), "id")
        .groupBy("batch")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_kept"),
            F.sum("id").cast("long").alias("id_sum"),
        )
        .orderBy("batch")
    )
