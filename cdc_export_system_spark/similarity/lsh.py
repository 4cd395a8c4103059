"""Random-hyperplane LSH for cosine similarity search — the scale path.

Brute force compares the query against every vector (fine per-query, but
quadratic for all-pairs / batch workloads). Sign-LSH assigns each vector
a B-bit bucket (sign of the dot product with B fixed random hyperplanes);
cosine-close vectors collide with high probability, so search only probes
the query's bucket plus its Hamming-1 neighbors (multi-probe).

One pass over the data computes bucket ids (scan + B dot products, no
shuffle); the probe is then a bucket equi-join. The serving path
(ensure_lsh_bucketed / lsh_topk_pruned) persists the corpus
bucketBy(bucket) so a literal `bucket IN (...)` multi-probe prunes the
scan to B+1 of 2^B buckets (SelectedBucketsCount pinned in
tests/test_plan_quality.py). Recall/latency trades via B and the probe
radius.

Hyperplanes are frozen literals from a seeded LCG, so the DuckDB oracle
(generated SQL, same left-to-right double folds) is value-identical.
"""

from __future__ import annotations

import warnings

from py4j.protocol import Py4JJavaError
from pyspark.errors import AnalysisException
from pyspark.sql import Column, DataFrame, SparkSession, functions as F

from cdc_export_system_spark.io.sources import load_table
from cdc_export_system_spark.registry import register
from cdc_export_system_spark.schemas import EMBEDDING_DIM
from cdc_export_system_spark.similarity.queries import (
    EVAL_QUERY_ID_BOUND,
    SIM_DECIMALS,
    TOP_K,
    cosine,
)

N_PLANES = 8

# Sizing note (100 TB posture): the plane count B sets the bucket count
# 2^B, and buckets are the probe-pruning unit — a Hamming<=1 multi-probe
# touches B+1 of 2^B buckets, i.e. a (B+1)/2^B corpus fraction upper
# bound (B=8 -> ~3.5%, B=16 -> ~0.03%). Pick B so 2^B ≈ corpus_rows /
# desired_bucket_rows; every helper below takes n_planes explicitly so a
# deployment can size it per corpus. B=8 keeps the registered demo
# queries (and their generated DuckDB oracles) small.


def _lcg_planes(n: int, dim: int, seed: int = 0x91A5EED) -> list[list[float]]:
    """n deterministic pseudo-random unit-ish hyperplanes (LCG uniforms)."""
    x = seed
    planes = []
    for _ in range(n):
        row = []
        for _ in range(dim):
            x = (1103515245 * x + 12345) % (1 << 31)
            row.append(round(x / float(1 << 31) - 0.5, 9))
        planes.append(row)
    return planes


PLANES = _lcg_planes(N_PLANES, EMBEDDING_DIM)


def _plane_dot(vec: Column, plane: list[float]) -> Column:
    lit = F.array(*[F.lit(v) for v in plane])
    return F.aggregate(
        F.zip_with(vec, lit, lambda x, y: x.cast("double") * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def bucket_id(vec: Column, planes: list[list[float]] | None = None) -> Column:
    """B-bit sign bucket of an embedding column."""
    out = F.lit(0)
    for i, plane in enumerate(planes if planes is not None else PLANES):
        out = out + F.when(_plane_dot(vec, plane) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return out.cast("int")


def sign_bucket_py(vec: list[float], planes: list[list[float]] | None = None) -> int:
    """Driver-side bucket of a *user-supplied* query vector — the serving
    path computes this in O(B*dim) before planning, so the probe's bucket
    ids are literals and the bucketed scan can prune files."""
    out = 0
    for i, plane in enumerate(planes if planes is not None else PLANES):
        if sum(float(x) * y for x, y in zip(vec, plane)) >= 0:
            out |= 1 << i
    return out


def _sql_plane_dot(vec_expr: str, plane: list[float]) -> str:
    lit = "[" + ", ".join(f"{v!r}" for v in plane) + "]"
    return (
        f"list_aggregate(list_transform(list_zip({vec_expr}, {lit}),"
        " p -> CAST(p[1] AS DOUBLE) * p[2]), 'sum')"
    )


def _sql_bucket(vec_expr: str) -> str:
    terms = [
        f"(CASE WHEN {_sql_plane_dot(vec_expr, plane)} >= 0 THEN {1 << i} ELSE 0 END)"
        for i, plane in enumerate(PLANES)
    ]
    return "(" + " + ".join(terms) + ")"


@register(
    "sim_lsh_buckets",
    oracle=f"""
        SELECT {_sql_bucket("embedding")} AS bucket, count(*) AS n
        FROM embeddings GROUP BY 1
    """,
    tags=("similarity", "lsh"),
)
def sim_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket histogram — the partition layout the scale path relies on."""
    emb = load_table(spark, sf_dir, "embeddings")
    return emb.select(bucket_id(F.col("embedding")).alias("bucket")).groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n")
    )


@register(
    "sim_search_lsh",
    oracle=f"""
        WITH q AS (SELECT embedding, {_sql_bucket("embedding")} AS qbucket
                   FROM embeddings WHERE vec_id = 0),
        cand AS (
            SELECT a.vec_id, a.label, a.embedding, q.embedding AS qe
            FROM embeddings a, q
            WHERE a.vec_id <> 0
              AND bit_count(CAST(xor(CAST({_sql_bucket("a.embedding")} AS BIGINT),
                                     CAST(q.qbucket AS BIGINT)) AS BIT)) <= 1)
        SELECT vec_id, label,
               round(list_aggregate(list_transform(list_zip(embedding, qe),
                         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
                     / (sqrt(list_aggregate(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                        * sqrt(list_aggregate(list_transform(qe,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
                     {SIM_DECIMALS}) AS cos_sim
        FROM cand
        ORDER BY cos_sim DESC, vec_id
        LIMIT {TOP_K}
    """,
    tags=("similarity", "lsh"),
)
def sim_search_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH bucketed ANN: probe the query bucket and Hamming<=1
    neighbors, exact cosine re-rank on candidates only (see lsh_topk)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_topk(emb, query_vec_id=0)


def lsh_topk(emb: DataFrame, query_vec_id: int, k: int = TOP_K, radius: int = 1) -> DataFrame:
    """Approximate top-k: probe the query's bucket and Hamming<=radius
    neighbors (multi-probe), exact cosine re-rank on candidates only.

    The query row arrives via a broadcast single-row cross join — the
    same pattern as sim_search_topk's scalar subquery, with no
    driver-side .first() round trip; an empty corpus or unknown query id
    makes the broadcast side empty and the join (hence the result)
    empty, no special case needed.

    Recall contract: sign-LSH preserves *close* vectors — for cosine
    ~0.9 the 8-bit collision probability at radius 1 is ~0.95, but for
    weakly-similar vectors (cos ~0.3) it drops below 0.15 by design.
    tests/test_similarity_quality.py pins this with a planted neighbor.
    """
    bucketed = emb.withColumn("bucket", bucket_id(F.col("embedding")))
    q = bucketed.filter(F.col("vec_id") == query_vec_id).select(
        F.col("embedding").alias("qe"), F.col("bucket").alias("qbucket")
    )
    cand = (
        bucketed.filter(F.col("vec_id") != query_vec_id)
        .crossJoin(F.broadcast(q))
        .filter(
            F.bit_count(F.col("bucket").bitwiseXOR(F.col("qbucket")).cast("long"))
            <= radius
        )
    )
    return (
        cand.select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), F.col("qe")), SIM_DECIMALS).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


# --- persisted bucketed layout: the serving-scale probe path ----------------

N_LSH_BUCKETS = 1 << N_PLANES  # one storage bucket per LSH bucket


def ensure_lsh_bucketed(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the embeddings corpus as a managed table laid out
    bucketBy(bucket) — the layout sim_search_lsh's module doc promises:
    each sign-LSH bucket is its own file group, so an equality/IN probe
    on `bucket` prunes to the touched buckets at scan time
    (SelectedBucketsCount in the physical plan) instead of scanning the
    corpus. Idempotent per source version. At 100 TB this is the
    ingest-time trade: one clustering write, then every probe reads
    ~(B+1)/2^B of the data."""
    from cdc_export_system_spark.io.bucketed import _table_name, ensure_tables

    tbl = _table_name(sf_dir, "embeddings", "emb_lsh")

    def build() -> None:
        (
            load_table(spark, sf_dir, "embeddings")
            .withColumn("bucket", bucket_id(F.col("embedding")))
            .repartition(F.col("bucket"))
            .write.bucketBy(N_LSH_BUCKETS, "bucket")
            .mode("overwrite")
            .format("parquet")
            .saveAsTable(tbl)
        )

    ensure_tables(spark, [tbl], build)
    return tbl


def lsh_topk_pruned(
    spark: SparkSession,
    sf_dir: str,
    qvec: list[float],
    exclude_vec_id: int | None = None,
    k: int = TOP_K,
    radius: int = 1,
) -> DataFrame:
    """Serving-path ANN: the query vector is caller-supplied, its bucket
    and Hamming<=radius probe set are computed driver-side as literals
    (O(B*dim), no Spark job), and the probe is `bucket IN (...)` against
    the bucketBy(bucket) table — bucket-pruned at scan time, exact
    cosine re-rank on the surviving ~(B+1)/2^B fraction only."""
    tbl = ensure_lsh_bucketed(spark, sf_dir)
    qb = sign_bucket_py(qvec)
    probe = [qb]
    if radius >= 1:
        probe += [qb ^ (1 << i) for i in range(N_PLANES)]
    cand = spark.table(tbl).filter(F.col("bucket").isin(probe))
    if exclude_vec_id is not None:
        cand = cand.filter(F.col("vec_id") != exclude_vec_id)
    qlit = F.array(*[F.lit(float(v)) for v in qvec]).cast("array<float>")
    return (
        cand.select(
            "vec_id",
            "label",
            F.round(cosine(F.col("embedding"), qlit), SIM_DECIMALS).alias("cos_sim"),
        )
        .orderBy(F.col("cos_sim").desc(), F.col("vec_id"))
        .limit(k)
    )


@register(
    "sim_search_lsh_pruned",
    oracle=f"""
        WITH q AS (SELECT embedding, {_sql_bucket("embedding")} AS qbucket
                   FROM embeddings WHERE vec_id = 0),
        cand AS (
            SELECT a.vec_id, a.label, a.embedding, q.embedding AS qe
            FROM embeddings a, q
            WHERE a.vec_id <> 0
              AND bit_count(CAST(xor(CAST({_sql_bucket("a.embedding")} AS BIGINT),
                                     CAST(q.qbucket AS BIGINT)) AS BIT)) <= 1)
        SELECT vec_id, label,
               round(list_aggregate(list_transform(list_zip(embedding, qe),
                         p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')
                     / (sqrt(list_aggregate(list_transform(embedding,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))
                        * sqrt(list_aggregate(list_transform(qe,
                            x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))),
                     {SIM_DECIMALS}) AS cos_sim
        FROM cand
        ORDER BY cos_sim DESC, vec_id
        LIMIT {TOP_K}
    """,
    tags=("similarity", "lsh", "layout"),
)
def sim_search_lsh_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucket-pruned LSH probe against the persisted bucketBy(bucket)
    layout. The vec_id=0 embedding stands in for the user's query
    vector (one O(1) point lookup models the serving request); the
    Hamming<=1 probe set then reaches the scan as `bucket IN (9
    literals)`, which prunes 256 -> 9 buckets (pinned in
    tests/test_plan_quality.py). Candidates and scores are identical to
    sim_search_lsh — same planes, same probe radius — so they share the
    oracle shape."""
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:
        # empty corpus / absent query id: no serving request to model
        return emb.select("vec_id", "label", F.lit(0.0).alias("cos_sim")).filter(
            F.lit(False)
        )
    try:
        return lsh_topk_pruned(spark, sf_dir, list(qrow["embedding"]), exclude_vec_id=0)
    except (AnalysisException, Py4JJavaError, OSError) as exc:
        # environments where the managed bucketed table cannot be written
        # (read-only warehouse dir / catalog conflicts): same candidates +
        # scores, unpruned scan. Only table/IO failures fall back — a
        # Python-side bug (TypeError, KeyError, ...) must propagate, not
        # masquerade as silent perf degradation.
        warnings.warn(
            f"sim_search_lsh_pruned: bucketed layout unavailable "
            f"({type(exc).__name__}); falling back to unpruned LSH scan",
            RuntimeWarning,
            stacklevel=2,
        )
        return lsh_topk(emb, query_vec_id=0)


RECALL_K = 10
# pinned offline query set — bounded like KNN_QUERY_PRED (see
# similarity/queries.py: EVAL_QUERY_ID_BOUND) so the recall eval scales
# linearly with the corpus instead of quadratically
RECALL_QUERY_PRED = f"vec_id % 100 = 0 AND vec_id < {EVAL_QUERY_ID_BOUND}"

_RECALL_SQL_DOT = (
    "list_aggregate(list_transform(list_zip(a.embedding, q.qe),"
    " p -> CAST(p[1] AS DOUBLE) * CAST(p[2] AS DOUBLE)), 'sum')"
)
_RECALL_SQL_NORM_A = (
    "sqrt(list_aggregate(list_transform(a.embedding,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)
_RECALL_SQL_NORM_Q = (
    "sqrt(list_aggregate(list_transform(q.qe,"
    " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 'sum'))"
)


@register(
    "sim_recall_at_k",
    oracle=f"""
        WITH q AS (
            SELECT vec_id AS qid, embedding AS qe,
                   {_sql_bucket("embedding")} AS qb
            FROM embeddings WHERE {RECALL_QUERY_PRED}),
        sims AS (
            SELECT q.qid, a.vec_id,
                   round({_RECALL_SQL_DOT}
                         / ({_RECALL_SQL_NORM_A} * {_RECALL_SQL_NORM_Q}),
                         {SIM_DECIMALS}) AS cs,
                   (bit_count(CAST(xor(
                        CAST({_sql_bucket("a.embedding")} AS BIGINT),
                        CAST(q.qb AS BIGINT)) AS BIT)) <= 1) AS is_cand
            FROM embeddings a, q WHERE a.vec_id <> q.qid),
        ranked AS (
            SELECT qid, is_cand,
                   row_number() OVER (PARTITION BY qid
                                      ORDER BY cs DESC, vec_id) AS rk
            FROM sims),
        truth AS (
            SELECT qid,
                   CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT)
                       AS hits
            FROM ranked WHERE rk <= {RECALL_K} GROUP BY qid),
        cands AS (
            SELECT qid,
                   CAST(SUM(CASE WHEN is_cand THEN 1 ELSE 0 END) AS BIGINT)
                       AS n_candidates
            FROM sims GROUP BY qid)
        SELECT t.qid AS q_vec_id, c.n_candidates, t.hits,
               floor(CAST(t.hits AS DOUBLE) / {RECALL_K} * 1000000 + 0.5)
                   / 1000000 AS recall
        FROM truth t JOIN cands c ON c.qid = t.qid
    """,
    tags=("similarity", "lsh", "quality", "ann"),
)
def sim_recall_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of the sign-LSH multi-probe candidate set against exact
    cosine ground truth, per sampled query — THE quality gate every ANN
    index deployment runs before trading brute force for buckets: how
    many of the true top-k does the Hamming≤1 probe set still contain?

    Ground truth is inherently O(|Q|·N) — this is the OFFLINE evaluation
    pass over a sampled query set (1-in-100 here), not a serving-path
    operator; the candidate flag rides the same scan, so the whole
    measurement is one broadcast-NLJ pass (bounded query set broadcast,
    corpus never shuffled — the sim_knn_join shape) plus a per-query
    top-k window. Recall is an exact hits/k rational; similarity
    rounding + vec_id tie-break keep ranks engine-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.expr(RECALL_QUERY_PRED)).select(
        F.col("vec_id").alias("qid"),
        F.col("embedding").alias("qe"),
        bucket_id(F.col("embedding")).alias("qb"),
    ).localCheckpoint(eager=True)  # bounded query set; several branches broadcast it
    a = emb.select(
        "vec_id", "embedding", bucket_id(F.col("embedding")).alias("ab")
    )
    sims = a.join(F.broadcast(q), F.col("vec_id") != F.col("qid")).select(
        "qid",
        "vec_id",
        F.round(cosine(F.col("embedding"), F.col("qe")), SIM_DECIMALS).alias("cs"),
        (
            F.bit_count(
                F.col("ab").cast("bigint").bitwiseXOR(F.col("qb").cast("bigint"))
            )
            <= 1
        ).alias("is_cand"),
    )
    from pyspark.sql import Window as W

    rk = F.row_number().over(W.partitionBy("qid").orderBy(F.col("cs").desc(), "vec_id"))
    ranked = sims.select("qid", "is_cand", rk.alias("rk"))
    truth = (
        ranked.filter(F.col("rk") <= RECALL_K)
        .groupBy("qid")
        .agg(F.sum(F.col("is_cand").cast("bigint")).alias("hits"))
    )
    cands = sims.groupBy("qid").agg(
        F.sum(F.col("is_cand").cast("bigint")).alias("n_candidates")
    )
    return truth.join(cands, "qid").select(
        F.col("qid").alias("q_vec_id"),
        "n_candidates",
        "hits",
        (F.floor(F.col("hits").cast("double") / RECALL_K * 1000000 + F.lit(0.5)) / 1000000).alias(
            "recall"
        ),
    )
