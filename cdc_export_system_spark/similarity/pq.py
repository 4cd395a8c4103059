"""Product-quantization ANN over the embeddings table (north-star
extension; cf. PAPERS.md — Jégou et al.'s PQ is the standard
memory-compressed ANN representation).

The 100 TB story is memory, not speed-of-light: a 64-dim float32 vector
is 256 B; its PQ code is M=8 uint8 subspace assignments = 8 B — a 32x
compression that lets a single executor hold billions of codes, with the
full-precision vectors left on cold storage for optional re-rank.

Pipeline (everything JVM-side except the k x dim query table built
driver-side from the trained model):

1. **Train** — all M codebooks fit SIMULTANEOUSLY in one distributed
   Lloyd loop: explode each vector once into (vec_id, m, subvec), assign
   against the broadcast (m, cid, centroid) model keyed by subspace,
   recompute means per (m, cid, pos). Per iteration: one scan + one
   |M x K x dim/M| shuffle (1024 floats here); only the model reaches
   the driver. At 100 TB you train the codebooks on a bounded sample
   (they need ~100k vectors to converge) and encode the full corpus with
   the frozen model — the encode pass below is exactly that shape.
2. **Encode** — one broadcast-assign pass producing codes
   array<int>[M] per vector; row-local after the broadcast, shuffles
   only the vec_id groupBy that reassembles subspace codes in order.
3. **Query (ADC + re-rank)** — the query vector's M x K squared-distance
   table is computed driver-side in numpy (O(K x dim) work), embedded as
   a 2-level array literal, and the asymmetric distance is a zip_with +
   fold over the codes — whole-stage-codegen arithmetic, no Python, no
   join, no shuffle until the TakeOrdered(shortlist). The ADC shortlist
   (PQ_SHORTLIST ids) then re-ranks EXACTLY against the full-precision
   vectors — a broadcast semi-join probe of |shortlist| rows, the
   standard two-stage PQ serving pipeline (coarse 8-byte scan over
   everything, exact math over almost nothing).

Deterministic end to end: centroid init is the first K_PQ vectors'
subvectors, Lloyd updates are exact double means, ties break to the
lowest centroid id — so the codes and the top-k are stable across runs
(rows-only for the external driver: the iterative fit is not one SQL
statement; recall vs the exact scan is pinned in
tests/test_similarity_quality.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from cdc_export_system_spark.io.sources import load_table
from cdc_export_system_spark.registry import register
from cdc_export_system_spark.schemas import EMBEDDING_DIM
from cdc_export_system_spark.similarity.kmeans import sq_dist
from cdc_export_system_spark.similarity.queries import TOP_K

PQ_M = 8  # subspaces
PQ_K = 16  # centroids per subspace (codes fit in uint8 with room to grow)
PQ_SUBDIM = EMBEDDING_DIM // PQ_M
PQ_ITER = 3
PQ_SHORTLIST = 5 * TOP_K  # ADC candidates fed to the exact re-rank
PQ_DECIMALS = 6
# Sampled-training knob: 1-in-N deterministic hash sample of the corpus
# for codebook fitting (codebooks converge on ~100k vectors; the full
# corpus only ever sees the frozen-model encode pass). N=4 at test scale
# so the sample is a real strict subset while still covering every
# subspace cell.
PQ_TRAIN_SAMPLE_MOD = 4


def _subvectors(emb: DataFrame) -> DataFrame:
    """(vec_id, m, subvec): each vector exploded into its M subspace
    slices — one Generate, no shuffle."""
    return emb.select(
        "vec_id",
        F.posexplode(
            F.array(*[
                F.slice(F.col("embedding"), m * PQ_SUBDIM + 1, PQ_SUBDIM)
                for m in range(PQ_M)
            ])
        ).alias("m", "subvec"),
    )


def _assign_codes(sub: DataFrame, model: DataFrame) -> DataFrame:
    """Nearest-centroid per (vec_id, m) against the broadcast model —
    the join key is the subspace id, so each row sees only its K
    candidate centroids; ties to the lowest cid."""
    d = sq_dist(F.col("subvec"), F.col("centroid"))
    return (
        sub.join(F.broadcast(model), "m")
        .groupBy("vec_id", "m")
        .agg(
            F.min_by(F.col("cid"), F.struct(d.alias("d"), F.col("cid"))).alias("code")
        )
    )


def _lloyd(spark, sub: DataFrame, model: DataFrame, n_iter: int) -> DataFrame:
    """The shared distributed Lloyd loop: assign against the broadcast
    model, recompute exact double means per (m, code, pos). Per
    iteration one scan + one model-sized shuffle; only the M x K x
    subdim model reaches the driver."""
    for _ in range(n_iter):
        codes = _assign_codes(sub, model)
        upd = (
            sub.join(codes, ["vec_id", "m"])
            .select("m", "code", F.posexplode("subvec").alias("pos", "v"))
            .groupBy("m", "code", "pos")
            .agg(F.avg(F.col("v").cast("double")).alias("c"))
            .groupBy("m", "code")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "c"))).alias("pc"))
            .select(
                "m",
                F.col("code").alias("cid"),
                F.transform(F.col("pc"), lambda s: s["c"].cast("float")).alias(
                    "centroid"
                ),
            )
        )
        rows = upd.collect()  # M x K x subdim model — the only driver transfer
        model = spark.createDataFrame(rows, schema=upd.schema)
    return model


def pq_fit(emb: DataFrame, n_iter: int = PQ_ITER) -> DataFrame:
    """Train all M codebooks in one distributed Lloyd loop; returns the
    (m, cid, centroid) model DataFrame (M x K rows, driver-held between
    iterations like kmeans_fit)."""
    sub = _subvectors(emb)
    model = (
        sub.filter(F.col("vec_id") < PQ_K)
        .select("m", F.col("vec_id").cast("int").alias("cid"),
                F.col("subvec").alias("centroid"))
    )
    return _lloyd(emb.sparkSession, sub, model, n_iter)


def pq_fit_sampled(
    emb: DataFrame, sample_mod: int = PQ_TRAIN_SAMPLE_MOD, n_iter: int = PQ_ITER
) -> DataFrame:
    """The 100-TB training path made explicit: fit the codebooks on a
    BOUNDED deterministic sample — vectors whose xxhash64(vec_id) falls
    in hash class 0 of ``sample_mod`` — and let the caller encode the
    full corpus with the frozen model (pq_encode is already exactly the
    frozen-model pass). The sample is a hash filter, not a sort/limit:
    one predicate on the scan, no global ordering, no extra shuffle,
    reproducible across runs and partitionings. Codebooks need ~100k
    vectors to converge; at corpus scale pick sample_mod ≈
    corpus_rows / 100k.

    Centroid init: the PQ_K lowest sampled vec_ids, mapped to cids by
    rank via a broadcast literal map (pq_fit's vec_id<K trick is not
    available — the sample need not contain those ids)."""
    sample = emb.filter(F.pmod(F.xxhash64(F.col("vec_id")), F.lit(sample_mod)) == 0)
    sub = _subvectors(sample)
    init_ids = [
        r["vec_id"]
        for r in sample.select("vec_id").orderBy("vec_id").limit(PQ_K).collect()
    ]
    model = (
        sub.filter(F.col("vec_id").isin(init_ids))
        .select(
            "m",
            F.element_at(
                F.map_from_arrays(
                    F.array(*[F.lit(v) for v in init_ids]),
                    F.array(*[F.lit(i) for i in range(len(init_ids))]),
                ),
                F.col("vec_id"),
            ).cast("int").alias("cid"),
            F.col("subvec").alias("centroid"),
        )
    )
    return _lloyd(emb.sparkSession, sub, model, n_iter)


def pq_encode(emb: DataFrame, model: DataFrame) -> DataFrame:
    """(vec_id, codes array<int>[M]): the 8-byte-per-vector corpus
    representation. One broadcast assign + one vec_id groupBy."""
    codes = _assign_codes(_subvectors(emb), model)
    return codes.groupBy("vec_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("m", "code"))),
            lambda s: s["code"],
        ).alias("codes")
    )


def _pq_search(spark: SparkSession, sf_dir: str, sample_mod: int | None) -> DataFrame:
    """Shared two-stage PQ serving pipeline; ``sample_mod`` selects full
    (None) vs sampled codebook training — encode/ADC/re-rank identical."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:
        return emb.select(
            "vec_id", F.lit(0.0).alias("l2_dist")
        ).filter(F.lit(False))

    model = pq_fit(emb) if sample_mod is None else pq_fit_sampled(emb, sample_mod)
    codes = pq_encode(emb.filter(F.col("vec_id") != 0), model)

    # driver-side M x K squared-distance table for the query vector
    q = np.asarray(qrow["embedding"], dtype=np.float64)
    cent = {(r["m"], r["cid"]): np.asarray(r["centroid"], dtype=np.float64)
            for r in model.collect()}
    table = [
        [
            float(np.sum((q[m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM] - cent[(m, c)]) ** 2))
            if (m, c) in cent else float("inf")
            for c in range(PQ_K)
        ]
        for m in range(PQ_M)
    ]
    tbl_lit = F.array(*[F.array(*[F.lit(v) for v in row]) for row in table])

    shortlist = (
        codes.select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("codes"),
                    tbl_lit,
                    lambda c, t: F.element_at(t, c + 1),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id"))
        .limit(PQ_SHORTLIST)
        .select("vec_id")
    )
    qlit = F.array(*[F.lit(float(v)) for v in qrow["embedding"]]).cast("array<float>")
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select(
            "vec_id",
            "label",
            F.round(sq_dist(F.col("embedding"), qlit), PQ_DECIMALS).alias("l2_dist"),
        )
        .orderBy(F.col("l2_dist").asc(), F.col("vec_id"))
        .limit(TOP_K)
    )


@register(
    "sim_search_pq",
    oracle=None,  # iterative codebook fit: rows-only; recall pinned in tests
    tags=("similarity", "ann", "pq"),
)
def sim_search_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-k via product quantization: the 8-byte-code corpus is
    scanned with asymmetric distance (fold of M table lookups — pure
    codegen, no join), a PQ_SHORTLIST-sized candidate set survives, and
    those candidates alone are re-ranked exactly against their
    full-precision vectors. vec_id=0 models the serving request (as in
    sim_search_lsh_pruned) and is excluded from the results. Recall vs
    the exact scan is pinned in tests/test_similarity_quality.py."""
    return _pq_search(spark, sf_dir, None)


@register(
    "sim_search_pq_sampled",
    oracle=None,  # iterative codebook fit: rows-only; recall pinned in tests
    tags=("similarity", "ann", "pq", "sampling"),
)
def sim_search_pq_sampled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """sim_search_pq with the honest-at-scale training path: codebooks
    fit on a 1-in-PQ_TRAIN_SAMPLE_MOD deterministic hash sample
    (pq_fit_sampled), then the FULL corpus is encoded with the frozen
    model and served identically (ADC scan + exact re-rank). At 100 TB
    this is the only viable shape — training touches a bounded sample,
    the corpus only ever sees the one frozen-model encode pass. The
    sampled-training recall gate lives beside the full-fit pin in
    tests/test_similarity_quality.py."""
    return _pq_search(spark, sf_dir, PQ_TRAIN_SAMPLE_MOD)


# ---------------------------------------------------------------------------
# sim_search_ivf_pq — the composed FAISS-style IVFADC pipeline
# ---------------------------------------------------------------------------

IVFPQ_NLIST = 8  # coarse cells (small so every cell is populated at sf0.001)
IVFPQ_NPROBE = 3  # cells scanned per query


def ensure_ivfpq_index(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Materialize the IVF-PQ INDEX — the offline artifact every real ANN
    deployment builds once and serves forever (ensure_lsh_bucketed is the
    same trade for the sign-LSH path):

    * ``<codes>`` — (vec_id, codes array<int>[M], cluster_id), written
      PARTITIONED BY cluster_id: the directory layout IS the inverted
      file, so a serving probe's ``cluster_id IN (...)`` is partition
      pruning at the scan, reading nprobe/nlist of an already-
      32x-compressed corpus.
    * ``<model>`` — the coarse centroids ('coarse' rows, nlist x dim) and
      residual-PQ codebooks ('pq' rows, M x K x subdim) in one tiny table.

    Training: seeded k-means coarse quantizer (ivf_assign), then PQ
    codebooks fit on the RESIDUALS (x - coarse centroid) — residual
    encoding is what distinguishes real IVFADC from IVF + flat PQ.
    Idempotent per source version; deterministic end to end, so a
    rebuild reproduces the same index bit-for-bit."""
    from cdc_export_system_spark.io.bucketed import _table_name, ensure_tables
    from cdc_export_system_spark.similarity.ivf import ivf_assign

    codes_tbl = _table_name(sf_dir, "embeddings", "emb_ivfpq_codes")
    model_tbl = _table_name(sf_dir, "embeddings", "emb_ivfpq_model")

    def build() -> None:
        emb = load_table(spark, sf_dir, "embeddings")
        assigned, centroids = ivf_assign(emb, n_clusters=IVFPQ_NLIST)
        # the assignment feeds the residual build AND the codes join-back;
        # materialize once instead of re-running the quantizer transform
        assigned = assigned.localCheckpoint(eager=True)
        cent_df = spark.createDataFrame(
            [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
            "cluster_id int, cent array<double>",
        )
        resid = (
            assigned.join(F.broadcast(cent_df), "cluster_id")
            .select(
                "vec_id",
                "cluster_id",
                F.zip_with(
                    F.col("embedding").cast("array<double>"),
                    F.col("cent"),
                    lambda a, b: (a - b).cast("float"),
                ).alias("embedding"),
            )
            .localCheckpoint(eager=True)  # consumed by 2*PQ_ITER fit passes + encode
        )
        model = pq_fit(resid.drop("cluster_id"))
        codes = pq_encode(resid.select("vec_id", "embedding"), model).join(
            assigned.select("vec_id", "cluster_id"), "vec_id"
        )
        (
            codes.repartition(F.col("cluster_id"))  # one writer per cell
            .write.mode("overwrite")
            .partitionBy("cluster_id")
            .format("parquet")
            .saveAsTable(codes_tbl)
        )
        (
            model.select(
                F.lit("pq").alias("kind"),
                "m",
                "cid",
                F.col("centroid").cast("array<double>").alias("centroid"),
            )
            .unionAll(
                cent_df.select(
                    F.lit("coarse").alias("kind"),
                    F.lit(None).cast("int").alias("m"),
                    F.col("cluster_id").alias("cid"),
                    F.col("cent").alias("centroid"),
                )
            )
            .coalesce(1)
            .write.mode("overwrite")
            .format("parquet")
            .saveAsTable(model_tbl)
        )

    ensure_tables(spark, [codes_tbl, model_tbl], build)
    return codes_tbl, model_tbl


@register(
    "sim_search_ivf_pq",
    headline=True,  # the billion-scale ANN composite — benched alongside
    # the exact sim_search_topk so the bench shows both serving regimes
    tags=("similarity", "ann"),
)
def sim_search_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ (IVFADC, Jégou et al. 2011) — the billion-scale serving
    architecture composed from the repo's two ANN halves: a coarse
    k-means quantizer prunes the corpus to nprobe of nlist inverted
    lists, and within the surviving lists an 8-byte-per-vector PQ code
    over the RESIDUAL (x - coarse_centroid) is scanned with asymmetric
    distance. Residual encoding is what distinguishes real IVFADC from
    IVF + flat PQ: the residual distribution is much tighter than the
    raw corpus, so the same 8 bytes quantize it far more accurately.

    Query pipeline (all JVM-side except the model-sized driver tables):
    rank the nlist driver-resident centroids, take nprobe cells; build
    ONE M x K ADC table PER PROBED CELL from that cell's query residual
    (q - c) — nprobe * M * K doubles, broadcast-joined on cluster_id;
    fold each code against its cell's table (whole-stage codegen, no
    Python); TakeOrdered shortlist; exact re-rank of |shortlist| rows
    against full-precision vectors.

    Serving reads the MATERIALIZED index (ensure_ivfpq_index): the codes
    table is written PARTITIONED BY cluster_id, so the ``cluster_id IN
    (probe)`` filter below is partition pruning at the scan — the ADC
    pass reads nprobe/nlist of an already-32x-compressed corpus, no
    training work on the query path, and only |shortlist| full vectors
    are ever touched. Training (one-time, offline) reads the corpus
    once (bounded-sample path: pq_fit_sampled / KMeans sampling).
    Approximate (rows-only driver check); recall vs the exact scan,
    run-to-run determinism, and the partition-pruned scan shape are
    pinned in tests/test_similarity_quality.py."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).select("embedding").first()
    if qrow is None:
        return emb.select(
            "vec_id", "label", F.lit(0.0).alias("l2_dist")
        ).filter(F.lit(False))
    q = np.asarray(qrow["embedding"], dtype=np.float64)

    codes_tbl, model_tbl = ensure_ivfpq_index(spark, sf_dir)
    model_rows = spark.table(model_tbl).collect()  # nlist + M*K rows
    centroids = {
        r["cid"]: np.asarray(r["centroid"], dtype=np.float64)
        for r in model_rows
        if r["kind"] == "coarse"
    }
    # L2 coarse ranking (ADC is an L2 pipeline; ivf's cosine ranker is
    # for its cosine output contract)
    order = sorted(
        centroids, key=lambda i: (float(np.sum((q - centroids[i]) ** 2)), i)
    )
    probe = order[:IVFPQ_NPROBE]

    # pruned scan of the inverted file: cluster_id is the partition
    # column, so this reads only the nprobe probed directories
    codes = spark.table(codes_tbl).filter(
        F.col("cluster_id").isin(probe)
    ).filter(F.col("vec_id") != 0)

    # per-probed-cell ADC tables from the cell's query residual
    cent_arr = {(r["m"], r["cid"]): np.asarray(r["centroid"], dtype=np.float64)
                for r in model_rows if r["kind"] == "pq"}
    tbl_rows = []
    for cell in probe:
        qr = q - np.asarray(centroids[cell], dtype=np.float64)
        tbl = [
            [
                float(np.sum(
                    (qr[m * PQ_SUBDIM:(m + 1) * PQ_SUBDIM] - cent_arr[(m, c)]) ** 2
                )) if (m, c) in cent_arr else float("inf")
                for c in range(PQ_K)
            ]
            for m in range(PQ_M)
        ]
        tbl_rows.append((cell, tbl))
    tbl_df = spark.createDataFrame(
        tbl_rows, "cluster_id int, tbl array<array<double>>"
    )

    shortlist = (
        codes.join(F.broadcast(tbl_df), "cluster_id")
        .select(
            "vec_id",
            F.aggregate(
                F.zip_with(
                    F.col("codes"), F.col("tbl"),
                    lambda c, t: F.element_at(t, c + 1),
                ),
                F.lit(0.0),
                lambda acc, x: acc + x,
            ).alias("adc_dist"),
        )
        .orderBy(F.col("adc_dist").asc(), F.col("vec_id"))
        .limit(PQ_SHORTLIST)
        .select("vec_id")
    )
    qlit = F.array(*[F.lit(float(v)) for v in qrow["embedding"]]).cast("array<float>")
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select(
            "vec_id",
            "label",
            F.round(sq_dist(F.col("embedding"), qlit), PQ_DECIMALS).alias("l2_dist"),
        )
        .orderBy(F.col("l2_dist").asc(), F.col("vec_id"))
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# sim_search_pq_exact
# ---------------------------------------------------------------------------

PQX_ITERS = 3
PQX_SHORT = 100  # ADC shortlist fed to the exact re-rank


def _pqx_oracle(iters: int = PQX_ITERS) -> str:
    """Unrolled-CTE DuckDB mirror of the exact-integer PQ pipeline: all
    M codebooks train simultaneously in the (vec_id, m) long form, every
    Lloyd step is the kmeans-exact recipe keyed by subspace, and both
    the ADC scan and the re-rank compare exact integers."""
    from cdc_export_system_spark.similarity.kmeans import KM_OFF, KM_Q

    idist = (
        "list_aggregate(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )
    its = []
    for t in range(1, iters + 2):
        prev = f"c{t - 1}"
        its.append(f"""
        d{t} AS (
            SELECT s.vec_id, s.m, c.cid, {idist.format(a="s.sv", b="c.c")} AS dist
            FROM sv s JOIN {prev} c USING (m)),
        a{t} AS MATERIALIZED (
            SELECT vec_id, m, cid, dist FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY dist, cid) AS rn FROM d{t})
            WHERE rn = 1)""")
        if t <= iters:
            its.append(f"""
        c{t} AS MATERIALIZED (
            SELECT m, cid, list(coord ORDER BY pos) AS c FROM (
                SELECT m, cid, pos, SUM(val) // COUNT(*) AS coord FROM (
                    SELECT aa.m, aa.cid, generate_subscripts(s.sv, 1) AS pos,
                           unnest(s.sv) AS val
                    FROM a{t} aa JOIN sv s
                      ON s.vec_id = aa.vec_id AND s.m = aa.m)
                GROUP BY m, cid, pos)
            GROUP BY m, cid)""")
    last = iters + 1
    return f"""
        WITH qfull AS MATERIALIZED (
            SELECT vec_id,
                   list_transform(embedding, x ->
                       CAST(floor(CAST(x AS DOUBLE) * {KM_Q} + 0.5) AS BIGINT)
                       + {KM_OFF}) AS q
            FROM embeddings),
        lf AS (SELECT vec_id, generate_subscripts(q, 1) - 1 AS p,
                      unnest(q) AS v
               FROM qfull),
        sv AS MATERIALIZED (
            SELECT vec_id, p // {PQ_SUBDIM} AS m,
                   list(v ORDER BY p % {PQ_SUBDIM}) AS sv
            FROM lf GROUP BY vec_id, p // {PQ_SUBDIM}),
        c0 AS MATERIALIZED (
            SELECT m, vec_id AS cid, sv AS c FROM sv WHERE vec_id < {PQ_K}),
        {", ".join(its)},
        dt AS (
            SELECT c.m, c.cid, {idist.format(a="c.c", b="qs.sv")} AS dtq
            FROM c{iters} c
            JOIN (SELECT m, sv FROM sv WHERE vec_id = 0) qs USING (m)),
        adc AS (
            SELECT a.vec_id, SUM(dt.dtq) AS adc_q
            FROM a{last} a JOIN dt ON dt.m = a.m AND dt.cid = a.cid
            WHERE a.vec_id <> 0 GROUP BY a.vec_id),
        short AS (SELECT vec_id, adc_q FROM adc
                  ORDER BY adc_q, vec_id LIMIT {PQX_SHORT}),
        rr AS (
            SELECT s.vec_id, CAST(s.adc_q AS BIGINT) AS adc_q,
                   CAST({idist.format(a="q.q", b="qf.q")} AS BIGINT) AS dist_q
            FROM short s
            JOIN qfull q USING (vec_id)
            CROSS JOIN (SELECT q FROM qfull WHERE vec_id = 0) qf)
        SELECT rr.vec_id, e.label, rr.adc_q, rr.dist_q
        FROM rr JOIN embeddings e USING (vec_id)
        ORDER BY rr.dist_q, rr.vec_id
        LIMIT {TOP_K}
    """


@register(
    "sim_search_pq_exact",
    oracle=_pqx_oracle(),
    tags=("similarity", "ann", "pq"),
)
def sim_search_pq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN serving as EXACT integer arithmetic —
    the oracle-checkable sibling of sim_search_pq. All M codebooks train
    simultaneously in the (vec_id, m) long form with the exact-Lloyd
    recipe (quantized shifted-positive subvectors, integer argmin ties
    to the lower code, integer-division centroid means); encoding is the
    final integer argmin; the ADC distance table (query subvector vs
    every codeword) is exact integers, so the asymmetric scan
    Σ_m dt[m][code_m], the shortlist cut, and the full-precision
    integer re-rank are all bit-identical across engines and
    partitionings. Approximate in RECALL exactly like any PQ index —
    8-byte codes stand in for 256-byte vectors — but every emitted
    number hash-matches the unrolled-CTE oracle.

    Scale: the sim_search_pq story unchanged — train on a bounded
    sample at corpus scale, one broadcast-assign encode pass, ADC scan
    with no join wider than the M×K model, exact math only on the
    |shortlist|. Subspace distances stay ≤ d/M·(Q·span)² ≈ 8e12 —
    six orders of bigint headroom."""
    from cdc_export_system_spark.similarity.kmeans import KM_OFF, KM_Q

    emb = load_table(spark, sf_dir, "embeddings")
    qfull = emb.select(
        "vec_id",
        F.transform(
            F.col("embedding"),
            lambda x: (
                F.floor(x.cast("double") * KM_Q + F.lit(0.5)) + KM_OFF
            ).cast("bigint"),
        ).alias("q"),
    ).localCheckpoint(eager=True)
    lf = qfull.select("vec_id", F.posexplode("q").alias("p", "v"))
    sv = (
        lf.groupBy("vec_id", F.expr(f"p div {PQ_SUBDIM}").alias("m"))
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.expr(f"p % {PQ_SUBDIM}").alias("pos"), "v"))
            ).alias("pv")
        )
        .select(
            "vec_id",
            "m",
            F.transform(F.col("pv"), lambda s: s["v"]).alias("sv"),
        )
        .localCheckpoint(eager=True)
    )
    idist = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    cents = sv.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("cid"), F.col("sv").alias("c")
    )

    def assign(cdf: DataFrame) -> DataFrame:
        j = sv.join(F.broadcast(cdf), "m")
        d = idist(F.col("sv"), F.col("c"))
        best = F.min_by(
            F.struct(F.col("cid"), d.alias("d")),
            F.struct(d.alias("d"), F.col("cid")),
        )
        return (
            j.groupBy("vec_id", "m")
            .agg(best.alias("b"))
            .select(
                "vec_id",
                "m",
                F.col("b.cid").alias("cid"),
                F.col("b.d").alias("dist"),
            )
        )

    for _ in range(PQX_ITERS):
        a = assign(cents)
        upd = (
            a.join(sv, ["vec_id", "m"])
            .select("m", "cid", F.posexplode("sv").alias("pos", "val"))
            .groupBy("m", "cid", "pos")
            .agg(F.expr("sum(val) div count(*)").alias("coord"))
            .groupBy("m", "cid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "coord"))).alias("pc"))
            .select(
                "m",
                "cid",
                F.transform(F.col("pc"), lambda s: s["coord"]).alias("c"),
            )
        )
        rows = upd.collect()  # M x K x subdim model -> driver -> broadcast
        cents = spark.createDataFrame(rows, schema=upd.schema)

    codes = assign(cents)
    qs = sv.filter(F.col("vec_id") == 0).select(
        "m", F.col("sv").alias("qsv")
    )
    dt = cents.join(F.broadcast(qs), "m").select(
        "m", "cid", idist(F.col("c"), F.col("qsv")).alias("dtq")
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(F.broadcast(dt), ["m", "cid"])
        .groupBy("vec_id")
        .agg(F.sum("dtq").cast("bigint").alias("adc_q"))
    )
    short = adc.orderBy("adc_q", "vec_id").limit(PQX_SHORT)
    qf = qfull.filter(F.col("vec_id") == 0).select(F.col("q").alias("qe"))
    rr = (
        short.join(qfull, "vec_id")
        .join(F.broadcast(qf), F.lit(True))
        .select(
            "vec_id",
            "adc_q",
            idist(F.col("q"), F.col("qe")).cast("bigint").alias("dist_q"),
        )
    )
    lab = emb.select("vec_id", "label")
    return (
        rr.join(lab, "vec_id")
        .select("vec_id", "label", "adc_q", "dist_q")
        .orderBy("dist_q", "vec_id")
        .limit(TOP_K)
    )


# ---------------------------------------------------------------------------
# sim_search_ivf_pq_exact
# ---------------------------------------------------------------------------

IVFPQX_PROBE = 3


def _ivfpqx_oracle(iters: int = PQX_ITERS) -> str:
    """Unrolled-CTE DuckDB mirror of exact IVFADC: the shared coarse
    exact-Lloyd chain (q/c*/a*), residual computation, the residual PQ
    training chain (sv/pc*/pa*), per-probed-cell ADC tables, and the
    exact re-rank. Residual coordinates are SIGNED — fine, because both
    engines' integer division truncates toward zero identically."""
    from cdc_export_system_spark.similarity.kmeans import (
        KM_EXACT_ITERS,
        _km_exact_ctes,
    )

    clast = KM_EXACT_ITERS + 1
    idist = (
        "list_aggregate(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])), 'sum')"
    )
    its = []
    for t in range(1, iters + 2):
        prev = f"pc{t - 1}"
        its.append(f"""
        pd{t} AS (
            SELECT s.vec_id, s.m, c.pcid, {idist.format(a="s.sv", b="c.c")} AS dist
            FROM sv s JOIN {prev} c USING (m)),
        pa{t} AS MATERIALIZED (
            SELECT vec_id, m, pcid, dist FROM (
                SELECT *, row_number() OVER (PARTITION BY vec_id, m
                              ORDER BY dist, pcid) AS rn FROM pd{t})
            WHERE rn = 1)""")
        if t <= iters:
            its.append(f"""
        pc{t} AS MATERIALIZED (
            SELECT m, pcid, list(coord ORDER BY pos) AS c FROM (
                SELECT m, pcid, pos, SUM(val) // COUNT(*) AS coord FROM (
                    SELECT aa.m, aa.pcid, generate_subscripts(s.sv, 1) AS pos,
                           unnest(s.sv) AS val
                    FROM pa{t} aa JOIN sv s
                      ON s.vec_id = aa.vec_id AND s.m = aa.m)
                GROUP BY m, pcid, pos)
            GROUP BY m, pcid)""")
    plast = iters + 1
    return f"""
        WITH {_km_exact_ctes()},
        coar AS (SELECT cid, c FROM c{KM_EXACT_ITERS}),
        res AS MATERIALIZED (
            SELECT q.vec_id, a.cid,
                   list_transform(list_zip(q.q, cc.c), p -> p[1] - p[2]) AS r
            FROM q JOIN a{clast} a USING (vec_id)
            JOIN coar cc ON cc.cid = a.cid),
        rlf AS (SELECT vec_id, cid, generate_subscripts(r, 1) - 1 AS p,
                       unnest(r) AS v
                FROM res),
        sv AS MATERIALIZED (
            SELECT vec_id, p // {PQ_SUBDIM} AS m,
                   list(v ORDER BY p % {PQ_SUBDIM}) AS sv
            FROM rlf GROUP BY vec_id, p // {PQ_SUBDIM}),
        pc0 AS MATERIALIZED (
            SELECT m, vec_id AS pcid, sv AS c FROM sv WHERE vec_id < {PQ_K}),
        {", ".join(its)},
        qv AS (SELECT q FROM q WHERE vec_id = 0),
        pr AS (SELECT cid FROM (
                   SELECT cc.cid, {idist.format(a="cc.c", b="qv.q")} AS d
                   FROM coar cc CROSS JOIN qv)
               ORDER BY d, cid LIMIT {IVFPQX_PROBE}),
        rq AS (
            SELECT pr.cid,
                   list_transform(list_zip(qv.q, cc.c), p -> p[1] - p[2]) AS r
            FROM pr JOIN coar cc USING (cid) CROSS JOIN qv),
        rqsv AS (
            SELECT cid, p // {PQ_SUBDIM} AS m,
                   list(v ORDER BY p % {PQ_SUBDIM}) AS sv
            FROM (SELECT cid, generate_subscripts(r, 1) - 1 AS p,
                         unnest(r) AS v
                  FROM rq)
            GROUP BY cid, p // {PQ_SUBDIM}),
        dt AS (
            SELECT rqsv.cid, pc.m, pc.pcid,
                   {idist.format(a="pc.c", b="rqsv.sv")} AS dtq
            FROM pc{iters} pc JOIN rqsv ON rqsv.m = pc.m),
        adc AS (
            SELECT pa.vec_id, SUM(dt.dtq) AS adc_q
            FROM pa{plast} pa
            JOIN res ON res.vec_id = pa.vec_id
            JOIN dt ON dt.cid = res.cid AND dt.m = pa.m AND dt.pcid = pa.pcid
            WHERE pa.vec_id <> 0
            GROUP BY pa.vec_id),
        short AS (SELECT vec_id, adc_q FROM adc
                  ORDER BY adc_q, vec_id LIMIT {PQX_SHORT}),
        rr AS (
            SELECT s.vec_id, CAST(s.adc_q AS BIGINT) AS adc_q,
                   CAST({idist.format(a="q.q", b="qf.q")} AS BIGINT) AS dist_q
            FROM short s
            JOIN q USING (vec_id)
            CROSS JOIN (SELECT q FROM q WHERE vec_id = 0) qf)
        SELECT rr.vec_id, e.label, rr.adc_q, rr.dist_q
        FROM rr JOIN embeddings e USING (vec_id)
        ORDER BY rr.dist_q, rr.vec_id
        LIMIT {TOP_K}
    """


@register(
    "sim_search_ivf_pq_exact",
    oracle=_ivfpqx_oracle(),
    tags=("similarity", "ann", "pq"),
)
def sim_search_ivf_pq_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC (Jégou et al. 2011) as EXACT integer arithmetic — the
    oracle-checkable sibling of sim_search_ivf_pq and the capstone of
    the exact ANN family: the coarse quantizer is the shared exact-Lloyd
    trainer, PQ codebooks train on the exact integer RESIDUALS
    x − centroid (signed — safe, both engines' integer division
    truncates toward zero identically), probing takes the
    IVFPQX_PROBE nearest cells by exact integer distance, the ADC
    table is computed per probed cell against the CELL's residual
    query, and the shortlist re-ranks with exact full-precision integer
    distances. Every emitted number hash-matches the unrolled-CTE
    oracle; recall behaves like any IVFADC index.

    Scale: the sim_search_ivf_pq serving story unchanged — codes
    partitioned by cell make probing partition pruning; the ADC join is
    against a |probe × M × K| model; exact math touches only the
    shortlist. Residual-subspace distances ≤ d/M·(2Q·span)² ≈ 3e13,
    five orders of bigint headroom."""
    from cdc_export_system_spark.similarity.kmeans import km_exact_fit

    idist = lambda a, b: F.aggregate(  # noqa: E731
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    q, coar, cassign = km_exact_fit(spark, sf_dir)
    q = q.localCheckpoint(eager=True)
    assigned = cassign(coar).select("vec_id", "cid")
    res = (
        q.join(assigned, "vec_id")
        .join(F.broadcast(coar), "cid")
        .select(
            "vec_id",
            "cid",
            F.zip_with(F.col("q"), F.col("c"), lambda a, b: a - b).alias("r"),
        )
        .localCheckpoint(eager=True)
    )
    sv = (
        res.select("vec_id", F.posexplode("r").alias("p", "v"))
        .groupBy("vec_id", F.expr(f"p div {PQ_SUBDIM}").alias("m"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.expr(f"p % {PQ_SUBDIM}").alias("pos"), "v")
                )
            ).alias("pv")
        )
        .select(
            "vec_id", "m", F.transform(F.col("pv"), lambda s: s["v"]).alias("sv")
        )
        .localCheckpoint(eager=True)
    )
    pcents = sv.filter(F.col("vec_id") < PQ_K).select(
        "m", F.col("vec_id").alias("pcid"), F.col("sv").alias("c")
    )

    def passign(cdf: DataFrame) -> DataFrame:
        j = sv.join(F.broadcast(cdf), "m")
        d = idist(F.col("sv"), F.col("c"))
        best = F.min_by(
            F.struct(F.col("pcid"), d.alias("d")),
            F.struct(d.alias("d"), F.col("pcid")),
        )
        return (
            j.groupBy("vec_id", "m")
            .agg(best.alias("b"))
            .select("vec_id", "m", F.col("b.pcid").alias("pcid"))
        )

    for _ in range(PQX_ITERS):
        a = passign(pcents)
        upd = (
            a.join(sv, ["vec_id", "m"])
            .select("m", "pcid", F.posexplode("sv").alias("pos", "val"))
            .groupBy("m", "pcid", "pos")
            .agg(F.expr("sum(val) div count(*)").alias("coord"))
            .groupBy("m", "pcid")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "coord"))).alias("pc"))
            .select(
                "m",
                "pcid",
                F.transform(F.col("pc"), lambda s: s["coord"]).alias("c"),
            )
        )
        rows = upd.collect()  # M x K x subdim model -> driver -> broadcast
        pcents = spark.createDataFrame(rows, schema=upd.schema)

    codes = passign(pcents)
    qv = q.filter(F.col("vec_id") == 0).select(F.col("q").alias("qe"))
    pr = (
        coar.join(F.broadcast(qv), F.lit(True))
        .select("cid", idist(F.col("c"), F.col("qe")).alias("d"))
        .orderBy("d", "cid")
        .limit(IVFPQX_PROBE)
        .select("cid")
    )
    rqsv = (
        pr.join(F.broadcast(coar), "cid")
        .join(F.broadcast(qv), F.lit(True))
        .select(
            "cid",
            F.zip_with(F.col("qe"), F.col("c"), lambda a, b: a - b).alias("r"),
        )
        .select("cid", F.posexplode("r").alias("p", "v"))
        .groupBy("cid", F.expr(f"p div {PQ_SUBDIM}").alias("m"))
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.expr(f"p % {PQ_SUBDIM}").alias("pos"), "v")
                )
            ).alias("pv")
        )
        .select(
            "cid", "m", F.transform(F.col("pv"), lambda s: s["v"]).alias("qsv")
        )
    )
    dt = pcents.join(F.broadcast(rqsv), "m").select(
        "cid", "m", "pcid", idist(F.col("c"), F.col("qsv")).alias("dtq")
    )
    adc = (
        codes.filter(F.col("vec_id") != 0)
        .join(res.select("vec_id", "cid"), "vec_id")
        .join(F.broadcast(dt), ["cid", "m", "pcid"])
        .groupBy("vec_id")
        .agg(F.sum("dtq").cast("bigint").alias("adc_q"))
    )
    short = adc.orderBy("adc_q", "vec_id").limit(PQX_SHORT)
    rr = (
        short.join(q, "vec_id")
        .join(F.broadcast(qv), F.lit(True))
        .select(
            "vec_id",
            "adc_q",
            idist(F.col("q"), F.col("qe")).cast("bigint").alias("dist_q"),
        )
    )
    lab = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    return (
        rr.join(lab, "vec_id")
        .select("vec_id", "label", "adc_q", "dist_q")
        .orderBy("dist_q", "vec_id")
        .limit(TOP_K)
    )
