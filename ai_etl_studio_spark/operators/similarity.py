"""Similarity search over the ``embeddings`` table (array<float>, dim 64).

Two tiers:

- brute-force cosine top-k — the exact baseline (oracle-checked);
- random-hyperplane LSH bucketing — the approximate scale path
  (deterministic seed; oracle-checked too, via SQL generated from the
  same hyperplane constants — list_inner_product accumulates in
  element order like the Spark-side fold).

Vector math uses sequential double-precision folds (F.aggregate /
F.zip_with) which DuckDB's list_inner_product mirrors after casting the
list to DOUBLE[]; results are additionally rounded to 6dp so a last-ulp
divergence can't flip the hash.

Scale: brute-force kNN is O(|Q|·|N|·d) — fine for |Q| small; the LSH
variant buckets the corpus once (narrow pass) and joins queries only to
their bucket. For a production ANN at 100 TB you would partition by
IVF-style coarse centroids; the bucketing scaffold here is that shape.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ai_etl_studio_spark.catalog import load_table, spread_small_scan
from ai_etl_studio_spark.layout_cache import build_once, layout_ident
from ai_etl_studio_spark.operators import register

TOPK = 10
N_QUERIES = 5  # vec_id < 5 are the query vectors
EMB_DIM = 64
COSINE_DEDUP_THRESHOLD = 0.2
DEDUP_ID_CAP = 1000  # bound the brute-force pair count for the oracle run


def dot(a: Column, b: Column) -> Column:
    """Sequential left-fold double dot product (matches DuckDB's
    list_inner_product over DOUBLE[] element order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


_SQL_COS = (
    "list_inner_product(a.emb, b.emb) / "
    "(sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb)))"
)


@register(
    "ann_cosine_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings)
    SELECT query_id, neighbor_id, cos_sim, rn
    FROM (
      SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
             ROUND({_SQL_COS}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                ORDER BY {_SQL_COS} DESC, b.vec_id) AS rn
      FROM v a JOIN v b ON b.vec_id <> a.vec_id
      WHERE a.vec_id < {N_QUERIES}
    ) ranked
    WHERE rn <= {TOPK}
    ORDER BY query_id, rn
    """,
)
def ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-{TOPK} for {N_QUERIES} query vectors.

    Scale: the query side is broadcast (tiny), so the corpus streams once
    with no shuffle; per-query top-k via window. At large |Q| switch to
    the bucketed variant below.
    """
    emb0 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    # corpus side spread when the scan is under-split (r11, guide §2.5):
    # the per-pair cosine lambdas otherwise run in the single scan task
    emb = spread_small_scan(spark, emb0)
    q = emb0.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    sim = cosine(F.col("q_emb"), F.col("emb"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        pairs.select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            sim.alias("cos_raw"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cos_sim"), "rn")
        .orderBy("query_id", "rn")
    )


@register(
    "dedup_embedding_cosine",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
      FROM embeddings WHERE vec_id < {DEDUP_ID_CAP}
    )
    SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
           ROUND({_SQL_COS}, 6) AS cos_sim
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE {_SQL_COS} >= {COSINE_DEDUP_THRESHOLD}
    ORDER BY vec_id_1, vec_id_2
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (cos ≥ {COSINE_DEDUP_THRESHOLD})
    over a bounded id range — the semantic-dedup primitive.

    Scale: all-pairs is O(n²); bound inputs (here: id cap, production:
    LSH/IVF buckets from ann_lsh_buckets) before pairing. The pair join
    is a range-condition self-join; Spark executes it as
    broadcast-nested-loop on the bounded side.
    """
    emb = (
        load_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < DEDUP_ID_CAP)
        .select("vec_id", F.col("embedding").alias("emb"))
    )
    a = emb.select(F.col("vec_id").alias("vec_id_1"), F.col("emb").alias("emb_1"))
    b = emb.select(F.col("vec_id").alias("vec_id_2"), F.col("emb").alias("emb_2"))
    sim = cosine(F.col("emb_1"), F.col("emb_2"))
    return (
        a.join(b, F.col("vec_id_1") < F.col("vec_id_2"))
        .select("vec_id_1", "vec_id_2", sim.alias("cos_raw"))
        .filter(F.col("cos_raw") >= COSINE_DEDUP_THRESHOLD)
        .select("vec_id_1", "vec_id_2", F.round("cos_raw", 6).alias("cos_sim"))
        .orderBy("vec_id_1", "vec_id_2")
    )


def _lsh_planes(seed: int = 42):
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((8, EMB_DIM))


def _ann_lsh_oracle() -> str:
    """Oracle generated from the SAME fixed-seed hyperplane constants;
    DuckDB's list_inner_product accumulates in element order like the
    Spark-side sequential fold (verified bit-exact at sf0.01)."""
    terms = []
    for i, plane in enumerate(_lsh_planes()):
        lits = ", ".join(repr(float(x)) for x in plane)
        terms.append(
            f"CASE WHEN list_inner_product(CAST(embedding AS DOUBLE[]), [{lits}]) > 0"
            f" THEN {1 << i} ELSE 0 END"
        )
    bucket = " + ".join(terms)
    return f"""
    SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
    FROM (SELECT vec_id, {bucket} AS bucket FROM embeddings) b
    GROUP BY bucket ORDER BY bucket
    """


@register("ann_lsh_buckets", oracle=_ann_lsh_oracle())
def ann_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing: 8 signed projections → 8-bit bucket
    id per vector. Deterministic (fixed-seed numpy hyperplanes, broadcast
    as literal arrays — no Python in the executor hot path: the
    projections are F.aggregate folds over literal arrays).

    Scale: one narrow pass → (bucket, vec_id); ANN then probes only the
    query's bucket (+ neighbors for recall). This is the 100 TB path:
    corpus shuffles once by bucket, queries broadcast to their buckets.
    """
    planes = _lsh_planes()
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bucket = None
    for i in range(8):
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        proj = dot(F.col("embedding"), plane)
        bit = F.when(proj > 0, F.lit(1 << i)).otherwise(0)
        bucket = bit if bucket is None else (bucket + bit)
    return (
        emb.select("vec_id", bucket.alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
        .orderBy("bucket")
    )


@register(
    "embedding_centroids",
    oracle="""
    SELECT label, dim,
           CAST(SUM(CAST(round(val * 1000000, 0) AS BIGINT)) AS DOUBLE) / 1000000
             / COUNT(*) AS centroid_val,
           COUNT(*) AS n_vectors
    FROM (
      SELECT label,
             generate_subscripts(embedding, 1) - 1 AS dim,
             CAST(unnest(embedding) AS DOUBLE) AS val
      FROM embeddings
    ) u
    GROUP BY label, dim
    ORDER BY label, dim
    """,
)
def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid vectors (k-means 'update' step / class
    prototypes), dimension-wise exact mean.

    Determinism: element values are quantized to integer micro-units
    before summing (SUM(double) is accumulation-order-dependent); the
    mean divides the exact integer sum in double.

    Scale: posexplode multiplies rows by dim (64×) but each row is
    (label, dim, micro) — 20 bytes; the groupBy combines map-side. For
    very high dim, aggregate arrays per-partition with
    applyInPandas instead.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    exploded = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    ).select(
        "label",
        "dim",
        F.round(F.col("val").cast("double") * 1_000_000, 0).cast("bigint").alias("micro"),
    )
    return (
        exploded.groupBy("label", "dim")
        .agg(
            (F.sum("micro").cast("double") / 1_000_000 / F.count(F.lit(1))).alias(
                "centroid_val"
            ),
            F.count(F.lit(1)).alias("n_vectors"),
        )
        .orderBy("label", "dim")
    )


N_CENTROIDS = 16
NPROBE = 4

_COS_VC = (
    "list_inner_product(emb, cemb) / "
    "(sqrt(list_inner_product(emb, emb)) * sqrt(list_inner_product(cemb, cemb)))"
)
_COS_QN = (
    "list_inner_product(q_emb, n_emb) / "
    "(sqrt(list_inner_product(q_emb, q_emb)) * sqrt(list_inner_product(n_emb, n_emb)))"
)


@register(
    "ann_ivf_topk",
    oracle=f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, emb AS cemb FROM v
          WHERE vec_id < {N_CENTROIDS}),
    scored AS (
      SELECT v.vec_id, c.centroid_id, {_COS_VC} AS cos_c
      FROM v CROSS JOIN c
    ),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_c DESC, centroid_id) AS crn
        FROM scored) s
      WHERE crn = 1
    ),
    probes AS (
      SELECT vec_id AS query_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_c DESC, centroid_id) AS crn
        FROM scored WHERE vec_id < {N_QUERIES}) s
      WHERE crn <= {NPROBE}
    ),
    cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id, q.emb AS q_emb, n.emb AS n_emb
      FROM probes p
      JOIN assign a ON a.centroid_id = p.centroid_id
      JOIN v q ON q.vec_id = p.query_id
      JOIN v n ON n.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id
    )
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
      SELECT query_id, neighbor_id, ROUND({_COS_QN}, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY {_COS_QN} DESC, neighbor_id) AS rn
      FROM cand) ranked
    WHERE rn <= {TOPK}
    ORDER BY query_id, rn
    """,
)
def ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize the corpus into {N_CENTROIDS}
    inverted lists (nearest centroid by cosine), then answer each query
    by scanning only its {NPROBE} nearest lists — the scale path next to
    ann_cosine_topk's exact brute force.

    Centroid seeds are the first {N_CENTROIDS} vectors (deterministic —
    production swaps in k-means means; the plan shape is identical).

    Scale: assignment is corpus × broadcast-centroids scoring followed
    by a groupBy(vec_id) max_by argmax — the K candidate rows for a
    vector are born in the same partition, so partial aggregation
    combines them 16→1 MAP-SIDE and the shuffle carries exactly one row
    per vector (no window sort). For extreme scale, centroids being
    model parameters can instead be inlined as literal arrays for a
    fully shuffle-free per-row argmax (trade: very large codegen
    expressions — slower to plan, so not the default here). At 100 TB
    the assigned corpus is WRITTEN bucketed/partitioned by centroid_id,
    so each query's probe join prunes to nprobe/K of the data
    (~{NPROBE}/{N_CENTROIDS} here) instead of a full scan; the probe
    side is tiny and broadcasts.
    """
    emb0 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    # corpus spread when the scan is under-split (r11, guide §2.5): the
    # corpus × centroid cosine lambdas otherwise run in one scan task
    emb = spread_small_scan(spark, emb0)
    cent = emb0.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb")
    )
    scored = emb.crossJoin(F.broadcast(cent)).withColumn(
        "cos_c", cosine(F.col("emb"), F.col("cemb"))
    )
    # argmax by (cos desc, centroid_id asc): map-side combine -> 1 row/vector
    order_key = F.struct(F.col("cos_c"), (-F.col("centroid_id")).alias("negid"))
    assign = (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(F.col("centroid_id"), F.col("emb")), order_key
            ).alias("best")
        )
        .select("vec_id", F.col("best.centroid_id").alias("centroid_id"),
                F.col("best.emb").alias("emb"))
    )
    # probe ranking runs only on the |Q| query vectors (tiny window)
    w_probe = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.asc("centroid_id")
    )
    probes = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("crn", F.row_number().over(w_probe))
        .filter(F.col("crn") <= NPROBE)
        .select(
            F.col("vec_id").alias("query_id"),
            "centroid_id",
            F.col("emb").alias("q_emb"),
        )
    )
    cand = (
        assign.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_qn", cosine(F.col("q_emb"), F.col("emb")))
    )
    w_rank = Window.partitionBy("query_id").orderBy(
        F.desc("cos_qn"), F.asc("vec_id")
    )
    return (
        cand.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= TOPK)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round("cos_qn", 6).alias("cos_sim"),
            "rn",
        )
        .orderBy("query_id", "rn")
    )


KNN_K = 10
KNN_QUERIES = 50


@register(
    "knn_classify",
    oracle=f"""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    nn AS (
      SELECT query_id, true_label, n_label, rn FROM (
        SELECT a.vec_id AS query_id, a.label AS true_label, b.label AS n_label,
               ROW_NUMBER() OVER (PARTITION BY a.vec_id
                                  ORDER BY {_SQL_COS} DESC, b.vec_id) AS rn
        FROM v a JOIN v b ON b.vec_id <> a.vec_id
        WHERE a.vec_id < {KNN_QUERIES}) r
      WHERE rn <= {KNN_K}),
    votes AS (SELECT query_id, true_label, n_label, COUNT(*) AS n_votes
              FROM nn GROUP BY query_id, true_label, n_label),
    best AS (SELECT query_id, true_label, n_label AS pred_label, n_votes,
                    ROW_NUMBER() OVER (PARTITION BY query_id
                                       ORDER BY n_votes DESC, n_label) AS vr
             FROM votes)
    SELECT query_id, true_label, pred_label, n_votes,
           CAST(pred_label = true_label AS BOOLEAN) AS correct
    FROM best WHERE vr = 1
    ORDER BY query_id
    """,
)
def knn_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN label prediction: majority vote over the {KNN_K} cosine-
    nearest neighbors for each of {KNN_QUERIES} query vectors — the
    label-propagation / auto-labeling primitive of a training-data
    pipeline (and the standard embedding-quality probe).

    Deterministic end-to-end: neighbor rank ties break on vec_id, vote
    ties break on the smaller label.

    Scale: same broadcast-queries shape as ann_cosine_topk — the corpus
    streams once, no shuffle for the similarity pass; the vote agg
    shuffles |Q|x{KNN_K} rows (tiny). For corpus-scale labeling (|Q| =
    |N|) switch the pair source to the IVF/LSH bucketed variants.
    """
    emb0 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").alias("emb")
    )
    # corpus spread when the scan is under-split (r11, guide §2.5)
    emb = spread_small_scan(spark, emb0)
    q = emb0.filter(F.col("vec_id") < KNN_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("label").alias("true_label"),
        F.col("emb").alias("q_emb"),
    )
    pairs = emb.join(F.broadcast(q), F.col("vec_id") != F.col("query_id"))
    w = Window.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("vec_id"))
    nn = (
        pairs.select(
            "query_id",
            "true_label",
            F.col("label").alias("n_label"),
            "vec_id",
            cosine(F.col("q_emb"), F.col("emb")).alias("cos_raw"),
        )
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KNN_K)
    )
    votes = nn.groupBy("query_id", "true_label", "n_label").agg(
        F.count(F.lit(1)).alias("n_votes")
    )
    wv = Window.partitionBy("query_id").orderBy(F.desc("n_votes"), F.asc("n_label"))
    return (
        votes.withColumn("vr", F.row_number().over(wv))
        .filter(F.col("vr") == 1)
        .select(
            "query_id",
            "true_label",
            F.col("n_label").alias("pred_label"),
            "n_votes",
            (F.col("n_label") == F.col("true_label")).alias("correct"),
        )
        .orderBy("query_id")
    )


@register(
    "vector_quantize_int8",
    oracle="""
    WITH v AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS emb
               FROM embeddings),
    q AS (
      SELECT vec_id, label,
             list_max(list_transform(emb, x -> abs(x))) AS maxabs,
             emb
      FROM v),
    err AS (
      SELECT vec_id, label,
             CAST(round(list_sum(list_transform(emb,
               x -> pow(x - round(x * 127.0 / maxabs, 0) * maxabs / 127.0, 2)))
               / len(emb) * 1e12, 0) AS BIGINT) AS mse_pico
      FROM q)
    SELECT label, COUNT(*) AS n_vecs,
           CAST(SUM(mse_pico) AS DOUBLE) / 1e12 AS total_mse
    FROM err GROUP BY label ORDER BY label
    """,
)
def vector_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric per-vector int8 scalar quantization (q = round(x*127/
    maxabs)) with reconstruction-MSE audit per label — the compression
    step before shipping embeddings to an ANN index (4x smaller, ~1e-5
    MSE). Per-vector MSE is quantized to integer picounits before the
    cross-vector sum so the audit total is exact across engines
    (double accumulation order differs between Spark and DuckDB).

    Scale: fully narrow (no shuffle until the per-label audit agg);
    runs as a single codegen'd projection over the corpus. The same
    expression shape writes the quantized array<tinyint> column for
    the production sink.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").alias("emb")
    )
    maxabs = F.array_max(F.transform(F.col("emb"), lambda c: F.abs(c.cast("double"))))
    with_max = emb.withColumn("maxabs", maxabs)
    recon_err = F.aggregate(
        F.transform(
            F.col("emb"),
            lambda c: F.pow(
                c.cast("double")
                - F.round(c.cast("double") * 127.0 / F.col("maxabs"), 0)
                * F.col("maxabs")
                / 127.0,
                F.lit(2.0),
            ),
        ),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    mse_pico = F.round(
        recon_err / F.size(F.col("emb")) * 1e12, 0
    ).cast("bigint")
    return (
        with_max.select("label", mse_pico.alias("mse_pico"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            (F.sum("mse_pico").cast("double") / 1e12).alias("total_mse"),
        )
        .orderBy("label")
    )


#: k-means configuration: K clusters, fixed Lloyd iterations.
KMEANS_K = 4
KMEANS_ITERS = 3


@register("kmeans_embeddings")
def kmeans_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means over the embedding table, K={KMEANS_K}, exactly
    {KMEANS_ITERS} iterations — the iterative-algorithm pattern done
    Spark-first: the DATA never leaves the executors; only the K×dim
    centroid matrix rides the driver loop, re-broadcast each round as
    a literal array. Assignment is an argmin over K broadcast rows
    (`aggregate(zip_with(...))` squared-L2, all codegen); the update
    step is the quantized dimension-wise mean (same integer-micro
    discipline as embedding_centroids, so re-runs are bit-identical;
    centroids are additionally rounded to 6dp each round on the
    driver).

    No SQL oracle (iterative fixpoint is not SQL-expressible; the
    driver records the rows-only check). Determinism instead:
    init = the K lowest-vec_id embeddings, ties impossible; argmin
    tie-breaks on cluster id.

    Scale: per iteration one narrow pass (assign) + one |K·dim|-wide
    agg (update). 100 TB note: that's the exact shape of MLlib's
    KMeans — cost is iters × (scan + tiny shuffle); nothing grows with
    data but the scan.
    """
    # localCheckpoint: the driver loop triggers KMEANS_ITERS+1 actions
    # over this relation — materialize the (small) projected scan once
    # instead of re-reading parquet every round.
    # (r11 A/B: spreading this scan to cores REGRESSED 2.57 -> 2.96 s —
    # per-iteration task overhead over 60-row partitions beats the
    # serial compute it removes; the 1-partition checkpoint stays)
    e = (
        load_table(spark, sf_dir, "embeddings")
        .select("vec_id", "embedding")
        .localCheckpoint()
    )

    # init: K lowest-id vectors (deterministic, no RNG)
    init_rows = e.orderBy("vec_id").limit(KMEANS_K).collect()
    centroids: list[list[float]] = [
        [round(float(x), 6) for x in r["embedding"]] for r in init_rows
    ]

    def dist2(cvec: list[float]):
        carr = F.array(*[F.lit(float(x)) for x in cvec])
        return F.aggregate(
            F.zip_with(
                F.col("embedding").cast("array<double>"),
                carr,
                lambda a, b: (a - b) * (a - b),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )

    assigned = None
    for _ in range(KMEANS_ITERS):
        dists = F.array(*[dist2(c) for c in centroids])
        assigned = e.withColumn(
            "cluster",
            F.array_position(dists, F.array_min(dists)).cast("int") - 1,
        )
        # update: exact integer-micro mean per (cluster, dim)
        upd = (
            assigned.select(
                "cluster", F.posexplode(F.col("embedding")).alias("dim", "v")
            )
            .groupBy("cluster", "dim")
            .agg(
                (
                    F.sum(F.round(F.col("v").cast("double") * 1_000_000, 0).cast("bigint"))
                    .cast("double")
                    / 1_000_000
                    / F.count(F.lit(1))
                ).alias("mean_v")
            )
            .groupBy("cluster")
            .agg(F.map_from_arrays(F.collect_list("dim"), F.collect_list("mean_v")).alias("m"))
            .collect()
        )
        new_c = {r["cluster"]: r["m"] for r in upd}
        centroids = [
            [round(new_c[k][d], 6) for d in sorted(new_c[k])] if k in new_c else centroids[k]
            for k in range(KMEANS_K)
        ]

    inertia_ticks = F.round(
        F.array_min(F.array(*[dist2(c) for c in centroids])) * 1_000_000, 0
    ).cast("bigint")
    return (
        assigned.select("cluster", inertia_ticks.alias("d2_ticks"))
        .groupBy("cluster")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(F.sum("d2_ticks").cast("double") / 1_000_000, 3).alias("inertia"),
        )
        .orderBy("cluster")
    )


@register("embedding_pca_power")
def embedding_pca_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label top principal component via power iteration — the
    grouped-`applyInPandas` pattern: each label's embedding block lands
    in ONE Arrow batch as a pandas DataFrame, numpy does 30 power-
    iteration steps on the d×d covariance, and one row per group comes
    back (label, n, top eigenvalue, PC1 leading-coefficient index).

    No SQL oracle (eigen-iteration is not SQL-expressible; rows-only
    check). Determinism: fixed all-ones init, float64, fixed iteration
    count, sign-canonicalized eigenvector.

    Scale: applyInPandas shuffles by group key and each group must fit
    one worker's memory — right here (groups = labels, block = n×64
    floats), and the d×d covariance keeps memory O(d²) regardless of n
    via the streaming X^T X accumulation. For billion-row groups you'd
    switch to a distributed Gram matrix (treeAggregate of outer
    products), same math.
    """
    import pandas as pd

    e = load_table(spark, sf_dir, "embeddings").select("label", "embedding")

    def pca_block(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        x = np.array(pdf["embedding"].tolist(), dtype=np.float64)
        x = x - x.mean(axis=0)
        cov = (x.T @ x) / max(len(x) - 1, 1)
        v = np.ones(cov.shape[0]) / np.sqrt(cov.shape[0])
        for _ in range(30):
            v = cov @ v
            v = v / np.linalg.norm(v)
        eig = float(v @ cov @ v)
        if v[int(np.argmax(np.abs(v)))] < 0:  # canonical sign
            v = -v
        return pd.DataFrame(
            {
                "label": [int(pdf["label"].iloc[0])],
                "n_vecs": [len(pdf)],
                "top_eigenvalue": [round(eig, 6)],
                "pc1_argmax_dim": [int(np.argmax(np.abs(v)))],
            }
        )

    return (
        e.groupBy("label")
        .applyInPandas(
            pca_block,
            "label int, n_vecs long, top_eigenvalue double, pc1_argmax_dim int",
        )
        .orderBy("label")
    )


#: Quantization scale for the pandas-UDF cosine path: embedding
#: components become integer micro-units, so dot products and norms are
#: exact int64 arithmetic in BOTH engines (numpy and DuckDB) and the
#: only doubles are two sqrt's and one division at the end.
_QUANT = 1_000_000


@register(
    "cosine_pandas_udf_topk",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_QUANT}, 0) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id = 0),
    quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_QUANT}, 0) AS BIGINT)) AS v
      FROM embeddings WHERE vec_id > 0),
    scored AS (
      SELECT vec_id,
             list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i]))
               AS dot_i,
             list_sum(list_transform(v, x -> x * x)) AS n1_i,
             list_sum(list_transform(qv, x -> x * x)) AS n2_i
      FROM quant, q)
    SELECT vec_id,
           round(CAST(dot_i AS DOUBLE) / (sqrt(CAST(n1_i AS DOUBLE)) * sqrt(CAST(n2_i AS DOUBLE))), 6)
             AS cos_sim
    FROM scored
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def cosine_pandas_udf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cosine top-10 against a fixed query vector via a **vectorized
    scalar pandas_udf** — the Arrow-batched UDF flavor (mapInPandas,
    grouped applyInPandas, and applyInPandasWithState are exercised
    elsewhere; this is the per-column one). The whole Arrow batch of
    embeddings becomes one (batch × dim) int64 numpy matrix and one
    matrix-vector product scores it — no per-row Python.

    Exactness across engines despite numpy: components are quantized to
    integer micro-units first, so dot and norms are exact int64 sums in
    any summation order (numpy BLAS reduction order ≠ DuckDB's
    sequential list_sum, which would diverge in the last ulp with
    float accumulation — integers make order irrelevant).

    Scale: narrow pass, no shuffle but the top-k heap; the UDF costs
    one Arrow serialization of the embedding column each way — the
    built-in `aggregate(zip_with(...))` twin (ann_cosine_topk) stays
    JVM-side and is the default; this one exists for when the kernel
    genuinely needs numpy (learned metrics, int8 SIMD, GPU hand-off).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    q_i = np.rint(np.array(qvec, dtype=np.float64) * _QUANT).astype(np.int64)
    qn_i = int(q_i @ q_i)

    # no type hints: PEP-563 stringized annotations break pandas_udf's
    # hint inspection; the eval type defaults to SCALAR.
    @pandas_udf("double")
    def cos_q(col):
        m = np.rint(np.array(col.tolist(), dtype=np.float64) * _QUANT).astype(
            np.int64
        )
        dot = m @ q_i
        n1 = (m * m).sum(axis=1)
        return pd.Series(
            np.round(dot.astype(np.float64) / (np.sqrt(n1.astype(np.float64)) * np.sqrt(float(qn_i))), 6)
        )

    return (
        e.filter(F.col("vec_id") > 0)
        .select("vec_id", cos_q(F.col("embedding")).alias("cos_sim"))
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


@register(
    "cosine_arrow_topk",
    oracle=f"""
    WITH q AS (
      SELECT list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_QUANT}, 0) AS BIGINT)) AS qv
      FROM embeddings WHERE vec_id = 0),
    quant AS (
      SELECT vec_id,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * {_QUANT}, 0) AS BIGINT)) AS v
      FROM embeddings WHERE vec_id > 0),
    scored AS (
      SELECT vec_id,
             list_sum(list_transform(range(1, len(v) + 1), i -> v[i] * qv[i]))
               AS dot_i,
             list_sum(list_transform(v, x -> x * x)) AS n1_i,
             list_sum(list_transform(qv, x -> x * x)) AS n2_i
      FROM quant, q)
    SELECT vec_id,
           round(CAST(dot_i AS DOUBLE) / (sqrt(CAST(n1_i AS DOUBLE)) * sqrt(CAST(n2_i AS DOUBLE))), 6)
             AS cos_sim
    FROM scored
    ORDER BY cos_sim DESC, vec_id
    LIMIT 10
    """,
)
def cosine_arrow_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``cosine_pandas_udf_topk``'s kernel on the **``mapInArrow``**
    seam — the lower-overhead Arrow-native batch API (r10 verdict item
    5): the UDF receives raw ``pyarrow.RecordBatch``es and yields
    RecordBatches, skipping the Arrow→pandas→Arrow conversion the
    ``pandas_udf`` flavor pays on BOTH sides of every batch (Series
    construction, index allocation, object boxing for the list
    column). The list column flattens zero-copy into one contiguous
    float buffer → (batch × dim) int64 numpy matrix → one matvec —
    identical integer arithmetic, identical oracle, same results to
    the last bit.

    Exactness: same micro-quantized int64 dot/norm device as the
    pandas twin — summation-order-free, so numpy BLAS and DuckDB's
    sequential list_sum agree exactly.

    Scale: when the Python kernel is a fixed-width numeric op (int8
    rerank, learned-metric scoring), the pandas wrapper is pure
    per-batch overhead at 100 TB — measured at sf0.1 in SCALE.md
    (round-11 note). pandas stays the right seam when the kernel
    needs DataFrame semantics (grouping, joins, string ops).
    """
    import numpy as np
    import pyarrow as pa

    e = load_table(spark, sf_dir, "embeddings")
    qvec = e.filter(F.col("vec_id") == 0).select("embedding").collect()[0][0]
    q_i = np.rint(np.array(qvec, dtype=np.float64) * _QUANT).astype(np.int64)
    qn_sqrt = float(np.sqrt(float(q_i @ q_i)))
    dim = len(qvec)

    def score(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            emb = b.column("embedding")
            # flatten() honors the batch's list offsets; values are a
            # contiguous primitive buffer — no per-row Python objects
            flat = emb.flatten().to_numpy(zero_copy_only=False)
            m = np.rint(
                flat.astype(np.float64).reshape(n, dim) * _QUANT
            ).astype(np.int64)
            dot = m @ q_i
            n1 = (m * m).sum(axis=1)
            sims = np.round(
                dot.astype(np.float64)
                / (np.sqrt(n1.astype(np.float64)) * qn_sqrt),
                6,
            )
            yield pa.RecordBatch.from_arrays(
                [b.column("vec_id"), pa.array(sims, type=pa.float64())],
                names=["vec_id", "cos_sim"],
            )

    return (
        e.filter(F.col("vec_id") > 0)
        .select("vec_id", "embedding")
        .mapInArrow(score, "vec_id long, cos_sim double")
        .orderBy(F.desc("cos_sim"), "vec_id")
        .limit(10)
    )


MMR_N_CAND = 20
MMR_K = 5
MMR_LAMBDA_NUM = 7  # lambda = 0.7, kept as integers for exact scoring
MMR_TICK = 1_000_000_000


def _mmr_oracle() -> str:
    cos_ab = (
        "list_inner_product(a.emb, b.emb) / "
        "(sqrt(list_inner_product(a.emb, a.emb)) * sqrt(list_inner_product(b.emb, b.emb)))"
    )
    steps = []
    prev_sel = "sel1"
    steps.append(
        f"""sel1 AS (
      SELECT vec_id, 1 AS rank FROM cand
      ORDER BY {MMR_LAMBDA_NUM} * qt DESC, vec_id LIMIT 1)"""
    )
    for k in range(2, MMR_K + 1):
        sel_union = " UNION ALL ".join(f"SELECT vec_id FROM sel{j}" for j in range(1, k))
        steps.append(
            f"""sel{k} AS (
      SELECT c.vec_id, {k} AS rank FROM cand c
      WHERE c.vec_id NOT IN ({sel_union})
      ORDER BY {MMR_LAMBDA_NUM} * c.qt
               - {10 - MMR_LAMBDA_NUM} * COALESCE((
                   SELECT MAX(p.pt) FROM pair p
                   WHERE p.i = c.vec_id AND p.j IN ({sel_union})), 0) DESC,
               c.vec_id
      LIMIT 1)"""
        )
        prev_sel = f"sel{k}"
    all_sel = " UNION ALL ".join(f"SELECT * FROM sel{j}" for j in range(1, MMR_K + 1))
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    q AS (SELECT emb FROM v WHERE vec_id = 0),
    cand AS (
      SELECT a.vec_id, a.emb,
             CAST(round(({cos_ab}) * {MMR_TICK}, 0) AS BIGINT) AS qt
      FROM v a, q b
      WHERE a.vec_id <> 0
      ORDER BY qt DESC, vec_id LIMIT {MMR_N_CAND}),
    pair AS (
      SELECT a.vec_id AS i, b.vec_id AS j,
             CAST(round(({cos_ab}) * {MMR_TICK}, 0) AS BIGINT) AS pt
      FROM cand a JOIN cand b ON a.vec_id <> b.vec_id),
    {",".join(steps)}
    SELECT rank, vec_id FROM ({all_sel}) s ORDER BY rank
    """


@register("mmr_diverse_topk", oracle=_mmr_oracle())
def mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-Marginal-Relevance diversified retrieval: top-{MMR_N_CAND}
    cosine candidates for query vector 0, then {MMR_K} greedy picks
    maximizing λ·sim(q,d) − (1−λ)·max_{{s∈S}} sim(d,s) (λ=0.7) — the
    standard diversity re-rank between ANN retrieval and a consumer.

    Exactness: similarities are quantized to integer nano-ticks before
    any comparison, λ is the integer pair (7, 3), ties break on vec_id —
    the oracle unrolls the same greedy steps as chained CTEs.

    Scale: stage 1 (distributed) streams the corpus once against the
    broadcast query; the greedy re-rank is O(N²) on N={MMR_N_CAND}
    candidates — driver-looped like kmeans (each pick collects ONE row;
    the pair matrix stays a Spark frame). Production N is hundreds —
    re-rank cost is independent of corpus size.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    q_emb = emb.filter(F.col("vec_id") == 0).select(F.col("emb").alias("qe"))
    qt = (F.round(cosine(F.col("emb"), F.col("qe")) * MMR_TICK, 0)).cast("bigint")
    cand = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(q_emb))
        .select("vec_id", "emb", qt.alias("qt"))
        .orderBy(F.desc("qt"), "vec_id")
        .limit(MMR_N_CAND)
        .localCheckpoint()  # reused by the pair matrix + K greedy picks
    )
    a = cand.select(F.col("vec_id").alias("i"), F.col("emb").alias("ea"))
    b = cand.select(F.col("vec_id").alias("j"), F.col("emb").alias("eb"))
    pair = (
        a.join(b, F.col("i") != F.col("j"))
        .select(
            "i",
            "j",
            F.round(cosine(F.col("ea"), F.col("eb")) * MMR_TICK, 0)
            .cast("bigint")
            .alias("pt"),
        )
        .localCheckpoint()
    )
    selected: list[int] = []
    picks: list[tuple[int, int]] = []
    for rank in range(1, MMR_K + 1):
        rem = cand.filter(~F.col("vec_id").isin(selected)) if selected else cand
        if selected:
            penalty = (
                pair.filter(F.col("j").isin(selected))
                .groupBy("i")
                .agg(F.max("pt").alias("mp"))
            )
            scored = rem.join(penalty, rem.vec_id == penalty.i, "left").select(
                "vec_id",
                (
                    MMR_LAMBDA_NUM * F.col("qt")
                    - (10 - MMR_LAMBDA_NUM) * F.coalesce("mp", F.lit(0))
                ).alias("score"),
            )
        else:
            scored = rem.select(
                "vec_id", (MMR_LAMBDA_NUM * F.col("qt")).alias("score")
            )
        [best] = scored.orderBy(F.desc("score"), "vec_id").limit(1).collect()
        selected.append(best.vec_id)
        picks.append((rank, best.vec_id))
    return spark.createDataFrame(picks, "rank int, vec_id bigint").orderBy("rank")


def _emb_lsh_dedup_oracle() -> str:
    terms = []
    for i, plane in enumerate(_lsh_planes()):
        lits = ", ".join(repr(float(x)) for x in plane)
        terms.append(
            f"CASE WHEN list_inner_product(emb, [{lits}]) > 0"
            f" THEN {1 << i} ELSE 0 END"
        )
    bucket = " + ".join(terms)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    b AS (SELECT vec_id, emb, {bucket} AS bucket FROM v)
    SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2,
           ROUND({_SQL_COS}, 6) AS cos_sim
    FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
    WHERE {_SQL_COS} >= {COSINE_DEDUP_THRESHOLD}
    ORDER BY vec_id_1, vec_id_2
    """


@register("dedup_embedding_lsh_pairs", oracle=_emb_lsh_dedup_oracle())
def dedup_embedding_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic near-dup at scale: hyperplane-bucket the corpus (8 signed
    projections → 256 buckets), pair ONLY within buckets, verify
    cosine ≥ {COSINE_DEDUP_THRESHOLD} — the bucketed scale path of
    dedup_embedding_cosine's capped all-pairs baseline (same verify
    math, candidate generation linear instead of quadratic).

    Recall note: same-bucket pairing misses near-dups split by a
    hyperplane (recall < 1 by design); production probes neighboring
    buckets or unions several hyperplane seeds — the plan shape is
    unchanged.

    Scale: one narrow bucketing pass; the self-join shuffles on bucket
    (256 groups, ~n/256 vectors each) so the pair fan-out is
    Σ nᵢ·(nᵢ-1)/2, not n²/2.
    """
    planes = _lsh_planes()
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    bucket = None
    for i in range(8):
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        bit = F.when(dot(F.col("emb"), plane) > 0, F.lit(1 << i)).otherwise(0)
        bucket = bit if bucket is None else (bucket + bit)
    bucketed = emb.select("vec_id", "emb", bucket.alias("bucket"))
    a = bucketed.select(
        F.col("bucket").alias("bk"),
        F.col("vec_id").alias("vec_id_1"),
        F.col("emb").alias("emb_1"),
    )
    b = bucketed.select(
        F.col("bucket").alias("bk2"),
        F.col("vec_id").alias("vec_id_2"),
        F.col("emb").alias("emb_2"),
    )
    sim = cosine(F.col("emb_1"), F.col("emb_2"))
    return (
        a.join(b, (F.col("bk") == F.col("bk2")) & (F.col("vec_id_1") < F.col("vec_id_2")))
        .select("vec_id_1", "vec_id_2", sim.alias("cos_raw"))
        .filter(F.col("cos_raw") >= COSINE_DEDUP_THRESHOLD)
        .select("vec_id_1", "vec_id_2", F.round("cos_raw", 6).alias("cos_sim"))
        .orderBy("vec_id_1", "vec_id_2")
    )


#: per-(seed, bucket) participation bound for the embedding-LSH paths —
#: same role as dedup.LSH_BUCKET_CAP: the worst bucket contributes at
#: most CAP·(CAP-1)/2 candidate pairs no matter how skewed the corpus.
EMB_LSH_BUCKET_CAP = 64
EMB_LSH_PROBE_SEEDS = (42, 43)  # seed 42 == the single-seed variant's planes


def _sql_bucket_expr(planes) -> str:
    """DuckDB expression for the signed-projection bucket id of `emb`."""
    terms = []
    for i, plane in enumerate(planes):
        lits = ", ".join(repr(float(x)) for x in plane)
        terms.append(
            f"CASE WHEN list_inner_product(emb, [{lits}]) > 0"
            f" THEN {1 << i} ELSE 0 END"
        )
    return " + ".join(terms)


def _bucket_col(planes) -> Column:
    """Spark column for the same signed-projection bucket id."""
    bucket = None
    for i in range(len(planes)):
        plane = F.array(*[F.lit(float(x)) for x in planes[i]])
        bit = F.when(dot(F.col("emb"), plane) > 0, F.lit(1 << i)).otherwise(0)
        bucket = bit if bucket is None else (bucket + bit)
    return bucket


def _capped_bucket_ids(emb: DataFrame, planes, cap: int) -> DataFrame:
    """(bucket, vec_id) rows with at most `cap` members per bucket,
    deterministically chosen (lowest vec_id first) — embeddings do NOT
    ride this frame, only 2 narrow columns shuffle."""
    w = Window.partitionBy("bucket").orderBy("vec_id")
    return (
        emb.select("vec_id", _bucket_col(planes).alias("bucket"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= cap)
        .select("bucket", "vec_id")
    )


def _bucket_pairs(capped: DataFrame) -> DataFrame:
    """Within-bucket unordered id pairs (vec_id_1 < vec_id_2)."""
    a = capped.select("bucket", F.col("vec_id").alias("vec_id_1"))
    b = capped.select(
        F.col("bucket").alias("bucket2"), F.col("vec_id").alias("vec_id_2")
    )
    return a.join(
        b,
        (F.col("bucket") == F.col("bucket2"))
        & (F.col("vec_id_1") < F.col("vec_id_2")),
    ).select("vec_id_1", "vec_id_2")


def _sql_capped_cte(name: str, planes, cap: int) -> str:
    return f"""{name}_b AS (
      SELECT vec_id, {_sql_bucket_expr(planes)} AS bucket FROM v),
    {name} AS (
      SELECT bucket, vec_id FROM (
        SELECT bucket, vec_id,
               ROW_NUMBER() OVER (PARTITION BY bucket ORDER BY vec_id) AS rn
        FROM {name}_b) r
      WHERE rn <= {cap})"""


def _verify_pairs(emb: DataFrame, cand: DataFrame) -> DataFrame:
    """Fetch both vectors for each candidate id pair and keep those with
    cosine ≥ the dedup threshold — the shared verify stage."""
    e1 = emb.select(F.col("vec_id").alias("vec_id_1"), F.col("emb").alias("emb_1"))
    e2 = emb.select(F.col("vec_id").alias("vec_id_2"), F.col("emb").alias("emb_2"))
    sim = cosine(F.col("emb_1"), F.col("emb_2"))
    return (
        cand.join(e1, "vec_id_1")
        .join(e2, "vec_id_2")
        .select("vec_id_1", "vec_id_2", sim.alias("cos_raw"))
        .filter(F.col("cos_raw") >= COSINE_DEDUP_THRESHOLD)
        .select("vec_id_1", "vec_id_2", F.round("cos_raw", 6).alias("cos_sim"))
        .orderBy("vec_id_1", "vec_id_2")
    )


def _emb_lsh_capped_oracle() -> str:
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    {_sql_capped_cte("capped", _lsh_planes(), EMB_LSH_BUCKET_CAP)},
    cand AS (
      SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
      FROM capped a JOIN capped b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT c.vec_id_1, c.vec_id_2, ROUND({_SQL_COS}, 6) AS cos_sim
    FROM cand c JOIN v a ON a.vec_id = c.vec_id_1 JOIN v b ON b.vec_id = c.vec_id_2
    WHERE {_SQL_COS} >= {COSINE_DEDUP_THRESHOLD}
    ORDER BY vec_id_1, vec_id_2
    """


@register("dedup_embedding_lsh_pairs_capped", oracle=_emb_lsh_capped_oracle())
def dedup_embedding_lsh_pairs_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hot-bucket-capped semantic near-dup pairs: hyperplane-bucket the
    corpus, keep at most {EMB_LSH_BUCKET_CAP} deterministic members per
    bucket (lowest vec_id), pair within buckets, verify cosine — the
    guarded production form of dedup_embedding_lsh_pairs, mirroring the
    minhash path's LSH_BUCKET_CAP (dedup.py).

    Scale: the uncapped variant's within-bucket fan-out is Σ nᵢ²/2
    (≈ n²/512 for 256 uniform buckets — quadratic at 100×). The cap
    bounds the worst bucket at CAP·(CAP-1)/2 pairs, making candidate
    volume O(buckets·CAP²) regardless of skew. Candidate generation
    shuffles only (bucket, vec_id); the 64-float vectors are fetched in
    the verify join afterwards, so payloads never ride the LSH shuffle.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    capped = _capped_bucket_ids(emb, _lsh_planes(), EMB_LSH_BUCKET_CAP)
    return _verify_pairs(emb, _bucket_pairs(capped))


def _emb_lsh_multiprobe_oracle() -> str:
    s1, s2 = EMB_LSH_PROBE_SEEDS
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    {_sql_capped_cte("cap1", _lsh_planes(s1), EMB_LSH_BUCKET_CAP)},
    {_sql_capped_cte("cap2", _lsh_planes(s2), EMB_LSH_BUCKET_CAP)},
    cand AS (
      SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
      FROM cap1 a JOIN cap1 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
      UNION
      SELECT a.vec_id, b.vec_id
      FROM cap2 a JOIN cap2 b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
    SELECT c.vec_id_1, c.vec_id_2, ROUND({_SQL_COS}, 6) AS cos_sim
    FROM cand c JOIN v a ON a.vec_id = c.vec_id_1 JOIN v b ON b.vec_id = c.vec_id_2
    WHERE {_SQL_COS} >= {COSINE_DEDUP_THRESHOLD}
    ORDER BY vec_id_1, vec_id_2
    """


@register("dedup_embedding_lsh_multiprobe", oracle=_emb_lsh_multiprobe_oracle())
def dedup_embedding_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe semantic near-dup: union the capped within-bucket
    candidate pairs of TWO independent hyperplane seeds, then verify
    cosine once — the recall-recovery scheme the single-seed docstring
    sketches. A near-dup pair is missed only if BOTH seeds split it, so
    per-pair miss probability is squared vs one seed (recall quantified
    in tests/test_embedding_lsh.py against the brute-force truth).

    Scale: each seed's candidate stage is the capped-LSH shape
    (bounded fan-out, ids-only shuffle); the union is a distinct over
    2-bigint rows; verification fetches vectors once per surviving
    candidate. Cost is ~2× the single-seed path for squared miss rate.
    """
    # (r11 A/B: spreading this scan REGRESSED 3.07 -> 3.63 s — the
    # 16-plane projection is too light per row to amortize 32-way
    # task overhead, unlike the md5-heavy MinHash chains)
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    s1, s2 = EMB_LSH_PROBE_SEEDS
    cand = (
        _bucket_pairs(_capped_bucket_ids(emb, _lsh_planes(s1), EMB_LSH_BUCKET_CAP))
        .union(
            _bucket_pairs(
                _capped_bucket_ids(emb, _lsh_planes(s2), EMB_LSH_BUCKET_CAP)
            )
        )
        .distinct()
    )
    return _verify_pairs(emb, cand)


# ---------------------------------------------------------------------------
# Product quantization ANN (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search") with deterministic anchor codebooks
# ---------------------------------------------------------------------------

#: Subspace layout: 64-dim embeddings split into PQ_M blocks of PQ_SUBDIM.
PQ_M = 4
PQ_SUBDIM = 16
#: Codebook size per subspace; codewords are the subvectors of the first
#: PQ_K corpus vectors (a deterministic stand-in for per-subspace k-means
#: training — the *search* machinery is identical either way).
PQ_K = 16
PQ_QUERIES = 5
PQ_TOPK = 10

#: Component quantization: micro-units, so every distance is an exact
#: int64 sum (summation order irrelevant -> bit-identical across engines).
_PQ_SCALE = 1_000_000

_PQ_D2 = (
    "CAST(list_sum(list_transform(range(1,{n}), "
    "i -> ({a}[i]-{b}[i])*({a}[i]-{b}[i]))) AS BIGINT)"
).format


def _pq_oracle() -> str:
    d2_ca = _PQ_D2(n=PQ_SUBDIM + 1, a="c.s", b="a.a")
    d2_qa = _PQ_D2(n=PQ_SUBDIM + 1, a="q.s", b="a.a")
    return f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(ROUND(x*{_PQ_SCALE}) AS BIGINT)) AS qe
      FROM embeddings),
    sub AS (
      SELECT vec_id, m, qe[(m*{PQ_SUBDIM}+1):(m*{PQ_SUBDIM}+{PQ_SUBDIM})] AS s
      FROM v, UNNEST(range({PQ_M})) AS u(m)),
    anch AS (SELECT vec_id AS k, m, s AS a FROM sub WHERE vec_id < {PQ_K}),
    codes AS (
      SELECT vec_id, m, MIN(d2 * {PQ_K} + k) % {PQ_K} AS k
      FROM (
        SELECT c.vec_id, c.m, a.k, {d2_ca} AS d2
        FROM sub c JOIN anch a ON a.m = c.m) t
      GROUP BY vec_id, m),
    qd AS (
      SELECT q.vec_id AS query_id, q.m, a.k, {d2_qa} AS d2
      FROM sub q JOIN anch a ON a.m = q.m
      WHERE q.vec_id < {PQ_QUERIES}),
    adc AS (
      SELECT qd.query_id, c.vec_id AS neighbor_id,
             CAST(SUM(qd.d2) AS BIGINT) AS adc_d2
      FROM codes c JOIN qd ON qd.m = c.m AND qd.k = c.k
      WHERE c.vec_id <> qd.query_id
      GROUP BY qd.query_id, c.vec_id)
    SELECT query_id, neighbor_id, adc_d2, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_d2, neighbor_id) AS rn
      FROM adc) r
    WHERE rn <= {PQ_TOPK}
    ORDER BY query_id, rn
    """


def _pq_d2(a: Column, b: Column) -> Column:
    """Exact int64 squared L2 between two quantized subvectors."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


@register("ann_pq_topk", oracle=_pq_oracle())
def ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization ANN: corpus vectors are encoded as PQ_M
    one-byte codes (nearest codeword per subspace), and queries rank
    candidates by Asymmetric Distance Computation — exact query subvector
    vs the neighbor's CODEWORD, never the raw neighbor vector.

    Codebooks are the subvectors of the first PQ_K corpus vectors
    (deterministic training stand-in; argmin ties break to the lower
    codeword id via a struct-min, mirrored in the oracle).

    Scale design — why PQ is the 100 TB memory play:
    - encode once: corpus → (vec_id, m, code) is PQ_M small ints per
      vector (64 bytes of floats → 4 bytes of codes, a 16× compression);
      persist like the IVF index and raw vectors never load again.
    - the anchor table is PQ_M×PQ_K subvectors — broadcast; encoding is
      one map-side pass with a map-side-combinable struct-min groupBy.
    - serving: the query's PQ_M×PQ_K distance table (320 ints) is
      broadcast; ADC is a broadcast join + groupBy-sum over CODES, so
      the per-candidate cost is PQ_M integer adds, independent of the
      raw dimension. All arithmetic is exact int64 (micro-unit
      quantization) — bit-identical across engines in any order.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _PQ_SCALE).cast("bigint"),
        ).alias("qe"),
    )
    ms = F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m")
    sub, anch = _pq_sub_anchors(emb)
    codes = _pq_codes(sub, anch)
    return _pq_serve(sub, anch, codes)


def _pq_sub_anchors(emb: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(sub, anch): per-subspace quantized subvectors for the corpus and
    the PQ_K deterministic anchors."""
    ms = F.explode(F.array(*[F.lit(m) for m in range(PQ_M)])).alias("m")
    sub = emb.select("vec_id", "qe", ms).select(
        "vec_id",
        "m",
        F.slice("qe", F.col("m") * PQ_SUBDIM + 1, PQ_SUBDIM).alias("s"),
    )
    anch = sub.filter(F.col("vec_id") < PQ_K).select(
        F.col("vec_id").alias("k"), "m", F.col("s").alias("a")
    )
    return sub, anch


def _pq_codes(sub: DataFrame, anch: DataFrame) -> DataFrame:
    """(vec_id, m, k): nearest codeword per subspace."""
    scored = sub.join(F.broadcast(anch), "m").select(
        "vec_id", "m", "k", _pq_d2(F.col("s"), F.col("a")).alias("d2")
    )
    # argmin with deterministic ties packed into ONE bigint (d2*K + k):
    # plain MIN hash-aggregates with map-side combine — a struct-min
    # would fall back to SortAggregate (struct buffers aren't hashable)
    return (
        scored.groupBy("vec_id", "m")
        .agg(F.min(F.col("d2") * PQ_K + F.col("k")).alias("packed"))
        .select("vec_id", "m", (F.col("packed") % PQ_K).alias("k"))
    )


def _pq_serve(sub: DataFrame, anch: DataFrame, codes: DataFrame) -> DataFrame:
    """ADC ranking of coded candidates for the PQ_QUERIES query vectors."""
    qd = (
        sub.filter(F.col("vec_id") < PQ_QUERIES)
        .join(F.broadcast(anch), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "k",
            _pq_d2(F.col("s"), F.col("a")).alias("d2"),
        )
    )
    adc = (
        codes.join(F.broadcast(qd), ["m", "k"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").cast("bigint").alias("adc_d2"))
    )
    w = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    return (
        adc.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_TOPK)
        .orderBy("query_id", "rn")
    )


def _pq_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _PQ_SCALE).cast("bigint"),
        ).alias("qe"),
    )


def ensure_pq_code_index(
    spark: SparkSession, sf_dir: str, base_dir: str | None = None
) -> str:
    """Encode-once: persist the corpus's PQ codes (vec_id, m, k) as a
    parquet table and return its name. This is PQ's whole memory story
    made concrete — 4 small ints per vector instead of 64 floats; raw
    embeddings never load again on the serving path."""
    tbl, path = layout_ident(
        "pq_codes",
        sf_dir,
        ("embeddings",),
        (PQ_M, PQ_SUBDIM, PQ_K, _PQ_SCALE),
        base_dir,
    )
    build_once(
        spark,
        path,
        lambda: _pq_codes(*_pq_sub_anchors(_pq_quantized(spark, sf_dir)))
        .coalesce(1),
        table=tbl,
        columns="vec_id BIGINT, m INT, k BIGINT",
    )
    return tbl


@register("ann_pq_from_index", oracle=_pq_oracle())
def ann_pq_from_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``ann_pq_topk`` served from the persisted code table: queries are
    (re)scored against the anchors fresh — PQ_QUERIES×PQ_M×PQ_K integers
    — but the corpus side reads the encode-once codes; the raw
    embedding column is scanned only for the anchor/query rows, never
    for candidates. Same oracle, identical results.
    """
    tbl = ensure_pq_code_index(spark, sf_dir)
    emb = _pq_quantized(spark, sf_dir)
    sub, anch = _pq_sub_anchors(
        emb.filter(F.col("vec_id") < max(PQ_K, PQ_QUERIES))
    )
    return _pq_serve(sub, anch, spark.table(tbl))


#: Unindexed "append" batch for the hybrid PQ serve: vec_id ≡ 7 (mod 10)
#: stands in for the ~10% of vectors that arrived after the last encode.
_PQ_DELTA_MOD = 10
_PQ_DELTA_RESIDUE = 7


def _pq_append_oracle() -> str:
    d2_ca = _PQ_D2(n=PQ_SUBDIM + 1, a="c.s", b="a.a")
    d2_qa = _PQ_D2(n=PQ_SUBDIM + 1, a="q.s", b="a.a")
    d2_qc = _PQ_D2(n=PQ_SUBDIM + 1, a="q.s", b="c.s")
    delta = f"vec_id % {_PQ_DELTA_MOD} = {_PQ_DELTA_RESIDUE}"
    return f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(ROUND(x*{_PQ_SCALE}) AS BIGINT)) AS qe
      FROM embeddings),
    sub AS (
      SELECT vec_id, m, qe[(m*{PQ_SUBDIM}+1):(m*{PQ_SUBDIM}+{PQ_SUBDIM})] AS s
      FROM v, UNNEST(range({PQ_M})) AS u(m)),
    anch AS (SELECT vec_id AS k, m, s AS a FROM sub WHERE vec_id < {PQ_K}),
    codes AS (
      SELECT vec_id, m, MIN(d2 * {PQ_K} + k) % {PQ_K} AS k
      FROM (
        SELECT c.vec_id, c.m, a.k, {d2_ca} AS d2
        FROM sub c JOIN anch a ON a.m = c.m
        WHERE NOT (c.{delta})) t
      GROUP BY vec_id, m),
    qd AS (
      SELECT q.vec_id AS query_id, q.m, a.k, {d2_qa} AS d2
      FROM sub q JOIN anch a ON a.m = q.m
      WHERE q.vec_id < {PQ_QUERIES}),
    adc AS (
      SELECT qd.query_id, c.vec_id AS neighbor_id,
             CAST(SUM(qd.d2) AS BIGINT) AS d2, 0 AS is_delta
      FROM codes c JOIN qd ON qd.m = c.m AND qd.k = c.k
      WHERE c.vec_id <> qd.query_id
      GROUP BY qd.query_id, c.vec_id),
    fresh AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(SUM({d2_qc}) AS BIGINT) AS d2, 1 AS is_delta
      FROM sub q JOIN sub c ON q.m = c.m
      WHERE q.vec_id < {PQ_QUERIES} AND c.{delta}
        AND c.vec_id <> q.vec_id
      GROUP BY q.vec_id, c.vec_id),
    allc AS (SELECT * FROM adc UNION ALL SELECT * FROM fresh)
    SELECT query_id, neighbor_id, d2, is_delta, rn FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY d2, neighbor_id) AS rn
      FROM allc) r
    WHERE rn <= {PQ_TOPK}
    ORDER BY query_id, rn
    """


@register("ann_pq_append_topk", oracle=_pq_append_oracle())
def ann_pq_append_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid PQ serving over a GROWING corpus: the encoded bulk answers
    by ADC (codes only), while the freshly-appended, not-yet-encoded
    batch (here vec_id ≡ {_PQ_DELTA_RESIDUE} mod {_PQ_DELTA_MOD}) is
    scored exactly; one ranking merges both. This is how a production
    ANN index absorbs appends between re-encodes — serve now, re-encode
    on schedule — completing the PQ ladder (encode → persist → serve →
    serve-with-delta).

    Scale: the bulk path is the documented ADC shape (per-candidate
    cost = PQ_M integer adds against a broadcast 320-int distance
    table); the delta path brute-forces ONLY the append batch — cost
    |queries|×|delta|, and delta is bounded by the re-encode cadence,
    not the corpus. Both sides produce exact int64 micro-unit
    distances, so the merged ranking is deterministic; the union is
    metadata-only (no shuffle) and the final top-k is a per-query
    window over ≤|delta|+|bulk-candidates| rows.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * _PQ_SCALE).cast("bigint"),
        ).alias("qe"),
    )
    is_delta = F.col("vec_id") % _PQ_DELTA_MOD == _PQ_DELTA_RESIDUE
    sub, anch = _pq_sub_anchors(emb)
    codes = _pq_codes(sub.filter(~is_delta), anch)
    q_sub = sub.filter(F.col("vec_id") < PQ_QUERIES)
    qd = q_sub.join(F.broadcast(anch), "m").select(
        F.col("vec_id").alias("query_id"),
        "m",
        "k",
        _pq_d2(F.col("s"), F.col("a")).alias("d2"),
    )
    adc = (
        codes.join(F.broadcast(qd), ["m", "k"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").cast("bigint").alias("d2"))
        .withColumn("is_delta", F.lit(0))
    )
    qs = q_sub.select(
        F.col("vec_id").alias("query_id"), "m", F.col("s").alias("qs")
    )
    fresh = (
        sub.filter(is_delta)
        .join(F.broadcast(qs), "m")
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum(_pq_d2(F.col("qs"), F.col("s"))).cast("bigint").alias("d2"))
        .withColumn("is_delta", F.lit(1))
    )
    merged = adc.unionByName(fresh)
    w = Window.partitionBy("query_id").orderBy("d2", "neighbor_id")
    return (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_TOPK)
        .select("query_id", "neighbor_id", "d2", "is_delta", "rn")
        .orderBy("query_id", "rn")
    )


# ---------------------------------------------------------------------------
# Embedding-vector quality audit
# ---------------------------------------------------------------------------

#: Band width (in micro²-norm units) for the norm histogram: ~0.1 of a
#: unit-norm vector's 1e12.
_NORM_BAND = 100_000_000_000


@register(
    "embedding_norm_audit",
    oracle=f"""
    WITH v AS (
      SELECT CAST(list_sum(list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT)
                    * CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))) AS BIGINT)
               AS norm2,
             CAST(len(embedding) AS BIGINT) AS n_dims
      FROM embeddings)
    SELECT CAST(norm2 // {_NORM_BAND} AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           CAST(MIN(norm2) AS BIGINT) AS min_norm2,
           CAST(MAX(norm2) AS BIGINT) AS max_norm2,
           CAST(MIN(n_dims) AS BIGINT) AS min_dims,
           CAST(MAX(n_dims) AS BIGINT) AS max_dims
    FROM v GROUP BY band ORDER BY band
    """,
)
def embedding_norm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Norm-distribution audit of the embedding column: banded squared
    norms plus dimension min/max — the vector-quality gate (zero/near-
    zero vectors, un-normalized batches, ragged dimensions) run before
    trusting cosine ANN over a new embedding drop.

    Scale: the squared norm is a PER-ROW JVM higher-order fold over
    integer micro-units (int addition is associative — fold order can
    never matter), so the corpus reduces to ~10 histogram bands in one
    map-side-combinable aggregate; no shuffle ever carries a vector.
    """
    emb = load_table(spark, sf_dir, "embeddings")

    def micro(x):
        return F.round(x.cast("double") * 1_000_000, 0).cast("bigint")

    norm2 = F.aggregate(
        "embedding",
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + micro(x) * micro(x),
    )
    v = emb.select(
        norm2.alias("norm2"), F.size("embedding").cast("bigint").alias("n_dims")
    )
    return (
        v.groupBy((F.col("norm2") / _NORM_BAND).cast("bigint").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
            F.min("norm2").cast("bigint").alias("min_norm2"),
            F.max("norm2").cast("bigint").alias("max_norm2"),
            F.min("n_dims").cast("bigint").alias("min_dims"),
            F.max("n_dims").cast("bigint").alias("max_dims"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# Embedding centroid drift between deterministic cohorts
# ---------------------------------------------------------------------------

@register(
    "embedding_centroid_drift",
    oracle="""
    WITH e AS (
      SELECT label, vec_id % 2 AS half,
             unnest(embedding) AS x,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings),
    s AS (
      SELECT label, half, dim,
             CAST(SUM(CAST(round(CAST(x AS DOUBLE) * 1000000, 0) AS BIGINT))
               AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY label, half, dim),
    j AS (
      SELECT a.label, a.dim, a.n AS n_a, b.n AS n_b,
             CAST(round(
               (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE))
               * (CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                  - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE)), 0)
               AS BIGINT) AS term
      FROM s a JOIN s b
        ON a.label = b.label AND a.dim = b.dim
        AND a.half = 0 AND b.half = 1)
    SELECT label, CAST(MAX(n_a) AS BIGINT) AS n_a,
           CAST(MAX(n_b) AS BIGINT) AS n_b,
           CAST(SUM(term) AS BIGINT) AS dist2_micro2,
           CAST(round(sqrt(CAST(SUM(term) AS DOUBLE)), 0) AS BIGINT)
             AS l2_shift_micro
    FROM j GROUP BY label ORDER BY label
    """,
)
def embedding_centroid_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid shift between two deterministic cohorts of
    the embedding corpus (even vs odd vec_id — the stand-in for
    old-batch vs new-batch): the L2 distance between cohort centroids
    in integer micro-units — the embedding-space drift gate run when a
    new encoder version or crawl lands.

    Scale: vectors explode to (label, half, dim) micro-unit sums —
    exact int64, order-free — so each cohort centroid is a pair of
    integers (sum, count) per dimension; the per-dim squared gap is
    quantized BEFORE the per-label reduction. Nothing wider than
    |labels|×|dims| ever shuffles; vectors themselves never do.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label",
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("dim0", "x"),
    ).select(
        "label",
        "half",
        (F.col("dim0") + 1).alias("dim"),  # 1-based like generate_subscripts
        F.round(F.col("x").cast("double") * 1_000_000, 0).cast("bigint").alias("micro"),
    )
    s = (
        e.groupBy("label", "half", "dim")
        .agg(
            F.sum("micro").cast("bigint").alias("s"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .localCheckpoint()  # |labels|×2×|dims| rows; 2 consumers (halves)
    )
    a = s.filter(F.col("half") == 0).select(
        "label", "dim", F.col("s").alias("s_a"), F.col("n").alias("n_a")
    )
    b = s.filter(F.col("half") == 1).select(
        "label", "dim", F.col("s").alias("s_b"), F.col("n").alias("n_b")
    )
    diff = (
        F.col("s_a").cast("double") / F.col("n_a").cast("double")
        - F.col("s_b").cast("double") / F.col("n_b").cast("double")
    )
    j = a.join(b, ["label", "dim"]).select(
        "label",
        "n_a",
        "n_b",
        F.round(diff * diff, 0).cast("bigint").alias("term"),
    )
    return (
        j.groupBy("label")
        .agg(
            F.max("n_a").cast("bigint").alias("n_a"),
            F.max("n_b").cast("bigint").alias("n_b"),
            F.sum("term").cast("bigint").alias("dist2_micro2"),
            F.round(F.sqrt(F.sum("term").cast("double")), 0)
            .cast("bigint")
            .alias("l2_shift_micro"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Per-label Mahalanobis (diagonal) embedding outliers
# ---------------------------------------------------------------------------

_MAHA_TOPK = 15


@register(
    "embedding_outlier_mahalanobis",
    oracle=f"""
    WITH e AS (
      SELECT vec_id, label,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS xm,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings),
    st AS (
      SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xm) AS BIGINT) AS sx,
             CAST(SUM(xm * xm) AS DOUBLE) AS sxx
      FROM e GROUP BY label, dim),
    terms AS (
      SELECT e.vec_id, e.label,
             CAST(round(
               pow(e.xm - CAST(st.sx AS DOUBLE) / st.n, 2)
               / GREATEST(st.sxx / st.n
                          - pow(CAST(st.sx AS DOUBLE) / st.n, 2), 1)
               * 1000000, 0) AS BIGINT) AS term_ticks
      FROM e JOIN st ON e.label = st.label AND e.dim = st.dim)
    SELECT vec_id, label, CAST(SUM(term_ticks) AS BIGINT) AS maha2_ticks
    FROM terms GROUP BY vec_id, label
    ORDER BY maha2_ticks DESC, vec_id
    LIMIT {_MAHA_TOPK}
    """,
)
def embedding_outlier_mahalanobis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding outliers by diagonal-covariance Mahalanobis
    distance: vectors far from their label's per-dimension mean/variance
    envelope — the mislabeled/corrupt-vector screen that raw L2 norms
    (embedding_norm_audit) can't see because a bad vector can have a
    perfectly normal norm.

    Scale: the build/serve two-pass shape — pass 1 reduces the exploded
    (label, dim) micro-units to a |labels|×|dims| sufficient-statistics
    table (Σx exact int64, Σx² in DuckDB's HUGEINT / Spark
    decimal(38,0) with ONE cast to double); pass 2 re-explodes and
    joins that tiny table back (hint-free — aggregate-reduced, AQE
    broadcasts), quantizes each dimension's (x−μ)²/σ² term to ticks
    BEFORE the per-vector sum (exact int64, order-free; variance floor
    GREATEST(·,1) guards degenerate dims), and the groupBy vec_id
    combines map-side since a vector's dims are co-located. Top-k heap.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        "label",
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * 1_000_000, 0).cast("bigint").alias("xm"),
    )
    st = e.groupBy("label", "dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xm").cast("bigint").alias("sx"),
        F.sum((F.col("xm") * F.col("xm")).cast("decimal(38,0)"))
        .cast("double")
        .alias("sxx"),
    )
    mu = F.col("sx").cast("double") / F.col("n")
    var = F.greatest(F.col("sxx") / F.col("n") - mu * mu, F.lit(1.0))
    term = F.round(
        F.pow(F.col("xm") - mu, F.lit(2.0)) / var * 1_000_000, 0
    ).cast("bigint")
    return (
        e.join(st, ["label", "dim"])
        .select("vec_id", "label", term.alias("term_ticks"))
        .groupBy("vec_id", "label")
        .agg(F.sum("term_ticks").cast("bigint").alias("maha2_ticks"))
        .orderBy(F.desc("maha2_ticks"), "vec_id")
        .limit(_MAHA_TOPK)
    )


# ---------------------------------------------------------------------------
# Measured IVF recall vs exact cosine truth
# ---------------------------------------------------------------------------

def _ivf_recall_oracle() -> str:
    from ai_etl_studio_spark.operators import ORACLES

    return f"""
    WITH exact AS ({ORACLES["ann_cosine_topk"]}),
    approx AS ({ORACLES["ann_ivf_topk"]}),
    hit AS (
      SELECT e.query_id,
             CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM exact e LEFT JOIN approx a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           CAST(round(CAST(SUM(hit) AS DOUBLE) / COUNT(*) * 1000000, 0)
             AS BIGINT) AS recall_micro
    FROM hit GROUP BY query_id ORDER BY query_id
    """


@register("ann_ivf_recall_eval", oracle=_ivf_recall_oracle())
def ann_ivf_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall@{TOPK} of the IVF scale path against the exact
    brute-force truth, per query — the companion of lsh_recall_by_band
    for the vector side: the number that says whether NPROBE={NPROBE}
    of {N_CENTROIDS} lists is enough for THIS corpus, not in theory.

    Scale: composes the two registered pipelines (truth broadcasts the
    tiny query set and streams the corpus once; IVF scans only probed
    lists), then one left join on ({TOPK}·|Q| rows — driver-trivial)
    and a |Q|-row rollup. The oracle composes the same two REGISTERED
    oracle texts, so the eval can never drift from what it audits.
    """
    exact = ann_cosine_topk(spark, sf_dir).select(
        "query_id", "neighbor_id"
    )
    approx = ann_ivf_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
                * 1_000_000,
                0,
            ).cast("bigint").alias("recall_micro"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Label-centroid distance matrix (class confusability)
# ---------------------------------------------------------------------------

@register(
    "label_centroid_distances",
    oracle="""
    WITH e AS (
      SELECT label,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS xm,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings),
    c AS (
      SELECT label, dim, CAST(SUM(xm) AS BIGINT) AS sx,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY label, dim),
    pair AS (
      SELECT a.label AS label_1, b.label AS label_2, a.dim,
             CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n AS diff
      FROM c a JOIN c b ON a.dim = b.dim AND a.label < b.label)
    SELECT label_1, label_2,
           CAST(SUM(CAST(round(diff * diff, 0) AS BIGINT)) AS BIGINT)
             AS d2_micro2
    FROM pair GROUP BY label_1, label_2 ORDER BY label_1, label_2
    """,
)
def label_centroid_distances(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise squared L2 distance between label centroids — the class
    confusability matrix (two labels whose centroids nearly coincide
    will confuse any classifier trained on these embeddings; the
    between-class counterpart of embedding_outlier_mahalanobis's
    within-class screen).

    Scale: the corpus reduces ONCE to the |labels|×|dims| exact
    integer-micro centroid table (the embedding_centroid_drift
    machinery); the pairwise stage is a self-join of that TINY table on
    dim (|labels|²·|dims| rows — driver-trivial), with each dimension's
    squared difference quantized before the exact int64 sum. No shuffle
    ever carries a vector.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        (F.col("pos") + 1).alias("dim"),
        F.round(F.col("x").cast("double") * 1_000_000, 0)
        .cast("bigint")
        .alias("xm"),
    )
    c = (
        e.groupBy("label", "dim")
        .agg(
            F.sum("xm").cast("bigint").alias("sx"),
            F.count(F.lit(1)).cast("bigint").alias("n"),
        )
        .localCheckpoint()
    )
    a = c.select(
        F.col("label").alias("label_1"),
        "dim",
        (F.col("sx").cast("double") / F.col("n")).alias("mu_a"),
    )
    b = c.select(
        F.col("label").alias("label_2"),
        "dim",
        (F.col("sx").cast("double") / F.col("n")).alias("mu_b"),
    )
    diff = F.col("mu_a") - F.col("mu_b")
    return (
        a.join(b, "dim")
        .filter(F.col("label_1") < F.col("label_2"))
        .select(
            "label_1",
            "label_2",
            F.round(diff * diff, 0).cast("bigint").alias("term"),
        )
        .groupBy("label_1", "label_2")
        .agg(F.sum("term").cast("bigint").alias("d2_micro2"))
        .orderBy("label_1", "label_2")
    )


# ---------------------------------------------------------------------------
# Per-dimension embedding statistics (dead-dimension audit)
# ---------------------------------------------------------------------------

@register(
    "embedding_dim_stats",
    oracle="""
    WITH e AS (
      SELECT CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS xm,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings),
    s AS (
      SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xm) AS BIGINT) AS s1,
             CAST(SUM(CAST(xm AS HUGEINT) * xm) AS DOUBLE) AS s2,
             CAST(MIN(xm) AS BIGINT) AS mn, CAST(MAX(xm) AS BIGINT) AS mx
      FROM e GROUP BY dim)
    SELECT CAST(dim AS BIGINT) AS dim, n AS n_vecs,
           CAST(round(CAST(s1 AS DOUBLE) / n * 1000, 0) AS BIGINT)
             AS mean_nano,
           CAST(round(s2 / n - (CAST(s1 AS DOUBLE) / n)
             * (CAST(s1 AS DOUBLE) / n), 0) AS BIGINT) AS var_microsq,
           mn AS min_micro, mx AS max_micro
    FROM s ORDER BY dim
    """,
)
def embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension mean/variance/range of the embedding column — the
    dead-dimension audit (a dimension with ~zero variance carries no
    information and signals a truncated or mis-exported encoder; a
    mean far from 0 signals an un-centered batch) run before spending
    ANN index budget on the space.

    Scale: posexplode fans each vector into (dim, micro-tick) pairs
    map-side; everything reduces in ONE aggregate to the |dims|-row
    table. Σx² rides the wide-integer rule (decimal(38,0)/HUGEINT, one
    final double cast); min/max/mean stay exact integer micro-ticks.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(F.posexplode("embedding").alias("pos", "x")).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.col("x").cast("double") * 1_000_000, 0)
        .cast("bigint")
        .alias("xm"),
    )
    xd = F.col("xm").cast("decimal(38,0)")
    s = e.groupBy("dim").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xm").cast("bigint").alias("s1"),
        F.sum(xd * xd).cast("double").alias("s2"),
        F.min("xm").cast("bigint").alias("mn"),
        F.max("xm").cast("bigint").alias("mx"),
    )
    mu = F.col("s1").cast("double") / F.col("n")
    return s.select(
        "dim",
        F.col("n").alias("n_vecs"),
        F.round(mu * 1000, 0).cast("bigint").alias("mean_nano"),
        F.round(F.col("s2") / F.col("n") - mu * mu, 0)
        .cast("bigint")
        .alias("var_microsq"),
        F.col("mn").alias("min_micro"),
        F.col("mx").alias("max_micro"),
    ).orderBy("dim")


# ---------------------------------------------------------------------------
# Pairwise-distance histogram on a deterministic sample (threshold calib)
# ---------------------------------------------------------------------------

#: Deterministic sample modulus — thins the quadratic pair stage to
#: (|sample|)² pairs (same device as the ANN recall evals' truth
#: joins). A MOD fraction ALONE is corpus-proportional — the sample is
#: |vecs|/MOD, so the pair count still grows quadratically with SF —
#: which is why every quadratic audit stage ALSO carries the hard
#: `vec_id < _ID_SAMPLE_CAP` bound below.
_PAIR_HIST_MOD = 11

#: Hard sample bound shared by every quadratic audit stage: AND-ing
#: `vec_id < _ID_SAMPLE_CAP` onto the MOD predicate caps the pair
#: stage at (CAP/MOD)² pairs REGARDLESS of corpus size, keeps the
#: Arrow kernel's driver-side sample collect and broadcast bounded,
#: and covers every test SF entirely (corpora here are ≤2k vectors,
#: far under the cap — results unchanged at every test SF). At 100 TB
#: the audit runs on the first CAP ids: a fixed-size probe, the
#: production shape for a calibration/health readout.
_ID_SAMPLE_CAP = 32768


@register(
    "pairwise_distance_histogram",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {_PAIR_HIST_MOD} = 0
        AND vec_id < {_ID_SAMPLE_CAP}),
    e AS (
      SELECT vec_id,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS xm,
             generate_subscripts(embedding, 1) AS dim
      FROM s),
    d AS (
      SELECT a.vec_id AS v1, b.vec_id AS v2,
             CAST(SUM((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS d2
      FROM e a JOIN e b ON a.dim = b.dim AND a.vec_id < b.vec_id
      GROUP BY 1, 2)
    SELECT CAST(length(bin(greatest(d2, 1))) - 1 AS BIGINT) AS log2_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(MIN(d2) AS BIGINT) AS min_d2,
           CAST(MAX(d2) AS BIGINT) AS max_d2
    FROM d GROUP BY 1 ORDER BY log2_bucket
    """,
)
def pairwise_distance_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram of exact pairwise squared L2 distances over a
    deterministic vec_id-sample — the threshold-calibration readout
    (where does the near-duplicate mode sit? how wide is the gap to
    the background mode?) consulted before picking the cosine/L2
    cutoff every near-dup and ANN operator depends on.

    Scale: the quadratic stage is fenced to the MOD sample AND the
    hard `vec_id < {_ID_SAMPLE_CAP}` id cap — the pair count is
    bounded at (CAP/MOD)² at EVERY corpus size, not merely thinned
    (a bare MOD fraction grows quadratically with SF); the bounded
    sample is checkpointed so its tiny stats drive a
    BroadcastNestedLoopJoin, never a full cartesian. Distances are
    exact int64 over micro-tick zip_with folds, and the log2
    bucketing is the bin()-length idiom — no float ever decides a
    bucket edge.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    micro = lambda c: F.round(c.cast("double") * 1_000_000, 0).cast("bigint")
    s = (
        emb.filter(
            (F.col("vec_id") % _PAIR_HIST_MOD == 0)
            & (F.col("vec_id") < _ID_SAMPLE_CAP)
        )
        .select(
            "vec_id",
            F.transform("embedding", lambda x: micro(x)).alias("tm"),
        )
        .localCheckpoint()  # bounded sample: read twice, stats known-small
    )
    a = s.select(F.col("vec_id").alias("v1"), F.col("tm").alias("ta"))
    b = s.select(F.col("vec_id").alias("v2"), F.col("tm").alias("tb"))
    d2 = F.aggregate(
        F.zip_with("ta", "tb", lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return (
        a.join(b, F.col("v1") < F.col("v2"))
        .select(d2.alias("d2"))
        .groupBy(
            (F.length(F.bin(F.greatest(F.col("d2"), F.lit(1)))) - 1)
            .cast("bigint")
            .alias("log2_bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.min("d2").cast("bigint").alias("min_d2"),
            F.max("d2").cast("bigint").alias("max_d2"),
        )
        .orderBy("log2_bucket")
    )


# ---------------------------------------------------------------------------
# Label-centroid separation matrix (class-overlap audit)
# ---------------------------------------------------------------------------

@register(
    "embedding_label_centroid_separation",
    oracle="""
    WITH e AS (
      SELECT label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS xm
      FROM embeddings),
    s AS (
      SELECT label, dim, CAST(SUM(xm) AS BIGINT) AS sv,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM e GROUP BY 1, 2),
    p AS (
      SELECT a.label AS label_a, b.label AS label_b,
             CAST(MAX(a.n) AS BIGINT) AS n_a,
             CAST(MAX(b.n) AS BIGINT) AS n_b,
             CAST(SUM(CAST(a.sv AS HUGEINT) * b.sv) AS DOUBLE) AS dot,
             CAST(SUM(CAST(a.sv AS HUGEINT) * a.sv) AS DOUBLE) AS naa,
             CAST(SUM(CAST(b.sv AS HUGEINT) * b.sv) AS DOUBLE) AS nbb
      FROM s a JOIN s b ON a.dim = b.dim AND a.label < b.label
      GROUP BY 1, 2)
    SELECT label_a, label_b, n_a, n_b,
           CAST(round(dot / sqrt(naa * nbb) * 1000000000, 0) AS BIGINT)
             AS centroid_cos_nano
    FROM p ORDER BY label_a, label_b
    """,
)
def embedding_label_centroid_separation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Pairwise cosine between every two LABEL CENTROIDS — the
    class-overlap audit run before trusting the labels for training: a
    pair near cos=1 is two names for one cluster (merge or re-label), a
    matrix hovering near 0 says the classes are geometrically real.

    Scale: vectors fan map-side into (label, dim, micro-tick) and reduce
    to the |labels|x|dims| exact SUM table — cosine of sum-vectors
    EQUALS cosine of centroids (scale invariance), so no division ever
    touches the distributed path. The pair join runs on that bounded
    table; Σ products ride the wide-integer rule (decimal(38,0)/HUGEINT,
    ONE final double cast) and the cosine is a mirrored tiny-table
    expression quantized to nano.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "label",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.col("x").cast("double") * 1_000_000, 0)
        .cast("bigint")
        .alias("xm"),
    )
    s = e.groupBy("label", "dim").agg(
        F.sum("xm").cast("bigint").alias("sv"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    a, b = s.alias("a"), s.alias("b")
    sa = F.col("a.sv").cast("decimal(38,0)")
    sb = F.col("b.sv").cast("decimal(38,0)")
    p = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.label") < F.col("b.label")),
        )
        .groupBy(
            F.col("a.label").alias("label_a"), F.col("b.label").alias("label_b")
        )
        .agg(
            F.max("a.n").cast("bigint").alias("n_a"),
            F.max("b.n").cast("bigint").alias("n_b"),
            F.sum(sa * sb).cast("double").alias("dot"),
            F.sum(sa * sa).cast("double").alias("naa"),
            F.sum(sb * sb).cast("double").alias("nbb"),
        )
    )
    return p.select(
        "label_a",
        "label_b",
        "n_a",
        "n_b",
        F.round(
            F.col("dot") / F.sqrt(F.col("naa") * F.col("nbb")) * 1_000_000_000,
            0,
        )
        .cast("bigint")
        .alias("centroid_cos_nano"),
    ).orderBy("label_a", "label_b")


# ---------------------------------------------------------------------------
# One-way ANOVA of the first embedding dimension across labels
# ---------------------------------------------------------------------------

@register(
    "anova_dim1_by_label",
    oracle="""
    WITH nm AS (
      SELECT label,
             CAST(round(CAST(embedding[1] AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS x_micro
      FROM embeddings),
    g AS (
      SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x_micro) AS BIGINT) AS s1,
             SUM(CAST(x_micro AS HUGEINT) * x_micro) AS s2
      FROM nm GROUP BY 1),
    t AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS n_tot,
             CAST(SUM(s1) AS BIGINT) AS s1_tot,
             CAST(SUM(s2) AS DOUBLE) AS s2_tot,
             CAST(SUM(CAST(round(CAST(s1 AS DOUBLE) * s1 / n, 0) AS BIGINT))
               AS DOUBLE) AS sb_raw
      FROM g)
    SELECT k, n_tot,
           CAST(round((sb_raw - CAST(s1_tot AS DOUBLE) * s1_tot / n_tot)
             / (k - 1), 0) AS BIGINT) AS msb_microsq,
           CAST(round((s2_tot - sb_raw) / (n_tot - k), 0) AS BIGINT)
             AS msw_microsq,
           CAST(round((sb_raw - CAST(s1_tot AS DOUBLE) * s1_tot / n_tot)
             / (k - 1) / ((s2_tot - sb_raw) / (n_tot - k)) * 1000000, 0)
             AS BIGINT) AS f_stat_micro
    FROM t
    """,
)
def anova_dim1_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA of the FIRST embedding coordinate across labels:
    F = between-label variance over within-label variance — does the
    label actually move the geometry along this axis, or is the class
    signal spread thin? (The norms are unit by construction, so the
    magnitude carries nothing; a single coordinate is the honest
    cheap probe.)

    Scale: one pass reduces vectors to per-label (n, Σx, Σx²) with Σx²
    riding the wide-integer rule; the between-group terms s1²/n are
    quantized to integer ticks BEFORE the k-row total sum (the engine's
    per-term tick discipline — a distributed double sum is never
    order-free); the F ratio is one mirrored expression on the final
    single row.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    nm = emb.select(
        "label",
        F.round(F.element_at("embedding", 1).cast("double") * 1_000_000, 0)
        .cast("bigint")
        .alias("x_micro"),
    )
    xd = F.col("x_micro").cast("decimal(38,0)")
    g = nm.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x_micro").cast("bigint").alias("s1"),
        F.sum(xd * xd).alias("s2"),
    )
    sb_term = F.round(
        F.col("s1").cast("double") * F.col("s1") / F.col("n"), 0
    ).cast("bigint")
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("n").cast("bigint").alias("n_tot"),
        F.sum("s1").cast("bigint").alias("s1_tot"),
        F.sum("s2").cast("double").alias("s2_tot"),
        F.sum(sb_term).cast("double").alias("sb_raw"),
    )
    ssb = F.col("sb_raw") - F.col("s1_tot").cast("double") * F.col("s1_tot") / F.col(
        "n_tot"
    )
    msb = ssb / (F.col("k") - 1)
    msw = (F.col("s2_tot") - F.col("sb_raw")) / (F.col("n_tot") - F.col("k"))
    return t.select(
        "k",
        "n_tot",
        F.round(msb, 0).cast("bigint").alias("msb_microsq"),
        F.round(msw, 0).cast("bigint").alias("msw_microsq"),
        F.round(msb / msw * 1_000_000, 0).cast("bigint").alias("f_stat_micro"),
    )


# ---------------------------------------------------------------------------
# Nearest-centroid classifier evaluation (confusion matrix)
# ---------------------------------------------------------------------------

@register(
    "centroid_classifier_eval",
    oracle="""
    WITH e AS (
      SELECT vec_id, label AS true_label,
             generate_subscripts(embedding, 1) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS xm
      FROM embeddings),
    e2 AS (SELECT vec_id, true_label AS label, dim, xm FROM e),
    s AS (
      SELECT label, dim, CAST(SUM(xm) AS BIGINT) AS sv
      FROM e2 GROUP BY 1, 2),
    ss AS (
      SELECT label, CAST(SUM(CAST(sv AS HUGEINT) * sv) AS DOUBLE) AS nrm
      FROM s GROUP BY 1),
    dots AS (
      SELECT e.vec_id, e.true_label, s.label AS cand,
             CAST(SUM(CAST(e.xm AS HUGEINT) * s.sv) AS DOUBLE) AS dot
      FROM e JOIN s ON e.dim = s.dim
      GROUP BY 1, 2, 3),
    scored AS (
      SELECT d.vec_id, d.true_label, d.cand,
             ROW_NUMBER() OVER (PARTITION BY d.vec_id
               ORDER BY d.dot / sqrt(ss.nrm) DESC, d.cand) AS rk
      FROM dots d JOIN ss ON d.cand = ss.label)
    SELECT true_label, cand AS predicted_label,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM scored WHERE rk = 1
    GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def centroid_classifier_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rocchio/nearest-class-mean classifier scored against its own
    labels: every vector is assigned to the label whose CENTROID it is
    cosine-closest to, and the full confusion matrix comes back — the
    cheapest possible "are these labels learnable from this geometry"
    eval (the diagonal mass is the linear-separability floor any real
    classifier must beat; knn_classify is the expensive local
    comparison).

    Scale: centroids are exact integer SUM vectors (cosine is scale
    invariant, so no mean division); scoring joins each vector's
    (dim, tick) fan-out against the bounded |labels|x|dims| sum table —
    constant work per vector — and the per-vector argmax is a 10-row
    window. Dot products ride the wide-integer rule; the argmax
    compares identical IEEE doubles with a label tiebreak.
    """
    # spread when the scan is under-split (r11, guide §2.5): the
    # dim fan-out and dot rollup otherwise originate in one scan task
    emb = spread_small_scan(spark, load_table(spark, sf_dir, "embeddings"))
    e = emb.select(
        "vec_id",
        F.col("label").alias("true_label"),
        F.posexplode("embedding").alias("pos", "x"),
    ).select(
        "vec_id",
        "true_label",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.col("x").cast("double") * 1_000_000, 0)
        .cast("bigint")
        .alias("xm"),
    )
    s = e.groupBy(F.col("true_label").alias("label"), "dim").agg(
        F.sum("xm").cast("bigint").alias("sv")
    )
    svd = F.col("sv").cast("decimal(38,0)")
    ss = s.groupBy("label").agg(F.sum(svd * svd).cast("double").alias("nrm"))
    dots = (
        e.join(s, "dim")
        .groupBy("vec_id", "true_label", F.col("label").alias("cand"))
        .agg(
            F.sum(F.col("xm").cast("decimal(38,0)") * F.col("sv"))
            .cast("double")
            .alias("dot")
        )
    )
    scored = dots.join(ss, dots.cand == ss.label).withColumn(
        "rk",
        F.row_number().over(
            Window.partitionBy("vec_id").orderBy(
                (F.col("dot") / F.sqrt(F.col("nrm"))).desc(), "cand"
            )
        ),
    )
    return (
        scored.filter(F.col("rk") == 1)
        .groupBy("true_label", F.col("cand").alias("predicted_label"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .orderBy("true_label", "predicted_label")
    )


# ---------------------------------------------------------------------------
# Within-vs-cross label similarity split (metric-learning health)
# ---------------------------------------------------------------------------

#: Deterministic anchor-sample modulus — thins the pair stage like
#: pairwise_distance_histogram's device; the hard _ID_SAMPLE_CAP
#: bound below it is what makes the pair count SF-independent.
_LABEL_SPLIT_MOD = 7


@register(
    "label_pair_similarity_split",
    oracle=f"""
    WITH sub AS (
      SELECT vec_id, label, embedding FROM embeddings
      WHERE vec_id % {_LABEL_SPLIT_MOD} = 0
        AND vec_id < {_ID_SAMPLE_CAP}),
    pairs AS (
      SELECT CASE WHEN a.label = b.label THEN 1 ELSE 0 END AS same_label,
             CAST(round(list_sum(list_transform(
               list_zip(a.embedding, b.embedding),
               x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))
               * 1000000000, 0) AS BIGINT) AS cos_nano
      FROM sub a JOIN sub b ON a.vec_id < b.vec_id)
    SELECT same_label, CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(cos_nano) // COUNT(*) AS BIGINT) AS mean_cos_nano,
           CAST(MIN(cos_nano) AS BIGINT) AS min_cos_nano,
           CAST(MAX(cos_nano) AS BIGINT) AS max_cos_nano
    FROM pairs GROUP BY 1 ORDER BY 1
    """,
)
def label_pair_similarity_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The two-row metric-learning health check: pairwise cosine
    statistics split into SAME-label and CROSS-label pairs over a
    deterministic vector sample — the within/between gap is the
    signal any contrastive objective would train on, and a gap near
    zero says the labels are geometrically invisible
    (centroid_classifier_eval then shows WHICH classes collide).

    Scale: the quadratic pair stage is fenced to the MOD sample AND
    the hard `vec_id < _ID_SAMPLE_CAP` bound (the
    pairwise_distance_histogram device) — (CAP/MOD)² pairs at every
    corpus size, covering every test corpus entirely; dot products
    fold sequentially over the zipped arrays — identical fold order
    both engines — and the split reduces to two rows.
    """
    emb = load_table(spark, sf_dir, "embeddings").filter(
        (F.col("vec_id") % _LABEL_SPLIT_MOD == 0)
        & (F.col("vec_id") < _ID_SAMPLE_CAP)
    )
    a = emb.select(
        F.col("vec_id").alias("ida"),
        F.col("label").alias("la"),
        F.col("embedding").alias("ea"),
    )
    b = emb.select(
        F.col("vec_id").alias("idb"),
        F.col("label").alias("lb"),
        F.col("embedding").alias("eb"),
    )
    dot = F.expr(
        "aggregate(zip_with(ea, eb, (x, y) -> CAST(x AS DOUBLE) * y),"
        " CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"
    )
    pairs = a.join(b, F.col("ida") < F.col("idb")).select(
        F.when(F.col("la") == F.col("lb"), 1).otherwise(0).alias("same_label"),
        F.round(dot * 1_000_000_000, 0).cast("bigint").alias("cos_nano"),
    )
    return (
        pairs.groupBy("same_label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum("cos_nano").alias("sc"),
            F.min("cos_nano").cast("bigint").alias("min_cos_nano"),
            F.max("cos_nano").cast("bigint").alias("max_cos_nano"),
        )
        .select(
            "same_label",
            "n_pairs",
            F.expr("CAST(sc DIV n_pairs AS BIGINT)").alias("mean_cos_nano"),
            "min_cos_nano",
            "max_cos_nano",
        )
        .orderBy("same_label")
    )


# ---------------------------------------------------------------------------
# IVF-PQ combined serve (the completed ANN ladder) + measured recall
# ---------------------------------------------------------------------------

#: ADC shortlist size per query before the exact re-rank — the Faiss
#: "refine" factor: PQ at {PQ_M}×{PQ_K} codes is a 16× compression and
#: too coarse to ORDER the final top-k on its own (measured raw-ADC
#: recall ~0.4 here), but it is plenty to SHORTLIST; re-ranking R raw
#: vectors per query restores recall. R is the serving knob trading
#: refine I/O for recall — it must track the probed-list length (R=400
#: is ~3% of each query's candidates at sf0.1 and makes the hybrid's
#: measured recall IDENTICAL to the IVF path's per query at every
#: tested SF, see ann_ivfpq_recall_eval); at 100 TB, tune R per corpus
#: exactly as Faiss's refine factor is tuned.
IVFPQ_REFINE_R = 400


def _ivfpq_oracle() -> str:
    """IVF coarse pruning (the ann_ivf_topk assignment/probe CTEs) +
    PQ-ADC shortlisting (the ann_pq_topk code/distance-table CTEs)
    restricted to the surviving cells + exact cosine re-rank of the
    R-row shortlist — the fragments are the SAME text the registered
    single-stage oracles use, so the hybrid cannot drift from its
    parts."""
    d2_ca = _PQ_D2(n=PQ_SUBDIM + 1, a="c.s", b="a.a")
    d2_qa = _PQ_D2(n=PQ_SUBDIM + 1, a="q.s", b="a.a")
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, emb AS cemb FROM v
          WHERE vec_id < {N_CENTROIDS}),
    cscored AS (
      SELECT v.vec_id, c.centroid_id, {_COS_VC} AS cos_c
      FROM v CROSS JOIN c),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_c DESC, centroid_id) AS crn
        FROM cscored) s
      WHERE crn = 1),
    probes AS (
      SELECT vec_id AS query_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_c DESC, centroid_id) AS crn
        FROM cscored WHERE vec_id < {PQ_QUERIES}) s
      WHERE crn <= {NPROBE}),
    ivf_cand AS (
      SELECT p.query_id, a.vec_id AS neighbor_id
      FROM probes p JOIN assign a ON a.centroid_id = p.centroid_id
      WHERE a.vec_id <> p.query_id),
    vq AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(ROUND(x*{_PQ_SCALE}) AS BIGINT)) AS qe
      FROM embeddings),
    sub AS (
      SELECT vec_id, m, qe[(m*{PQ_SUBDIM}+1):(m*{PQ_SUBDIM}+{PQ_SUBDIM})] AS s
      FROM vq, UNNEST(range({PQ_M})) AS u(m)),
    anch AS (SELECT vec_id AS k, m, s AS a FROM sub WHERE vec_id < {PQ_K}),
    codes AS (
      SELECT vec_id, m, MIN(d2 * {PQ_K} + k) % {PQ_K} AS k
      FROM (
        SELECT c.vec_id, c.m, a.k, {d2_ca} AS d2
        FROM sub c JOIN anch a ON a.m = c.m) t
      GROUP BY vec_id, m),
    qd AS (
      SELECT q.vec_id AS query_id, q.m, a.k, {d2_qa} AS d2
      FROM sub q JOIN anch a ON a.m = q.m
      WHERE q.vec_id < {PQ_QUERIES}),
    adc AS (
      SELECT qd.query_id, cd.vec_id AS neighbor_id,
             CAST(SUM(qd.d2) AS BIGINT) AS adc_d2
      FROM codes cd
      JOIN qd ON qd.m = cd.m AND qd.k = cd.k
      JOIN ivf_cand ic
        ON ic.query_id = qd.query_id AND ic.neighbor_id = cd.vec_id
      GROUP BY qd.query_id, cd.vec_id),
    shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_d2, neighbor_id) AS arn
        FROM adc) r
      WHERE arn <= {IVFPQ_REFINE_R}),
    paired AS (
      SELECT s.query_id, s.neighbor_id, q.emb AS q_emb, n.emb AS n_emb
      FROM shortlist s
      JOIN v q ON q.vec_id = s.query_id
      JOIN v n ON n.vec_id = s.neighbor_id),
    refined AS (
      SELECT query_id, neighbor_id, {_COS_QN} AS cos FROM paired)
    SELECT query_id, neighbor_id, cos_sim, rn FROM (
      SELECT query_id, neighbor_id, ROUND(cos, 6) AS cos_sim,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos DESC, neighbor_id) AS rn
      FROM refined) r
    WHERE rn <= {PQ_TOPK}
    ORDER BY query_id, rn
    """


@register("ann_ivfpq_topk", oracle=_ivfpq_oracle())
def ann_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ combined serve with exact refinement — the production ANN
    shape that completes the ladder (brute force → LSH buckets → IVF →
    PQ → IVF+PQ+refine): the coarse quantizer prunes the corpus to each
    query's {NPROBE} nearest of {N_CENTROIDS} inverted lists, PQ
    Asymmetric Distance Computation over the ENCODE-ONCE code table
    shortlists {IVFPQ_REFINE_R} survivors per query, and ONLY that
    shortlist loads raw vectors for the exact cosine top-{PQ_TOPK} —
    candidate generation and shortlist scoring never touch more than
    {NPROBE}/{N_CENTROIDS} of the codes, and raw vectors are read for
    R·|Q| rows total (the Faiss refine pattern; raw ADC at
    {PQ_M}×{PQ_K} codes orders too coarsely — measured ~0.4 recall —
    while the refined serve matches the IVF path's recall).

    Scale: the assignment pass is the ann_ivf_topk argmax (map-side
    combining groupBy, one row per vector — at 100 TB it is WRITTEN
    bucketed by centroid_id next to the PQ code table, so serving joins
    two build-once artifacts); the probe list and the query distance
    table are bounded-key-filtered query-side frames (broadcast-legal
    by the tripwire's literal-RHS rule); the candidate⋈code join is
    hint-free vec_id-on-vec_id; the refine join fetches R·|Q| raw
    vectors through an aggregate-bounded shortlist. ADC stays exact
    int64 micro-units — bit-identical across engines in any summation
    order.
    """
    emb0 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    # corpus spread when the scan is under-split (r11, guide §2.5): the
    # corpus × centroid cosine lambdas otherwise run in one scan task
    emb = spread_small_scan(spark, emb0)
    cent = emb0.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb")
    )
    scored = emb.crossJoin(F.broadcast(cent)).withColumn(
        "cos_c", cosine(F.col("emb"), F.col("cemb"))
    )
    order_key = F.struct(F.col("cos_c"), (-F.col("centroid_id")).alias("negid"))
    assign = (
        scored.groupBy("vec_id")
        .agg(F.max_by("centroid_id", order_key).alias("centroid_id"))
    )
    w_probe = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.asc("centroid_id")
    )
    probes = (
        scored.filter(F.col("vec_id") < PQ_QUERIES)
        .withColumn("crn", F.row_number().over(w_probe))
        .filter(F.col("crn") <= NPROBE)
        .select(F.col("vec_id").alias("query_id"), "centroid_id")
    )
    ivf_cand = (
        assign.join(F.broadcast(probes), "centroid_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
    )
    codes = spark.table(ensure_pq_code_index(spark, sf_dir))
    sub, anch = _pq_sub_anchors(
        _pq_quantized(spark, sf_dir).filter(
            F.col("vec_id") < max(PQ_K, PQ_QUERIES)
        )
    )
    qd = (
        sub.filter(F.col("vec_id") < PQ_QUERIES)
        .join(F.broadcast(anch), "m")
        .select(
            F.col("vec_id").alias("query_id"),
            "m",
            "k",
            _pq_d2(F.col("s"), F.col("a")).alias("d2"),
        )
    )
    adc = (
        codes.join(ivf_cand, "vec_id")
        .join(F.broadcast(qd), ["query_id", "m", "k"])
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(F.sum("d2").cast("bigint").alias("adc_d2"))
    )
    w_adc = Window.partitionBy("query_id").orderBy("adc_d2", "neighbor_id")
    shortlist = (
        adc.withColumn("arn", F.row_number().over(w_adc))
        .filter(F.col("arn") <= IVFPQ_REFINE_R)
        .select("query_id", "neighbor_id")
    )
    q_emb = emb.filter(F.col("vec_id") < PQ_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("emb").alias("q_emb")
    )
    refined = (
        shortlist.join(F.broadcast(q_emb), "query_id")
        .join(emb, shortlist.neighbor_id == emb.vec_id)
        .withColumn("cos", cosine(F.col("q_emb"), F.col("emb")))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cos"), F.asc("neighbor_id")
    )
    return (
        refined.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= PQ_TOPK)
        .select(
            "query_id",
            "neighbor_id",
            F.round("cos", 6).alias("cos_sim"),
            "rn",
        )
        .orderBy("query_id", "rn")
    )


def _ivfpq_recall_oracle() -> str:
    from ai_etl_studio_spark.operators import ORACLES

    return f"""
    WITH exact AS ({ORACLES["ann_cosine_topk"]}),
    approx AS ({ORACLES["ann_ivfpq_topk"]}),
    hit AS (
      SELECT e.query_id,
             CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM exact e LEFT JOIN approx a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           CAST(round(CAST(SUM(hit) AS DOUBLE) / COUNT(*) * 1000000, 0)
             AS BIGINT) AS recall_micro
    FROM hit GROUP BY query_id ORDER BY query_id
    """


@register("ann_ivfpq_recall_eval", oracle=_ivfpq_recall_oracle())
def ann_ivfpq_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall@{TOPK} of the IVF-PQ combined serve against the
    exact brute-force truth — the hybrid's companion to
    ann_ivf_recall_eval, on the SAME queries, so the two evals are
    directly comparable (the acceptance bar: the hybrid should not lose
    recall to the IVF-only path beyond PQ's quantization error).

    Scale: identical shape to ann_ivf_recall_eval — one left join of
    two {TOPK}·|Q|-row rankings + a |Q|-row rollup; the oracle composes
    the two REGISTERED oracle texts so the eval can never drift from
    what it audits.
    """
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = ann_ivfpq_topk(spark, sf_dir).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit")
    )
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
                * 1_000_000,
                0,
            ).cast("bigint").alias("recall_micro"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Embedding isotropy audit: full dim×dim correlation via partial Gram
# ---------------------------------------------------------------------------

#: Off-diagonal pairs reported (ranked by |corr|).
_GRAM_TOPK = 20


@register(
    "embedding_gram_isotropy",
    oracle="""
    WITH e AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS xm
      FROM embeddings),
    s1 AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(xm) AS BIGINT) AS sx,
             CAST(CAST(SUM(xm * xm) AS HUGEINT) AS DOUBLE) AS sxx
      FROM e GROUP BY d),
    p AS (
      SELECT a.d AS di, b.d AS dj,
             CAST(CAST(SUM(a.xm * b.xm) AS HUGEINT) AS DOUBLE) AS sxy
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.d < b.d
      GROUP BY 1, 2)
    SELECT di, dj, corr_micro FROM (
      SELECT di, dj,
             CAST(round((CAST(sa.n AS DOUBLE) * p.sxy
                  - CAST(sa.sx AS DOUBLE) * sb.sx)
               / (sqrt(CAST(sa.n AS DOUBLE) * sa.sxx
                       - CAST(sa.sx AS DOUBLE) * sa.sx)
                  * sqrt(CAST(sb.n AS DOUBLE) * sb.sxx
                         - CAST(sb.sx AS DOUBLE) * sb.sx))
               * 1000000, 0) AS BIGINT) AS corr_micro
      FROM p JOIN s1 sa ON sa.d = p.di JOIN s1 sb ON sb.d = p.dj) r
    ORDER BY abs(corr_micro) DESC, di, dj LIMIT 20
    """,
)
def embedding_gram_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotropy / whitening audit: the FULL dim×dim Pearson correlation
    of the embedding space, reporting the {_GRAM_TOPK} most-correlated
    dimension pairs — correlated dimensions mean the space wastes
    capacity and cosine distances are anisotropic (the per-dimension
    audit embedding_dim_stats cannot see: it checks each axis alone).

    Scale — the partial-Gram pattern: an Arrow-batched mapInPandas
    computes each batch's integer Gram matrix Mᵀ·M with one numpy
    matmul (int64; |xm| ≤ 1e6 ⇒ a 10k-row batch is ~1e16, safely in
    range) and emits only the dim(dim+1)/2 + dim + 1 partial rows —
    the shuffle carries ~2 k rows per batch instead of 2016 rows per
    VECTOR (the oracle's explode-self-join, which is fine for DuckDB
    at audit scale but 2016× the corpus distributed). Global sums ride
    decimal(38,0) with ONE final double cast (engine exactness rule);
    the per-pair Pearson is a single-row mirrored double expression
    over exact integers. Quantization happens JVM-side (HALF_UP round,
    matching the oracle) BEFORE Arrow, so numpy's banker's rounding
    never touches the data.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("bigint"),
        ).alias("qe")
    )

    def gram_batches(batches):
        for pdf in batches:
            m = np.stack(pdf["qe"].to_numpy()).astype(np.int64)
            dim = m.shape[1]
            g = m.T @ m
            iu = np.triu_indices(dim)
            di = (iu[0] + 1).astype(np.int64)
            dj = (iu[1] + 1).astype(np.int64)
            out = pd.DataFrame({"di": di, "dj": dj, "sv": g[iu]})
            sums = pd.DataFrame(
                {
                    "di": np.arange(1, dim + 1, dtype=np.int64),
                    "dj": np.zeros(dim, dtype=np.int64),
                    "sv": m.sum(axis=0),
                }
            )
            cnt = pd.DataFrame({"di": [0], "dj": [0], "sv": [len(pdf)]})
            yield pd.concat([out, sums, cnt], ignore_index=True)

    partial = emb.mapInPandas(gram_batches, "di int, dj int, sv bigint")
    tot = partial.groupBy("di", "dj").agg(
        F.sum(F.col("sv").cast("decimal(38,0)")).alias("sv")
    ).localCheckpoint()  # ≤ dim²/2 + dim + 1 rows; read by three legs
    n = tot.filter((F.col("di") == 0) & (F.col("dj") == 0)).select(
        F.col("sv").cast("bigint").alias("n")
    )
    s1 = (
        tot.filter((F.col("dj") == 0) & (F.col("di") > 0))
        .select(F.col("di").alias("d"), F.col("sv").cast("bigint").alias("sx"))
        .join(
            tot.filter((F.col("di") == F.col("dj")) & (F.col("di") > 0)).select(
                F.col("di").alias("d"), F.col("sv").cast("double").alias("sxx")
            ),
            "d",
        )
        .crossJoin(F.broadcast(n))
    )
    pairs = tot.filter(
        (F.col("di") > 0) & (F.col("dj") > F.col("di"))
    ).select("di", "dj", F.col("sv").cast("double").alias("sxy"))
    sa = s1.select(
        F.col("d").alias("di"), F.col("n").alias("n"),
        F.col("sx").alias("sx_a"), F.col("sxx").alias("sxx_a"),
    )
    sb = s1.select(
        F.col("d").alias("dj"),
        F.col("sx").alias("sx_b"), F.col("sxx").alias("sxx_b"),
    )
    corr = (
        F.col("n").cast("double") * F.col("sxy")
        - F.col("sx_a").cast("double") * F.col("sx_b")
    ) / (
        F.sqrt(
            F.col("n").cast("double") * F.col("sxx_a")
            - F.col("sx_a").cast("double") * F.col("sx_a")
        )
        * F.sqrt(
            F.col("n").cast("double") * F.col("sxx_b")
            - F.col("sx_b").cast("double") * F.col("sx_b")
        )
    )
    return (
        pairs.join(sa, "di")
        .join(sb, "dj")
        .select(
            "di", "dj",
            F.round(corr * 1_000_000, 0).cast("bigint").alias("corr_micro"),
        )
        .orderBy(F.abs(F.col("corr_micro")).desc(), "di", "dj")
        .limit(_GRAM_TOPK)
    )


# ---------------------------------------------------------------------------
# Intrinsic dimensionality (Levina-Bickel two-NN MLE on a MOD sample)
# ---------------------------------------------------------------------------

#: Deterministic sample: every 8th vector (up to a hard cap) queries
#: the full corpus. (r5 perf pass: MOD 4 -> 8 halves the sample; the
#: quadratic audits' bench cost scales linearly with it and the
#: estimates stay stable — the knob to RAISE when audit fidelity
#: matters more than wall-clock.)
_ID_SAMPLE_MOD = 8

#: The hard `vec_id < _ID_SAMPLE_CAP` bound is defined next to
#: _PAIR_HIST_MOD above and shared by EVERY quadratic audit stage in
#: this module — it keeps the driver-side sample collect and the
#: broadcast below bounded at every scale factor.


def _sample_pair_d2(spark: SparkSession, emb) -> DataFrame:
    """(sid, nid, d2): exact int64 squared L2 between every bounded-
    sample vector and every corpus vector, via an Arrow/numpy kernel —
    the 100 TB shape for brute-force audit distances: the ≤CAP sample
    matrix broadcasts once (an int64 numpy array, ~1 MB), each corpus
    Arrow batch computes d2 = |s|² + |m|² − 2·S·Mᵀ with ONE integer
    matmul, and only the (sid, nid, d2) triples cross Arrow. ~50×
    faster than a per-pair zip_with fold (which is interpreter-bound at
    ~10 µs/pair) and bit-identical: int64 matmul over |xm| ≤ 1e6
    micro-units cannot overflow or round. Self-pairs are NOT emitted.

    ``emb`` must carry (vec_id, qe array<bigint>)."""
    import numpy as np
    import pandas as pd

    sample = (
        emb.filter(
            (F.col("vec_id") % _ID_SAMPLE_MOD == 0)
            & (F.col("vec_id") < _ID_SAMPLE_CAP)
        )
        .select("vec_id", "qe")
        .toPandas()
    )
    sids = sample["vec_id"].to_numpy(dtype=np.int64)
    smat = np.stack(sample["qe"].to_numpy()).astype(np.int64)
    snorm = (smat * smat).sum(axis=1)
    bc = spark.sparkContext.broadcast((sids, smat, snorm))

    def kernel(batches):
        b_sids, b_smat, b_snorm = bc.value
        for pdf in batches:
            m = np.stack(pdf["qe"].to_numpy()).astype(np.int64)
            nids = pdf["vec_id"].to_numpy(dtype=np.int64)
            mnorm = (m * m).sum(axis=1)
            # (k x b) exact int64 distance matrix via one matmul
            d2 = b_snorm[:, None] + mnorm[None, :] - 2 * (b_smat @ m.T)
            k, b = d2.shape
            out_sid = np.repeat(b_sids, b)
            out_nid = np.tile(nids, k)
            keep = out_sid != out_nid
            yield pd.DataFrame(
                {
                    "sid": out_sid[keep],
                    "nid": out_nid[keep],
                    "d2": d2.reshape(-1)[keep],
                }
            )

    return emb.select("vec_id", "qe").mapInPandas(
        kernel, "sid bigint, nid bigint, d2 bigint"
    )


@register(
    "intrinsic_dim_two_nn",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
      FROM embeddings),
    s AS (SELECT vec_id AS sid, qe AS sq FROM v
          WHERE vec_id % {_ID_SAMPLE_MOD} = 0
            AND vec_id < {_ID_SAMPLE_CAP}),
    d AS (
      SELECT s.sid, v.vec_id AS nid,
             CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
               i -> (s.sq[i] - v.qe[i]) * (s.sq[i] - v.qe[i]))) AS BIGINT) AS d2
      FROM s JOIN v ON v.vec_id <> s.sid),
    rnk AS (SELECT sid, d2,
                   ROW_NUMBER() OVER (PARTITION BY sid ORDER BY d2, nid) AS rn
            FROM d),
    two AS (
      SELECT sid, MAX(CASE WHEN rn = 1 THEN d2 END) AS d1,
             MAX(CASE WHEN rn = 2 THEN d2 END) AS dd2
      FROM rnk WHERE rn <= 2 GROUP BY sid),
    pts AS (SELECT sid,
                   CAST(round(ln(CAST(dd2 AS DOUBLE) / d1) * 1000000, 0)
                     AS BIGINT) AS lnr
            FROM two WHERE d1 > 0)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(lnr) AS BIGINT) AS sum_ln_ticks,
           round(2.0 * COUNT(*) / (CAST(SUM(lnr) AS DOUBLE) / 1000000), 3)
             AS id_hat
    FROM pts
    """,
)
def intrinsic_dim_two_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intrinsic dimensionality of the embedding space by the TwoNN /
    Levina-Bickel MLE: for each sampled point the ratio of its 2nd to
    1st nearest-neighbor distance, ID ≈ n / Σ ln(r2/r1) (factor 2
    because the ratios here are SQUARED distances). The number that
    says whether 64 ambient dimensions carry 64 degrees of freedom —
    and therefore how hard ANN indexing and how meaningful cosine
    thresholds are on THIS corpus.

    Scale: the quadratic NN-truth stage is fenced to a deterministic
    1/{_ID_SAMPLE_MOD} MOD sample (the pairwise_distance_histogram
    device) — sample × corpus through a nested-loop join the planner
    builds on the smaller side, with the per-pair distance an exact
    int64 micro² sum (order-free). Exact-duplicate query points
    (d1 = 0) are excluded deterministically in both engines; each
    point's log-ratio quantizes to microticks BEFORE the single exact
    int64 sum, and the MLE itself is one final double expression.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("bigint"),
        ).alias("qe"),
    )
    d = _sample_pair_d2(spark, emb)
    w = Window.partitionBy("sid").orderBy("d2", "nid")
    two = (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 2)
        .groupBy("sid")
        .agg(
            F.max(F.when(F.col("rn") == 1, F.col("d2"))).alias("d1"),
            F.max(F.when(F.col("rn") == 2, F.col("d2"))).alias("dd2"),
        )
    )
    pts = two.filter(F.col("d1") > 0).select(
        F.round(
            F.log(F.col("dd2").cast("double") / F.col("d1")) * 1_000_000, 0
        )
        .cast("bigint")
        .alias("lnr")
    )
    return pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points"),
        F.sum("lnr").cast("bigint").alias("sum_ln_ticks"),
        F.round(
            F.lit(2.0)
            * F.count(F.lit(1))
            / (F.sum("lnr").cast("double") / 1_000_000),
            3,
        ).alias("id_hat"),
    )


# ---------------------------------------------------------------------------
# int8 quantization recall eval (does 4x compression change the top-k?)
# ---------------------------------------------------------------------------

def _int8_recall_oracle() -> str:
    from ai_etl_studio_spark.operators import ORACLES

    return f"""
    WITH q8 AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(x * 127 / list_max(
                 list_transform(CAST(embedding AS DOUBLE[]), y -> abs(y))))
                 AS BIGINT)) AS q
      FROM embeddings),
    pr AS (
      SELECT qq.vec_id AS query_id, c.vec_id AS neighbor_id,
             CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
               i -> qq.q[i] * c.q[i])) AS DOUBLE)
             / (sqrt(CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                  i -> qq.q[i] * qq.q[i])) AS DOUBLE))
                * sqrt(CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
                  i -> c.q[i] * c.q[i])) AS DOUBLE))) AS cos8
      FROM q8 qq JOIN q8 c ON c.vec_id <> qq.vec_id
      WHERE qq.vec_id < {N_QUERIES}),
    approx AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos8 DESC, neighbor_id) AS rn
        FROM pr) r
      WHERE rn <= {TOPK}),
    exact AS ({ORACLES["ann_cosine_topk"]}),
    hit AS (
      SELECT e.query_id,
             CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM exact e LEFT JOIN approx a
        ON e.query_id = a.query_id AND e.neighbor_id = a.neighbor_id)
    SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           CAST(round(CAST(SUM(hit) AS DOUBLE) / COUNT(*) * 1000000, 0)
             AS BIGINT) AS recall_micro
    FROM hit GROUP BY query_id ORDER BY query_id
    """


@register("int8_recall_eval", oracle=_int8_recall_oracle())
def int8_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED recall@{TOPK} of brute-force cosine over the int8
    SYMMETRIC-quantized vectors (the vector_quantize_int8 codes, 4×
    smaller) against the float truth — the number that says whether
    the compression step in front of the ANN index costs ranking
    quality on THIS corpus, completing the eval family
    (ann_ivf_recall_eval / ann_ivfpq_recall_eval / lsh_recall_by_band
    / minhash_estimate_calibration). The truth leg composes the
    REGISTERED ann_cosine_topk oracle, so the eval cannot drift.

    Exactness: int8 codes are exact integers in both engines (the same
    round(x·127/maxabs) as vector_quantize_int8); the int8 cosine's
    sums are exact int64 folds, its ratio one mirrored double; ranking
    ties break on neighbor_id.

    Scale: the query side is a bounded-key-filtered {N_QUERIES}-vector
    frame broadcast into one corpus pass (the ann_cosine_topk shape);
    the int8 scoring never touches float vectors.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    maxabs = F.array_max(
        F.transform(F.col("emb"), lambda c: F.abs(c.cast("double")))
    )
    q8 = emb.select(
        "vec_id",
        F.transform(
            F.col("emb"),
            lambda c: F.round(c.cast("double") * 127 / maxabs, 0).cast("bigint"),
        ).alias("q"),
    )
    qs = q8.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("q").alias("qq")
    )
    dot8 = F.aggregate(
        F.zip_with(F.col("qq"), F.col("q"), lambda a, b: a * b),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    n2 = lambda col: F.aggregate(  # noqa: E731
        F.transform(F.col(col), lambda a: a * a),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )
    pr = (
        q8.join(F.broadcast(qs), F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            (
                dot8.cast("double")
                / (F.sqrt(n2("qq").cast("double")) * F.sqrt(n2("q").cast("double")))
            ).alias("cos8"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos8"), "neighbor_id")
    approx = (
        pr.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= TOPK)
        .select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    )
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        exact.join(approx, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
                * 1_000_000,
                0,
            ).cast("bigint").alias("recall_micro"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# Silhouette score of the label partition (cluster-quality classic)
# ---------------------------------------------------------------------------

@register(
    "silhouette_by_label",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
      FROM embeddings),
    s AS (SELECT vec_id AS sid, label AS slabel, qe AS sq FROM v
          WHERE vec_id % {_ID_SAMPLE_MOD} = 0
            AND vec_id < {_ID_SAMPLE_CAP}),
    p AS (
      SELECT s.sid, s.slabel, v.label AS nlabel,
             CAST(round(sqrt(CAST(list_sum(list_transform(
               range(1, {EMB_DIM + 1}),
               i -> (s.sq[i] - v.qe[i]) * (s.sq[i] - v.qe[i])))
               AS DOUBLE))) AS BIGINT) AS dist_micro
      FROM s JOIN v ON v.vec_id <> s.sid),
    gl AS (
      SELECT sid, slabel, nlabel,
             CAST(SUM(dist_micro) AS BIGINT) AS sd,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM p GROUP BY 1, 2, 3),
    ab AS (
      SELECT sid, slabel,
             MAX(CASE WHEN nlabel = slabel
                      THEN CAST(sd AS DOUBLE) / c END) AS a,
             MIN(CASE WHEN nlabel <> slabel
                      THEN CAST(sd AS DOUBLE) / c END) AS b
      FROM gl GROUP BY 1, 2),
    pts AS (
      SELECT slabel,
             CAST(round((b - a) / greatest(a, b) * 1000000, 0) AS BIGINT)
               AS s_micro
      FROM ab WHERE a IS NOT NULL AND b IS NOT NULL)
    SELECT slabel AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(s_micro) // COUNT(*) AS BIGINT) AS mean_silhouette_micro
    FROM pts GROUP BY slabel ORDER BY slabel
    """,
)
def silhouette_by_label(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silhouette score of the LABEL partition, per label — the classic
    cluster-quality readout ((b−a)/max(a,b): a = mean distance to own
    label, b = mean distance to the nearest other label). Near-zero or
    negative silhouettes say the labels do not partition the embedding
    space — the geometric verdict behind centroid_classifier_eval's
    accuracy and anova_dim1_by_label's per-axis screen.

    Exactness: pair distances are exact int64 micro² sums, each
    quantized to an integer micro distance BEFORE the per-(point,
    label) mean (the per-term tick rule); a, b and the silhouette are
    single-row double expressions per sample point, re-quantized to
    microticks before the per-label average (an exact floor division).

    Scale: the quadratic stage is fenced to the deterministic
    1/{_ID_SAMPLE_MOD} MOD sample (the intrinsic_dim/pairwise-histogram
    device); pairs immediately reduce to the (point, label) grain —
    |sample|×|labels| rows — before anything else happens.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("bigint"),
        ).alias("qe"),
    )
    labels = emb.select("vec_id", "label")
    p = (
        _sample_pair_d2(spark, emb.select("vec_id", "qe"))
        .join(
            labels.select(
                F.col("vec_id").alias("sid"), F.col("label").alias("slabel")
            ),
            "sid",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("nid"), F.col("label").alias("nlabel")
            ),
            "nid",
        )
        .select(
            "sid",
            "slabel",
            "nlabel",
            F.round(F.sqrt(F.col("d2").cast("double")), 0)
            .cast("bigint")
            .alias("dist_micro"),
        )
    )
    gl = p.groupBy("sid", "slabel", "nlabel").agg(
        F.sum("dist_micro").cast("bigint").alias("sd"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    ab = gl.groupBy("sid", "slabel").agg(
        F.max(
            F.when(
                F.col("nlabel") == F.col("slabel"),
                F.col("sd").cast("double") / F.col("c"),
            )
        ).alias("a"),
        F.min(
            F.when(
                F.col("nlabel") != F.col("slabel"),
                F.col("sd").cast("double") / F.col("c"),
            )
        ).alias("b"),
    )
    pts = ab.filter(F.col("a").isNotNull() & F.col("b").isNotNull()).select(
        "slabel",
        F.round(
            (F.col("b") - F.col("a"))
            / F.greatest(F.col("a"), F.col("b"))
            * 1_000_000,
            0,
        )
        .cast("bigint")
        .alias("s_micro"),
    )
    return (
        pts.groupBy(F.col("slabel").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.expr("SUM(s_micro) DIV COUNT(*)").alias("mean_silhouette_micro"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Davies-Bouldin cluster-quality index over the label partition
# ---------------------------------------------------------------------------

@register(
    "davies_bouldin_labels",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, generate_subscripts(embedding, 1) AS d,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS xm
      FROM embeddings),
    st AS (
      SELECT label, d, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xm) AS BIGINT) AS sx
      FROM e GROUP BY 1, 2),
    vt AS (
      SELECT e.vec_id, e.label,
             CAST(SUM(CAST(round(
               (e.xm - CAST(st.sx AS DOUBLE) / st.n)
               * (e.xm - CAST(st.sx AS DOUBLE) / st.n), 0) AS BIGINT))
               AS BIGINT) AS d2t
      FROM e JOIN st ON st.label = e.label AND st.d = e.d
      GROUP BY 1, 2),
    vd AS (SELECT label,
                  CAST(round(sqrt(CAST(d2t AS DOUBLE)), 0) AS BIGINT)
                    AS dist_micro
           FROM vt),
    si AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
                  CAST(SUM(dist_micro) AS BIGINT) AS sd
           FROM vd GROUP BY label),
    cp AS (
      SELECT a.label AS la, b.label AS lb,
             CAST(SUM(CAST(round(
               (CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n)
               * (CAST(a.sx AS DOUBLE) / a.n - CAST(b.sx AS DOUBLE) / b.n),
               0) AS BIGINT)) AS BIGINT) AS c2t
      FROM st a JOIN st b ON a.d = b.d AND a.label <> b.label
      GROUP BY 1, 2),
    r AS (
      SELECT cp.la, cp.lb,
             (CAST(sa.sd AS DOUBLE) / sa.n_vecs
              + CAST(sb.sd AS DOUBLE) / sb.n_vecs)
             / sqrt(CAST(cp.c2t AS DOUBLE)) AS rr
      FROM cp JOIN si sa ON sa.label = cp.la JOIN si sb ON sb.label = cp.lb),
    worst AS (
      SELECT la, lb, rr FROM (
        SELECT la, lb, rr,
               ROW_NUMBER() OVER (PARTITION BY la
                                  ORDER BY rr DESC, lb) AS rn
        FROM r) t WHERE rn = 1)
    SELECT w.la AS label, si.n_vecs,
           CAST(si.sd // si.n_vecs AS BIGINT) AS s_micro,
           w.lb AS worst_label,
           CAST(round(w.rr * 1000000, 0) AS BIGINT) AS r_max_micro
    FROM worst w JOIN si ON si.label = w.la
    ORDER BY label
    """,
)
def davies_bouldin_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Davies-Bouldin cluster quality over the label partition: per
    label its mean distance to its own centroid (scatter sᵢ), the
    OTHER label maximizing Rᵢⱼ = (sᵢ+sⱼ)/‖μᵢ−μⱼ‖, and that worst
    ratio — the label's DB term (the full index is their mean). The
    EXACT full-corpus companion of silhouette_by_label's sampled view:
    DB needs only centroid sufficient statistics plus one distance per
    vector, so no pair stage and no sample.

    Exactness: centroids are exact-integer micro sums; each vector's
    squared deviation quantizes PER DIMENSION to integer micro² ticks
    before the per-vector sum (order-free int64), the distance
    re-quantizes to micro before the per-label mean (exact floor
    division); centroid-pair distances use the same per-dim tick rule
    on the bounded |labels|²×|dims| grid; R and the argmax are
    single-row doubles with a deterministic label tiebreak.

    Scale: build/serve two-pass — pass 1 reduces the corpus to the
    |labels|×|dims| stats table; pass 2 re-scans once, joining that
    tiny table back (hint-free, AQE broadcasts); the pair stage never
    touches vectors.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        "label",
        (F.col("pos") + 1).alias("d"),
        F.round(F.col("x").cast("double") * 1_000_000, 0)
        .cast("bigint")
        .alias("xm"),
    )
    st = e.groupBy("label", "d").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("xm").cast("bigint").alias("sx"),
    ).localCheckpoint()  # |labels|x|dims| rows; feeds the rescan AND pairs
    mu = F.col("sx").cast("double") / F.col("n")
    vt = (
        e.join(st, ["label", "d"])
        .select(
            "vec_id",
            "label",
            F.round((F.col("xm") - mu) * (F.col("xm") - mu), 0)
            .cast("bigint")
            .alias("t"),
        )
        .groupBy("vec_id", "label")
        .agg(F.sum("t").cast("bigint").alias("d2t"))
    )
    vd = vt.select(
        "label",
        F.round(F.sqrt(F.col("d2t").cast("double")), 0)
        .cast("bigint")
        .alias("dist_micro"),
    )
    si = vd.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs"),
        F.sum("dist_micro").cast("bigint").alias("sd"),
    ).localCheckpoint()  # |labels| rows; read by both sides of R
    a = st.select(
        F.col("label").alias("la"), "d", (F.col("sx").cast("double") / F.col("n")).alias("ma")
    )
    b = st.select(
        F.col("label").alias("lb"), "d", (F.col("sx").cast("double") / F.col("n")).alias("mb")
    )
    cp = (
        a.join(b, "d")
        .filter(F.col("la") != F.col("lb"))
        .select(
            "la",
            "lb",
            F.round((F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb")), 0)
            .cast("bigint")
            .alias("t"),
        )
        .groupBy("la", "lb")
        .agg(F.sum("t").cast("bigint").alias("c2t"))
    )
    sa = si.select(F.col("label").alias("la"), F.col("n_vecs").alias("nva"), F.col("sd").alias("sda"))
    sb = si.select(F.col("label").alias("lb"), F.col("n_vecs").alias("nvb"), F.col("sd").alias("sdb"))
    r = (
        cp.join(sa, "la")
        .join(sb, "lb")
        .select(
            "la",
            "lb",
            (
                (
                    F.col("sda").cast("double") / F.col("nva")
                    + F.col("sdb").cast("double") / F.col("nvb")
                )
                / F.sqrt(F.col("c2t").cast("double"))
            ).alias("rr"),
        )
    )
    w = Window.partitionBy("la").orderBy(F.desc("rr"), "lb")
    worst = r.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        worst.join(si, worst.la == si.label)
        .select(
            F.col("la").alias("label"),
            "n_vecs",
            F.expr("sd DIV n_vecs").alias("s_micro"),
            F.col("lb").alias("worst_label"),
            F.round(F.col("rr") * 1_000_000, 0).cast("bigint").alias("r_max_micro"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Leave-one-out 1-NN label accuracy (embedding-space label coherence)
# ---------------------------------------------------------------------------

@register(
    "loo_1nn_accuracy",
    oracle=f"""
    WITH v AS (
      SELECT vec_id, label,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
      FROM embeddings),
    s AS (SELECT vec_id AS sid, label AS slabel, qe AS sq FROM v
          WHERE vec_id % {_ID_SAMPLE_MOD} = 0
            AND vec_id < {_ID_SAMPLE_CAP}),
    d AS (
      SELECT s.sid, s.slabel, v.label AS nlabel,
             CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
               i -> (s.sq[i] - v.qe[i]) * (s.sq[i] - v.qe[i])))
               AS BIGINT) AS d2,
             v.vec_id AS nid
      FROM s JOIN v ON v.vec_id <> s.sid),
    nn AS (
      SELECT sid, slabel, nlabel FROM (
        SELECT sid, slabel, nlabel,
               ROW_NUMBER() OVER (PARTITION BY sid ORDER BY d2, nid) AS rn
        FROM d) t WHERE rn = 1)
    SELECT slabel AS label, CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(CASE WHEN nlabel = slabel THEN 1 ELSE 0 END) AS BIGINT)
             AS n_correct,
           CAST(SUM(CASE WHEN nlabel = slabel THEN 1 ELSE 0 END) * 1000000
                // COUNT(*) AS BIGINT) AS acc_ppm
    FROM nn GROUP BY slabel ORDER BY label
    """,
)
def loo_1nn_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-out 1-nearest-neighbor label accuracy on the MOD
    sample — the sharpest cheap test of whether labels are LOCALLY
    coherent in the embedding space (centroid_classifier_eval tests
    global linear separability; a label can pass 1-NN and fail
    centroids when classes are multi-modal, and vice versa when labels
    are noisy). Random-guess baseline is 1/|labels|.

    Exactness: exact int64 micro² distances; the neighbor argmin
    tiebreaks on vec_id; accuracy is an exact ppm floor division.

    Scale: the quadratic stage is the same fenced 1/{_ID_SAMPLE_MOD}
    MOD-sample nested loop as intrinsic_dim_two_nn, reduced by a
    WindowGroupLimit to one neighbor per sample point.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        "label",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("bigint"),
        ).alias("qe"),
    )
    labels = emb.select("vec_id", "label")
    d = (
        _sample_pair_d2(spark, emb.select("vec_id", "qe"))
        .join(
            labels.select(
                F.col("vec_id").alias("sid"), F.col("label").alias("slabel")
            ),
            "sid",
        )
        .join(
            labels.select(
                F.col("vec_id").alias("nid"), F.col("label").alias("nlabel")
            ),
            "nid",
        )
    )
    w = Window.partitionBy("sid").orderBy("d2", "nid")
    nn = d.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return (
        nn.groupBy(F.col("slabel").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_points"),
            F.sum(
                F.when(F.col("nlabel") == F.col("slabel"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_correct"),
        )
        .select(
            "label",
            "n_points",
            "n_correct",
            F.expr("n_correct * 1000000 DIV n_points").alias("acc_ppm"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# Hubness (k-occurrence) of the embedding space — the ANN pathology audit
# ---------------------------------------------------------------------------

_HUB_K = 10


@register(
    "hubness_k_occurrence",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
      FROM embeddings),
    s AS (SELECT vec_id AS sid, qe AS sq FROM v
          WHERE vec_id % {_ID_SAMPLE_MOD} = 0
            AND vec_id < {_ID_SAMPLE_CAP}),
    d AS (
      SELECT s.sid, v.vec_id AS nid,
             CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
               i -> (s.sq[i] - v.qe[i]) * (s.sq[i] - v.qe[i])))
               AS BIGINT) AS d2
      FROM s JOIN v ON v.vec_id <> s.sid),
    nn AS (
      SELECT nid FROM (
        SELECT sid, nid,
               ROW_NUMBER() OVER (PARTITION BY sid ORDER BY d2, nid) AS rn
        FROM d) t WHERE rn <= {_HUB_K}),
    occ AS (SELECT nid, CAST(COUNT(*) AS BIGINT) AS o FROM nn GROUP BY nid),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM v),
    hist AS (
      SELECT o AS k_occurrence, CAST(COUNT(*) AS BIGINT) AS n_points
      FROM occ GROUP BY o),
    zero AS (
      SELECT CAST(0 AS BIGINT) AS k_occurrence,
             CAST(tot.n_corpus - (SELECT COUNT(*) FROM occ) AS BIGINT)
               AS n_points
      FROM tot)
    SELECT k_occurrence, n_points FROM hist
    UNION ALL SELECT k_occurrence, n_points FROM zero
    ORDER BY k_occurrence
    """,
)
def hubness_k_occurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit: the k-occurrence distribution N_k(x) at k=10
    (_HUB_K) — how
    many sample queries list each corpus point among their {_HUB_K}
    nearest neighbors. In healthy low-dimensional data the histogram
    is tight around k·|sample|/|corpus|; a long right tail (hub points
    appearing in MANY lists while most points appear in none) is the
    curse-of-dimensionality pathology that silently degrades every
    k-NN-based op (knn_classify, loo_1nn, MMR) — the audit to run
    before trusting them. The 0-occurrence row (anti-hubs) is included
    via the corpus total.

    Exactness: exact int64 distances, integer ranks with vec_id
    tiebreak, integer histogram.

    Scale: the same fenced MOD-sample nested loop as
    intrinsic_dim_two_nn, cut to k rows per query by WindowGroupLimit;
    the occurrence count and histogram are tiny aggregations.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("bigint"),
        ).alias("qe"),
    )
    d = _sample_pair_d2(spark, emb)
    w = Window.partitionBy("sid").orderBy("d2", "nid")
    nn = d.withColumn("rn", F.row_number().over(w)).filter(
        F.col("rn") <= _HUB_K
    )
    occ = nn.groupBy("nid").agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    occ = occ.localCheckpoint()  # bounded by corpus; read twice below
    tot = emb.agg(F.count(F.lit(1)).cast("bigint").alias("n_corpus"))
    n_occ = occ.agg(F.count(F.lit(1)).cast("bigint").alias("n_occ"))
    hist = occ.groupBy(F.col("o").alias("k_occurrence")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_points")
    )
    zero = (
        tot.crossJoin(F.broadcast(n_occ))
        .select(
            F.lit(0).cast("bigint").alias("k_occurrence"),
            (F.col("n_corpus") - F.col("n_occ")).cast("bigint").alias(
                "n_points"
            ),
        )
    )
    return hist.unionAll(zero).orderBy("k_occurrence")


# ---------------------------------------------------------------------------
# IVF nprobe -> recall tuning curve (the knob sheet, measured)
# ---------------------------------------------------------------------------

_NPROBE_GRID = (1, 2, 4, 8)


def _nprobe_curve_oracle() -> str:
    from ai_etl_studio_spark.operators import ORACLES

    probes_max = max(_NPROBE_GRID)
    rows = " UNION ALL ".join(f"SELECT {np} AS nprobe" for np in _NPROBE_GRID)
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    c AS (SELECT vec_id AS centroid_id, emb AS cemb FROM v
          WHERE vec_id < {N_CENTROIDS}),
    scored AS (
      SELECT v.vec_id, c.centroid_id, {_COS_VC} AS cos_c
      FROM v CROSS JOIN c),
    assign AS (
      SELECT vec_id, centroid_id FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_c DESC, centroid_id) AS crn
        FROM scored) s
      WHERE crn = 1),
    probes AS (
      SELECT vec_id AS query_id, centroid_id, crn FROM (
        SELECT vec_id, centroid_id,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY cos_c DESC, centroid_id) AS crn
        FROM scored WHERE vec_id < {N_QUERIES}) s
      WHERE crn <= {probes_max}),
    grid AS ({rows}),
    cand AS (
      SELECT g.nprobe, p.query_id, a.vec_id AS neighbor_id,
             q.emb AS q_emb, n.emb AS n_emb
      FROM grid g
      JOIN probes p ON p.crn <= g.nprobe
      JOIN assign a ON a.centroid_id = p.centroid_id
      JOIN v q ON q.vec_id = p.query_id
      JOIN v n ON n.vec_id = a.vec_id
      WHERE a.vec_id <> p.query_id),
    ranked AS (
      SELECT nprobe, query_id, neighbor_id FROM (
        SELECT nprobe, query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY nprobe, query_id
                                  ORDER BY {_COS_QN} DESC, neighbor_id) AS rn
        FROM cand) r
      WHERE rn <= {TOPK}),
    exact AS ({ORACLES["ann_cosine_topk"]}),
    hit AS (
      SELECT g.nprobe, e.query_id,
             CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS hit
      FROM grid g CROSS JOIN exact e
      LEFT JOIN ranked a ON a.nprobe = g.nprobe
        AND a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id)
    SELECT nprobe, CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           CAST(round(CAST(SUM(hit) AS DOUBLE) / COUNT(*) * 1000000, 0)
             AS BIGINT) AS recall_micro
    FROM hit GROUP BY nprobe ORDER BY nprobe
    """


@register("ivf_nprobe_recall_curve", oracle=_nprobe_curve_oracle())
def ivf_nprobe_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The IVF tuning sheet, MEASURED: recall@{TOPK} pooled over the
    query set at nprobe ∈ {_NPROBE_GRID} — the curve that picks the
    probe count for a latency budget (ann_ivf_recall_eval grades ONE
    operating point; this draws the whole knob). Probe ranks are
    computed ONCE to the max grid value; each grid point reuses them
    by a crn ≤ nprobe filter, so the corpus-side assignment and the
    probe scoring never recompute.

    Scale: one assignment argmax + one probe ranking (bounded-key
    query set); the grid multiplies only the probe LIST (|Q|·max-probe
    rows), candidates stay nprobe/K of the corpus per grid point; the
    exact-truth leg composes the registered cosine oracle.
    """
    emb0 = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    # corpus spread when the scan is under-split (r11, guide §2.5): the
    # corpus × centroid cosine lambdas otherwise run in one scan task
    emb = spread_small_scan(spark, emb0)
    cent = emb0.filter(F.col("vec_id") < N_CENTROIDS).select(
        F.col("vec_id").alias("centroid_id"), F.col("emb").alias("cemb")
    )
    scored = emb.crossJoin(F.broadcast(cent)).withColumn(
        "cos_c", cosine(F.col("emb"), F.col("cemb"))
    )
    order_key = F.struct(F.col("cos_c"), (-F.col("centroid_id")).alias("negid"))
    assign = (
        scored.groupBy("vec_id")
        .agg(
            F.max_by(
                F.struct(F.col("centroid_id"), F.col("emb")), order_key
            ).alias("best")
        )
        .select(
            "vec_id",
            F.col("best.centroid_id").alias("centroid_id"),
            F.col("best.emb").alias("emb"),
        )
    )
    w_probe = Window.partitionBy("vec_id").orderBy(
        F.desc("cos_c"), F.asc("centroid_id")
    )
    probes = (
        scored.filter(F.col("vec_id") < N_QUERIES)
        .withColumn("crn", F.row_number().over(w_probe))
        .filter(F.col("crn") <= max(_NPROBE_GRID))
        .select(
            F.col("vec_id").alias("query_id"),
            "centroid_id",
            "crn",
            F.col("emb").alias("q_emb"),
        )
        # |Q|·max-probe rows; read by the candidate join's broadcast
        # side once per grid leg — without the checkpoint each read
        # re-ran the query-side scoring + probe-rank window (r11,
        # plan-verified: 12 -> fewer scans, 3 -> 2 Window groups)
        .localCheckpoint()
    )
    grid = spark.createDataFrame(
        [(np,) for np in _NPROBE_GRID], "nprobe int"
    )
    cand = (
        assign.join(
            F.broadcast(probes.crossJoin(F.broadcast(grid)).filter(
                F.col("crn") <= F.col("nprobe")
            )),
            "centroid_id",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("cos_qn", cosine(F.col("q_emb"), F.col("emb")))
    )
    w_rank = Window.partitionBy("nprobe", "query_id").orderBy(
        F.desc("cos_qn"), F.asc("vec_id")
    )
    ranked = (
        cand.withColumn("rn", F.row_number().over(w_rank))
        .filter(F.col("rn") <= TOPK)
        .select("nprobe", "query_id", F.col("vec_id").alias("neighbor_id"),
                F.lit(1).alias("hit"))
    )
    exact = ann_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    return (
        exact.crossJoin(F.broadcast(grid))
        .join(ranked, ["nprobe", "query_id", "neighbor_id"], "left")
        .groupBy("nprobe")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0)))
            .cast("bigint")
            .alias("n_hit"),
            F.round(
                F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("double")
                / F.count(F.lit(1))
                * 1_000_000,
                0,
            ).cast("bigint").alias("recall_micro"),
        )
        .orderBy("nprobe")
    )


# ---------------------------------------------------------------------------
# PQ codebook utilization audit (dead codewords waste quantization bits)
# ---------------------------------------------------------------------------

def _pq_util_oracle() -> str:
    d2_ca = _PQ_D2(n=PQ_SUBDIM + 1, a="c.s", b="a.a")
    return f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
                            x -> CAST(ROUND(x*{_PQ_SCALE}) AS BIGINT)) AS qe
      FROM embeddings),
    sub AS (
      SELECT vec_id, m, qe[(m*{PQ_SUBDIM}+1):(m*{PQ_SUBDIM}+{PQ_SUBDIM})] AS s
      FROM v, UNNEST(range({PQ_M})) AS u(m)),
    anch AS (SELECT vec_id AS k, m, s AS a FROM sub WHERE vec_id < {PQ_K}),
    codes AS (
      SELECT vec_id, m, MIN(d2 * {PQ_K} + k) % {PQ_K} AS k
      FROM (
        SELECT c.vec_id, c.m, a.k, {d2_ca} AS d2
        FROM sub c JOIN anch a ON a.m = c.m) t
      GROUP BY vec_id, m),
    cc AS (SELECT m, k, CAST(COUNT(*) AS BIGINT) AS c
           FROM codes GROUP BY m, k),
    n AS (SELECT m, CAST(SUM(c) AS BIGINT) AS n FROM cc GROUP BY m),
    t AS (
      SELECT cc.m,
             CAST(COUNT(*) AS BIGINT) AS used_codewords,
             CAST(MAX(cc.c) AS BIGINT) AS max_codeword_n,
             CAST(SUM(CAST(round((CAST(cc.c AS DOUBLE) / n.n)
               * ln(CAST(n.n AS DOUBLE) / cc.c) * 1000000000, 0) AS BIGINT))
               AS BIGINT) AS ent_nano
      FROM cc JOIN n USING (m) GROUP BY cc.m)
    SELECT m AS subspace, used_codewords,
           CAST({PQ_K} - used_codewords AS BIGINT) AS dead_codewords,
           max_codeword_n,
           CAST(ent_nano // 1000 AS BIGINT) AS entropy_micronats
    FROM t ORDER BY subspace
    """


@register("pq_codebook_utilization", oracle=_pq_util_oracle())
def pq_codebook_utilization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ codebook health per subspace: distinct codewords actually
    used, dead codewords ({PQ_K} − used — bits the encoder pays for
    and never exercises), the hottest codeword's population, and the
    code-assignment entropy (max ln {PQ_K} ≈ 2.77 nats = a balanced
    codebook; low entropy means the subspace's codewords collapse onto
    few cells and ADC loses resolution exactly where
    ann_ivfpq_recall_eval would show it). The training-quality
    diagnostic for the PQ family — run it before blaming the refine
    factor.

    Exactness: code assignment is the registered integer argmin; the
    entropy terms quantize to nanonats before the ≤{PQ_K}-row sums.

    Scale: one encode pass (or the persisted code table in production)
    reduces to ≤{PQ_M}×{PQ_K} cells; everything else is arithmetic.
    """
    codes = spark.table(ensure_pq_code_index(spark, sf_dir))
    cc = codes.groupBy("m", "k").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).localCheckpoint()
    n = cc.groupBy("m").agg(F.sum("c").cast("bigint").alias("n"))
    t = (
        cc.join(n, "m")
        .select(
            "m",
            "c",
            F.round(
                (F.col("c").cast("double") / F.col("n"))
                * F.log(F.col("n").cast("double") / F.col("c"))
                * 1_000_000_000,
                0,
            )
            .cast("bigint")
            .alias("tick"),
        )
        .groupBy("m")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("used_codewords"),
            F.max("c").cast("bigint").alias("max_codeword_n"),
            F.sum("tick").cast("bigint").alias("ent_nano"),
        )
    )
    return t.select(
        F.col("m").alias("subspace"),
        "used_codewords",
        (F.lit(PQ_K) - F.col("used_codewords")).cast("bigint").alias(
            "dead_codewords"
        ),
        "max_codeword_n",
        F.expr("ent_nano DIV 1000").alias("entropy_micronats"),
    ).orderBy("subspace")


# ---------------------------------------------------------------------------
# Round 7: int8 clip calibration + random-projection distortion eval
# ---------------------------------------------------------------------------

@register(
    "embedding_clip_bounds_int8",
    oracle="""
    WITH e AS (
      SELECT CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS xm,
             generate_subscripts(embedding, 1) AS dim
      FROM embeddings),
    c AS (
      SELECT dim, xm, CAST(COUNT(*) AS BIGINT) AS c
      FROM e GROUP BY 1, 2),
    cum AS (
      SELECT dim, xm, c,
             SUM(c) OVER (PARTITION BY dim ORDER BY xm) AS cum,
             SUM(c) OVER (PARTITION BY dim) AS n
      FROM c),
    q AS (
      SELECT CAST(dim AS BIGINT) AS dim, CAST(MAX(n) AS BIGINT) AS n_vecs,
             MIN(CASE WHEN cum * 100 >= n THEN xm END) AS p01_micro,
             MIN(CASE WHEN cum * 2 >= n THEN xm END) AS p50_micro,
             MIN(CASE WHEN cum * 100 >= 99 * n THEN xm END) AS p99_micro
      FROM cum GROUP BY dim)
    SELECT dim, n_vecs, p01_micro, p50_micro, p99_micro,
           CAST(GREATEST(ABS(p01_micro), ABS(p99_micro)) // 127 AS BIGINT)
             AS int8_scale_micro
    FROM q ORDER BY dim
    """,
)
def embedding_clip_bounds_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT per-dimension p01/p50/p99 of the embedding values plus the
    int8 scale max(|p01|,|p99|)/127 — the robust clip calibration the
    int8 quantization path should use instead of min/max
    (embedding_dim_stats' range): one outlier coordinate otherwise
    stretches the int8 grid and costs the whole dimension its
    resolution (the standard symmetric-percentile calibration from the
    quantization literature).

    Exactness: values quantize to integer micro-ticks at explode time;
    the per-dim quantiles are the value-grain integer-ECDF device
    (cum·100 ≥ k·n — no percentile_approx error bars) and the scale is
    an integer floor division.

    Scale: the explode is map-side; counts reduce to the
    (dim, distinct-value) grain before any window, and windows
    partition BY DIMENSION — per-partition work is one dimension's
    value grain, so adding executors scales with dims × values, never
    with a single global sort.
    """
    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(F.posexplode("embedding").alias("pos", "x")).select(
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.col("x").cast("double") * 1_000_000, 0)
        .cast("bigint")
        .alias("xm"),
    )
    c = e.groupBy("dim", "xm").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    w_cum = (
        Window.partitionBy("dim")
        .orderBy("xm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = c.select(
        "dim", "xm", "c",
        F.sum("c").over(w_cum).alias("cum"),
        F.sum("c").over(Window.partitionBy("dim")).alias("n"),
    )
    q = cum.groupBy("dim").agg(
        F.max("n").cast("bigint").alias("n_vecs"),
        F.min(F.when(F.col("cum") * 100 >= F.col("n"), F.col("xm"))).alias(
            "p01_micro"
        ),
        F.min(F.when(F.col("cum") * 2 >= F.col("n"), F.col("xm"))).alias(
            "p50_micro"
        ),
        F.min(
            F.when(F.col("cum") * 100 >= 99 * F.col("n"), F.col("xm"))
        ).alias("p99_micro"),
    )
    return q.select(
        "dim",
        "n_vecs",
        "p01_micro",
        "p50_micro",
        "p99_micro",
        F.expr(
            "CAST(GREATEST(ABS(p01_micro), ABS(p99_micro)) DIV 127"
            " AS BIGINT)"
        ).alias("int8_scale_micro"),
    ).orderBy("dim")


#: JL eval sample modulus (coarser than the pair-histogram MOD: the
#: distortion readout needs ~10³ pairs, not 10⁵) and target dimension.
_JL_MOD = 23
_JL_K = 16


@register(
    "jl_projection_distortion_eval",
    oracle=f"""
    WITH s AS (
      SELECT vec_id, embedding FROM embeddings
      WHERE vec_id % {_JL_MOD} = 0 AND vec_id < {_ID_SAMPLE_CAP}),
    e AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS dim,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS xm
      FROM s),
    dims AS (SELECT DISTINCT dim FROM e),
    sgn AS (
      SELECT dim, j,
             (CAST(concat('0x', substr(md5('jl:' || CAST(dim AS VARCHAR)
                || ':' || CAST(j AS VARCHAR)), 1, 8)) AS BIGINT) % 2) * 2 - 1
               AS sg
      FROM dims CROSS JOIN
           (SELECT unnest(generate_series(1, {_JL_K})) AS j)),
    z AS (
      SELECT vec_id, j, CAST(SUM(sg * xm) AS BIGINT) AS zj
      FROM e JOIN sgn USING (dim) GROUP BY 1, 2),
    dz AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(SUM((a.zj - b.zj) * (a.zj - b.zj)) AS BIGINT) AS dz2
      FROM z a JOIN z b ON a.j = b.j AND a.vec_id < b.vec_id
      GROUP BY 1, 2),
    dx AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib,
             CAST(SUM((a.xm - b.xm) * (a.xm - b.xm)) AS BIGINT) AS dx2
      FROM e a JOIN e b ON a.dim = b.dim AND a.vec_id < b.vec_id
      GROUP BY 1, 2),
    r AS (
      SELECT CAST(round(CAST(dz2 AS DOUBLE)
               / ({_JL_K}E0 * CAST(dx2 AS DOUBLE)) * 1000000, 0) AS BIGINT)
               AS ratio_micro
      FROM dz JOIN dx ON dz.ia = dx.ia AND dz.ib = dx.ib
      WHERE dx2 > 0)
    SELECT CAST(ratio_micro // 100000 AS BIGINT) AS band,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(round(CAST(SUM(ratio_micro) AS DOUBLE) / COUNT(*), 0)
             AS BIGINT) AS mean_ratio_micro
    FROM r GROUP BY 1 ORDER BY 1
    """,
)
def jl_projection_distortion_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEASURED Johnson-Lindenstrauss distortion of a deterministic
    ±1 random projection to k = {_JL_K} dimensions: the histogram of
    ‖P(a−b)‖²/(k·‖a−b‖²) over sampled pairs — mass near 1.0 certifies
    the projection preserves distances well enough to run the CHEAP
    near-dup / clustering passes in 16 dims instead of 64 (a 4×
    distance-compute saving); wide bands say k is too small for this
    corpus. The dimensionality-reduction eval beside the quantization
    evals (int8/PQ measure precision loss; this measures dimension
    loss).

    Exactness: coordinates quantize to micro at explode; the ±1 signs
    come from the shared md5 device, so each projected coordinate is
    an EXACT int64 dot product and both squared distances are exact
    integers; the ratio is the only double, micro-quantized per pair
    before the band histogram.

    Scale: the quadratic pair stage is fenced by the house
    MOD-and-hard-cap sample (vec_id % {_JL_MOD} = 0 AND vec_id <
    {_ID_SAMPLE_CAP}) — pair count is capped regardless of corpus
    size; the projection itself is linear and shuffle-light (the sign
    table is |dims|×k and broadcast).
    """
    from ai_etl_studio_spark.functions.texthash import md5_hash32

    emb = load_table(spark, sf_dir, "embeddings")
    s = (
        emb.filter(
            (F.col("vec_id") % _JL_MOD == 0)
            & (F.col("vec_id") < _ID_SAMPLE_CAP)
        )
        .select("vec_id", "embedding")
        .localCheckpoint()  # bounded sample; read by e (twice) and z
    )
    e = s.select(
        "vec_id", F.posexplode("embedding").alias("pos", "x")
    ).select(
        "vec_id",
        (F.col("pos") + 1).cast("bigint").alias("dim"),
        F.round(F.col("x").cast("double") * 1_000_000, 0)
        .cast("bigint")
        .alias("xm"),
    )
    js = spark.createDataFrame([(j,) for j in range(1, _JL_K + 1)], "j int")
    sgn = (
        e.select("dim")
        .distinct()
        .crossJoin(F.broadcast(js))
        .select(
            "dim",
            "j",
            (
                (
                    md5_hash32(
                        F.concat(
                            F.lit("jl:"),
                            F.col("dim").cast("string"),
                            F.lit(":"),
                            F.col("j").cast("string"),
                        )
                    )
                    % 2
                )
                * 2
                - 1
            ).alias("sg"),
        )
    )
    z = (
        e.join(F.broadcast(sgn), "dim")
        .groupBy("vec_id", "j")
        .agg(F.sum(F.col("sg") * F.col("xm")).cast("bigint").alias("zj"))
    )
    za, zb = z.alias("a"), z.alias("b")
    dz = (
        za.join(
            zb,
            (F.col("a.j") == F.col("b.j"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib")
        )
        .agg(
            F.sum(
                (F.col("a.zj") - F.col("b.zj"))
                * (F.col("a.zj") - F.col("b.zj"))
            )
            .cast("bigint")
            .alias("dz2")
        )
    )
    ea, eb = e.alias("a"), e.alias("b")
    dx = (
        ea.join(
            eb,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib")
        )
        .agg(
            F.sum(
                (F.col("a.xm") - F.col("b.xm"))
                * (F.col("a.xm") - F.col("b.xm"))
            )
            .cast("bigint")
            .alias("dx2")
        )
    )
    r = (
        dz.join(dx, ["ia", "ib"])
        .filter(F.col("dx2") > 0)
        .select(
            F.expr(
                f"CAST(round(CAST(dz2 AS DOUBLE)"
                f" / ({_JL_K}E0 * CAST(dx2 AS DOUBLE)) * 1000000, 0)"
                " AS BIGINT)"
            ).alias("ratio_micro")
        )
    )
    return (
        r.groupBy(F.expr("CAST(ratio_micro DIV 100000 AS BIGINT)").alias("band"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.expr(
                "CAST(round(CAST(SUM(ratio_micro) AS DOUBLE) / COUNT(*), 0)"
                " AS BIGINT)"
            ).alias("mean_ratio_micro"),
        )
        .orderBy("band")
    )


#: kNN-graph reciprocity neighborhood size.
_RECIP_K = 10


@register(
    "knn_reciprocity_rate",
    oracle=f"""
    WITH v AS (
      SELECT vec_id,
             list_transform(CAST(embedding AS DOUBLE[]),
               x -> CAST(round(x * 1000000) AS BIGINT)) AS qe
      FROM embeddings
      WHERE vec_id % {_ID_SAMPLE_MOD} = 0 AND vec_id < {_ID_SAMPLE_CAP}),
    d AS (
      SELECT a.vec_id AS sid, b.vec_id AS nid,
             CAST(list_sum(list_transform(range(1, {EMB_DIM + 1}),
               i -> (a.qe[i] - b.qe[i]) * (a.qe[i] - b.qe[i])))
               AS BIGINT) AS d2
      FROM v a JOIN v b ON a.vec_id <> b.vec_id),
    nn AS (
      SELECT sid, nid FROM (
        SELECT sid, nid,
               ROW_NUMBER() OVER (PARTITION BY sid ORDER BY d2, nid) AS rn
        FROM d) t WHERE rn <= {_RECIP_K}),
    mut AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_mutual
      FROM nn a JOIN nn b ON a.sid = b.nid AND a.nid = b.sid),
    s AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM v) AS n_sample,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM nn) AS n_edges,
             (SELECT n_mutual FROM mut) AS n_mutual)
    SELECT n_sample, n_edges, n_mutual,
           CAST(n_mutual * 1000000 // n_edges AS BIGINT)
             AS reciprocity_ppm
    FROM s
    """,
)
def knn_reciprocity_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocity of the k-NN digraph (k = 10) over the fenced
    embedding sample: the share of directed nearest-neighbor edges
    whose REVERSE edge also exists. The diagnostic pairs with
    hubness_k_occurrence — hubs are exactly the points that appear in
    many lists while reciprocating few, so reciprocity dropping with
    dimensionality is the same curse read as a rate: mutual-kNN graphs
    (the robust clustering/dedup primitive) keep only reciprocal
    edges, and this op says what fraction of the graph survives that
    cut BEFORE you build it.

    Exactness: exact int64 micro-tick distances, integer ranks with
    the vec_id tiebreak, integer mutual-edge count via a self-join on
    the reversed pair, floor-ppm rate.

    Scale: sample↔sample distances under the same MOD+hard-cap fence
    as the other audit evals (the Arrow kernel serves the pairs; the
    kNN cut is a WindowGroupLimit on ≤CAP partitions); the mutual join
    runs on the k·|sample| edge list.
    """
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("bigint"),
        ).alias("qe"),
    )
    d = _sample_pair_d2(spark, emb)
    in_sample = (F.col("nid") % _ID_SAMPLE_MOD == 0) & (
        F.col("nid") < _ID_SAMPLE_CAP
    )
    dss = d.filter(in_sample)
    w = Window.partitionBy("sid").orderBy("d2", "nid")
    nn = (
        dss.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= _RECIP_K)
        .select("sid", "nid")
        .localCheckpoint()  # k·|sample| edges; read by count AND mut
    )
    a, b = nn.alias("a"), nn.alias("b")
    mut = a.join(
        b,
        (F.col("a.sid") == F.col("b.nid")) & (F.col("a.nid") == F.col("b.sid")),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_mutual"))
    ns = emb.filter(
        (F.col("vec_id") % _ID_SAMPLE_MOD == 0)
        & (F.col("vec_id") < _ID_SAMPLE_CAP)
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_sample"))
    ne = nn.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    return (
        ns.crossJoin(F.broadcast(ne))
        .crossJoin(F.broadcast(mut))
        .select(
            "n_sample",
            "n_edges",
            "n_mutual",
            F.expr(
                "CAST(n_mutual * 1000000 DIV n_edges AS BIGINT)"
            ).alias("reciprocity_ppm"),
        )
    )


@register(
    "embedding_participation_ratio",
    oracle="""
    WITH e AS (
      SELECT vec_id, generate_subscripts(embedding, 1) AS d,
             CAST(round(CAST(unnest(embedding) AS DOUBLE) * 1000000, 0)
               AS BIGINT) AS xm
      FROM embeddings),
    nv AS (SELECT CAST(COUNT(*) AS HUGEINT) AS nn FROM embeddings),
    gp AS (
      SELECT a.d AS di, b.d AS dj,
             CAST(SUM(CAST(a.xm AS HUGEINT) * b.xm) AS HUGEINT) AS sv
      FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.d <= b.d
      GROUP BY 1, 2),
    gn AS (SELECT di, dj, CAST(sv // nn AS BIGINT) AS g FROM gp, nv),
    s AS (
      SELECT CAST(SUM(CASE WHEN di = dj THEN g ELSE 0 END) AS HUGEINT)
               AS tr,
             CAST(SUM(CASE WHEN di = dj THEN CAST(g AS HUGEINT) * g
                           ELSE 2 * CAST(g AS HUGEINT) * g END)
               AS HUGEINT) AS trg2
      FROM gn)
    SELECT (SELECT CAST(nn AS BIGINT) FROM nv) AS n_vectors,
           CAST(tr AS BIGINT) AS trace_g,
           CAST(round(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)
             / CAST(trg2 AS DOUBLE) * 1000000E0, 0) AS BIGINT)
             AS pr_micro
    FROM s
    """,
)
def embedding_participation_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Participation ratio (effective rank) of the embedding second-
    moment matrix: PR = tr(G)²/tr(G²) = (Σλ)²/Σλ² — "how many
    dimensions actually carry the energy", WITHOUT an
    eigendecomposition (embedding_pca_power needs iteration and is
    rows-only; PR is a closed form over the Gram matrix, so it gets a
    full hash-green oracle). PR ≈ dim says isotropic; PR ≪ dim says
    the space collapsed and ANN recall targets should be recalibrated
    against jl_projection/intrinsic_dim readings.

    Exactness: integer micro ticks; batch Gram via the partial-Gram
    Arrow kernel (int64 matmul, exact); global entries on decimal128;
    each entry FLOOR-divided by N (the subtract-pmod device mirrors
    DuckDB's //) so the squared sums stay inside decimal128 at ANY SF
    (raw ΣG² dies at sf≈10); tr and tr(G²) are exact integers, the
    ratio one mirrored expression.

    Scale: one corpus pass, dim(dim+1)/2 partial rows per Arrow batch;
    everything after is arithmetic on ≤ 2 k rows.
    """
    import numpy as np
    import pandas as pd

    emb = load_table(spark, sf_dir, "embeddings").select(
        F.transform(
            "embedding",
            lambda x: F.round(x.cast("double") * 1_000_000, 0).cast("bigint"),
        ).alias("qe")
    )

    def gram_batches(batches):
        for pdf in batches:
            m = np.stack(pdf["qe"].to_numpy()).astype(np.int64)
            dim = m.shape[1]
            g = m.T @ m
            iu = np.triu_indices(dim)
            out = pd.DataFrame(
                {
                    "di": (iu[0] + 1).astype(np.int64),
                    "dj": (iu[1] + 1).astype(np.int64),
                    "sv": g[iu],
                }
            )
            cnt = pd.DataFrame({"di": [0], "dj": [0], "sv": [len(pdf)]})
            yield pd.concat([out, cnt], ignore_index=True)

    partial = emb.mapInPandas(gram_batches, "di int, dj int, sv bigint")
    tot = partial.groupBy("di", "dj").agg(
        F.sum(F.col("sv").cast("decimal(38,0)")).alias("sv")
    ).localCheckpoint()  # ≤ dim²/2 + 1 rows; read by n AND both sums
    n = tot.filter((F.col("di") == 0) & (F.col("dj") == 0)).select(
        F.col("sv").cast("decimal(19,0)").alias("nn")
    )
    gn = (
        tot.filter(F.col("di") > 0)
        .crossJoin(F.broadcast(n))
        .select(
            "di",
            "dj",
            F.expr("CAST((sv - pmod(sv, nn)) / nn AS BIGINT)").alias("g"),
        )
    )
    gd = F.col("g").cast("decimal(19,0)")
    s = gn.agg(
        F.sum(F.when(F.col("di") == F.col("dj"), F.col("g")).otherwise(0))
        .cast("decimal(38,0)")
        .alias("tr"),
        F.sum(
            F.when(F.col("di") == F.col("dj"), gd * gd).otherwise(
                F.lit(2).cast("decimal(19,0)") * gd * gd
            )
        )
        .cast("decimal(38,0)")
        .alias("trg2"),
    )
    return s.crossJoin(F.broadcast(n)).select(
        F.col("nn").cast("bigint").alias("n_vectors"),
        F.col("tr").cast("bigint").alias("trace_g"),
        F.expr(
            "CAST(round(CAST(tr AS DOUBLE) * CAST(tr AS DOUBLE)"
            " / CAST(trg2 AS DOUBLE) * 1000000E0, 0) AS BIGINT)"
        ).alias("pr_micro"),
    )


#: hard-negative cosine band: above random noise, below the near-dup
#: threshold — the pairs a contrastive loss learns the most from
HN_COS_LO = 0.1
HN_TOPK = 3


def _hard_negative_oracle() -> str:
    return f"""
    WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
    {_sql_capped_cte("capped", _lsh_planes(), EMB_LSH_BUCKET_CAP)},
    cand AS (
      SELECT a.vec_id AS vec_id_1, b.vec_id AS vec_id_2
      FROM capped a JOIN capped b
        ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
    verified AS (
      SELECT c.vec_id_1, c.vec_id_2,
             CAST(round({_SQL_COS} * 1000000E0, 0) AS BIGINT) AS cos_micro
      FROM cand c JOIN v a ON a.vec_id = c.vec_id_1
      JOIN v b ON b.vec_id = c.vec_id_2
      WHERE {_SQL_COS} >= {HN_COS_LO} AND {_SQL_COS} < {COSINE_DEDUP_THRESHOLD}),
    bidir AS (
      SELECT vec_id_1 AS anchor_id, vec_id_2 AS neg_id, cos_micro
      FROM verified
      UNION ALL
      SELECT vec_id_2, vec_id_1, cos_micro FROM verified),
    ranked AS (
      SELECT anchor_id, neg_id, cos_micro,
             ROW_NUMBER() OVER (PARTITION BY anchor_id
                                ORDER BY cos_micro DESC, neg_id) AS rk
      FROM bidir)
    SELECT anchor_id, neg_id, cos_micro, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {HN_TOPK}
    ORDER BY anchor_id, rk
    """


@register("hard_negative_mining_topk", oracle=_hard_negative_oracle())
def hard_negative_mining_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive-training hard-negative mining: for every anchor
    embedding, the top-{HN_TOPK} most-similar vectors in the
    [{HN_COS_LO}, {COSINE_DEDUP_THRESHOLD}) cosine band — similar
    enough to be informative, below the near-dup threshold so they are
    genuinely NEGATIVE. Random negatives teach an embedding model
    nothing once it separates topics; these boundary pairs are where
    the loss gradient lives — the standard mining step in front of any
    contrastive/triplet fine-tune, fed by the same capped-LSH candidate
    generator as the dedup ladder (one infrastructure, two curriculum
    outputs: pairs above the threshold get DEDUPED, pairs just below
    get MINED).

    Exactness: candidates are the deterministic capped buckets (lowest
    vec_id per bucket survives the cap); cosine quantizes to integer
    micro before the per-anchor ranking with a (cos, neg_id) tie-break,
    so the top-k is deterministic in both engines.

    Scale: the capped-LSH candidate stage is O(buckets·CAP²) regardless
    of skew (the dedup_embedding_lsh_pairs_capped argument); vectors
    ride only the verify join; the per-anchor rank partitions on
    anchor_id.

    r11, plan-verified: both anchor directions explode from ONE pass
    over the verified band pairs instead of a unionAll whose two legs
    each re-ran the whole candidate+verify pipeline (exchange reuse
    never fires across the renamed legs). Plan: 16 parquet scans → 8,
    one candidate/verify subtree instead of two."""
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").alias("emb")
    )
    capped = _capped_bucket_ids(emb, _lsh_planes(), EMB_LSH_BUCKET_CAP)
    cand = _bucket_pairs(capped)
    e1 = emb.select(F.col("vec_id").alias("vec_id_1"), F.col("emb").alias("emb_1"))
    e2 = emb.select(F.col("vec_id").alias("vec_id_2"), F.col("emb").alias("emb_2"))
    sim = cosine(F.col("emb_1"), F.col("emb_2"))
    verified = (
        cand.join(e1, "vec_id_1")
        .join(e2, "vec_id_2")
        .select("vec_id_1", "vec_id_2", sim.alias("cos_raw"))
        .filter(
            (F.col("cos_raw") >= HN_COS_LO)
            & (F.col("cos_raw") < COSINE_DEDUP_THRESHOLD)
        )
        .select(
            "vec_id_1",
            "vec_id_2",
            F.round(F.col("cos_raw") * 1e6, 0).cast("bigint").alias("cos_micro"),
        )
    )
    both = verified.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("vec_id_1").alias("anchor_id"),
                    F.col("vec_id_2").alias("neg_id"),
                    F.col("cos_micro"),
                ),
                F.struct(
                    F.col("vec_id_2").alias("anchor_id"),
                    F.col("vec_id_1").alias("neg_id"),
                    F.col("cos_micro"),
                ),
            )
        ).alias("p")
    ).select("p.anchor_id", "p.neg_id", "p.cos_micro")
    w = Window.partitionBy("anchor_id").orderBy(
        F.desc("cos_micro"), "neg_id"
    )
    return (
        both.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= HN_TOPK)
        .orderBy("anchor_id", "rk")
    )
