"""Similarity search over the ``embeddings`` table (array<float> column).

Baseline: brute-force cosine top-k as pure JVM expressions (zip_with +
aggregate fold — deterministic left-to-right double summation, which is
why the DuckDB oracle's list_dot_product matches bit-for-bit before
rounding). Scale path: hyperplane-LSH bucketing so the 100 TB variant
probes one bucket instead of scanning all vectors.
"""

from __future__ import annotations

import functools
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from goose_spark.queries import load

TOP_K = 10
QUERY_VEC_ID = 0


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def _norm(a):
    return F.sqrt(_dot(a, a))


def _query_vector(spark: SparkSession, sf_dir: str) -> list[float]:
    row = (
        load(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") == QUERY_VEC_ID)
        .select("embedding").first()
    )
    return [float(x) for x in row[0]]


def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k vs the embedding of vec_id=0.

    The query vector is a scalar job parameter (one collected row), NOT a
    driver-side data loop; the scan-side math is whole-stage codegen.
    """
    q = _query_vector(spark, sf_dir)
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != QUERY_VEC_ID)
    emb = F.col("embedding").cast("array<double>")
    qcol = F.array(*[F.lit(x) for x in q])
    cos = _dot(emb, qcol) / (_norm(emb) * _norm(qcol))
    return (
        e.select("vec_id", F.round(cos, 4).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("vec_id"))
        .limit(TOP_K)
    )


def oracle_ann_cosine_topk(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """Oracle SQL is parameterized by the same query vector, read via
    pyarrow so rendering never depends on a live SparkSession (the
    previous getActiveSession() path silently degraded the probe to
    rows-only whenever oracle_sql() ran outside a session)."""
    q = _oracle_query_vector(sf_dir)
    lit = "[" + ", ".join(repr(x) for x in q) + "]::DOUBLE[]"
    return f"""
WITH q AS (SELECT {lit} AS qv)
SELECT vec_id,
       ROUND(list_dot_product(CAST(embedding AS DOUBLE[]), qv)
             / (sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
                                      CAST(embedding AS DOUBLE[])))
                * sqrt(list_dot_product(qv, qv))), 4) AS cosine
FROM embeddings, q
WHERE vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
"""


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate scores over within-label pairs.

    The blocking key (`label`; at 100 TB an LSH/IVF bucket) bounds the
    self-join — never a full cross join. All pair scores are returned so
    the oracle compares values, not a threshold's boundary behavior.
    """
    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("v"))
    a = e.alias("a")
    b = e.select(F.col("vec_id").alias("vec_id_b"), F.col("label").alias("label_b"),
                 F.col("v").alias("v_b"))
    cos = _dot(F.col("v"), F.col("v_b")) / (_norm(F.col("v")) * _norm(F.col("v_b")))
    return (
        a.join(b, (F.col("a.label") == F.col("label_b"))
               & (F.col("a.vec_id") < F.col("vec_id_b")))
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("vec_id_b").alias("id_b"),
            F.col("a.label").alias("label"),
            # + 0.0 folds IEEE -0.0 from round() to +0.0 (oracle parity)
            (F.round(cos, 4) + F.lit(0.0)).alias("cosine"),
        )
    )


ORACLE_EMBED_NEARDUP = """
WITH t AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.label AS label,
       ROUND(list_dot_product(a.v, b.v)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(b.v, b.v))), 4) + 0.0 AS cosine
FROM t a JOIN t b ON a.label = b.label AND a.vec_id < b.vec_id
"""


# ---- hyperplane LSH: engine-exact bucketing --------------------------------
# Bucket bits must be identical in Spark and the DuckDB oracle, so the
# projection is EXACT integer arithmetic carried in doubles: embeddings
# quantized via floor(v * 1000) (same double multiply + floor in every
# IEEE engine) dotted with integer hyperplane components. Products are
# ≤ 1e3 · 2^31 and 64-term sums stay far below 2^53, so any summation
# order yields the same integer — the sign (bucket bit) cannot drift.
QUANT = 1000.0


def _plane_int(p: int, j: int) -> int:
    """Deterministic integer hyperplane component in [-2^31, 2^31)."""
    return ((p * 1_000_003 + j) * 2654435761 % 2**32) - 2**31


def _quantized(emb):
    return F.transform(emb, lambda x: F.floor(x * F.lit(QUANT)).cast("double"))


def _bucket_expr(emb, dim: int, n_planes: int):
    qv = _quantized(emb)
    bucket = F.lit(0)
    for p in range(n_planes):
        plane = F.array(*[F.lit(float(_plane_int(p, j))) for j in range(dim)])
        bit = (_dot(qv, plane) > 0).cast("int")
        bucket = bucket * 2 + bit
    return bucket


def _bucket_of(vec: list[float], n_planes: int) -> int:
    """Driver-side twin of _bucket_expr (same doubles, same floor)."""
    import math

    q = [float(math.floor(x * QUANT)) for x in vec]
    bucket = 0
    for p in range(n_planes):
        dot = sum(q[j] * float(_plane_int(p, j)) for j in range(len(q)))
        bucket = bucket * 2 + (1 if dot > 0 else 0)
    return bucket


N_PLANES_PROBE = 4  # 16 buckets → ~30 vectors/bucket at sf0.01


def q_ann_lsh_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LSH probe query (the 100 TB read path): top-k cosine ONLY
    within the query vector's bucket — the scan computes each vector's
    bucket and keeps the one bucket; at cluster scale the bucket is a
    precomputed partition column, so this filter becomes partition
    pruning and the plan reads 1/2^planes of the table.

    Oracle-green: bucketing is exact integer math (see _bucket_expr), so
    DuckDB reproduces the identical member set; ordering is on the
    ROUNDED cosine + vec_id in both engines."""
    q = _query_vector(spark, sf_dir)
    qbucket = _bucket_of(q, N_PLANES_PROBE)
    e = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") != QUERY_VEC_ID)
    emb = F.col("embedding").cast("array<double>")
    qcol = F.array(*[F.lit(x) for x in q])
    cos = _dot(emb, qcol) / (_norm(emb) * _norm(qcol))
    return (
        e.filter(_bucket_expr(emb, len(q), N_PLANES_PROBE) == qbucket)
        .select("vec_id", (F.round(cos, 4) + F.lit(0.0)).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


@functools.lru_cache(maxsize=None)
def _oracle_query_vector(sf_dir: str) -> tuple[float, ...]:
    """The query vector for the oracles, read with pyarrow so that they
    render without Spark. Cached per sf_dir: one oracle_sql() render
    calls this three times (cosine, lsh probe, ivf probe) and the
    parquet is static."""
    import pyarrow.parquet as pq

    d = pq.read_table(os.path.join(sf_dir, "embeddings.parquet"),
                      columns=["vec_id", "embedding"]).to_pydict()
    by_id = dict(zip(d["vec_id"], d["embedding"]))
    return tuple(float(x) for x in by_id[QUERY_VEC_ID])


def oracle_ann_lsh_probe(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """DuckDB twin of q_ann_lsh_probe: recomputes every vector's bucket
    with the same quantized-integer projection and filters to the query's
    bucket (computed here driver-side with identical double math)."""
    q = _oracle_query_vector(sf_dir)
    dim = len(q)
    qbucket = _bucket_of(q, N_PLANES_PROBE)
    qlit = "[" + ", ".join(repr(x) for x in q) + "]::DOUBLE[]"
    bits = []
    for p in range(N_PLANES_PROBE):
        plane = "[" + ", ".join(str(_plane_int(p, j)) for j in range(dim)) + "]::DOUBLE[]"
        weight = 2 ** (N_PLANES_PROBE - 1 - p)
        bits.append(
            f"(CASE WHEN list_dot_product(list_transform(v, x -> floor(x * {QUANT})),"
            f" {plane}) > 0 THEN {weight} ELSE 0 END)")
    bucket_sql = " + ".join(bits)
    return f"""
WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     q AS (SELECT {qlit} AS qv)
SELECT vec_id,
       ROUND(list_dot_product(v, qv)
             / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(qv, qv))),
             4) + 0.0 AS cosine
FROM t, q
WHERE vec_id != {QUERY_VEC_ID} AND ({bucket_sql}) = {qbucket}
ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
"""


# ---- IVF: one k-means refinement + multi-list probe ------------------------
N_CENTROIDS = 8  # seed centroids: the embeddings of vec_id 0..7
NPROBE = 2    # refined inverted lists probed per query
ROUND_C = 6   # centroid/assignment rounding — absorbs sub-ulp fold-order
              # differences between Spark partial aggs and DuckDB


def q_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF with one k-means refinement iteration and an nprobe=2 list
    probe — the full coarse-quantization read path:

    1. assign every vector to its nearest seed centroid (broadcast join,
       argmax over ROUND(cosine, 6) with centroid_id tie-break),
    2. refine: new centroid = element-wise mean of its assigned vectors
       (posexplode → per-(centroid, pos) avg → array_sort rebuild; a pure
       shuffle-once aggregation — the k-means step at 100 TB is exactly
       this plan repeated),
    3. probe: rank refined centroids by cosine to the query, keep the
       top NPROBE lists, brute-force top-k only inside those lists.

    Oracle-green: every comparison happens on values rounded to 6
    decimals in BOTH engines, so partial-aggregation fold order cannot
    flip an argmax; final cosines rounded to 4 like the other ANN probes.
    """
    from pyspark.sql import Window

    q = _query_vector(spark, sf_dir)
    qcol = F.array(*[F.lit(x) for x in q])

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cent = (
        e.filter(F.col("vec_id") < N_CENTROIDS)
        .select(F.col("vec_id").alias("centroid_id"), F.col("v").alias("c"))
    )

    # 1. assignment to seed centroids
    cos_seed = _dot(F.col("v"), F.col("c")) / (_norm(F.col("v")) * _norm(F.col("c")))
    scored = e.join(F.broadcast(cent)).select(
        "vec_id", "v", "centroid_id", F.round(cos_seed, ROUND_C).alias("cos6"))
    w = Window.partitionBy("vec_id").orderBy(F.col("cos6").desc(), "centroid_id")
    assign = (
        scored.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "v", "centroid_id")
    )

    # 2. one k-means refinement: element-wise mean per centroid
    exploded = assign.select("centroid_id", F.posexplode("v").alias("pos", "val"))
    means = exploded.groupBy("centroid_id", "pos").agg(
        F.round(F.avg("val"), ROUND_C).alias("m"))
    refined = means.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda s: s["m"],
        ).alias("c")
    )

    # 3. probe the NPROBE refined lists nearest to the query
    cos_q_cent = _dot(F.col("c"), qcol) / (_norm(F.col("c")) * _norm(qcol))
    wp = Window.orderBy(F.round(cos_q_cent, ROUND_C).desc(), "centroid_id")
    probed = (
        refined.withColumn("_pr", F.row_number().over(wp))
        .filter(F.col("_pr") <= NPROBE)
        .select("centroid_id")
    )
    cand = assign.join(F.broadcast(probed), "centroid_id").filter(
        F.col("vec_id") != QUERY_VEC_ID)
    cos_final = _dot(F.col("v"), qcol) / (_norm(F.col("v")) * _norm(qcol))
    return (
        cand.select("vec_id",
                    (F.round(cos_final, 4) + F.lit(0.0)).alias("cosine"))
        .orderBy(F.col("cosine").desc(), "vec_id")
        .limit(TOP_K)
    )


def oracle_ann_ivf_probe(sf_dir: str = "/root/testdata/sf0.01") -> str:
    """DuckDB twin of q_ann_ivf_probe (same seed centroids, same one
    refinement iteration, same ROUND(…, 6) comparisons, same nprobe)."""
    q = _oracle_query_vector(sf_dir)
    dim = len(q)
    qlit = "[" + ", ".join(repr(x) for x in q) + "]::DOUBLE[]"
    return f"""
WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     q AS (SELECT {qlit} AS qv),
     c0 AS (SELECT vec_id AS centroid_id, v AS cv FROM t
            WHERE vec_id < {N_CENTROIDS}),
     scored AS (
       SELECT t.vec_id, t.v, c0.centroid_id,
              ROW_NUMBER() OVER (
                PARTITION BY t.vec_id
                ORDER BY ROUND(list_dot_product(t.v, c0.cv)
                        / (sqrt(list_dot_product(t.v, t.v))
                           * sqrt(list_dot_product(c0.cv, c0.cv))),
                        {ROUND_C}) DESC,
                  c0.centroid_id) AS rn
       FROM t, c0),
     assign AS (SELECT vec_id, v, centroid_id FROM scored WHERE rn = 1),
     perpos AS (
       SELECT a.centroid_id, r.i, ROUND(AVG(a.v[r.i]), {ROUND_C}) AS m
       FROM assign a, range(1, {dim + 1}) r(i)
       GROUP BY a.centroid_id, r.i),
     refined AS (
       SELECT centroid_id, list(m ORDER BY i) AS cv
       FROM perpos GROUP BY centroid_id),
     probed AS (
       SELECT centroid_id,
              ROW_NUMBER() OVER (
                ORDER BY ROUND(list_dot_product(cv, qv)
                        / (sqrt(list_dot_product(cv, cv))
                           * sqrt(list_dot_product(qv, qv))),
                        {ROUND_C}) DESC,
                  centroid_id) AS pr
       FROM refined, q)
SELECT a.vec_id,
       ROUND(list_dot_product(a.v, qv)
             / (sqrt(list_dot_product(a.v, a.v))
                * sqrt(list_dot_product(qv, qv))), 4) + 0.0 AS cosine
FROM assign a
JOIN probed p ON a.centroid_id = p.centroid_id AND p.pr <= {NPROBE}, q
WHERE a.vec_id != {QUERY_VEC_ID}
ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
"""


# ---- SemDeDup: semantic deduplication via cluster-blocked cosine -----------
# [canon: SemDeDup, Abbas et al. 2023, arXiv:2303.09540] — the published
# recipe for semantic dedup at web scale: k-means the embedding space,
# then prune near-duplicates ONLY within each cluster (the cluster is
# the blocking key, so the quadratic pair step is bounded by cluster
# size, never N²). Policy here: a vector is dropped when a LOWER-id
# member of its cluster sits within cosine >= SEMDEDUP_TAU (the paper
# keeps one representative per epsilon-ball; lowest-id is the
# deterministic stand-in for its "keep the one farthest from the
# centroid" heuristic, which would tie-break unstably on this synthetic
# corpus).
#
# Scale shape: centroid assignment is a broadcast of K tiny rows + a
# vec_id-keyed argmax window (ORACLE_SEMDEDUP recomputes it);
# the pair step is textops.bucket_pairs keyed by centroid_id, the same
# bounded kernel as the MinHash and SimHash bands. SemDeDup's K grows
# with N (paper: K ~ N/10k), so a cluster normally stays under
# HOT_BUCKET_CAP and gets its exact clique; a hot cluster emits linear
# star edges between IDENTICAL vectors only (exact = v), so it can
# under-deduplicate but never drops a wrong vector. The kept flag
# rejoins on vec_id (8-byte key, AQE-splittable).
SEMDEDUP_TAU = 0.35  # sf0.01: drops 76/500 — non-degenerate either way


def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup keep/drop decision per vector: seed-centroid assignment
    (vec_id < N_CENTROIDS, checked by ORACLE_SEMDEDUP's own argmax),
    then within-cluster cosine
    pruning against lower-id members at SEMDEDUP_TAU."""
    from pyspark.sql import Window

    from goose_spark.textops import bucket_pairs

    e = load(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v"))
    cent = (
        e.filter(F.col("vec_id") < N_CENTROIDS)
        .select(F.col("vec_id").alias("centroid_id"), F.col("v").alias("c"))
    )
    cos_c = _dot(F.col("v"), F.col("c")) / (_norm(F.col("v")) * _norm(F.col("c")))
    w = Window.partitionBy("vec_id").orderBy(
        F.col("cosine").desc(), F.col("centroid_id"))
    asg = (
        e.join(F.broadcast(cent))
        .select("vec_id", "v", "centroid_id", cos_c.alias("cosine"))
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("vec_id", "v", "centroid_id")
    )
    members = asg.select(
        "centroid_id", F.col("v").alias("exact"),
        F.struct(F.col("vec_id").alias("id"), "v").alias("m"))
    pair_cos = _dot(F.col("a.v"), F.col("b.v")) / (
        _norm(F.col("a.v")) * _norm(F.col("b.v")))
    dropped = (
        bucket_pairs(members, ["centroid_id"])
        .filter(pair_cos >= SEMDEDUP_TAU)
        .select(F.col("b.id").alias("vec_id")).distinct()
    )
    return (
        asg.join(dropped.withColumn("_d", F.lit(1)), "vec_id", "left")
        .select(
            "vec_id", "centroid_id",
            F.when(F.col("_d").isNull(), F.lit(1)).otherwise(F.lit(0))
            .alias("kept"),
        )
    )


_SEMDEDUP_COS = ("list_dot_product({a}.v, {b}.v)"
                 " / (sqrt(list_dot_product({a}.v, {a}.v))"
                 " * sqrt(list_dot_product({b}.v, {b}.v)))")

ORACLE_SEMDEDUP = f"""
WITH t AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
     c AS (SELECT vec_id AS centroid_id, v AS cv FROM t
           WHERE vec_id < {N_CENTROIDS}),
     s AS (
       SELECT t.vec_id, c.centroid_id, t.v,
              ROW_NUMBER() OVER (
                PARTITION BY t.vec_id
                ORDER BY list_dot_product(t.v, c.cv)
                           / (sqrt(list_dot_product(t.v, t.v))
                              * sqrt(list_dot_product(c.cv, c.cv))) DESC,
                         c.centroid_id) AS rn
       FROM t, c),
     asg AS (SELECT vec_id, centroid_id, v FROM s WHERE rn = 1),
     dropped AS (
       SELECT DISTINCT b.vec_id
       FROM asg a JOIN asg b
         ON a.centroid_id = b.centroid_id AND a.vec_id < b.vec_id
       WHERE {_SEMDEDUP_COS.format(a='a', b='b')} >= {SEMDEDUP_TAU})
SELECT asg.vec_id, asg.centroid_id,
       CASE WHEN d.vec_id IS NULL THEN 1 ELSE 0 END AS kept
FROM asg LEFT JOIN dropped d ON asg.vec_id = d.vec_id
"""
