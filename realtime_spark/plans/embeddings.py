"""Embedding-column analytics expressed fully relationally — posexplode to
(row, dim, value) triples, aggregate, reassemble — so Catalyst/Tungsten run
the whole pipeline JVM-side with map-side partial aggregation; no Python
UDF touches the hot path. Complements operators/similarity.py (brute-force
/ IVF / SRP ANN search) with corpus-statistics ops a training pipeline
needs: per-class centroids, outlier scoring vs centroid, class-separation
matrix, int8 quantization.

Scale notes (100 TB): the exploded triple relation is dims× the row count
but each triple is 20 bytes and immediately partially aggregated map-side;
the shuffle carries only (label, dim) or (vec_id) partials. Centroids
(n_labels × dims) are reassembled into arrays and broadcast back for the
cosine pass — the big side shuffles zero times for `emb_int8_quantize` and
once (by its own key, for the final agg) elsewhere.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_spark.operators.text import quantize
from realtime_spark.sources.testdata import load_table

_SQL_Q4 = "floor({expr} * 10000.0 + 0.5) / 10000.0"


def _triples(emb: DataFrame) -> DataFrame:
    """(vec_id, label, i [1-based], e) exploded triples."""
    return emb.select(
        "vec_id", "label", F.posexplode("embedding").alias("i0", "e")
    ).select(
        "vec_id",
        "label",
        (F.col("i0") + 1).alias("i"),
        # both engines must do the arithmetic in float64: float32-native
        # ops would round differently between them
        F.col("e").cast("double").alias("e"),
    )


def label_centroids(emb: DataFrame) -> DataFrame:
    """Per-(label, dim) mean — the flat form of per-class centroids."""
    return _triples(emb).groupBy("label", "i").agg(F.avg("e").alias("m"))


def q_emb_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return label_centroids(emb).select(
        "label", "i", quantize(F.col("m"), 4).alias("m")
    )


ORACLE_EMB_LABEL_CENTROIDS = f"""
WITH u AS (
  SELECT label, i, CAST(e AS DOUBLE) AS e FROM (
    SELECT label, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS e
    FROM embeddings)
)
SELECT label, i, {_SQL_Q4.format(expr="AVG(e)")} AS m
FROM u GROUP BY label, i
"""


def q_emb_cosine_to_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier scoring: every vector's cosine similarity to its own label
    centroid. Centroid dim-means are broadcast back onto the exploded
    triples; one groupBy(vec_id) completes the dot/norm sums."""
    emb = load_table(spark, sf_dir, "embeddings")
    cent = label_centroids(emb).withColumnRenamed("label", "c_label")
    t = _triples(emb)
    j = t.join(
        F.broadcast(cent),
        (t["label"] == F.col("c_label")) & (t["i"] == cent["i"]),
    )
    per_vec = j.groupBy("vec_id").agg(
        F.sum(F.col("e") * F.col("m")).alias("dot"),
        F.sum(F.col("e") * F.col("e")).alias("ee"),
        F.sum(F.col("m") * F.col("m")).alias("mm"),
    )
    return per_vec.select(
        "vec_id",
        quantize(
            F.when(
                F.sqrt(F.col("ee")) * F.sqrt(F.col("mm")) != 0.0,
                F.col("dot") / (F.sqrt(F.col("ee")) * F.sqrt(F.col("mm"))),
            ),
            4,
        ).alias("cos_to_centroid"),
    )


ORACLE_EMB_COSINE_TO_CENTROID = f"""
WITH u AS (
  SELECT vec_id, label, i, CAST(e AS DOUBLE) AS e FROM (
    SELECT vec_id, label, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS e
    FROM embeddings)
),
cent AS (SELECT label, i, AVG(e) AS m FROM u GROUP BY label, i),
s AS (
  SELECT u.vec_id,
         SUM(u.e * cent.m) AS dot, SUM(u.e * u.e) AS ee, SUM(cent.m * cent.m) AS mm
  FROM u JOIN cent ON u.label = cent.label AND u.i = cent.i
  GROUP BY u.vec_id
)
SELECT vec_id, {_SQL_Q4.format(expr="CASE WHEN (sqrt(ee) * sqrt(mm)) <> 0 THEN dot / (sqrt(ee) * sqrt(mm)) END")} AS cos_to_centroid
FROM s
"""


def q_emb_label_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Class-separation matrix: cosine similarity between every pair of
    label centroids (upper triangle). n_labels² is tiny — the work is the
    one centroid aggregation; the pairwise pass is a broadcast self-join."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = label_centroids(emb).select(
        F.col("label").alias("la"), "i", F.col("m").alias("ma")
    )
    b = label_centroids(emb).select(
        F.col("label").alias("lb"), F.col("i").alias("ib"), F.col("m").alias("mb")
    )
    j = a.join(F.broadcast(b), (F.col("i") == F.col("ib")) & (F.col("la") < F.col("lb")))
    pair = j.groupBy("la", "lb").agg(
        F.sum(F.col("ma") * F.col("mb")).alias("dot"),
        F.sum(F.col("ma") * F.col("ma")).alias("aa"),
        F.sum(F.col("mb") * F.col("mb")).alias("bb"),
    )
    return pair.select(
        "la",
        "lb",
        quantize(
            F.when(
                F.sqrt(F.col("aa")) * F.sqrt(F.col("bb")) != 0.0,
                F.col("dot") / (F.sqrt(F.col("aa")) * F.sqrt(F.col("bb"))),
            ),
            4,
        ).alias("centroid_cos"),
    )


ORACLE_EMB_LABEL_SEPARATION = f"""
WITH u AS (
  SELECT label, i, CAST(e AS DOUBLE) AS e FROM (
    SELECT label, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS e
    FROM embeddings)
),
cent AS (SELECT label, i, AVG(e) AS m FROM u GROUP BY label, i),
p AS (
  SELECT a.label AS la, b.label AS lb,
         SUM(a.m * b.m) AS dot, SUM(a.m * a.m) AS aa, SUM(b.m * b.m) AS bb
  FROM cent a JOIN cent b ON a.i = b.i AND a.label < b.label
  GROUP BY a.label, b.label
)
SELECT la, lb, {_SQL_Q4.format(expr="CASE WHEN (sqrt(aa) * sqrt(bb)) <> 0 THEN dot / (sqrt(aa) * sqrt(bb)) END")} AS centroid_cos
FROM p
"""


def q_emb_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Int8 vector quantization: per-dimension corpus min/max -> affine
    code floor((e-lo)*255/(hi-lo) + 0.5). Codes are exact across engines
    (no order-dependent float sums before the floor); the output is each
    vector's code checksum + first/last code. The min/max dim stats are a
    broadcast dimension — the big side never shuffles before its own
    groupBy(vec_id)."""
    emb = load_table(spark, sf_dir, "embeddings")
    t = _triples(emb)
    stats = t.groupBy(F.col("i").alias("si")).agg(
        F.min("e").alias("lo"), F.max("e").alias("hi")
    )
    j = t.join(F.broadcast(stats), t["i"] == F.col("si"))
    code = F.floor(
        (F.col("e") - F.col("lo")) * 255.0 / (F.col("hi") - F.col("lo")) + 0.5
    ).cast("int")
    coded = j.select("vec_id", "i", code.alias("code"))
    return coded.groupBy("vec_id").agg(
        F.sum("code").alias("code_sum"),
        F.min_by("code", "i").alias("first_code"),
        F.max_by("code", "i").alias("last_code"),
    )


ORACLE_EMB_INT8_QUANTIZE = """
WITH u AS (
  SELECT vec_id, i, CAST(e AS DOUBLE) AS e FROM (
    SELECT vec_id, generate_subscripts(embedding, 1) AS i, unnest(embedding) AS e
    FROM embeddings)
),
stats AS (SELECT i, MIN(e) AS lo, MAX(e) AS hi FROM u GROUP BY i),
coded AS (
  SELECT vec_id, u.i,
         CAST(floor((e - lo) * 255.0 / (hi - lo) + 0.5) AS INTEGER) AS code
  FROM u JOIN stats ON u.i = stats.i
)
SELECT vec_id, CAST(SUM(code) AS BIGINT) AS code_sum,
       arg_min(code, i) AS first_code, arg_max(code, i) AS last_code
FROM coded GROUP BY vec_id
"""


def embeddings_queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "emb_label_centroids": q_emb_label_centroids,
        "emb_cosine_to_centroid": q_emb_cosine_to_centroid,
        "emb_label_separation": q_emb_label_separation,
        "emb_int8_quantize": q_emb_int8_quantize,
    }


def embeddings_oracles() -> dict[str, str]:
    return {
        "emb_label_centroids": ORACLE_EMB_LABEL_CENTROIDS,
        "emb_cosine_to_centroid": ORACLE_EMB_COSINE_TO_CENTROID,
        "emb_label_separation": ORACLE_EMB_LABEL_SEPARATION,
        "emb_int8_quantize": ORACLE_EMB_INT8_QUANTIZE,
    }
