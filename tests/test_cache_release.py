"""Operators that gate on their own intermediate results must not leave
anything cached: after the output is consumed, the session holds no
more persisted RDDs than before and no ``CacheManager`` entry."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from mobilitydb_spark import joins
from mobilitydb_spark.datagen import similarity


def _knn(spark):
    rng = np.random.default_rng(3)
    pdf = pd.DataFrame({"c_id": np.arange(400),
                        "lon": rng.uniform(0, 2, 400),
                        "lat": rng.uniform(40, 41, 400)})
    c = spark.createDataFrame(pdf)
    q = c.where(F.col("c_id") % 20 == 0).withColumnRenamed("c_id", "q_id")
    return joins.knn_join(q, c, 5, resolutions=(12, 10, 8))


def _embeddings(spark):
    rng = np.random.default_rng(5)
    vec = rng.normal(size=(300, 64))
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    c = spark.createDataFrame(
        [(i, v.astype(np.float32).tolist()) for i, v in enumerate(vec)],
        "cid bigint, embedding array<float>")
    q = c.where(F.col("cid") < 10).withColumnRenamed("cid", "qid")
    return q, c


OPS = {
    "knn_join": _knn,
    "ivf_topk": lambda spark: similarity.ivf_topk(*_embeddings(spark), 5),
    "lsh_topk": lambda spark: similarity.lsh_topk(*_embeddings(spark), 5),
}


@pytest.mark.parametrize("op", sorted(OPS))
def test_no_cache_outlives_the_consuming_action(spark, op):
    jsc = spark.sparkContext._jsc
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    before = jsc.getPersistentRDDs().size()
    assert cache.isEmpty()
    rows = OPS[op](spark).collect()
    assert len(rows) > 0
    assert jsc.getPersistentRDDs().size() == before
    assert cache.isEmpty()
