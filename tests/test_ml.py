"""Spark ML text-classification pipeline tests (plumbing + determinism —
the synthetic word-bag corpus carries no real lang signal, so accuracy is
not asserted; the reference notebook's quality metrics are human-reviewed
there too)."""

from __future__ import annotations

import pyspark.sql.functions as F

from conftest import SF_DIR
from synth_transform_spark.operators import ml
from synth_transform_spark.sources.readers import load_table


def test_confusion_covers_holdout(spark):
    docs = load_table(spark, SF_DIR, "documents")
    out = ml.train_and_score(docs)
    holdout = docs.filter(F.col("doc_id") % 5 == 0)
    assert out.agg(F.sum("n")).first()[0] == holdout.count()
    langs = {r.lang for r in docs.select("lang").distinct().collect()}
    got = out.collect()
    assert {r.label_str for r in got} <= langs
    assert {r.predicted_str for r in got} <= langs | {"__unknown__"}


def test_training_is_deterministic(spark):
    docs = load_table(spark, SF_DIR, "documents")
    a = sorted(map(tuple, ml.train_and_score(docs).collect()))
    b = sorted(map(tuple, ml.train_and_score(docs).collect()))
    assert a == b


def test_tokeniser_matches_reference_regex(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World! a bb-cc 123 x")], ["doc_id", "text"]
    )
    toks = df.select(ml.tokens_col("text").alias("t")).first().t
    # lowercase, non [a-z ] stripped to space, len>1 survivors only
    assert toks == ["hello", "world", "bb", "cc"]


def test_deterministic_pca_scalar_output_and_variance_order(spark):
    from synth_transform_spark.operators.ml import deterministic_pca_project
    from synth_transform_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    out = deterministic_pca_project(emb, k=2, dim=64, rounds=40).toPandas()
    assert len(out) == emb.count()
    # scalar columns only (the driver canonicalizer cannot hash arrays)
    assert list(out.columns) == ["vec_id", "pc1", "pc2"]
    assert out.pc1.var() >= out.pc2.var()
    # svd_flip canonicalisation + rounded recurrence = bit-deterministic
    again = deterministic_pca_project(emb, k=2, dim=64, rounds=40).toPandas()
    assert out.sort_values("vec_id").pc1.tolist() == again.sort_values("vec_id").pc1.tolist()


def test_rows_output_covers_holdout_with_correct_flag(spark):
    docs = load_table(spark, SF_DIR, "documents")
    out = ml.train_and_predict(docs).toPandas()
    holdout = docs.filter(F.col("doc_id") % 5 == 0)
    assert len(out) == holdout.count()
    assert list(out.columns) == ["doc_id", "label_str", "predicted_str", "correct"]
    assert ((out.label_str == out.predicted_str).astype(int) == out.correct).all()


def test_accuracy_floor_on_learnable_label(spark):
    """The synthetic `lang` column carries no text signal, so the accuracy
    gate runs on a label the bag-of-words model CAN learn: presence of a
    specific token. Holdout accuracy must clear 0.9."""
    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "derived",
        F.when(F.array_contains(F.split(F.col("text"), " "), "key"), "has-key")
        .otherwise("other"),
    )
    out = ml.train_and_predict(docs, label_col="derived").toPandas()
    assert len(out) > 0
    # both classes must actually occur, or the floor is vacuous
    assert set(out.label_str) == {"has-key", "other"}
    assert out.correct.mean() >= 0.9


def test_svc_family_accuracy_floor_and_schema(spark):
    """The reference trains an sklearn SVC (classifiers.ipynb cells 12-18);
    the OneVsRest(LinearSVC) twin must clear the same learnable-label floor
    and emit the identical verdict relation as the LR path."""
    docs = load_table(spark, SF_DIR, "documents").withColumn(
        "derived",
        F.when(F.array_contains(F.split(F.col("text"), " "), "key"), "has-key")
        .otherwise("other"),
    )
    out = ml.train_and_predict(docs, label_col="derived", family="svc").toPandas()
    assert list(out.columns) == ["doc_id", "label_str", "predicted_str", "correct"]
    assert set(out.label_str) == {"has-key", "other"}
    assert out.correct.mean() >= 0.9


def test_pickled_scorer_matches_spark_model(spark):
    """Export → broadcast → mapInPandas scoring must reproduce the Spark
    model's own probabilities (max per row) and predicted labels."""
    import numpy as np
    from pyspark.ml.functions import vector_to_array

    docs = load_table(spark, SF_DIR, "documents")
    prepped = ml.prepare(docs)
    fitted = ml.build_export_pipeline().fit(prepped)
    model_bytes = ml.export_pickled_model(fitted)

    mine = ml.score_pickled(docs, model_bytes).toPandas().set_index("doc_id").sort_index()
    labels = fitted.stages[0].labelsArray[0]
    ref = (
        fitted.transform(prepped)
        .select(
            "doc_id",
            F.array_max(vector_to_array("probability")).alias("p"),
            F.col("prediction").cast("int").alias("pi"),
        )
        .toPandas()
        .set_index("doc_id")
        .sort_index()
    )
    assert np.allclose(mine.probability.values, ref.p.values, atol=1e-9)
    assert [labels[i] for i in ref.pi] == list(mine.predicted_str)


def test_probability_outliers_matches_population_zscore(spark):
    import numpy as np

    docs = load_table(spark, SF_DIR, "documents")
    prepped = ml.prepare(docs)
    model_bytes = ml.export_pickled_model(ml.build_export_pipeline().fit(prepped))
    scored = ml.score_pickled(docs, model_bytes)
    pdf = scored.toPandas()
    mu, sigma = pdf.probability.mean(), pdf.probability.std(ddof=0)
    expect = set(pdf.doc_id[np.round((pdf.probability - mu) / sigma, 4) < -1.5])
    got = ml.probability_outliers(scored, z_threshold=-1.5).toPandas()
    assert set(got.doc_id) == expect
    assert len(got) > 0  # threshold must bite on the fixture corpus


def test_outlier_top_tokens_is_deterministic_topk(spark):
    docs = load_table(spark, SF_DIR, "documents")
    outliers = docs.select("doc_id").filter(F.col("doc_id") % 100 == 0)
    a = ml.outlier_top_tokens(docs, outliers, k=5).collect()
    b = ml.outlier_top_tokens(docs, outliers, k=5).collect()
    assert a == b and len(a) == 5
    counts = [r.n for r in a]
    assert counts == sorted(counts, reverse=True)


def test_kmeans_clusters_nondegenerate_and_converging(spark):
    """q147's fixed 3 rounds must produce a real clustering: all k
    clusters populated, and the round-3 assignment differs from the
    round-0 (seed-only) assignment — i.e. Lloyd actually moved the
    centroids."""
    from conftest import SF_DIR
    from synth_transform_spark.operators.ml import kmeans_assignments
    from synth_transform_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    final = kmeans_assignments(emb, k=4, n_iter=3).toPandas()
    assert final.cluster.nunique() == 4
    seed_only = kmeans_assignments(emb, k=4, n_iter=0).toPandas()
    merged = final.merge(seed_only, on="vec_id", suffixes=("_3", "_0"))
    assert (merged.cluster_3 != merged.cluster_0).any()
