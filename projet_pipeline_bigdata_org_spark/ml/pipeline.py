"""SparkML feature + virality pipeline (reference M1-M10, SURVEY.md §2.9),
rebuilt as one proper ``pyspark.ml.Pipeline`` (the reference fits each stage
imperatively in spark/model_training.py:62-252 and never composes them).

Stages (reference hyperparameters noted, scaled down for the 500-doc corpus):
  Tokenizer → StopWordsRemover → Word2Vec (ref: dim=100 iters=20 seed=42)
  → CountVectorizer (ref: vocab=2000 minDF=3) → LDA (ref: k=6 iters=20
  seed=42) → StringIndexer(handleInvalid=keep; ref loader.py:22-26)
  → VectorAssembler(handleInvalid=skip; ref engine.py:89-97)
  → RandomForestRegressor (ref: trees=30 depth=10 seed=42).

Topic labeling (reference M6+U2: driver dict + row UDF, engine.py:41-69,
109-122) is re-expressed as describeTopics → labels DataFrame → broadcast
join on the argmax topic — no Python UDF in the scoring path.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.ml import Pipeline, PipelineModel
from pyspark.ml.clustering import LDA
from pyspark.ml.feature import (
    CountVectorizer,
    StopWordsRemover,
    StringIndexer,
    Tokenizer,
    VectorAssembler,
    Word2Vec,
)
from pyspark.ml.functions import vector_to_array
from pyspark.ml.regression import RandomForestRegressor
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from projet_pipeline_bigdata_org_spark.catalog import load
from projet_pipeline_bigdata_org_spark.functions.cleaning import (
    SQL_CLEAN,
    SQL_REMOVE_STOPWORDS,
    SQL_TOKENIZE,
    STOPWORDS,
    clean_text,
)
from projet_pipeline_bigdata_org_spark.plans.registry import query

SEED = 42  # reference model_training.py:149,171,246


@dataclass(frozen=True)
class PipelineConfig:
    vector_size: int = 32
    w2v_min_count: int = 2
    w2v_max_iter: int = 2
    vocab_size: int = 512
    min_df: int = 2
    num_topics: int = 6
    lda_max_iter: int = 5
    num_trees: int = 10
    max_depth: int = 5
    label_col: str = "label"


def build_feature_pipeline(cfg: PipelineConfig = PipelineConfig()) -> Pipeline:
    tokenizer = Tokenizer(inputCol="clean", outputCol="words")
    # the engine's ONE stopword list (functions/cleaning.py) instead of
    # Spark's bundled English list: the reference likewise removes ITS
    # OWN fixed list (spark/config.py:19-29), and a fixed list makes the
    # pipeline's deterministic prefix oracle-expressible
    # (ml_pipeline_features) with the existing SQL twin
    stop = StopWordsRemover(
        inputCol="words", outputCol="filtered_words", stopWords=list(STOPWORDS)
    )
    w2v = Word2Vec(
        inputCol="filtered_words",
        outputCol="word2vec_features",
        vectorSize=cfg.vector_size,
        minCount=cfg.w2v_min_count,
        maxIter=cfg.w2v_max_iter,
        seed=SEED,
    )
    cv = CountVectorizer(
        inputCol="filtered_words",
        outputCol="features_lda",
        vocabSize=cfg.vocab_size,
        minDF=cfg.min_df,
    )
    lda = LDA(
        featuresCol="features_lda",
        topicDistributionCol="topic_distribution",
        k=cfg.num_topics,
        maxIter=cfg.lda_max_iter,
        seed=SEED,
        optimizer="online",
    )
    indexer = StringIndexer(
        inputCol="lang", outputCol="lang_index", handleInvalid="keep"
    )
    assembler = VectorAssembler(
        inputCols=["word2vec_features", "topic_distribution", "lang_index"],
        outputCol="features_regression",
        handleInvalid="skip",
    )
    rf = RandomForestRegressor(
        featuresCol="features_regression",
        labelCol=cfg.label_col,
        predictionCol="prediction",
        numTrees=cfg.num_trees,
        maxDepth=cfg.max_depth,
        seed=SEED,
    )
    return Pipeline(stages=[tokenizer, stop, w2v, cv, lda, indexer, assembler, rf])


def prepare_documents(df: DataFrame) -> DataFrame:
    """Documents table → training frame: cleaned text + a regression label
    (log char count stands in for the reference's Reddit `score`)."""
    return df.select(
        "doc_id",
        "lang",
        clean_text("text").alias("clean"),
        F.ln("n_chars").alias("label"),
    ).filter(F.length("clean") > 0)


def topic_labels(model: PipelineModel) -> DataFrame:
    """M6 re-done Spark-first: describeTopics × CV vocabulary → a (topic_id,
    topic_label) DataFrame ('w1-w2-w3'), ready for broadcast join — replaces
    the reference's driver dict + per-row UDF."""
    cv_model = next(m for m in model.stages if m.uid.startswith("CountVectorizer"))
    lda_model = next(m for m in model.stages if m.uid.startswith("LDA"))
    vocab = cv_model.vocabulary
    spark = SparkSession.getActiveSession()
    vocab_df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(vocab)], ["term_id", "term"]
    )
    topics = lda_model.describeTopics(3).select(
        "topic", F.posexplode("termIndices").alias("pos", "term_id")
    )
    return (
        topics.join(F.broadcast(vocab_df), "term_id")
        .groupBy("topic")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "term"))).alias("terms"))
        .select(
            F.col("topic").alias("topic_id"),
            F.array_join(F.transform("terms", lambda t: t["term"]), "-").alias(
                "topic_label"
            ),
        )
    )


def attach_topics(scored: DataFrame, labels: DataFrame) -> DataFrame:
    """argmax(topic_distribution) → broadcast join topic label (replaces row
    UDF U2; array ops are codegen'd, the join is a broadcast hash join)."""
    dist = vector_to_array(F.col("topic_distribution"))
    topic_id = (F.array_position(dist, F.array_max(dist)) - 1).cast("int")
    return (
        scored.withColumn("topic_id", topic_id)
        .join(F.broadcast(labels), "topic_id", "left")
        .withColumn("topic_label", F.coalesce("topic_label", F.lit("Autre")))
    )


#: hard ceiling on the pipeline fit input. W2V/LDA/RF are driver-coordinated
#: iterative multi-pass fits — at 100 TB an unbounded .fit() over the corpus
#: is a scale-killer (the round-5 sweep's single most expensive query). Same
#: discipline as similarity.IVF_FIT_MAX_ROWS / SemDeDup: bounded seeded
#: sample for the fit, full-corpus transform unchanged. The reference's own
#: training corpus is a bounded 1,135-record file (spark/model_training.py:31).
TRAIN_MAX_ROWS = 100_000
#: oversampling margin so the Bernoulli sample almost surely reaches the
#: target before the exact .limit cap
TRAIN_OVERSAMPLE = 1.2


def _train_fit_sample(prepared: DataFrame) -> DataFrame:
    """Bounded, seeded sample of prepared training rows for the fit.

    The bound check is a `limit(MAX+1).count()` probe, not a full count:
    CollectLimit early-exits once MAX+1 rows are found, so a small corpus
    (the common passthrough case) costs a partial scan instead of a full
    corpus pass (ADVICE r6). Only when the probe shows the cap binds does
    the full count run to size the sample fraction:
    fraction = min(1, OVERSAMPLE · MAX_ROWS / n), then an exact `.limit`
    cap — fit input ≤ TRAIN_MAX_ROWS at any corpus size. At test scale
    (≤ 100k docs) the corpus passes through whole — untouched plan, so
    fitted weights and every determinism test are unchanged.

    When the cap binds, the capped frame is re-spread across the engine's
    shuffle fan-out: GlobalLimit collapses its output to ONE partition, and
    without the repartition every iterative estimator (W2V/CV/LDA/RF) would
    fit at parallelism 1 — exactly at the corpus sizes the cap exists for.

    Determinism caveat: the seed fixes the Bernoulli draw per row, but
    `.sample().limit()` keeps whichever sampled rows the scan yields first,
    which depends on file/partition layout — the capped fit input is
    reproducible only for an identical layout, not across re-partitioned
    copies of the same corpus."""
    from projet_pipeline_bigdata_org_spark.session import DEFAULT_SHUFFLE_PARTITIONS

    if prepared.limit(TRAIN_MAX_ROWS + 1).count() <= TRAIN_MAX_ROWS:
        return prepared
    n = prepared.count()
    fraction = min(1.0, TRAIN_OVERSAMPLE * TRAIN_MAX_ROWS / n)
    sample = prepared
    if fraction < 1.0:
        sample = sample.sample(fraction=fraction, seed=SEED)
    return sample.limit(TRAIN_MAX_ROWS).repartition(DEFAULT_SHUFFLE_PARTITIONS)


def train(documents: DataFrame, cfg: PipelineConfig = PipelineConfig()) -> PipelineModel:
    # Pipeline.fit runs each estimator's jobs against the input lineage —
    # W2V/CV/LDA/indexer/RF would each re-evaluate the scan+clean subtree.
    # The fit frame is bounded (≤ TRAIN_MAX_ROWS by construction), so
    # persist it for the duration of the fit and release it after.
    fit_input = _train_fit_sample(prepare_documents(documents)).persist()
    try:
        return build_feature_pipeline(cfg).fit(fit_input)
    finally:
        fit_input.unpersist()


_FILTERED_SQL = SQL_REMOVE_STOPWORDS.format(toks="words")

_ML_FEATURES_ORACLE = f"""
WITH p AS (
  SELECT doc_id, lang, {SQL_CLEAN.format(c='text')} AS clean FROM documents
), f AS (
  SELECT doc_id, lang, clean FROM p WHERE LENGTH(clean) > 0
), tok AS (
  SELECT doc_id, lang, clean, {SQL_TOKENIZE.format(c='clean')} AS words
  FROM f
)
SELECT doc_id, lang, clean,
       CAST(LEN(words) AS BIGINT) AS n_words,
       CAST(LEN({_FILTERED_SQL}) AS BIGINT) AS n_filtered,
       ARRAY_TO_STRING({_FILTERED_SQL}, ' ') AS filtered_text
FROM tok
"""


@query(
    "ml_pipeline_features",
    oracle=_ML_FEATURES_ORACLE,
    tags=("ml", "documents"),
)
def ml_pipeline_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ML pipeline's DETERMINISTIC PREFIX, oracle-gated (VERDICT r12
    #6): ``prepare_documents`` (the real cleaning chain + empty filter)
    followed by the REAL first two fitted-pipeline stages — the very
    ``Tokenizer`` and ``StopWordsRemover`` stage objects
    ``build_feature_pipeline`` composes (``getStages()[:2]``, so a
    config drift in the production pipeline breaks this gate) — emitting
    per document the cleaned text, token count, stopword-filtered count,
    and the filtered token stream the downstream estimators (W2V, CV →
    LDA) actually consume. The seeded iterative fits stay rows-only with
    invariants (tests/test_ml.py); everything BEFORE them is now
    driver-certified, which is exactly the part a silent preprocessing
    bug corrupts.

    Oracle-expressibility note: the StopWordsRemover removes the
    engine's fixed STOPWORDS list (functions/cleaning.py) — matching the
    reference, which removes its own hardcoded list
    (spark/config.py:19-29) rather than a library default.

    Scale shape: pure row-local narrow transforms — no shuffle at all;
    the same full-corpus transform path ``model.transform`` runs, so
    certifying it costs one scan."""
    docs = load(spark, sf_dir, "documents")
    prepared = prepare_documents(docs)
    prefix = Pipeline(stages=build_feature_pipeline().getStages()[:2]).fit(
        prepared.limit(1)  # transformers only: fit is metadata-free
    )
    out = prefix.transform(prepared)
    return out.select(
        "doc_id",
        "lang",
        "clean",
        F.size("words").cast("long").alias("n_words"),
        F.size("filtered_words").cast("long").alias("n_filtered"),
        F.array_join("filtered_words", " ").alias("filtered_text"),
    )


@query(
    "ml_virality_pipeline",
    tags=("ml", "documents", "no-oracle"),
)
def ml_virality_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end M1-M10: fit the full pipeline on documents, score the same
    corpus, label topics via broadcast join, bucket predictions (P7).

    No SQL oracle (ML fit is iterative/seeded, not SQL-expressible); the
    driver's rows-only check plus tests/test_ml.py invariants (determinism,
    dims, save/load) cover it."""
    from projet_pipeline_bigdata_org_spark.functions.buckets import virality_bucket

    docs = load(spark, sf_dir, "documents")
    model = train(docs)
    scored = model.transform(prepare_documents(docs))
    labeled = attach_topics(scored, topic_labels(model))
    return labeled.select(
        "doc_id",
        "lang",
        F.round(F.col("prediction"), 2).alias("score_predit"),
        "topic_id",
        "topic_label",
        virality_bucket(F.col("prediction"), hot=6.5, up=5.5).alias("viralite"),
    )


# ---------------------------------------------------------------------------
# certified linear virality twin (VERDICT r14 #3)
# ---------------------------------------------------------------------------

#: feature / label clamps: keep every raw sufficient-statistic sum below
#: 2^53 (exactly representable as DOUBLE) through ~1.3e8 documents, so the
#: DECIMAL->DOUBLE / HUGEINT->DOUBLE casts are EXACT at every test SF and
#: the downstream coefficient arithmetic is the identical IEEE tree in
#: both engines (beyond that the sums stay exact in DECIMAL(38,0)/HUGEINT
#: and the single cast is correctly rounded)
VIR_X1_CAP = 1024
VIR_Y_CAP = 65536
#: prediction buckets: the reference's two-threshold three-bucket shape
#: (engine.py:126-129 — >5 HOT / >2 Up / else Low on its Reddit-score
#: scale), with values adapted to this label's n_chars domain so all
#: three buckets are non-vacuous at every test SF (n_chars quartiles
#: ~176/295/418)
VIR_HOT = 400.0
VIR_UP = 220.0

_VIR_PRED_SQL = "(k.b0 + k.b1 * CAST(fx.x1 AS DOUBLE)) + k.b2 * CAST(fx.x2 AS DOUBLE)"

_VIR_ORACLE = f"""
WITH p AS (
  SELECT doc_id, lang, {SQL_CLEAN.format(c='text')} AS clean,
         LEAST(n_chars, {VIR_Y_CAP}) AS y
  FROM documents
), f AS (
  SELECT doc_id, lang, CAST(y AS BIGINT) AS y,
         CAST(LEAST(LEN({SQL_TOKENIZE.format(c='clean')}), {VIR_X1_CAP}) AS BIGINT) AS x1
  FROM p WHERE LENGTH(clean) > 0
), lc AS (
  SELECT lang, COUNT(*) AS c FROM f GROUP BY lang
), lr AS (
  SELECT lang, CAST(ROW_NUMBER() OVER (ORDER BY c DESC, lang) - 1 AS BIGINT) AS x2
  FROM lc
), fx AS (
  SELECT f.doc_id, f.lang, f.x1, lr.x2, f.y FROM f JOIN lr USING (lang)
), s AS (
  SELECT CAST(COUNT(*) AS DOUBLE) AS nd,
         CAST(CAST(SUM(x1) AS HUGEINT) AS DOUBLE) AS dx1,
         CAST(CAST(SUM(x2) AS HUGEINT) AS DOUBLE) AS dx2,
         CAST(CAST(SUM(y)  AS HUGEINT) AS DOUBLE) AS dy,
         CAST(SUM(CAST(x1 AS HUGEINT) * x1) AS DOUBLE) AS d11,
         CAST(SUM(CAST(x1 AS HUGEINT) * x2) AS DOUBLE) AS d12,
         CAST(SUM(CAST(x2 AS HUGEINT) * x2) AS DOUBLE) AS d22,
         CAST(SUM(CAST(x1 AS HUGEINT) * y)  AS DOUBLE) AS d1y,
         CAST(SUM(CAST(x2 AS HUGEINT) * y)  AS DOUBLE) AS d2y
  FROM fx
), a AS (
  SELECT nd, dx1, dx2, dy,
         (nd * d11 - dx1 * dx1) + nd * nd AS a11,
         (nd * d22 - dx2 * dx2) + nd * nd AS a22,
         nd * d12 - dx1 * dx2 AS a12,
         nd * d1y - dx1 * dy AS s1y,
         nd * d2y - dx2 * dy AS s2y
  FROM s
), k AS (
  SELECT nd, dx1, dx2, dy, a11, a22, a12, s1y, s2y,
         (s1y * a22 - s2y * a12) / (a11 * a22 - a12 * a12) AS b1,
         (s2y * a11 - s1y * a12) / (a11 * a22 - a12 * a12) AS b2,
         ((dy - (s1y * a22 - s2y * a12) / (a11 * a22 - a12 * a12) * dx1)
          - (s2y * a11 - s1y * a12) / (a11 * a22 - a12 * a12) * dx2) / nd AS b0
  FROM a
)
SELECT fx.doc_id, fx.lang,
       fx.x1 AS n_tokens, fx.x2 AS lang_rank,
       {_VIR_PRED_SQL} AS score_raw,
       CASE WHEN {_VIR_PRED_SQL} > {VIR_HOT} THEN 'HOT'
            WHEN {_VIR_PRED_SQL} > {VIR_UP} THEN 'Up'
            ELSE 'Low' END AS viralite
FROM fx, k
"""


def _virality_features(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, x1, x2, y): the certified linear model's feature
    frame — x1 = clamped token count of the SAME cleaning chain the
    SparkML pipeline consumes (clean_text + tokenize; the
    ml_pipeline_features-certified prefix), x2 = the language's
    StringIndexer index replayed exactly (row_number over count DESC,
    lang ASC — frequencyDesc with the alphabetic tie-break), y = clamped
    n_chars (the raw argument of the RF label ln(n_chars))."""
    from pyspark.sql import Window

    from projet_pipeline_bigdata_org_spark.functions.cleaning import tokenize

    f = (
        docs.select(
            "doc_id",
            "lang",
            clean_text("text").alias("clean"),
            F.least(F.col("n_chars"), F.lit(VIR_Y_CAP)).cast("long").alias("y"),
        )
        .filter(F.length("clean") > 0)
        .select(
            "doc_id",
            "lang",
            "y",
            F.least(F.size(tokenize("clean")), F.lit(VIR_X1_CAP))
            .cast("long")
            .alias("x1"),
        )
    )
    lc = f.groupBy("lang").agg(F.count(F.lit(1)).alias("c"))
    lr = lc.select(
        "lang",
        (F.row_number().over(Window.orderBy(F.desc("c"), "lang")) - 1)
        .cast("long")
        .alias("x2"),
    )
    return f.join(F.broadcast(lr), "lang")


@query(
    "ml_virality_linear_certified",
    oracle=_VIR_ORACLE,
    tags=("ml", "documents"),
)
def ml_virality_linear_certified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Certified closed-form twin of ``ml_virality_pipeline`` (reference
    M9, spark/model_training.py:240-252 + the engine.py:126-129 bucket
    shape): a 2-feature ridge regression fit by the EXACT normal
    equations — the ``agg_ols_trend`` discipline generalized to the
    multivariate case — over the same feature lineage the SparkML
    pipeline consumes (cleaned-text token count + the StringIndexer
    language index) predicting the raw argument of its label
    (n_chars; the pipeline regresses ln(n_chars)).

    Exactness: every sufficient statistic (n, Σx, Σy, Σxx, Σxy)
    accumulates through DECIMAL(38,0) on the Spark side / HUGEINT in the
    oracle — exact at any corpus size — and the clamps (VIR_X1_CAP,
    VIR_Y_CAP) keep each raw sum below 2^53 through ~1.3e8 documents, so
    the one cast to DOUBLE is exact and every downstream step (ridge
    system (S + n²·I)b = S_y solved in closed 2×2 form, per-document
    projection b0 + b1·x1 + b2·x2, threshold buckets) is the IDENTICAL
    correctly-rounded IEEE expression tree in both engines — no float
    boundary can flip a value or a bucket.

    Scale shape: one map-side-combined stats aggregate (1 row) + a
    |langs|-row frequency rank, both broadcast back over the feature
    scan — shuffle bounded by |langs|; the scoring pass is a
    zero-exchange projection per partition. The seeded iterative RF
    stays rows-only with invariants (tests/test_ml.py); THIS is the
    hash-gated member of the family, and
    tests/test_ml.py::test_virality_linear_tracks_rf pins its ordering
    against the RF's on the fixture corpus."""
    fx = _virality_features(load(spark, sf_dir, "documents"))
    dec = lambda c: F.col(c).cast("decimal(38,0)")  # noqa: E731
    x1d, x2d, yd = dec("x1"), dec("x2"), dec("y")
    s = fx.agg(
        F.count(F.lit(1)).cast("double").alias("nd"),
        F.sum(x1d).cast("decimal(38,0)").cast("double").alias("dx1"),
        F.sum(x2d).cast("decimal(38,0)").cast("double").alias("dx2"),
        F.sum(yd).cast("decimal(38,0)").cast("double").alias("dy"),
        F.sum(x1d * x1d).cast("decimal(38,0)").cast("double").alias("d11"),
        F.sum(x1d * x2d).cast("decimal(38,0)").cast("double").alias("d12"),
        F.sum(x2d * x2d).cast("decimal(38,0)").cast("double").alias("d22"),
        F.sum(x1d * yd).cast("decimal(38,0)").cast("double").alias("d1y"),
        F.sum(x2d * yd).cast("decimal(38,0)").cast("double").alias("d2y"),
    )
    nd, dx1, dx2, dy = F.col("nd"), F.col("dx1"), F.col("dx2"), F.col("dy")
    a = s.select(
        nd, dx1, dx2, dy,
        ((nd * F.col("d11") - dx1 * dx1) + nd * nd).alias("a11"),
        ((nd * F.col("d22") - dx2 * dx2) + nd * nd).alias("a22"),
        (nd * F.col("d12") - dx1 * dx2).alias("a12"),
        (nd * F.col("d1y") - dx1 * dy).alias("s1y"),
        (nd * F.col("d2y") - dx2 * dy).alias("s2y"),
    )
    a11, a22, a12 = F.col("a11"), F.col("a22"), F.col("a12")
    s1y, s2y = F.col("s1y"), F.col("s2y")
    det = a11 * a22 - a12 * a12
    b1e = (s1y * a22 - s2y * a12) / det
    b2e = (s2y * a11 - s1y * a12) / det
    k = a.select(
        b1e.alias("b1"),
        b2e.alias("b2"),
        (((dy - b1e * dx1) - b2e * dx2) / nd).alias("b0"),
    )
    pred = (
        F.col("b0")
        + F.col("b1") * F.col("x1").cast("double")
    ) + F.col("b2") * F.col("x2").cast("double")
    return fx.crossJoin(F.broadcast(k)).select(
        "doc_id",
        "lang",
        F.col("x1").alias("n_tokens"),
        F.col("x2").alias("lang_rank"),
        pred.alias("score_raw"),
        F.when(pred > VIR_HOT, "HOT")
        .when(pred > VIR_UP, "Up")
        .otherwise("Low")
        .alias("viralite"),
    )
