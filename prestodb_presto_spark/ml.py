"""ML functions — parity with the presto-ml plugin, over pyspark.ml.

Reference surface (presto-ml/.../MLFunctions.java:41-71):
  learn_classifier(label, features)  -> Classifier   (SVM via libsvm)
  classify(features, model)          -> prediction
  learn_regressor / regress          -> regression twins
  features(x1, x2, ...)              -> feature vector

Spark-first the "model value" is a fitted pyspark.ml PipelineModel and
the aggregate/scalar pair becomes fit/transform — the natural Spark
decomposition of the same lifecycle (train on a grouped pass, apply
row-wise).  Linear models match the reference's linear SVM capability
class without the libsvm dependency.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

FEATURES_COL = "__features"


def features(*cols) -> Column:
    """features(x1, x2, ...) — assemble a dense feature array column."""
    return F.array(*[F.col(c).cast("double") if isinstance(c, str) else c.cast("double") for c in cols])


def _assemble(df: DataFrame, features_col: str):
    from pyspark.ml.functions import array_to_vector

    return df.withColumn(FEATURES_COL, array_to_vector(F.col(features_col)))


def learn_classifier(df: DataFrame, label_col: str, features_col: str):
    """Train a binary/multiclass classifier; label may be any orderable
    type (indexed internally, as the reference does with its label maps)."""
    from pyspark.ml.classification import LogisticRegression
    from pyspark.ml.feature import StringIndexer
    from pyspark.ml import Pipeline

    indexer = StringIndexer(inputCol=label_col, outputCol="__label", handleInvalid="keep")
    lr = LogisticRegression(featuresCol=FEATURES_COL, labelCol="__label")
    model = Pipeline(stages=[indexer, lr]).fit(_assemble(df, features_col))
    model._label_col = label_col
    return model


def classify(model, df: DataFrame, features_col: str, output_col: str = "prediction") -> DataFrame:
    """Apply a learned classifier; returns df + predicted label."""
    from pyspark.ml.feature import IndexToString

    indexer = model.stages[0]
    out = model.transform(_assemble(df, features_col))
    back = IndexToString(
        inputCol="prediction", outputCol=output_col, labels=indexer.labels
    ).transform(out.withColumnRenamed("prediction", "prediction"))
    drop = [FEATURES_COL, "rawPrediction", "probability", "__label", "prediction"]
    return back.drop(*[c for c in drop if c != output_col])


def learn_regressor(df: DataFrame, label_col: str, features_col: str):
    """Train a linear regressor (reference LearnRegressorAggregation)."""
    from pyspark.ml.regression import LinearRegression

    lr = LinearRegression(featuresCol=FEATURES_COL, labelCol=label_col)
    return lr.fit(_assemble(df, features_col))


def regress(model, df: DataFrame, features_col: str, output_col: str = "prediction") -> DataFrame:
    """Apply a learned regressor; returns df + predicted value."""
    out = model.transform(_assemble(df, features_col))
    if output_col != "prediction":
        out = out.withColumnRenamed("prediction", output_col)
    return out.drop(FEATURES_COL)


# --- registry-owned Column forms (MLFunctions.java names) -------------------
# The model value is the collected training set and classify is 1-NN over
# it (documented deviation — pipeline-model training above is the
# full-strength path).  learn_classifier is the dialect's rewrite
# (functions/aggregates_reg._ROUTED); the builders below still restate
# dialect.py's _features/_classify rewrites for the DataFrame path.

from prestodb_presto_spark.functions import register as _register
from prestodb_presto_spark.functions._util import c as _c


@_register("features")
def features_col(*cols) -> Column:
    return features(*cols)


@_register("learn_regressor")
def learn_regressor_agg(label, feats) -> Column:
    """learn_regressor twin — same collected-training-set model value."""
    return F.collect_list(F.struct(_c(label).alias("label"), _c(feats).alias("feats")))


def _dist(v, f) -> Column:
    return F.aggregate(
        F.zip_with(v.getField("feats"), f, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@_register("classify")
def classify_nn(feats, model) -> Column:
    """classify(features, model) → nearest training example's label."""
    f, m = _c(feats), _c(model)
    return F.element_at(
        F.array_sort(
            m,
            lambda a, b: F.when(_dist(a, f) < _dist(b, f), -1)
            .when(_dist(a, f) > _dist(b, f), 1)
            .otherwise(0),
        ),
        1,
    ).getField("label")


@_register("regress")
def regress_nn(feats, model) -> Column:
    """regress(features, model) → inverse-distance-weighted 1-NN value
    (reference: linear regression apply; nearest-example estimate here)."""
    return classify_nn(feats, model).cast("double")


@_register("evaluate_classifier_predictions")
def evaluate_classifier_predictions(truth, prediction) -> Column:
    """Accuracy summary string (EvaluateClassifierPredictionsAggregation:
    'Accuracy: k/n (p%)')."""
    k = F.sum(F.when(_c(truth) == _c(prediction), 1).otherwise(0))
    n = F.count(_c(truth))
    pct = F.round(k * 100.0 / n, 2)
    return F.concat(
        F.lit("Accuracy: "), k.cast("string"), F.lit("/"), n.cast("string"),
        F.lit(" ("), pct.cast("string"), F.lit("%)"),
    )
