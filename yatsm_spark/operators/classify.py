"""P4: segment classification operator — train on labeled sample, predict
distributed. Reads the segments table and a label table (``conv_id``,
``label``).

Parity anchors (SURVEY.md §2.10, §3.3):
- `yatsm/cli/train.py::get_training_inputs` [M]: intersect segment records
  with ROI labels -> feature matrix. Graft: broadcast-join (J2) of a label
  dim table on conv_id, features flattened from the segments schema.
- `yatsm/cli/classify.py` [M]: load trained model, walk result records,
  append `class` / `class_proba` fields. Graft: the fitted numpy forest is
  shipped inside the mapInPandas closure (Spark broadcasts task binaries)
  and predictions are appended Arrow-batch-wise — NO shuffle: each
  partition classifies its own rows.

Scale posture: training collects ONLY the label-joined sample to the
driver (training sets are man-made and tiny relative to the corpus — the
reference does exactly this with its ROI rasters); `max_train` hard-caps
the collect. Prediction is embarrassingly parallel.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from yatsm_spark.kernel.classify import RandomForest, kfold_scores
from yatsm_spark.operators.series import per_batch

#: Scalar numeric fields of the segments schema used as features; the
#: harmonic coef array is flattened to coef_0..coef_{k-1}.
BASE_FEATURES = ("rmse", "magnitude", "n_obs")


def segment_features(segments: DataFrame, n_coef: int = 4) -> DataFrame:
    """Flatten per-segment features: coef_0..coef_{n-1}, rmse, magnitude,
    n_obs (+ pheno fields when present). Pure projection — no shuffle."""
    cols = [F.col("conv_id"), F.col("segment_id")]
    for i in range(n_coef):
        cols.append(F.coalesce(F.element_at("coef", i + 1), F.lit(0.0))
                    .alias(f"coef_{i}"))
    for c in BASE_FEATURES:
        cols.append(F.col(c).cast("double").alias(c))
    for c in ("peak_rate", "pheno_cor"):
        if c in segments.columns:
            cols.append(F.coalesce(F.col(c).cast("double"), F.lit(0.0)).alias(c))
    return segments.select(*cols)


def feature_columns(feats: DataFrame) -> list[str]:
    return [c for c in feats.columns if c not in ("conv_id", "segment_id")]


def train_segment_classifier(
    feats: DataFrame,
    labels: DataFrame,
    on: str = "conv_id",
    max_train: int = 100_000,
    **forest_kw,
) -> RandomForest:
    """Broadcast-join labels (J2), collect the bounded labeled sample, fit
    the numpy forest on the driver. Raises if the sample exceeds max_train
    (a labeled set that big should be downsampled upstream, not silently
    truncated)."""
    fcols = feature_columns(feats)
    pdf = _labeled_sample(feats, labels, on, max_train)
    X = pdf[fcols].to_numpy(dtype=np.float64)
    y = pdf["label"].to_numpy()
    return RandomForest(**forest_kw).fit(X, y)


def _labeled_sample(feats: DataFrame, labels: DataFrame, on: str,
                    max_train: int) -> pd.DataFrame:
    """Bounded, deterministic labeled sample shared by train + crossval.

    Raises (never silently truncates) when the sample exceeds max_train —
    a limit() subset is parallelism-dependent and would break the module's
    cross-cluster-size exactness discipline (round-2 ADVICE). Also raises
    on duplicate labels per join key: a dup would duplicate sample rows
    with ties broken by collect order (round-2 ADVICE)."""
    fcols = feature_columns(feats)
    sample = feats.join(F.broadcast(labels), on).select(on, "segment_id", *fcols, "label")
    pdf = sample.limit(max_train + 1).toPandas()
    if len(pdf) > max_train:
        raise ValueError(f"labeled sample exceeds max_train={max_train}")
    # Collect order depends on partitioning; the bootstrap draws by row
    # index, so sort on the stable key first — the fitted model is then
    # identical at ANY parallelism (SURVEY.md §7.5.1). (on, segment_id)
    # must therefore be a unique key of the sample.
    pdf = pdf.sort_values([on, "segment_id"], kind="stable").reset_index(drop=True)
    if pdf.duplicated([on, "segment_id"]).any():
        raise ValueError(f"labels are not unique on {on!r}: the join duplicated "
                         "segment rows, which would make the fit order-dependent")
    return pdf


def classify_segments(segments: DataFrame, model: RandomForest,
                      n_coef: int = 4) -> DataFrame:
    """Append `class` + `class_proba` to every segment row via mapInPandas
    (one Arrow pass per partition, zero shuffles)."""
    feats = segment_features(segments, n_coef)
    fcols = feature_columns(feats)
    out_schema = T.StructType(
        feats.schema.fields + [
            T.StructField("class", T.StringType(), False),
            T.StructField("class_proba", T.DoubleType(), False),
        ]
    )

    def predict(pdf):
        proba = model.predict_proba(pdf[fcols].to_numpy(dtype=np.float64))
        k = np.argmax(proba, axis=1)
        return pdf.assign(**{"class": model.classes_[k].astype(str),
                             "class_proba": proba[np.arange(len(k)), k]})

    return per_batch(feats, predict, out_schema, name="classify_segments")


def crossval_report(feats: DataFrame, labels: DataFrame, on: str = "conv_id",
                    k: int = 5, max_train: int = 100_000, **forest_kw) -> pd.DataFrame:
    """A4: k-fold crossvalidation accuracies of the segment classifier on
    the labeled sample (graft of yatsm/classifiers/diagnostics.py)."""
    fcols = feature_columns(feats)
    pdf = _labeled_sample(feats, labels, on, max_train)
    scores = kfold_scores(pdf[fcols].to_numpy(dtype=np.float64),
                          pdf["label"].to_numpy(), k=k, **forest_kw)
    return pd.DataFrame({"fold": np.arange(k), "accuracy": scores})
