"""Classifier factory.

Reference behavior replaced: the model zoo + hyperparameter defaults of
``configuration/__init__.py:85-121`` (LogisticRegression /
RandomForestClassifier / GBTClassifier with config-driven params).
"""

from __future__ import annotations

import contextlib

from pyspark.ml.classification import (
    GBTClassifier,
    LogisticRegression,
    RandomForestClassifier,
)

_MODELS = {
    "LogisticRegression": LogisticRegression,
    "RandomForestClassifier": RandomForestClassifier,
    "GBTClassifier": GBTClassifier,
}


def make_classifier(
    name: str,
    features_col: str = "features",
    label_col: str = "failure",
    **params,
):
    """Instantiate a classifier by name with keyword hyperparameters.

    Example::

        make_classifier("LogisticRegression", regParam=0.1, maxIter=50)
    """
    if name not in _MODELS:
        raise ValueError(f"Unknown model: {name}; choose from {sorted(_MODELS)}")
    return _MODELS[name](featuresCol=features_col, labelCol=label_col, **params)


@contextlib.contextmanager
def fit_ready(
    df,
    target_rows_per_partition: int = 500_000,
    min_partitions: int = 1,
):
    """Cache and right-size a training DataFrame for the ``with`` block
    that runs ``Estimator.fit``: ``with fit_ready(df) as (train, n):``.

    MLlib's iterative trainers (tree ensembles especially) launch one
    Spark job per iteration over the training input, and the RDD they
    convert the DataFrame into inherits the upstream shuffle width.  A
    feature-engineered training set is typically orders of magnitude
    smaller than the raw tables it came from, so those inherited
    partitions are near-empty and every training iteration pays pure
    task-scheduling overhead (measured here: a 5-tree random forest on a
    ~10k-row panel fits in ~1.2 s on 4 partitions vs ~10 s on 32).  AQE
    right-sizes shuffle outputs inside a SQL plan but not the
    ``DataFrame → RDD[Instance]`` hand-off that training performs.

    Caches ``df``, materializes it (the count doubles as the sizing
    input), and coalesces to ``max(min_partitions,
    ceil(rows / target_rows_per_partition))`` — at 100 TB a billion-row
    training set still gets thousands of partitions, while a post-agg
    panel slice collapses to a handful.  Yields ``(train_df,
    row_count)``.  The block runs with exactly one cached copy, and it
    is released on exit, also when the block raises; the block may
    rebind ``train_df`` (say, to a further ``coalesce``) without
    leaking it.
    """
    import math

    train = df.cache()
    try:
        n = train.count()
        parts = max(min_partitions, math.ceil(n / max(1, target_rows_per_partition)))
        if parts < train.rdd.getNumPartitions():
            # Cache the coalesced result (cheap: reads the parent cache
            # once), then drop the parent.
            parent, train = train, train.coalesce(parts).cache()
            try:
                train.count()
            finally:
                parent.unpersist()
        yield train, n
    finally:
        train.unpersist()


_MODEL_CLASSES = {
    "LogisticRegression": "pyspark.ml.classification.LogisticRegressionModel",
    "RandomForestClassifier": "pyspark.ml.classification.RandomForestClassificationModel",
    "GBTClassifier": "pyspark.ml.classification.GBTClassificationModel",
}


def load_classifier(name: str, path: str):
    """Load a previously saved fitted classifier by estimator name."""
    import importlib

    if name not in _MODEL_CLASSES:
        raise ValueError(f"Unknown model: {name}; choose from {sorted(_MODEL_CLASSES)}")
    module, cls = _MODEL_CLASSES[name].rsplit(".", 1)
    return getattr(importlib.import_module(module), cls).load(path)
