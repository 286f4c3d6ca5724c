"""Dataset-build pipelines: extract → join → post-join feature stack.

Reference behavior replaced (SURVEY.md §3.2 — the dataset-build DAG):

- per-source extract scripts (``extract_cotisation_urssaf.py``,
  ``extract_debit_urssaf.py``, ``extract_ap_data.py``, …): each was an
  explicit-schema CSV scan → id normalization → source-specific cleanup
  (interval spread, window dedup, interval union) → groupBy-sum to the
  (entity, period) grain → fillna → columnar sink. Here that's ONE
  parametrized function over declarative steps instead of ten scripts;
- ``join_datasets.py:174-210``: the 6-way panel join chain + as-of
  attach of yearly data + semi-join perimeter filters;
- ``post_join_processing.py:59-179``: target labeling + the stacked
  time-feature pipeline, executed as a single PipelineModel transform.

Scale design: every step stays one Catalyst plan until the sink; the
panel join keys are (entity, period) for every monthly frame so AQE can
co-plan the chain; yearly/as-of attaches use the union-tag asof (one
shuffle); the sink partitions by period for downstream pruning.
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass, field

from pyspark.ml import Pipeline, Transformer
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from sf_datalake_spark.io import load_data, write_data
from sf_datalake_spark.operators.asof import merge_asof
from sf_datalake_spark.session import scoped_confs


@dataclass
class ExtractJob:
    """Declarative extract: scan → transformer stages → aggregate →
    fill → sink. ``stages`` are Pipeline-composable transformers (the
    extension API), so each reference extract script maps to one
    ExtractJob value.
    """

    source_path: str
    file_format: str = "csv"
    sep: str = ","
    schema: StructType | str | None = None
    stages: Sequence[Transformer] = field(default_factory=list)
    group_keys: Sequence[str] = ()
    agg: dict[str, str] = field(default_factory=dict)
    fill_defaults: dict = field(default_factory=dict)
    sample_ratio: float = 1.0
    random_seed: int = 42
    output_path: str | None = None
    output_format: str = "orc"
    partition_output_by: Sequence[str] | None = None

    def build(self, spark: SparkSession) -> DataFrame:
        """The lazy plan: scan through aggregation + fill (no sink)."""
        df = load_data(
            spark, self.source_path, self.file_format, sep=self.sep,
            schema=self.schema if isinstance(self.schema, StructType) else None,
        )
        if self.sample_ratio < 1.0:
            # Sampled scan for smoke runs (reference ``__main__.py:146-149``).
            df = df.sample(fraction=self.sample_ratio, seed=self.random_seed)
        if isinstance(self.schema, str):
            import re

            # split on commas OUTSIDE parens so decimal(10,2) survives
            for c in re.split(r",(?![^()]*\))", self.schema):
                name, typ = c.split(":", 1)
                df = df.withColumn(name.strip(), F.col(name.strip()).cast(typ.strip()))
        if self.stages:
            df = Pipeline(stages=list(self.stages)).fit(df).transform(df)
        if self.group_keys and self.agg:
            df = df.groupBy(*self.group_keys).agg(
                *[getattr(F, fn)(c).alias(c) for c, fn in self.agg.items()]
            )
        if self.fill_defaults:
            df = df.fillna(self.fill_defaults)
        return df

    def run(self, spark: SparkSession) -> DataFrame:
        df = self.build(spark)
        if self.output_path:
            write_data(
                df, self.output_path, self.output_format,
                partition_by=list(self.partition_output_by or []) or None,
            )
        return df


def join_panel(
    monthly_frames: Sequence[DataFrame],
    keys: Sequence[str] = ("siren", "période"),
    how: str = "inner",
    entity_frames: Sequence[DataFrame] = (),
    entity_keys: Sequence[str] = ("siren",),
) -> DataFrame:
    """The monthly panel join chain (reference ``join_datasets.py:174-181``):
    fold monthly frames on (entity, period), then entity-level frames on
    entity alone. All joins share the same key prefix, so consecutive
    shuffles reuse the partitioning."""
    frames = list(monthly_frames)
    out = frames[0]
    for f in frames[1:]:
        out = out.join(f, list(keys), how)
    for f in entity_frames:
        out = out.join(f, list(entity_keys), "left")
    return out


def attach_asof(
    panel: DataFrame,
    yearly: DataFrame,
    on: str = "période",
    by: Sequence[str] = ("siren",),
    tolerance_days: int = 365,
    direction: str = "backward",
) -> DataFrame:
    """Attach lower-frequency (yearly) data to the monthly panel — the
    reference's merge_asof step (``join_datasets.py:184-191``)."""
    return merge_asof(
        panel, yearly, on=on, by=list(by), direction=direction,
        tolerance=tolerance_days,
    )


def post_join_features(
    df: DataFrame,
    stages: Sequence[Transformer],
) -> DataFrame:
    """Run the labeling + time-feature stack as ONE PipelineModel
    transform (reference ``post_join_processing.py:164-166``)."""
    return Pipeline(stages=list(stages)).fit(df).transform(df)


def upsert_monthly_partitions(
    df: DataFrame,
    path: str,
    period_col: str = "période",
    file_format: str = "parquet",
) -> None:
    """Incrementally maintain a period-partitioned panel: overwrite ONLY
    the partitions present in ``df`` (dynamic partition overwrite),
    leaving historical months untouched.

    The 100 TB maintenance path: a monthly refresh rewrites one month's
    partition, not the table; readers keep pruning on ``period_col``.
    """
    with scoped_confs(
        df.sparkSession, {"spark.sql.sources.partitionOverwriteMode": "dynamic"}
    ):
        (
            df.write.mode("overwrite")
            .partitionBy(period_col)
            .format(file_format)
            .save(path)
        )


def semi_join_filter(
    df: DataFrame, perimeter: DataFrame, keys: Sequence[str] = ("siren",)
) -> DataFrame:
    """Keep rows whose keys appear in the perimeter frame (reference
    ``join_datasets.py:194-210``)."""
    return df.join(perimeter.select(*keys).distinct(), list(keys), "left_semi")
