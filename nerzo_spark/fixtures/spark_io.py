"""Fixture -> Spark DataFrame adapters."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from nerzo_spark.fixtures.corpus import Fixture
from nerzo_spark.session import local_frame

CORPUS_SCHEMA = (
    "repo string, path string, commit string, lang string, "
    "content string, content_sha256 string"
)
ANCHORS_SCHEMA = (
    "fine_type string, mention_id string, surface string, "
    "left_ctx string, right_ctx string"
)
GOLD_TRIPLE_SCHEMA = (
    "subj string, pred string, obj string, repo string, path string, commit string"
)


def corpus_df(spark: SparkSession, fx: Fixture) -> DataFrame:
    return local_frame(spark, fx.corpus, CORPUS_SCHEMA)


def anchors_df(spark: SparkSession, fx: Fixture) -> DataFrame:
    return local_frame(spark, fx.anchors, ANCHORS_SCHEMA)


def gold_triples_df(spark: SparkSession, fx: Fixture) -> DataFrame:
    return local_frame(spark, fx.triples, GOLD_TRIPLE_SCHEMA)
