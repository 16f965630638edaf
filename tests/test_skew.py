"""Skew handling: the corpus is deliberately Zipf-skewed (top domain
~35% of rows, sources/pages.py DOMAIN_WEIGHTS); salted repartitioning
must spread the hot domain across many partitions while plain
domain-keyed repartitioning concentrates it in one."""

import pytest
from pyspark.sql import functions as F

from metadata_quality_stack_spark.plans.pipeline import salted_repartition
from metadata_quality_stack_spark.sources.pages import pages_spark_df

N_PART = 16


@pytest.fixture(scope="module")
def pages(spark):
    df = pages_spark_df(spark, 2000, seed=13).withColumn(
        "domain", F.regexp_extract("url", r"^(?:https?://)?([^/]+)", 1)
    )
    return df.cache()


def _partition_sizes(df):
    return [
        r["n"]
        for r in df.groupBy(F.spark_partition_id().alias("p"))
        .agg(F.count("*").alias("n"))
        .collect()
    ]


def test_corpus_is_skewed(pages):
    top = (
        pages.groupBy("domain").count().orderBy(F.desc("count")).first()["count"]
    )
    assert top / pages.count() > 0.25  # Zipf head is a real hot key


def test_plain_domain_partitioning_concentrates(spark, pages):
    sizes = _partition_sizes(pages.repartition(N_PART, F.col("domain")))
    assert max(sizes) / (pages.count() / N_PART) > 2.5  # hot partition


def test_salted_repartition_spreads(spark, pages):
    salted = salted_repartition(pages, N_PART, "domain", "url")
    sizes = _partition_sizes(salted)
    n = pages.count()
    # the hot domain no longer dominates one partition: worst partition
    # is within 2x of the mean (vs >2.5x unsalted)
    assert max(sizes) / (n / N_PART) < 2.0
    assert len(sizes) > N_PART * 0.5  # actually spread over many partitions


def test_salting_preserves_rows(spark, pages):
    salted = salted_repartition(pages, N_PART, "domain", "url")
    assert salted.count() == pages.count()
    assert sorted(r["url"] for r in salted.select("url").collect()) == sorted(
        r["url"] for r in pages.select("url").collect()
    )
