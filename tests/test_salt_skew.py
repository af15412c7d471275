"""Domain-skew salting (SURVEY §2.4 A7).

The tag path partitions by per-row url hash, so it must stay balanced even
under extreme domain skew with NO tuning — that's the 100-TB design claim
in _salted_repartition's docstring, pinned here with a one-domain=50%
fixture."""

import pytest

from pyspark.sql import functions as F

from char_ner_spark import pipeline as P
from char_ner_spark.fixtures import make_alias_table, make_pages


@pytest.fixture(scope="module")
def skewed_pages(spark):
    """~50% of pages on one domain (urls stay unique)."""
    alias = make_alias_table(120, seed=42)
    pdf = make_pages(240, seed=42, alias_df=alias)
    urls = [
        f"https://hot.example.com/page/{i:07d}" if i % 2 == 0 else u
        for i, u in enumerate(pdf["url"])
    ]
    pdf = pdf.assign(url=urls)
    return spark.createDataFrame(pdf)


def test_tag_partitions_balanced_under_domain_skew(spark, skewed_pages):
    """One domain owning 50% of pages must NOT unbalance the tagger stage:
    the repartition key is the per-row url hash."""
    n_parts = int(spark.conf.get("spark.sql.shuffle.partitions"))
    sizes = (
        P._salted_repartition(skewed_pages.select("url", "html", "lang"), 16)
        .select(F.spark_partition_id().alias("pid"))
        .groupBy("pid")
        .count()
        .toPandas()["count"]
    )
    fair = 240 / n_parts
    assert sizes.max() <= max(3 * fair, fair + 8)   # no straggler partition
    assert len(sizes) >= min(n_parts, 240) * 0.5    # actually spread out
