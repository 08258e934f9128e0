"""Bloom-filter join pre-filtering: soundness + selectivity."""

import pyspark.sql.functions as F

from nolock_social_ocr_services_spark.functions import bloomjoin as bj


def test_no_false_negatives(spark):
    """Every key that was added passes the membership test — the Bloom
    property the join's correctness rests on."""
    small = spark.createDataFrame([(i * 7,) for i in range(50)], "k long")
    bloom = bj.build_bloom(small, "k", m_bits=512, h=3)
    passed = small.filter(bj.bloom_contains(F.col("k"), bloom, 512, 3))
    assert passed.count() == 50


def test_prefilter_is_selective(spark):
    """With a probe population mostly disjoint from the keys, the
    filter drops the bulk of the big side before any join: at
    n=32 keys / m=1024 / h=3 the FPR is well under 5%."""
    small = spark.createDataFrame([(i,) for i in range(32)], "k long")
    # probes 10_000..14_999: none are members
    big = spark.createDataFrame([(i,) for i in range(10_000, 15_000)], "k long")
    bloom = bj.build_bloom(small, "k", m_bits=1024, h=3)
    n_pass = big.filter(bj.bloom_contains(F.col("k"), bloom, 1024, 3)).count()
    assert n_pass < 0.05 * 5000


def test_bloom_is_bounded_by_m(spark):
    """The built filter never exceeds m positions no matter how many
    keys go in — the fixed-size summary property."""
    small = spark.createDataFrame([(i,) for i in range(5000)], "k long")
    bloom = bj.build_bloom(small, "k", m_bits=256, h=3)
    assert len(bloom) <= 256
    assert bloom == sorted(set(bloom))
