"""The one seen-sidecar operator (operators/dedup.py) under both kernel
sets: maintenance keeps the no-false-negative contract, the prefilter and
the dedup gate equal the exact anti-join, and a bloom upsert is
byte-identical to a build over both key sets."""

import pytest
from pyspark.sql import functions as F

from webcrawler_spark.operators.cuckoo import dedup_against_seen_cuckoo
from webcrawler_spark.operators.dedup import (
    anti_join_new,
    dedup_against_seen,
    seen_filter_ops,
)

GATES = {"bloom": dedup_against_seen, "cuckoo": dedup_against_seen_cuckoo}


def _seen(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("https://h"), (F.col("id") % 11).cast("string"),
                 F.lit(".example.com/p/"), F.col("id").cast("string")).alias("url"),
        F.xxhash64(F.lit("h"), (F.col("id") % 11)).alias("host_hash"),
    )


def _urls(df):
    return sorted(r.url for r in df.select("url").collect())


@pytest.mark.parametrize("kind", ["bloom", "cuckoo"])
def test_upsert_is_exact_and_bloom_bytes_equal_build(spark, kind):
    ops = seen_filter_ops(kind)
    a, b = _seen(spark, 0, 1500), _seen(spark, 1500, 2500)
    union = _seen(spark, 0, 2500)
    side = ops.maintain(ops.build(a), b).localCheckpoint()

    # no false negatives on A ∪ B
    new, maybe = ops.prefilter(union, side)
    assert new.count() == 0 and maybe.count() == 2500

    # prefilter (+ exact check of the maybes) and dedup gate == anti-join
    cand = _seen(spark, 2000, 3500)
    want = _urls(anti_join_new(cand, union))
    new, maybe = ops.prefilter(cand, side)
    got = new.unionByName(anti_join_new(maybe, union))
    assert _urls(got) == want
    assert _urls(GATES[kind](cand, union, side)) == want

    if kind == "bloom":
        def rows(df):
            return sorted(
                (r.bucket, r.m_bits, bytes(r.bitset), r.n_keys) for r in df.collect()
            )

        assert rows(side) == rows(ops.build(union))
