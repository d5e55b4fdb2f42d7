"""The driver-side bucket hash of ``read_keys`` against the JVM.

``ParquetUpsertTable.read_keys`` computes a lookup's bucket id on the
driver with the XXH64 twins of ``functions/hashing.py``; the writer
buckets rows with ``pmod(xxhash64(key), n)`` in Spark. A single diverging
bit would prune a lookup to the wrong bucket and miss a stored key, so the
driver ids are pinned to Spark's expression over the literal cast to the
key type — the exact expression the fallback probe evaluates.
"""

from __future__ import annotations

import random

from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType

from olr_cdc_oracle_with_dbz_spark.streaming.materialize import _driver_buckets

_NS = (1, 7, 16)


def _spark_buckets(spark, values, key_type) -> dict[int, list[int]]:
    """n → [pmod(xxhash64(CAST(lit(v) AS key_type)), n) for v in values],
    all in one local job."""
    cols = [
        F.array(
            *[F.pmod(F.xxhash64(F.lit(v).cast(key_type)), F.lit(n)) for v in values]
        ).alias(f"n{n}")
        for n in _NS
    ]
    row = spark.range(1).select(*cols).collect()[0]
    return {n: list(row[f"n{n}"]) for n in _NS}


def test_driver_bucket_ids_match_spark_for_bigint_keys(spark):
    rng = random.Random(11)
    values = [-(2**63), 2**63 - 1, -1, 0, 1, 2**31, -(2**31) - 1]
    values += [rng.randrange(-(2**63), 2**63) for _ in range(25)]
    jvm = _spark_buckets(spark, values, LongType())
    for n in _NS:
        assert _driver_buckets(values, LongType(), n) == list(zip(values, jvm[n]))


def test_driver_buckets_defer_other_pairs_to_the_probe():
    """Only int values against a bigint key hash on the driver; every
    other pair returns None for the probe. An int outside int64 is no
    such key; a bool is cast like Spark's."""
    assert _driver_buckets([3.0], LongType(), 16) is None
    assert _driver_buckets(["3"], LongType(), 16) is None
    assert _driver_buckets([3, None], LongType(), 16) is None
    assert _driver_buckets([3], StringType(), 16) is None
    assert _driver_buckets(["3"], StringType(), 16) is None
    assert _driver_buckets([2**70, -(2**63) - 1], LongType(), 16) == []
    assert _driver_buckets([True], LongType(), 7) == _driver_buckets([1], LongType(), 7)
