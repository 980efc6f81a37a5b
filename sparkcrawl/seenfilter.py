"""Partitioned bloom-filter sidecar for the URL-seen set (SURVEY.md §2.3 D2).

Replaces the reference's in-RAM fingerprint set (scrapy/dupefilters.py::
RFPDupeFilter) at the 10^10-URL design point: the exact ``seen`` table no
longer fits one process, so each url_hash bucket carries a serialized bloom
blob in the ``seen_filter`` table — a normal bucket-keyed Spark table, never
collected to the driver and never broadcast whole (VERDICT r2 #1: at
~10 bits/key the full sidecar is ~12.5 GB; only per-bucket blobs may ever
move). Per round:

- PROBE (:func:`probe_partitioned`): candidate rows cogroup with the sidecar
  on ``bucket`` — each task receives one bucket's candidates plus that ONE
  bucket's blob and runs a vectorized numpy batch probe. Blob bytes move
  exactly once per bucket, executor-to-executor via the cogroup exchange.
  Rows the filter rejects are *definitely new* (no false negatives,
  property-tested in tests/test_bloom.py) and skip the exact membership
  check entirely; only the ~dup + FPP fraction consults the exact ``seen``
  table.
- BUILD/MERGE (:func:`merge_bucket_blobs`): freshly enqueued keys cogroup
  with the previous sidecar on ``bucket``; each task hashes its bucket's
  fresh keys into the bucket's old blob (OR-merge — commutative/associative,
  so the result is deterministic under any partitioning) and emits the new
  blob row. Untouched buckets pass their blob through unchanged. The merged
  table commits as a new snapshot alongside ``seen``; the driver handles
  only manifest ids.

Correctness never depends on the filter: the exact anti-join/left-join vs
``seen`` remains authoritative for every row the filter flags as maybe-seen.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from sparkcrawl.bloom import BloomFilter

SIDECAR_SCHEMA_DDL = "bucket int, filter binary"

SIDECAR_SPARK_SCHEMA = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("filter", T.BinaryType()),
    ]
)


def empty_sidecar(spark) -> DataFrame:
    return spark.createDataFrame([], SIDECAR_SPARK_SCHEMA)


def probe_partitioned(
    cands: DataFrame, sidecar: DataFrame, out_schema: T.StructType
) -> DataFrame:
    """Bucket-partitioned bloom probe: returns ``cands`` plus a ``_maybe``
    boolean column. A bucket with no blob yet ⇒ nothing of it was ever
    enqueued ⇒ definitely unseen (``_maybe`` false). ``cands`` must carry
    ``bucket`` and ``url_hash``; ``out_schema`` is ``cands.schema`` plus the
    ``_maybe`` field (grouped-map schemas are declared, not inferred)."""

    def _probe(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if right.empty or left.empty:
            return left.assign(_maybe=np.zeros(len(left), dtype=bool))
        bf = BloomFilter.from_bytes(bytes(right["filter"].iloc[0]))
        return left.assign(
            _maybe=bf.contains_many(left["url_hash"].to_numpy(dtype=np.int64))
        )

    return (
        cands.groupBy("bucket")
        .cogroup(sidecar.groupBy("bucket"))
        .applyInPandas(_probe, out_schema)
    )


def merge_bucket_blobs(
    fresh_keys: DataFrame, sidecar: DataFrame, m_bits: int, k: int
) -> DataFrame:
    """(bucket, url_hash) fresh rows ⊕ previous sidecar → the next sidecar.
    Buckets with fresh keys OR them into their old blob (or a new empty
    one); buckets without fresh keys pass their blob through. Fully
    distributed — one task per bucket, nothing through the driver. The OR
    is order-independent, so the committed blob bytes that deterministic
    resume must reproduce do not depend on cogroup arrival order."""

    def _merge(left: pd.DataFrame, right: pd.DataFrame) -> pd.DataFrame:
        if left.empty and right.empty:  # cogroup never emits this, be safe
            return pd.DataFrame({"bucket": pd.array([], dtype="int32"),
                                 "filter": []})
        bucket = int((left if not left.empty else right)["bucket"].iloc[0])
        if right.empty:
            bf = BloomFilter(m_bits, k)
        else:
            bf = BloomFilter.from_bytes(bytes(right["filter"].iloc[0]))
        if not left.empty:
            keys = np.unique(left["url_hash"].to_numpy(dtype=np.int64))
            bf.add_many(keys)
        return pd.DataFrame({"bucket": [bucket], "filter": [bf.to_bytes()]})

    return (
        fresh_keys.select("bucket", "url_hash")
        .groupBy("bucket")
        .cogroup(sidecar.groupBy("bucket"))
        .applyInPandas(_merge, SIDECAR_SCHEMA_DDL)
    )

