"""Entity-op tests (F1/F2/F3 + S3/S4): hashes incl. blake2b fallback,
density, fingerprint, map_entities, record lookups."""

from __future__ import annotations

import hashlib

import pandas as pd
import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def small_partition(spark):
    part = spark.createDataFrame(
        [(0, 0), (1, 0), (2, 0), (3, 3), (4, 3), (5, 5)],
        "record_id long, cluster_id long",
    )
    recs = spark.createDataFrame(
        [(i, "s", f"k{i}") for i in range(6)],
        "record_id long, source string, key string",
    )
    return part, recs


def test_entity_hashes_known_digests(spark, small_partition):
    from entityframe_spark.functions.hashing import entity_hashes

    part, recs = small_partition
    out = {
        r["cluster_id"]: r
        for r in entity_hashes(part, recs, ("sha256", "md5", "blake2b")).collect()
    }
    canon = "k0,k1,k2"
    assert out[0]["sha256"] == hashlib.sha256(canon.encode()).hexdigest()
    assert out[0]["md5"] == hashlib.md5(canon.encode()).hexdigest()
    assert (
        out[0]["blake2b"]
        == hashlib.blake2b(canon.encode(), digest_size=32).hexdigest()
    )
    assert out[5]["sha256"] == hashlib.sha256(b"k5").hexdigest()


def test_blake3_works_without_wheel(spark, small_partition):
    """blake3 no longer degrades when the wheel is absent: the repo's
    own C kernel (b3_native, vector-pinned in tests/test_b3_native.py)
    computes the digest."""
    from entityframe_spark.functions import hashing
    from tests.oracles import blake3_hex_py

    part, recs = small_partition
    rows = {
        r["cluster_id"]: r["blake3"]
        for r in hashing.entity_hashes(part, recs, ("blake3",)).collect()
    }
    for r in hashing.entity_hashes(part, recs, ()).collect():
        canon = ",".join(r["members"]).encode()
        assert rows[r["cluster_id"]] == blake3_hex_py(canon)


def test_entity_density(spark, small_partition):
    from entityframe_spark.functions.hashing import entity_density

    part, _ = small_partition
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (0, 2), (3, 4), (3, 5)], "src long, dst long"
    )
    out = {r["cluster_id"]: r["density"] for r in entity_density(part, edges).collect()}
    assert abs(out[0] - 1.0) < 1e-9  # triangle on 3 nodes: 2*3/(3*2)=1
    assert abs(out[3] - 1.0) < 1e-9  # one edge on 2 nodes
    assert out[5] == 0.0  # singleton
    # edge (3,5) crosses clusters -> ignored


def test_entity_fingerprint_deterministic(spark, small_partition):
    from entityframe_spark.functions.hashing import entity_fingerprint

    part, recs = small_partition
    a = {r["cluster_id"]: r["fingerprint"] for r in entity_fingerprint(part, recs).collect()}
    b = {r["cluster_id"]: r["fingerprint"] for r in entity_fingerprint(part, recs).collect()}
    assert a == b
    assert len(a[0]) == 16
    assert a[0] != a[3]


def test_map_entities_custom_fn(spark, small_partition):
    from entityframe_spark.functions.hashing import map_entities

    part, recs = small_partition

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        return pd.DataFrame(
            {
                "cluster_id": [pdf["cluster_id"].iloc[0]],
                "joined": ["|".join(sorted(pdf["key"]))],
            }
        )

    out = {
        r["cluster_id"]: r["joined"]
        for r in map_entities(part, recs, fn, "cluster_id long, joined string").collect()
    }
    assert out[0] == "k0|k1|k2"
    assert out[5] == "k5"


def test_record_lookups(spark, small_partition):
    from entityframe_spark.core.records import get_record, records_by_source

    _, recs = small_partition
    assert get_record(recs, 3).collect()[0]["key"] == "k3"
    assert records_by_source(recs, "s").count() == 6
    assert records_by_source(recs, "other").count() == 0
