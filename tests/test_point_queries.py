"""Point queries (entity_count, find_entity_for_record, contains_record)
answered from Collection's driver-side dendrogram index, checked against
the partition ``at()`` materialises through Spark."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from entityframe_spark.core.records import intern_records
from entityframe_spark.operators import hierarchy
from entityframe_spark.operators.collection import Collection, _PointIndex

# chain a-b-c-d merges 4-way at 0.9; e-f at 0.7 joins it at 0.5; g-h at
# 0.3; "z" is in the record space with no edge (an isolate)
EDGES = [
    ("a", "b", 0.9),
    ("b", "c", 0.9),
    ("c", "d", 0.9),
    ("e", "f", 0.7),
    ("d", "e", 0.5),
    ("g", "h", 0.3),
]
KEYS = sorted({k for a, b, _ in EDGES for k in (a, b)} | {"z"})
# merge levels, just above one, between levels and both ends
THRESHOLDS = [0.0, 1.0, 0.9, 0.900001, 0.6, 0.5, 0.3, 0.2]


def _records(spark, dense_ids=True):
    keys = spark.createDataFrame([(k,) for k in KEYS], "key string")
    return intern_records(
        keys.withColumn("source", F.lit("default")), "source", "key", dense_ids=dense_ids
    )


def _edges(spark):
    return spark.createDataFrame(EDGES, "src string, dst string, weight double")


def _oracle(coll, t):
    return {r["record_id"]: r["cluster_id"] for r in coll.at(t).collect()}


def _assert_matches_at(coll, thresholds, absent=()):
    """Every answer equals the at() partition; ``absent`` ids are not
    in the record space."""
    for t in thresholds:
        want = _oracle(coll, t)
        assert coll.entity_count(t) == len(set(want.values())), t
        for rid in [*want, *absent]:
            assert coll.contains_record(rid, t) == (rid in want), (rid, t)
            assert coll.find_entity_for_record(rid, t) == want.get(rid), (rid, t)


@pytest.mark.parametrize("dense_ids", [True, False], ids=["dense", "hash"])
def test_index_matches_at_route(spark, dense_ids):
    coll = Collection.from_edges(_edges(spark), records=_records(spark, dense_ids))
    ids = [r["record_id"] for r in coll.records.collect()]
    if not dense_ids:
        # full-range 64-bit ids: pandas would round these through float64
        assert max(abs(i) for i in ids) > 2**53
    absent = [max(ids) + 1, min(ids) - 1, 2**63 - 1, -(2**63), 2**70]
    _assert_matches_at(coll, THRESHOLDS, absent)
    assert isinstance(coll._index, _PointIndex)
    # n-way merge at 0.9: a, b, c and d share one entity
    rid = {r["key"]: r["record_id"] for r in coll.records.collect()}
    assert len({coll.find_entity_for_record(rid[k], 0.9) for k in "abcd"}) == 1
    assert coll.entity_count(0.9) == len(KEYS) - 3
    assert coll.entity_count(0.0) == 3  # {a..f}, {g, h}, {z}


@pytest.mark.parametrize("bound", ["_MAX_LOCAL_CELLS", "_LOCAL_MERGE_EDGES"])
def test_above_bound_takes_at_route(spark, monkeypatch, bound):
    monkeypatch.setattr(hierarchy, bound, -1)
    coll = Collection.from_edges(_edges(spark), records=_records(spark))
    _assert_matches_at(coll, [1.0, 0.6, 0.0], absent=[10_000])
    assert coll._index is None
    assert coll.find_entity_for_record(10_000, 0.6) is None


def test_index_from_memberships(spark):
    mem = spark.createDataFrame(
        [(100, 1), (100, 5), (100, 9), (200, 2), (200, 7), (300, 4)],
        "cluster_id long, record_id long",
    )
    coll = Collection.from_memberships(mem)
    _assert_matches_at(coll, [1.0, 0.999999, 0.5, 0.0], absent=[3, 10])
    assert isinstance(coll._index, _PointIndex)
    assert coll.entity_count(1.0) == 3
    assert coll.find_entity_for_record(9, 1.0) == 1


def test_empty_collection(spark):
    coll = Collection.from_edges(spark, [])
    assert coll.entity_count(0.5) == 0
    assert coll.find_entity_for_record(0, 0.5) is None
    assert not coll.contains_record(0, 0.5)
    assert coll.at(0.5).count() == 0


def test_out_of_range_threshold_raises(spark):
    coll = Collection.from_edges(spark, EDGES[:1])
    for bad in (-0.1, 1.5):
        with pytest.raises(ValueError, match="threshold"):
            coll.entity_count(bad)
        with pytest.raises(ValueError, match="threshold"):
            coll.find_entity_for_record(0, bad)
        with pytest.raises(ValueError, match="threshold"):
            coll.contains_record(0, bad)


def test_rebind_to_grown_space_drops_index(spark):
    coll = Collection.from_edges(_edges(spark), records=_records(spark))
    n0 = coll.entity_count(0.6)  # builds the index and caches the 0.6 row
    top = max(r["record_id"] for r in coll.records.collect())
    grown = coll.records.unionByName(
        spark.createDataFrame(
            [(top + 1, "default", "new1"), (top + 2, "default", "new2")],
            "record_id long, source string, key string",
        )
    )
    coll.rebind_records(grown)
    assert coll._index is None
    assert coll.entity_count(0.6) == n0 + 2  # no stale row at 0.6
    assert coll.find_entity_for_record(top + 2, 0.6) == top + 2
    assert coll.contains_record(top + 1, 0.0)
    _assert_matches_at(coll, [0.6, 0.0], absent=[top + 3])


def _job_ids(sc, group):
    return list(sc.statusTracker().getJobIdsForGroup(group))


def _run_in_group(sc, group, fn):
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()


def test_point_queries_launch_no_job_after_the_first(spark):
    sc = spark.sparkContext
    coll = Collection.from_edges(_edges(spark), records=_records(spark))
    rid = coll.records.select("record_id").first()["record_id"]

    _run_in_group(sc, "pq-first", lambda: coll.entity_count(0.6))

    def later():
        for t in (0.6, 0.9, 0.3, 0.0, 0.6, 1.0):  # cached and new thresholds
            coll.entity_count(t)
            coll.find_entity_for_record(rid, t)
            coll.contains_record(rid, t)

    _run_in_group(sc, "pq-later", later)
    # listener events arrive in order: once a later job is visible,
    # every job the point queries launched would be too
    _run_in_group(sc, "pq-fence", lambda: spark.range(1).count())
    deadline = time.time() + 30
    while not _job_ids(sc, "pq-fence") and time.time() < deadline:
        time.sleep(0.1)
    assert _job_ids(sc, "pq-fence")
    assert _job_ids(sc, "pq-first")  # the probe and the collect
    assert _job_ids(sc, "pq-later") == []


@pytest.mark.parametrize("local_threshold", [hierarchy._LOCAL_MERGE_EDGES, 0], ids=["fused", "bucketed"])
def test_grid_memberships_keep_hash_ids(spark, local_threshold):
    """The grid reconstruction shares the index's stream reader, so
    full-range 64-bit record ids come back exact on both routes."""
    coll = Collection.from_edges(_edges(spark), records=_records(spark, dense_ids=False))
    got = hierarchy.memberships_for_grid(
        coll.merge_edges, coll.records, [900_000, 0], local_threshold=local_threshold
    ).collect()
    for t_fp in (900_000, 0):
        want = _oracle(coll, t_fp / 1e6)
        assert {
            r["record_id"]: r["cluster_id"] for r in got if r["threshold_fp"] == t_fp
        } == want
