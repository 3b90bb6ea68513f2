"""Round-2 feature tests: attribute identity (S2/S6), assimilation
(J2/U3), n-way analyse, 5-table persistence (S8/S9), stability metrics
(A13/A14), bucketed ANN, multimodal plumbing."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F


# ---------------------------------------------------------------------------
# S2/S6: attribute identity — parity with data_context.rs:111-204
# ---------------------------------------------------------------------------


class TestAttributeIdentity:
    def test_same_attrs_same_record_different_attrs_different(self, spark):
        """data_context.rs test_record_with_attributes: identical attrs
        (any insertion order) dedup to one record; different attrs on
        the same (source, key) are a distinct record."""
        from entityframe_spark.core.records import intern_records_with_attributes

        df = spark.createDataFrame(
            [
                ("people", "1", {"name": "Alice", "age": "30"}),
                ("people", "1", {"age": "30", "name": "Alice"}),  # same, reordered
                ("people", "1", {"name": "Bob"}),
            ],
            "source string, key string, attrs map<string,string>",
        )
        out = intern_records_with_attributes(df).collect()
        assert len(out) == 2
        ids = sorted(r["record_id"] for r in out)
        assert ids == [0, 1]

    def test_dedup_and_source_separation(self, spark):
        """test_record_deduplication + test_different_sources..."""
        from entityframe_spark.core.records import intern_records_with_attributes

        df = spark.createDataFrame(
            [
                ("source1", "key1", None),
                ("source1", "key1", None),
                ("source1", "key2", None),
                ("source2", "key1", None),
            ],
            "source string, key string, attrs map<string,string>",
        )
        out = intern_records_with_attributes(df).collect()
        assert len(out) == 3

    def test_from_records_with_attr_columns(self, spark):
        from entityframe_spark.operators.entityframe import EntityFrame

        df = spark.createDataFrame(
            [(1, "Alice", 30), (2, "Bob", 25), (1, "Alice", 30), (1, "Alicia", 30)],
            "customer_id long, name string, age long",
        )
        ef = EntityFrame.from_records(
            "CRM", df, key_column="customer_id", attr_columns=["name", "age"]
        )
        recs = ef.records.collect()
        # (1, Alice, 30) dedups; (1, Alicia, 30) is a separate record
        assert len(recs) == 3
        assert all(r["source"] == "CRM" for r in recs)


# ---------------------------------------------------------------------------
# J2/U3: assimilation of collections built on different key spaces
# ---------------------------------------------------------------------------


class TestAssimilation:
    def test_add_collection_translates_ids(self, spark):
        from entityframe_spark.operators.collection import Collection
        from entityframe_spark.operators.entityframe import EntityFrame, col

        # collection A over keys a..d — interned ids 0..3
        a = Collection.from_edges(
            spark, [("a", "b", 0.9), ("c", "d", 0.9)], source="s"
        )
        # collection B built INDEPENDENTLY over keys c..f — its OWN ids
        # 0..3 refer to different keys
        b = Collection.from_edges(
            spark, [("c", "d", 0.9), ("e", "f", 0.9)], source="s"
        )
        ef = EntityFrame()
        ef.add_collection("a", a)
        ef.add_collection("b", b)
        # frame space = a..f
        assert ef.records.count() == 6
        # compare: on the shared space, both cluster {c,d}; A also has
        # {a,b} (B sees a,b as isolates), B has {e,f} (isolates in A)
        res = ef.analyse(col("a").at(0.5), col("b").at(0.5))
        row = res[0]
        # pairs: A clusters {a,b},{c,d} -> pp=2; B clusters {c,d},{e,f}
        # -> ap=2; shared pair = {c,d} -> tp=1
        assert abs(row["precision"] - 0.5) < 1e-9
        assert abs(row["recall"] - 0.5) < 1e-9
        assert abs(row["f1"] - 0.5) < 1e-9

    def test_assimilation_key_identity_not_id(self, spark):
        """The same key in both collections must land on the same frame
        record id even though local intern ids differ."""
        from entityframe_spark.operators.collection import Collection
        from entityframe_spark.operators.entityframe import EntityFrame

        a = Collection.from_edges(spark, [("x", "y", 1.0)], source="s")
        b = Collection.from_edges(spark, [("w", "y", 1.0)], source="s")
        ef = EntityFrame()
        ef.add_collection("a", a)
        ef.add_collection("b", b)
        recs = {r["key"]: r["record_id"] for r in ef.records.collect()}
        assert len(recs) == 3  # w, x, y
        bt = ef.collections["b"]
        me = bt.merge_edges.collect()
        ids = {me[0]["child"], me[0]["parent"]}
        assert ids == {recs["w"], recs["y"]}


# ---------------------------------------------------------------------------
# n-way analyse
# ---------------------------------------------------------------------------


def test_analyse_three_expressions_consensus(spark):
    from entityframe_spark.operators.collection import Collection
    from entityframe_spark.operators.entityframe import EntityFrame, col

    edges = [("a", "b", 0.9), ("c", "d", 0.9)]
    ef = EntityFrame()
    for name in ("m1", "m2", "m3"):
        ef.add_collection(name, Collection.from_edges(spark, edges, source="s"))
    res = ef.analyse(col("m1").at(0.5), col("m2").at(0.5), col("m3").at(0.5))
    assert len(res) == 1
    row = res[0]
    assert set(row) >= {"m1_threshold", "m2_threshold", "m3_threshold", "f1", "agreement"}
    # identical collections agree perfectly
    assert abs(row["f1"] - 1.0) < 1e-9
    assert abs(row["agreement"] - 1.0) < 1e-9


def test_analyse_nway_collect_gated_by_cells_bound(spark):
    """analyse() collects the n-way product of grids to the driver: past
    the cells bound it raises and points to analyse_df; small products
    still return rows."""
    from entityframe_spark.operators.collection import Collection
    from entityframe_spark.operators.entityframe import EntityFrame, col

    ef = EntityFrame()
    for name in ("m1", "m2", "m3"):
        ef.add_collection(
            name, Collection.from_edges(spark, [("a", "b", 0.9), ("b", "c", 0.6)], source="s")
        )
    fine = col("m1").sweep(0.0, 1.0, 0.001)  # 1001 points: 1001^3 rows
    with pytest.raises(ValueError, match="analyse_df"):
        ef.analyse(fine, fine, fine)
    res = ef.analyse(col("m1").sweep(0.5, 0.9, 0.4), col("m2").at(0.7), col("m3").at(0.5))
    assert sorted(r["m1_threshold"] for r in res) == [0.5, 0.9]


# ---------------------------------------------------------------------------
# S8/S9: 5-table persistence round-trip
# ---------------------------------------------------------------------------


def test_frame_store_round_trip(spark, tmp_path):
    from entityframe_spark.io.frame_store import load_frame, save_frame
    from entityframe_spark.operators.collection import Collection
    from entityframe_spark.operators.entityframe import EntityFrame

    edges = [
        ("a", "b", 0.9),
        ("b", "c", 0.7),
        ("d", "e", 0.8),
        ("c", "d", 0.4),
    ]
    ef = EntityFrame()
    ef.add_collection("main", Collection.from_edges(spark, edges, source="s"))
    ef.add_collection(
        "alt", Collection.from_edges(spark, [("a", "c", 0.6), ("d", "e", 0.95)], source="s")
    )
    path = str(tmp_path / "frame")
    save_frame(ef, path)

    ef2 = load_frame(spark, path)
    assert sorted(ef2.collections) == ["alt", "main"]

    def parts(frame, name, t):
        coll = frame.collections[name]
        rows = coll.at(t).collect()
        key_by_id = {r["record_id"]: r["key"] for r in frame.records.collect()}
        clusters: dict = {}
        for r in rows:
            clusters.setdefault(r["cluster_id"], set()).add(key_by_id[r["record_id"]])
        return {frozenset(v) for v in clusters.values()}

    for name, t in itertools.product(("main", "alt"), (0.95, 0.75, 0.5)):
        assert parts(ef, name, t) == parts(ef2, name, t), (name, t)

    # all 5 tables exist on disk
    import os

    for tbl in ("records", "collections", "merge_events", "merge_groups", "merge_group_records"):
        assert os.path.isdir(f"{path}/{tbl}"), tbl


# ---------------------------------------------------------------------------
# A13/A14: stability metrics vs brute force
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def chain_edges(spark):
    # chain a-b-c-d-e with descending weights: merges at .9 .7 .5 .3
    rows = [(0, 1, 900000), (1, 2, 700000), (2, 3, 500000), (3, 4, 300000)]
    return spark.createDataFrame(rows, "src long, dst long, w_fp long")


def test_entity_lifetime_grid(spark, chain_edges):
    from entityframe_spark.operators.hierarchy import build_merge_edges
    from entityframe_spark.operators.stability import entity_lifetime

    me = build_merge_edges(chain_edges)
    recs = spark.createDataFrame([(i,) for i in range(5)], "record_id long")
    grid = [800000, 600000, 400000, 200000]
    out = entity_lifetime(me, recs, grid).collect()
    by = {(r["cluster_id"], r["entity_size"]): r for r in out}
    # merges are inclusive >=: P(800000)={01}{2}{3}{4},
    # P(600000)={012}{3}{4}, P(400000)={0123}{4}, P(200000)={01234}
    r01 = by[(0, 2)]
    assert (r01["t_start_fp"], r01["t_end_fp"], r01["lifetime_points"]) == (
        800000,
        800000,
        1,
    )
    # {0,1,2} exists only at 600000
    r012 = by[(0, 3)]
    assert (r012["t_start_fp"], r012["t_end_fp"]) == (600000, 600000)
    # singleton {3} lives at 800000 and 600000
    assert by[(3, 1)]["lifetime_points"] == 2
    # singleton {4} lives from 800000 through 400000 (3 grid points)
    r4 = by[(4, 1)]
    assert r4["lifetime_points"] == 3
    # full chain {0..4} exists only at 200000
    assert by[(0, 5)]["lifetime_points"] == 1


def test_stability_score(spark, chain_edges):
    from entityframe_spark.operators.hierarchy import build_merge_edges
    from entityframe_spark.operators.stability import stability_score

    me = build_merge_edges(chain_edges)
    recs = spark.createDataFrame([(i,) for i in range(5)], "record_id long")
    # P(800000) = {01}{2}{3}{4}; P(600000) = {01}{23}{4} — common {01},{4}
    row = stability_score(me, recs, 800000, 600000).collect()[0]
    assert row["common_entities"] == 2
    assert row["total_entities"] == 5  # {01},{2},{3},{4},{23}
    assert abs(row["stability"] - 2 / 5) < 1e-9
    # identical thresholds -> 1.0
    row2 = stability_score(me, recs, 800000, 800000).collect()[0]
    assert abs(row2["stability"] - 1.0) < 1e-9


def test_merge_criticality_and_information(spark, chain_edges):
    from entityframe_spark.operators.hierarchy import build_merge_edges_sized
    from entityframe_spark.operators.stability import (
        information_content,
        merge_criticality,
    )

    sized = build_merge_edges_sized(chain_edges).localCheckpoint(eager=False)
    crit = {r["threshold_fp"]: r for r in merge_criticality(sized).collect()}
    # chain merges: at .9 {0}+{1} -> 1x1; .7 {01}+{2} -> 2x1;
    # .5 {012}+{3} -> 3x1; .3 {0123}+{4} -> 4x1
    assert crit[900000]["criticality"] == 1
    assert crit[700000]["criticality"] == 2
    assert crit[500000]["criticality"] == 3
    assert crit[300000]["criticality"] == 4
    assert crit[300000]["merged_size"] == 5

    info = {r["threshold_fp"]: r for r in information_content(sized).collect()}
    # i_cum monotone non-decreasing as threshold falls; info_loss in [0,1]
    ts = sorted(info, reverse=True)
    prev = 0.0
    for t in ts:
        assert info[t]["i_cum"] >= prev - 1e-9
        prev = info[t]["i_cum"]
        assert -1e-9 <= info[t]["info_loss"] <= 1.0 + 1e-9
    assert abs(info[ts[-1]]["info_loss"]) < 1e-9  # full hierarchy = no loss


# ---------------------------------------------------------------------------
# bucketed ANN
# ---------------------------------------------------------------------------


def test_bucketed_ann_partition_pruning_and_recall(spark, sf_dir, tmp_path):
    from entityframe_spark.pipeline.ann import (
        brute_force_topk,
        lsh_topk_bucketed,
        write_bucketed,
    )

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = len(emb.select("embedding").first()["embedding"])
    path = str(tmp_path / "ann")
    write_bucketed(emb, path, dim, n_planes=8)

    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    approx = lsh_topk_bucketed(spark, path, qv, k=10, n_planes=8)
    # partition pruning visible in the plan
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "bucket" in plan

    got = [r["vec_id"] for r in approx.collect()]
    assert 0 in got  # the query vector itself is its own nearest bucket-mate
    exact = [r["vec_id"] for r in brute_force_topk(emb, qv, k=10).collect()]
    # hamming-1 multiprobe recall: at least a third of exact top-10
    assert len(set(got) & set(exact)) >= 3


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------


class TestMultimodal:
    def test_extract_features_shapes(self, spark):
        from entityframe_spark.pipeline.multimodal import (
            extract_features,
            synthesize_media,
        )

        media = synthesize_media(spark, n=30)
        out = extract_features(media).collect()
        assert len(out) == 30
        for r in out:
            assert len(r["feature"]) == 8
            assert r["n_bytes"] >= 64

    def test_extract_features_strict_raises(self, spark):
        from entityframe_spark.pipeline.multimodal import (
            extract_features,
            synthesize_media,
        )
        from py4j.protocol import Py4JJavaError

        media = synthesize_media(spark, n=3)
        with pytest.raises(Exception) as ei:
            extract_features(media, strict=True).collect()
        assert "NotImplementedError" in str(ei.value) or isinstance(
            ei.value, Py4JJavaError
        )

    def test_frame_sample_plan(self, spark):
        from entityframe_spark.pipeline.multimodal import (
            frame_sample_plan,
            synthesize_media,
        )

        media = synthesize_media(spark, n=9)
        out = frame_sample_plan(media, every_ms=500).collect()
        vids = media.where(F.col("kind") == "video").collect()
        expect = sum(r["duration_ms"] // 500 + 1 for r in vids)
        assert len(out) == expect
