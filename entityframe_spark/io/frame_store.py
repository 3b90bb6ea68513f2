"""Relational 5-table persistence for EntityFrames (SURVEY.md S8/S9).

The reference defines a canonical database decomposition of a frame
(docs/design/interface.md:693-729): records / collections /
merge_events / merge_groups / merge_group_records. This module writes
exactly those five tables as parquet directories and loads them back
into an EntityFrame with identical partitions at every threshold —
Spark-native durable transport in place of the reference's Arrow IPC
(interface.md:662-689).

Representation note (documented deviation): the reference stores each
merge event's full member bitmaps. At 10^12 records that is O(n) PER
EVENT; this engine's dendrogram is the compact child->parent form (at
most n-1 rows total), so each merge event persists its TWO group
representatives. Partitions reconstruct identically because
reconstruction is connected components over the representative edges
— verified by the round-trip test.

Layout: <path>/records, <path>/collections, <path>/merge_events,
<path>/merge_groups, <path>/merge_group_records, plus
<path>/collection_records (this engine's addition: each collection's
OWN record space — ``base_ids`` — which the reference keeps implicit
in per-hierarchy bitmaps, algorithms.md:621-640; without it a loaded
frame forgets which records each collection brought, and
drop()+compact() after a round-trip reclaims nothing). merge tables
are written partitioned by collection_id so loading one collection
prunes the others' files.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from entityframe_spark.core.quantize import PRECISION_FACTOR
from entityframe_spark.operators.collection import Collection
from entityframe_spark.operators.entityframe import EntityFrame

TABLES = (
    "records",
    "collections",
    "merge_events",
    "merge_groups",
    "merge_group_records",
    "collection_records",
)


def frame_tables(ef: EntityFrame) -> dict[str, DataFrame]:
    """The frame's relational decomposition as live DataFrames, one per
    TABLES entry — shared by the parquet sink (save_frame) and the
    in-memory Arrow transport (io/arrow_transport.py)."""
    spark = ef.records.sparkSession if ef.records is not None else None
    if spark is None:
        raise ValueError("EntityFrame has no records; nothing to save")

    rec_cols = [
        F.col("record_id").alias("record_index"),
        F.col("source").cast("string").alias("source"),
        F.col("key").cast("string").alias("key"),
    ]
    if "attr_sig" in ef.records.columns:
        # attribute-identity frames (S2): attrs must round-trip or two
        # records with the same (source, key) become indistinguishable
        rec_cols += [F.col("attrs"), F.col("attr_sig")]
    recs = ef.records.select(*rec_cols)

    names = sorted(ef.collections)
    coll_rows = [(i, n) for i, n in enumerate(names)]
    collections = spark.createDataFrame(coll_rows, "collection_id int, name string")

    events = None
    for cid, name in coll_rows:
        me = ef.collections[name].merge_edges.select(
            F.lit(cid).alias("collection_id"),
            (F.col("threshold_fp") / F.lit(float(PRECISION_FACTOR))).alias("threshold"),
            F.col("child"),
            F.col("parent"),
        )
        events = me if events is None else events.unionByName(me)
    if events is None:
        # records-only frame: empty-but-typed tables so save_frame and
        # frame_to_arrow still produce the full decomposition instead of
        # an AttributeError on None (ADVICE r4)
        events = spark.createDataFrame(
            [], "collection_id int, threshold double, child long, parent long"
        )
    # merge_id: the NATURAL composite key (collection_id, threshold_fp,
    # child) rendered as a string — child appears exactly once per
    # collection, so this is unique BY CONSTRUCTION. (A 64-bit hash id
    # hits birthday collisions around ~5e9 events — real at the 10^12
    # -record target — and a collision silently cross-wires two merge
    # events at load time.)
    events = events.select(
        "*",
        F.concat_ws(
            ":",
            F.col("collection_id"),
            F.round(F.col("threshold") * PRECISION_FACTOR).cast("long"),
            F.col("child"),
        ).alias("merge_id"),
    ).localCheckpoint(eager=False)

    merge_events = events.select("merge_id", "collection_id", "threshold")

    # two groups per event: group 0 = absorbed (child) side, group 1 =
    # surviving (parent) side. group_id = merge_id ":" group_no —
    # composite, collision-free (see merge_id note above).
    merge_groups = events.select(
        "merge_id",
        "collection_id",
        F.explode(F.array(F.lit(0), F.lit(1))).alias("group_no"),
    ).select(
        F.concat_ws(":", "merge_id", "group_no").alias("group_id"),
        "merge_id",
        "group_no",
        "collection_id",
    )

    merge_group_records = events.select(
        F.concat_ws(":", "merge_id", F.lit(0)).alias("group_id"),
        F.col("child").alias("record_index"),
        "collection_id",
    ).unionByName(
        events.select(
            F.concat_ws(":", "merge_id", F.lit(1)).alias("group_id"),
            F.col("parent").alias("record_index"),
            "collection_id",
        )
    )

    # per-collection live record space (base_ids): what compact()
    # treats as live for this collection, isolates included
    coll_records = None
    for cid, name in coll_rows:
        b = ef.collections[name].base_ids.select(
            F.lit(cid).alias("collection_id"),
            F.col("record_id").alias("record_index"),
        )
        coll_records = b if coll_records is None else coll_records.unionByName(b)
    if coll_records is None:
        coll_records = spark.createDataFrame(
            [], "collection_id int, record_index long"
        )

    return {
        "records": recs,
        "collections": collections,
        "merge_events": merge_events,
        "merge_groups": merge_groups,
        "merge_group_records": merge_group_records,
        "collection_records": coll_records,
    }


def save_frame(ef: EntityFrame, path: str, mode: str = "overwrite") -> None:
    """Write an EntityFrame as the relational decomposition
    (interface.md:693-729 plus collection_records)."""
    tables = frame_tables(ef)
    tables["records"].write.mode(mode).parquet(f"{path}/records")
    tables["collections"].write.mode(mode).parquet(f"{path}/collections")
    for tbl in ("merge_events", "merge_groups", "merge_group_records", "collection_records"):
        tables[tbl].write.mode(mode).partitionBy("collection_id").parquet(
            f"{path}/{tbl}"
        )


def load_frame(spark: SparkSession, path: str) -> EntityFrame:
    """Load a frame written by save_frame. Partitions at any
    threshold are identical to the saved frame's (round-trip test in
    tests/test_frame_store.py)."""
    # a zero-collection frame's partitioned tables have no part files
    # (partitionBy of an empty DataFrame writes only _SUCCESS), so their
    # reads fall back to empty-but-typed frames (ADVICE r4)
    empty_schemas = {
        "merge_events": "merge_id string, collection_id int, threshold double",
        "merge_groups": (
            "group_id string, merge_id string, group_no int, collection_id int"
        ),
        "merge_group_records": "group_id string, record_index long, collection_id int",
    }
    tables = {}
    for tbl in TABLES:
        if tbl == "collection_records":
            continue
        try:
            tables[tbl] = spark.read.parquet(f"{path}/{tbl}")
        except Exception:
            if tbl not in empty_schemas:
                raise
            tables[tbl] = spark.createDataFrame([], empty_schemas[tbl])
    # base_ids table: frames saved before r4 lack it (old whole-space
    # default applies)
    try:
        tables["collection_records"] = spark.read.parquet(f"{path}/collection_records")
    except Exception:
        pass
    return assemble_frame(tables)


def assemble_frame(tables: dict[str, DataFrame]) -> EntityFrame:
    """Rebuild an EntityFrame from its relational decomposition (the
    inverse of frame_tables) — shared by load_frame and the Arrow
    transport."""
    raw_records = tables["records"]
    rec_cols = [F.col("record_index").alias("record_id"), F.col("source"), F.col("key")]
    if "attr_sig" in raw_records.columns:
        rec_cols += [F.col("attrs"), F.col("attr_sig")]
    records = raw_records.select(*rec_cols)
    collections = tables["collections"]
    events = tables["merge_events"]
    groups = tables["merge_groups"]
    group_records = tables["merge_group_records"]

    # re-join the normalised tables back to child->parent merge edges:
    # group_no 0 holds the child rep, group_no 1 the parent rep
    sides = (
        groups.join(group_records.drop("collection_id"), "group_id")
        .groupBy("merge_id", "collection_id")
        .agg(
            F.max(F.when(F.col("group_no") == 0, F.col("record_index"))).alias("child"),
            F.max(F.when(F.col("group_no") == 1, F.col("record_index"))).alias(
                "parent"
            ),
        )
    )
    me_all = events.drop("collection_id").join(sides, "merge_id").select(
        "collection_id",
        F.round(F.col("threshold") * PRECISION_FACTOR).cast("long").alias(
            "threshold_fp"
        ),
        "child",
        "parent",
    )
    me_all = me_all.localCheckpoint(eager=False)

    # base_ids per collection: required for post-load drop()+compact()
    # parity with the in-memory frame (ADVICE r3). Absent table falls
    # back to the old whole-space default.
    coll_records = tables.get("collection_records")

    ef = EntityFrame()
    recs_cp = records.localCheckpoint(eager=False)
    ef.records = recs_cp
    for row in collections.orderBy("collection_id").collect():
        me = me_all.where(F.col("collection_id") == row["collection_id"]).drop(
            "collection_id"
        )
        base = None
        if coll_records is not None:
            base = coll_records.where(
                F.col("collection_id") == row["collection_id"]
            ).select(F.col("record_index").alias("record_id"))
        coll = Collection(recs_cp, me, base_ids=base)
        # collections already share the frame record space: register
        # directly (no assimilation join needed)
        coll.records = ef.records
        ef.collections[row["name"]] = coll
    return ef
