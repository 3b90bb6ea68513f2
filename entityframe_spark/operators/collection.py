"""Collection: one resolution attempt over a record space.

API parity with the reference's ``Collection``
(src/python/starlings/__init__.py:120-236,
src/rust/starlings-py/src/lib.rs:127-189): build from weighted edges,
materialise the partition at any threshold, list entities.

Two caches stand in for the reference's 10-entry partition LRU
(builder.rs:41,253-328):

- ``at()`` returns the partition as a DataFrame, persisted and kept in
  an LRU of ``_CACHE_SIZE`` entries keyed by fixed-point threshold.
  ``entities()`` and every EntityFrame path read it (or the dendrogram)
  through Spark.
- The scalar point queries ``entity_count``, ``find_entity_for_record``
  and ``contains_record`` read a driver-side dendrogram index instead.
  The first point query on a Collection builds it with one count probe
  and one Arrow collect of the record ids and merge edges; after that a
  point query runs no Spark job. A threshold the index has not seen
  costs one O(records + merges) run of the grid union-find kernel for
  one label row, and the last ``_CACHE_SIZE`` rows stay in an LRU, so
  repeated thresholds are O(1) counts and O(log records) lookups.

The index is used while ``records x _CACHE_SIZE`` fits the fused
single-task cell budget of ``hierarchy.memberships_for_grid`` (50M
cells, so up to 5M records) and the merge edges fit its single-task
bound (20M). It then holds 8 bytes per record for the sorted ids,
24 per merge edge and 8 per record for each cached label row. A
dendrogram has fewer merge edges than records, so that is at most
about 0.6 GB at the bound and under 2 MB for a 15k-record collection.
Above either bound the point queries answer from ``at()`` through
Spark, as before.
"""

from __future__ import annotations

from collections import OrderedDict
from typing import Iterable

import numpy as np

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from entityframe_spark.core.quantize import (
    PRECISION_FACTOR,
    quantize_weights,
    threshold_to_fp,
)
from entityframe_spark.core.records import DEFAULT_SOURCE, intern_records, resolve_edge_keys
from entityframe_spark.functions import uf_native
from entityframe_spark.operators import hierarchy

_CACHE_SIZE = 10  # reference builder.rs:41


def _threshold_fp(threshold: float) -> int:
    if not (0.0 <= threshold <= 1.0):
        raise ValueError(f"threshold must be in [0, 1], got {threshold}")
    return threshold_to_fp(threshold)


class _PointIndex:
    """The dendrogram on the driver: sorted record ids, merge edges as
    indices into them, and an LRU of per-threshold label rows (the root
    index of every record, so ``nodes[row[i]]`` is record i's
    cluster_id, the min record id of its cluster)."""

    def __init__(self, records: DataFrame, merge_edges: DataFrame):
        # record ids are deduplicated here, not by a Spark shuffle: one
        # job fewer for the first point query. The package's record
        # frames carry distinct ids, so this collects the rows the
        # probe counted.
        stream = hierarchy._dendrogram_stream(records, merge_edges).toArrow()
        self.nodes, self._ch, self._pa, self._tf = hierarchy._dendrogram_arrays(
            *hierarchy._split_stream([stream.to_pandas()])
        )
        self._rows: OrderedDict[int, tuple[np.ndarray, int]] = OrderedDict()

    def labels(self, t_fp: int) -> tuple[np.ndarray, int]:
        """(label row, entity count) at ``t_fp``: move-to-end on a hit,
        evict the oldest row past ``_CACHE_SIZE`` (builder.rs:41)."""
        if t_fp in self._rows:
            self._rows.move_to_end(t_fp)
            return self._rows[t_fp]
        n = len(self.nodes)
        row = uf_native.grid_labels_native(
            self._ch, self._pa, self._tf, n, np.array([t_fp], dtype=np.int64)
        )[0]
        entry = row, int(np.count_nonzero(row == np.arange(n)))
        if len(self._rows) >= _CACHE_SIZE:
            self._rows.popitem(last=False)
        self._rows[t_fp] = entry
        return entry

    def position(self, record_id: int) -> int | None:
        """Index of ``record_id`` in ``nodes``, None when it is not in
        the record space."""
        if not -(2**63) <= record_id < 2**63:
            return None
        i = int(np.searchsorted(self.nodes, record_id))
        return i if i < len(self.nodes) and self.nodes[i] == record_id else None


class Collection:
    """A partition hierarchy over a shared record space.

    ``records``: DataFrame(record_id long, source string, key string)
    ``merge_edges``: DataFrame(threshold_fp long, child long, parent long)
    ``base_ids``: DataFrame(record_id long) — the collection's OWN
    record space (the reference hierarchy's ``get_all_record_indices``,
    algorithms.md:621-640). ``records`` may later be rebound to a
    grown frame space, but base_ids stays: it is what compact() treats
    as live for this collection, isolates included.
    """

    def __init__(
        self,
        records: DataFrame,
        merge_edges: DataFrame,
        base_ids: DataFrame | None = None,
    ):
        # localCheckpoint (lazy) rather than persist: the dendrogram is
        # re-joined into many later plans; keeping its full build lineage
        # in every consumer makes Catalyst analysis cost explode on the
        # self-joins (measured: minutes of pure planning at toy scale).
        self.records = records.localCheckpoint(eager=False)
        self.merge_edges = merge_edges.localCheckpoint(eager=False)
        self.base_ids = (
            base_ids if base_ids is not None else self.records.select("record_id")
        ).localCheckpoint(eager=False)
        # true LRU (move-to-end on hit, evict oldest), matching the
        # reference's partition cache semantics (builder.rs:41,264-273)
        self._cache: OrderedDict[int, DataFrame] = OrderedDict()
        # shared by sweep's gate and the point-query index bound
        self._counts: tuple[int, int] | None = None
        # driver-side dendrogram for the point queries, built by the
        # first one that fits the index bound
        self._index: _PointIndex | None = None
        # merge-forest components, computed lazily on the first
        # merges_affecting_record point lookup and reused after
        # (merge_edges is immutable per Collection instance)
        self._merge_comps: DataFrame | None = None

    # -- construction ------------------------------------------------------

    @classmethod
    def from_edges(
        cls,
        spark_or_edges: SparkSession | DataFrame,
        edges: Iterable[tuple] | DataFrame | None = None,
        *,
        quantise: int = 6,
        source: str = DEFAULT_SOURCE,
        records: DataFrame | None = None,
    ) -> "Collection":
        """Build from weighted similarity edges.

        Accepts either ``from_edges(edges_df)`` or
        ``from_edges(spark, [("a","b",0.8), ...])`` mirroring the
        reference's list-of-tuples ingest (lib.rs:127-154). Keys are
        canonicalised to strings; weights quantised to ``quantise``
        decimals then compared in fixed point.
        """
        if isinstance(spark_or_edges, DataFrame):
            edges_df = spark_or_edges
        else:
            spark = spark_or_edges
            if isinstance(edges, DataFrame):
                edges_df = edges
            else:
                rows = [(str(a), str(b), float(w)) for a, b, w in (edges or [])]
                edges_df = spark.createDataFrame(
                    rows, "src string, dst string, weight double"
                )
        spark = edges_df.sparkSession

        if records is None:
            endpoints = edges_df.select(F.col("src").cast("string").alias("key")).unionAll(
                edges_df.select(F.col("dst").cast("string").alias("key"))
            )
            records = intern_records(
                endpoints.withColumn("source", F.lit(source)), "source", "key"
            )
        records = records.localCheckpoint(eager=False)

        ids = resolve_edge_keys(edges_df, records, source=source)
        edges_fp = ids.select(
            "src", "dst", quantize_weights(F.col("weight"), quantise)
        )
        merge_edges = hierarchy.build_merge_edges(edges_fp)
        return cls(records, merge_edges)

    @classmethod
    def from_memberships(
        cls, memberships: DataFrame, records: DataFrame | None = None
    ) -> "Collection":
        """S7: load a fixed, pre-resolved clustering (cluster_id,
        record_id) as a collection pinned at threshold 1.0
        (reference from_entities, docs/design/interface.md:352-386).
        Avoids the O(n^2) all-pairs expansion: each cluster becomes
        star merge edges child -> min(cluster).
        """
        m = memberships.select("record_id", "cluster_id")
        reps = m.groupBy("cluster_id").agg(F.min("record_id").alias("parent"))
        me = (
            m.join(reps, "cluster_id")
            .where(F.col("record_id") != F.col("parent"))
            .select(
                F.lit(PRECISION_FACTOR).alias("threshold_fp"),
                F.col("record_id").alias("child"),
                F.col("parent"),
            )
        )
        if records is None:
            records = m.select(
                F.col("record_id"),
                F.lit(DEFAULT_SOURCE).alias("source"),
                F.col("record_id").cast("string").alias("key"),
            ).dropDuplicates(["record_id"])
        return cls(records, me)

    # -- record-space management --------------------------------------------

    def rebind_records(self, records: DataFrame) -> None:
        """Point this collection at a (grown) shared record space — the
        Spark analogue of the reference's append-only DataContext
        gaining records: existing hierarchies see them as isolates.
        Invalidates the partition cache and the point-query index (old
        partitions and label rows lack the new singletons)."""
        for cached in self._cache.values():
            cached.unpersist()
        self._cache.clear()
        self.records = records
        self._counts = None
        self._index = None

    # -- queries -----------------------------------------------------------

    def at(self, threshold: float) -> DataFrame:
        """Partition at ``threshold`` (inclusive >= semantics,
        builder.rs:291). Returns DataFrame(record_id, cluster_id);
        cluster_id = min record id in the cluster. The DataFrame is
        persisted and kept in an LRU of ``_CACHE_SIZE`` partitions,
        like the reference's partition cache; the point queries below
        read the driver-side index instead while it fits.
        """
        t_fp = _threshold_fp(threshold)
        if t_fp in self._cache:
            self._cache.move_to_end(t_fp)
            return self._cache[t_fp]
        part = hierarchy.partition_at(self.merge_edges, self.records, t_fp).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        if len(self._cache) >= _CACHE_SIZE:
            _, evicted = self._cache.popitem(last=False)
            evicted.unpersist()
        self._cache[t_fp] = part
        return part

    def entities(self, threshold: float) -> DataFrame:
        """Entities as sorted member-key arrays (reference
        partition.entities materialisation, lib.rs:42-48)."""
        part = self.at(threshold)
        return (
            part.join(self.records, "record_id")
            .groupBy("cluster_id")
            .agg(
                F.array_sort(F.collect_list("key")).alias("members"),
                F.count(F.lit(1)).alias("entity_size"),
            )
        )

    # -- point queries (P5, partition.rs:69-80) -----------------------------

    def _record_counts(self) -> tuple[int, int]:
        """(distinct records, merge edges): one probe, kept until
        rebind_records."""
        if self._counts is None:
            self._counts = hierarchy._dendrogram_counts(
                hierarchy._record_ids(self.records), self.merge_edges
            )
        return self._counts

    def _point_index(self) -> _PointIndex | None:
        """The driver-side dendrogram index, built by the first point
        query, or None above its bound (see the module docstring)."""
        if self._index is None:
            n_rec, n_me = self._record_counts()
            if (
                n_rec * _CACHE_SIZE <= hierarchy._MAX_LOCAL_CELLS
                and n_me <= hierarchy._LOCAL_MERGE_EDGES
            ):
                self._index = _PointIndex(self.records, self.merge_edges)
        return self._index

    def entity_count(self, threshold: float) -> int:
        """Number of entities at ``threshold``, isolates included: the
        roots of the index's label row, or a distinct count of
        ``at(threshold)`` above the index bound."""
        t_fp = _threshold_fp(threshold)
        index = self._point_index()
        if index is None:
            return self.at(threshold).select("cluster_id").distinct().count()
        return index.labels(t_fp)[1]

    def contains_record(self, record_id: int, threshold: float) -> bool:
        """P5: does any entity at ``threshold`` contain this record?
        (reference Partition.contains_record, partition.rs:69-74).
        Partitions cover the whole record space, so this is a record-
        space membership test: a binary search of the index's record
        ids, or a filter of ``at(threshold)`` above the index bound."""
        _threshold_fp(threshold)
        index = self._point_index()
        if index is None:
            return (
                self.at(threshold).where(F.col("record_id") == int(record_id)).limit(1).count()
                > 0
            )
        return index.position(int(record_id)) is not None

    def find_entity_for_record(self, record_id: int, threshold: float) -> int | None:
        """P5: the entity (cluster_id) containing ``record_id`` at
        ``threshold``, or None when the record is not in the space
        (reference find_entity_for_record, partition.rs:76-80): a read
        of the index's label row, or a filtered collect of
        ``at(threshold)`` above the index bound."""
        t_fp = _threshold_fp(threshold)
        index = self._point_index()
        if index is None:
            rows = (
                self.at(threshold)
                .where(F.col("record_id") == int(record_id))
                .select("cluster_id")
                .limit(1)
                .collect()
            )
            return int(rows[0]["cluster_id"]) if rows else None
        i = index.position(int(record_id))
        return None if i is None else int(index.nodes[index.labels(t_fp)[0][i]])

    def merges_affecting_record(self, record_id: int) -> list[dict]:
        """P5: every merge event whose merging clusters contain the
        record (reference MergeEvent.affects_record,
        merge_event.rs:36-40), descending threshold order.

        The dendrogram stores (threshold_fp, child_rep, parent_rep),
        not member bitmaps, so membership is recovered by walking the
        record's representative chain: a record's cluster rep only
        changes when its current rep is ABSORBED (appears as child);
        until then every merge listing the rep as child or parent
        touches the record's cluster. Each hop is one small
        two-predicate filter (a point lookup against a
        threshold-bucketed merge table at scale); the loop runs once
        per rep in the chain (<= chain depth, not #merges).

        Returns [{"threshold": float, "child": int, "parent": int,
        "absorbed": bool}] — absorbed=True on the event where the
        record's own cluster was the child side.

        Scale shape (r4, was one filtered .collect() PER HOP — O(chain
        depth) Spark jobs on degenerate tie-chains): the record's
        top-cluster merge tree is collected ONCE — find the record's
        component over the merge forest (cached across point lookups on
        this collection), left-semi the merge edges to it, collect, and
        run the hop loop over the in-memory rows. The collected set is
        bounded by the record's top-cluster size, which blocking bounds
        upstream. Constant number of Spark jobs regardless of chain
        depth.
        """
        from entityframe_spark.operators.components import connected_components

        rep0 = int(record_id)
        if self._merge_comps is None:
            self._merge_comps = connected_components(
                self.merge_edges, "child", "parent"
            ).localCheckpoint(eager=False)
        comp_row = (
            self._merge_comps.where(F.col("node") == rep0)
            .select("component")
            .limit(1)
            .collect()
        )
        if not comp_row:
            return []  # record never appears in a merge event
        comp = int(comp_row[0]["component"])
        members = (
            self._merge_comps.where(F.col("component") == F.lit(comp))
            .select(F.col("node").alias("parent"))
        )
        all_rows = (
            self.merge_edges.join(members, "parent", "left_semi")
            .orderBy(F.col("threshold_fp").desc())
            .collect()
        )

        out: list[dict] = []
        seen: set[tuple[int, int]] = set()  # (threshold_fp, child) — unique per event
        rep = int(record_id)
        t_cut = None  # rep became current AT this threshold (None = from the top)
        while True:
            rows = [
                r
                for r in all_rows
                if (int(r["child"]) == rep or int(r["parent"]) == rep)
                # <= : equal-threshold (n-way) merges under the new rep
                # are part of the same instant; dedup via `seen`
                and (t_cut is None or int(r["threshold_fp"]) <= t_cut)
            ]
            # within one threshold batch the parent-side rows happen "at
            # the same instant" as the absorption: visit them first so
            # n-way merges at the absorption threshold are not lost
            rows.sort(key=lambda r: (-int(r["threshold_fp"]), int(r["child"]) == rep))
            absorbed_at = None
            for r in rows:
                key = (int(r["threshold_fp"]), int(r["child"]))
                if key in seen:
                    continue
                is_child = int(r["child"]) == rep
                if (
                    absorbed_at is not None
                    and int(r["threshold_fp"]) < absorbed_at[0]
                ):
                    break  # strictly later events re-queried under new rep
                seen.add(key)
                out.append(
                    {
                        "threshold": r["threshold_fp"] / PRECISION_FACTOR,
                        "child": int(r["child"]),
                        "parent": int(r["parent"]),
                        "absorbed": is_child,
                    }
                )
                if is_child:
                    absorbed_at = (int(r["threshold_fp"]), int(r["parent"]))
            if absorbed_at is None:
                return out
            t_cut, rep = absorbed_at[0], absorbed_at[1]

    def memberships_for_grid(self, thresholds: list[float]) -> DataFrame:
        """(threshold_fp, record_id, cluster_id) for every grid point in
        one pass (A17 sweep support)."""
        fps = [threshold_to_fp(t) for t in thresholds]
        return hierarchy.memberships_for_grid(self.merge_edges, self.records, fps)

    def sweep(
        self, start: float, stop: float, step: float, max_cells: int = 50_000_000
    ) -> DataFrame:
        """Collection.sweep (interface.md:404-419): per-threshold stats
        over an inclusive grid, all from ONE dendrogram pass.
        Returns DataFrame(threshold double, entity_count long,
        entropy double) ordered by threshold.

        Routing: when |grid| x records exceeds ``max_cells`` the stats
        come from the O(m + |grid|) incremental merge-delta path
        (hierarchy.sweep_stats_from_merges) — a 1000-point sweep over
        1M records is 1e9 membership cells, which no fan-out should
        materialise for two scalars per threshold. Small sweeps keep
        the membership path (no extra replay pass)."""
        if step <= 0:
            raise ValueError("step must be positive")
        pts, t = [], float(start)
        while t <= stop + 1e-9:
            pts.append(round(t, 9))
            t += step
        n_records = self._record_counts()[0]
        if len(pts) * n_records > max_cells:
            # replay the dendrogram itself through the sized sweep to
            # recover (left_size, right_size): merge edges are a
            # spanning structure, so the replay unions are the same
            # events; per-threshold delta SUMS are path-independent
            # (entropy at t depends only on the partition at t)
            sized = hierarchy.build_merge_edges_sized(
                self.merge_edges.select(
                    F.col("child").alias("src"),
                    F.col("parent").alias("dst"),
                    F.col("threshold_fp").alias("w_fp"),
                )
            )
            fps = [threshold_to_fp(p) for p in pts]
            return (
                hierarchy.sweep_stats_from_merges(sized, n_records, fps)
                .select(
                    (
                        F.col("threshold_fp") / F.lit(float(PRECISION_FACTOR))
                    ).alias("threshold"),
                    "entity_count",
                    F.round("entropy", 9).alias("entropy"),
                )
                .orderBy("threshold")
            )
        mem = self.memberships_for_grid(pts)
        sizes = mem.groupBy("threshold_fp", "cluster_id").agg(
            F.count(F.lit(1)).alias("sz")
        )
        # totals derived FROM sizes (sum of cluster sizes == row count):
        # aggregating mem twice on different keys evaluated the whole
        # membership-reconstruction subtree twice in one job; this way
        # the shared subtree ends in one identical exchange that Spark
        # reuses (r6, guide §2.4)
        totals = sizes.groupBy("threshold_fp").agg(F.sum("sz").alias("N"))
        return (
            sizes.join(totals, "threshold_fp")
            .groupBy("threshold_fp")
            .agg(
                F.count(F.lit(1)).alias("entity_count"),
                F.round(
                    F.coalesce(
                        F.sum(
                            -(F.col("sz") / F.col("N"))
                            * F.log(F.col("sz") / F.col("N"))
                        ),
                        F.lit(0.0),
                    ),
                    9,
                ).alias("entropy"),
            )
            .select(
                (F.col("threshold_fp") / F.lit(float(PRECISION_FACTOR))).alias(
                    "threshold"
                ),
                "entity_count",
                "entropy",
            )
            .orderBy("threshold")
        )

    def merge_thresholds(self) -> list[float]:
        """Distinct thresholds at which merges occur, descending."""
        rows = (
            self.merge_edges.select("threshold_fp")
            .distinct()
            .orderBy(F.col("threshold_fp").desc())
            .collect()
        )
        return [r["threshold_fp"] / PRECISION_FACTOR for r in rows]
