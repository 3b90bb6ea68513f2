"""EntityFrame: multi-collection container + analyse()/sweep() API.

Parity target: the reference's designed EntityFrame
(docs/design/interface.md:180-237, 441-471): named collections over a
shared record space, ``ef.analyse(col("a").sweep(...),
col("truth").at(1.0), metrics=[...])`` returning a uniform
List[Dict[str, float]] with "{collection}_threshold" keys.

Spark execution: threshold grids are expanded into memberships
DataFrames once (A17), a single grouped contingency aggregation
computes every (t_a, t_b) cell, and the metric expressions evaluate
per grid point — the whole sweep is one shuffle, replacing the
reference's incremental O(k) update design (algorithms.md:671-786).
"""

from __future__ import annotations

import math
from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entityframe_spark.core.quantize import PRECISION_FACTOR, threshold_to_fp
from entityframe_spark.operators import hierarchy
from entityframe_spark.operators import metrics as M
from entityframe_spark.operators.collection import Collection


@dataclass(frozen=True)
class ColExpression:
    """col("name").at(t) / .sweep(start, stop, step) expression."""

    name: str
    thresholds: tuple[float, ...] = ()

    def at(self, threshold: float) -> "ColExpression":
        t = float(threshold)
        # eager [0,1] validation, matching Collection.at (P2) — the
        # reference rejects out-of-range thresholds at expression build
        # time (interface.md threshold contract), not first evaluation
        if not 0.0 <= t <= 1.0:
            raise ValueError(f"threshold must be in [0, 1], got {t}")
        return ColExpression(self.name, (t,))

    def sweep(self, start: float, stop: float, step: float) -> "ColExpression":
        if step <= 0:
            raise ValueError("step must be positive")
        if not (0.0 <= float(start) <= 1.0 and float(stop) <= 1.0):
            raise ValueError(
                f"sweep bounds must be in [0, 1], got [{start}, {stop}]"
            )
        pts, t = [], float(start)
        # inclusive stop with fixed-point tolerance, like the designed
        # sweep grid (interface.md:404-419)
        while t <= stop + 1e-9:
            pts.append(round(t, 9))
            t += step
        return ColExpression(self.name, tuple(pts))


def col(name: str) -> ColExpression:
    return ColExpression(name)


class EntityFrame:
    """Named collections sharing one record space (SURVEY.md §1.1).

    ``self.records`` is the frame's shared record space — the Spark
    analogue of the reference's append-only DataContext
    (principles.md:"Contextual Ownership"). Collections whose record
    spaces differ are ASSIMILATED on add: ids are translated onto the
    frame space by (source, key) identity and unseen records are
    appended with fresh dense ids (algorithms.md:565-614).
    """

    def __init__(self) -> None:
        self.collections: dict[str, Collection] = {}
        self._records: DataFrame | None = None
        self._n_rec: int | None = None
        self._records_distinct: DataFrame | None = None
        # pair-grid sweeps take the fused kernel route when the inputs
        # fit its gates (operators/pair_sweep.py); set False to force
        # the distributed membership-join plan (route-parity tests)
        self.fused_pair_sweep: bool = True
        # single-expression analyse: grids whose |thresholds| x n_rec
        # exceeds this take the O(m + |grid|) merge-delta route instead
        # of materialising memberships (ADVICE r5: initialised here so
        # the knob is discoverable and typos fail loudly)
        self.single_sweep_max_cells: int = 50_000_000

    @property
    def records(self) -> DataFrame | None:
        return self._records

    @records.setter
    def records(self, df: DataFrame | None) -> None:
        # any change to the frame's record space invalidates the
        # cached record count / distinct-id frame (r6: analyse calls
        # reuse them instead of re-running a distinct+count job each —
        # ADVICE r5 flagged the per-call eager count)
        self._records = df
        self._n_rec = None
        self._records_distinct = None

    def _distinct_record_ids(self) -> DataFrame:
        """Deduplicated (record_id) frame, lazily checkpointed and
        cached per record-space version: repeated analyse calls reuse
        one materialisation of the distinct shuffle."""
        if self._records_distinct is None:
            self._records_distinct = (
                self.records.select("record_id")
                .dropDuplicates(["record_id"])
                .localCheckpoint(eager=False)
            )
        return self._records_distinct

    def _record_count(self, recs: DataFrame) -> int:
        """Distinct record count; memoised when ``recs`` is the frame's
        own record space (invalidated by the records setter)."""
        if recs is self.records:
            if self._n_rec is None:
                self._n_rec = (
                    self._distinct_record_ids().count()
                )
            return self._n_rec
        return recs.select("record_id").distinct().count()

    # -- record ingestion (S6) ----------------------------------------------

    @classmethod
    def from_records(
        cls,
        source_name: str,
        data,
        key_column: str | None = None,
        attr_columns: list[str] | None = None,
        spark=None,
    ) -> "EntityFrame":
        """S6: create a frame from a table of records
        (interface.md:81-98). ``data`` may be a Spark DataFrame, a
        pandas DataFrame, or a list of dicts (converted via
        createDataFrame — small-input convenience only).

        key_column: unique key within the source (auto-generated dense
        ids when omitted). attr_columns: optional columns folded into a
        map<string,string> attrs column that participates in record
        identity (S2, data_context.rs:47-78).
        """
        from entityframe_spark.core.records import (
            intern_records,
            intern_records_with_attributes,
        )

        if not isinstance(data, DataFrame):
            if spark is None:
                raise ValueError("pass spark= when data is not a Spark DataFrame")
            data = spark.createDataFrame(data)
        if key_column is None:
            # auto-generate PER-ROW keys: every input row stays a
            # distinct record (reference auto-key semantics), unlike a
            # row-content hash which would collapse duplicate rows.
            # monotonically_increasing_id is partition-deterministic and
            # gets pinned by the localCheckpoint taken right below.
            data = data.withColumn(
                "_auto_key",
                F.format_string("%020d", F.monotonically_increasing_id()),
            )
            key_column = "_auto_key"
        df = data.withColumn("_source", F.lit(source_name))
        ef = cls()
        if attr_columns:
            attrs = F.map_from_arrays(
                F.array(*[F.lit(c) for c in attr_columns]),
                F.array(*[F.col(c).cast("string") for c in attr_columns]),
            )
            ef.records = intern_records_with_attributes(
                df.withColumn("_attrs", attrs), "_source", key_column, "_attrs"
            ).localCheckpoint(eager=False)
        else:
            ef.records = intern_records(df, "_source", key_column).localCheckpoint(
                eager=False
            )
        return ef

    # -- collection management ----------------------------------------------

    def add_collection(self, name: str, collection: Collection) -> "EntityFrame":
        """Add a collection, assimilating its record space into the
        frame's if they differ (J2/U3, algorithms.md:565-614): ids are
        translated by (source, key) identity; records the frame has
        never seen are appended with fresh dense ids (so they become
        isolates for every other collection).
        """
        if self.records is None:
            # first collection: adopt its record space as the frame's
            self.records = collection.records
            self.collections[name] = collection
            return self
        if collection.records is self.records:
            self.collections[name] = collection
            return self
        self.collections[name] = self._assimilate(collection)
        # the frame space may have grown: every collection (old and new)
        # must see the full space — appended records become isolates in
        # hierarchies that never met them (reference DataContext
        # semantics: records added later are singletons everywhere)
        for coll in self.collections.values():
            if coll.records is not self.records:
                coll.rebind_records(self.records)
        return self

    def drop(self, *names: str) -> "EntityFrame":
        """Remove collections from the frame (interface.md:242-251).
        Records they referenced stay in the frame space (append-only
        DataContext semantics) until ``compact()`` reclaims them."""
        for n in names:
            self.collections.pop(n)
        return self

    def compact(self, reindex: bool = False) -> "EntityFrame":
        """U4 garbage compaction (algorithms.md:621-668): drop records
        no surviving collection references. Live = union of each
        surviving collection's OWN record space (``base_ids`` — the
        reference's per-hierarchy ``get_all_record_indices``, which
        includes edge-less isolates), NOT merge-edge endpoints;
        everything else — records that arrived with since-dropped
        collections — is reclaimed with one left-semi join.

        Pinned semantics: a record that entered the frame only via a
        since-dropped collection IS reclaimed, even though surviving
        collections transiently showed it as a singleton while it was
        in the shared space (reference shared-DataContext behaviour).

        reindex=True additionally reassigns dense ids over the
        surviving records (the reference's translation-map rewrite):
        every collection's merge edges and base_ids are translated and
        rebound. Default False keeps ids stable (cheaper; ids stay
        sparse).
        """
        if self.records is None or not self.collections:
            return self
        live = None
        for coll in self.collections.values():
            b = coll.base_ids.select("record_id")
            live = b if live is None else live.unionAll(b)
        live = live.dropDuplicates(["record_id"])
        self.records = self.records.join(live, "record_id", "left_semi").localCheckpoint(
            eager=False
        )
        if reindex:
            from entityframe_spark.core.records import dense_rank_ids

            order_cols = ["source", "key"] + (
                ["attr_sig"] if "attr_sig" in self.records.columns else []
            )
            remapped = dense_rank_ids(
                self.records.withColumnRenamed("record_id", "_old"),
                order_cols,
            ).localCheckpoint(eager=False)
            trans = remapped.select(
                F.col("_old").alias("old_id"), F.col("record_id").alias("new_id")
            )
            self.records = remapped.drop("_old")
            for name, coll in list(self.collections.items()):
                me = (
                    coll.merge_edges.join(
                        trans.withColumnsRenamed({"old_id": "child", "new_id": "_nc"}),
                        "child",
                    )
                    .join(
                        trans.withColumnsRenamed({"old_id": "parent", "new_id": "_np"}),
                        "parent",
                    )
                    .select(
                        "threshold_fp",
                        F.col("_nc").alias("child"),
                        F.col("_np").alias("parent"),
                    )
                )
                nb = (
                    coll.base_ids.withColumnRenamed("record_id", "old_id")
                    .join(trans, "old_id")
                    .select(F.col("new_id").alias("record_id"))
                )
                self.collections[name] = Collection(self.records, me, base_ids=nb)
        else:
            for coll in self.collections.values():
                coll.rebind_records(self.records)
        return self

    def _assimilate(self, collection: Collection) -> Collection:
        """Translate a collection onto the frame record space.

        O(k) join by identity + O(m) merge-edge rewrite — the Spark
        expression of the reference's assimilate (algorithms.md:571-605):
        two broadcast-able equi-joins instead of HashMap lookups.
        Extends ``self.records`` with unseen records (dense ids after
        the current max, ordered by the identity columns for
        determinism).

        Identity is (source, key) — PLUS attr_sig when either side
        carries attribute-identity records (S2, data_context.rs:47-78):
        two records with the same (source, key) but different attrs are
        DIFFERENT records and must not be conflated by assimilation.
        Attr-less records normalise to attr_sig='{}' so mixed frames
        join correctly, and attrs columns survive onto the frame space.
        """
        from entityframe_spark.core.records import dense_rank_ids

        use_attrs = (
            "attr_sig" in self.records.columns
            or "attr_sig" in collection.records.columns
        )

        def _norm(df: DataFrame) -> DataFrame:
            if "attr_sig" not in df.columns:
                df = df.withColumn(
                    "attrs", F.lit(None).cast("map<string,string>")
                ).withColumn("attr_sig", F.lit("{}"))
            return df

        id_cols = ["source", "key"] + (["attr_sig"] if use_attrs else [])
        rec_cols = ["record_id", "source", "key"] + (
            ["attrs", "attr_sig"] if use_attrs else []
        )
        frame_recs = (
            (_norm(self.records) if use_attrs else self.records)
            .select(*rec_cols)
            .localCheckpoint(eager=False)
        )
        inc = (_norm(collection.records) if use_attrs else collection.records).select(
            *rec_cols
        )
        mapped = inc.join(
            frame_recs.select(F.col("record_id").alias("new_id"), *id_cols),
            id_cols,
            "left",
        ).localCheckpoint(eager=False)
        unseen = mapped.where(F.col("new_id").isNull()).select(
            *[c for c in rec_cols if c != "record_id"]
        )
        max_row = frame_recs.agg(F.max("record_id").alias("m")).collect()[0]
        next_id = int(max_row["m"]) + 1 if max_row["m"] is not None else 0
        appended = (
            dense_rank_ids(unseen, id_cols, offset=next_id)
            if unseen.limit(1).count()
            else None
        )
        if appended is not None:
            appended = appended.select(*rec_cols).localCheckpoint(eager=False)
            self.records = frame_recs.unionByName(appended).localCheckpoint(
                eager=False
            )
            translation = mapped.where(F.col("new_id").isNotNull()).select(
                F.col("record_id").alias("old_id"), F.col("new_id")
            ).unionByName(
                inc.join(
                    appended.select(F.col("record_id").alias("new_id"), *id_cols),
                    id_cols,
                ).select(F.col("record_id").alias("old_id"), "new_id")
            )
        else:
            self.records = frame_recs
            translation = mapped.select(
                F.col("record_id").alias("old_id"), F.col("new_id")
            )
        translation = translation.localCheckpoint(eager=False)
        me = collection.merge_edges
        new_me = (
            me.join(
                translation.withColumnsRenamed({"old_id": "child", "new_id": "_nc"}),
                "child",
            )
            .join(
                translation.withColumnsRenamed({"old_id": "parent", "new_id": "_np"}),
                "parent",
            )
            .select(
                "threshold_fp",
                F.col("_nc").alias("child"),
                F.col("_np").alias("parent"),
            )
        )
        return Collection(
            self.records,
            new_me,
            base_ids=translation.select(
                F.col("new_id").alias("record_id")
            ).dropDuplicates(["record_id"]),
        )

    def add_collection_from_edges(self, name: str, edges, **kw) -> "EntityFrame":
        spark_or_df = edges if isinstance(edges, DataFrame) else kw.pop("spark")
        if isinstance(edges, DataFrame):
            self.collections[name] = Collection.from_edges(edges, **kw)
        else:
            self.collections[name] = Collection.from_edges(spark_or_df, edges, **kw)
        return self

    def add_collection_from_memberships(
        self, name: str, memberships: DataFrame, records: DataFrame | None = None
    ) -> "EntityFrame":
        self.collections[name] = Collection.from_memberships(memberships, records)
        return self

    def __getitem__(self, name: str) -> Collection:
        return self.collections[name]

    # -- analyse -----------------------------------------------------------

    def analyse(self, *expressions: ColExpression, metrics: list[str] | None = None):
        """Uniform List[Dict[str, float]] result (interface.md:195-233).

        One expression  -> per-threshold stats (entity_count, entropy).
        Two expressions -> pairwise comparison metrics over the
        cartesian product of the two threshold grids.
        Three or more   -> consensus metrics over the cartesian product
        of all grids; collected to the driver, so a product above
        ``hierarchy._MAX_LOCAL_CELLS`` rows raises ValueError (use
        ``analyse_df`` for those).
        """
        if len(expressions) == 1:
            return self._analyse_single(expressions[0], metrics)
        if len(expressions) == 2:
            return self._analyse_pair(expressions[0], expressions[1], metrics)
        n_rows = math.prod(len(e.thresholds) for e in expressions)
        if n_rows > hierarchy._MAX_LOCAL_CELLS:
            raise ValueError(
                f"{len(expressions)}-way analyse over grids of sizes "
                f"{[len(e.thresholds) for e in expressions]} yields {n_rows} "
                f"rows (> {hierarchy._MAX_LOCAL_CELLS}), too many to collect "
                "to the driver; use analyse_df, which returns them as a "
                "DataFrame"
            )
        rows = self._nway_df(list(expressions), metrics).collect()
        return [r.asDict() for r in rows]

    # American spelling alias, like the reference
    analyze = analyse

    def analyse_df(
        self, *expressions: ColExpression, metrics: list[str] | None = None
    ) -> DataFrame:
        """DataFrame-returning variant (the Spark-native contract)."""
        if len(expressions) == 1:
            return self._single_df(expressions[0], metrics)
        if len(expressions) == 2:
            return self._pair_df(expressions[0], expressions[1], metrics)
        return self._nway_df(list(expressions), metrics)

    def _grid_memberships(self, expr: ColExpression, alias: str) -> DataFrame:
        coll = self.collections[expr.name]
        fps = [threshold_to_fp(t) for t in expr.thresholds]
        if self.records is not None and self.records is not coll.records:
            # evaluate over the FRAME's shared record space: records the
            # collection never saw are isolates (singletons), matching
            # the reference's shared-DataContext semantics
            mem = hierarchy.memberships_for_grid(
                coll.merge_edges, self.records, fps
            )
        else:
            mem = coll.memberships_for_grid(list(expr.thresholds))
        return (
            mem.where(F.col("threshold_fp").isin(fps))
            .select(
                F.col("threshold_fp").alias(f"t_{alias}"),
                "record_id",
                F.col("cluster_id").alias(f"cluster_{alias}"),
            )
            # downstream contingency branches self-join this; cut lineage
            # so the cogrouped reconstruction isn't re-analysed per branch
            .localCheckpoint(eager=False)
        )

    def _single_df(self, expr: ColExpression, metric_names) -> DataFrame:
        # large grids: |grid| x n membership cells are never
        # materialised for two scalars per threshold — replay the
        # dendrogram through the sized sweep and take the O(m + |grid|)
        # incremental merge-delta path, same gate as Collection.sweep.
        # n_records is the FRAME record count, so records this
        # collection never saw enter as singletons (shared-DataContext
        # isolate semantics, identical to the membership route below).
        coll = self.collections[expr.name]
        recs = self.records if self.records is not None else coll.records
        n_rec = self._record_count(recs)
        max_cells = getattr(self, "single_sweep_max_cells", 50_000_000)
        if len(expr.thresholds) * n_rec > max_cells:
            sized = hierarchy.build_merge_edges_sized(
                coll.merge_edges.select(
                    F.col("child").alias("src"),
                    F.col("parent").alias("dst"),
                    F.col("threshold_fp").alias("w_fp"),
                )
            )
            fps = [threshold_to_fp(t) for t in expr.thresholds]
            out = hierarchy.sweep_stats_from_merges(sized, n_rec, fps).select(
                F.col("threshold_fp").alias("t_a"),
                "entity_count",
                F.round("entropy", 9).alias("entropy"),
            )
            wanted = metric_names or ["entity_count", "entropy"]
            return out.select(
                (F.col("t_a") / F.lit(float(PRECISION_FACTOR))).alias(
                    f"{expr.name}_threshold"
                ),
                *[F.col(m) for m in wanted],
            ).orderBy(f"{expr.name}_threshold")
        mem = self._grid_memberships(expr, "a")
        sizes = mem.groupBy("t_a", "cluster_a").agg(F.count(F.lit(1)).alias("sz"))
        # derived from sizes, not mem: one evaluation of the membership
        # subtree + a reused exchange (see Collection.sweep, r6)
        totals = sizes.groupBy("t_a").agg(F.sum("sz").alias("N"))
        out = (
            sizes.join(totals, "t_a")
            .groupBy("t_a")
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
        )
        wanted = metric_names or ["entity_count", "entropy"]
        return out.select(
            (F.col("t_a") / F.lit(float(PRECISION_FACTOR))).alias(
                f"{expr.name}_threshold"
            ),
            *[F.col(m) for m in wanted],
        ).orderBy(f"{expr.name}_threshold")

    def _pair_stats_fused(
        self, ea: ColExpression, eb: ColExpression
    ) -> DataFrame | None:
        """Fused small-input route for the (t_a, t_b) grid: kernel-side
        sufficient statistics instead of the |grid_a| x |grid_b| x n
        membership join (operators/pair_sweep.py — the Spark expression
        of the reference's incremental sweep design,
        algorithms.md:671-786). Returns None above the size gates or
        when ``self.fused_pair_sweep`` is False; the caller keeps the
        horizontally-scaling shuffle plan."""
        if not getattr(self, "fused_pair_sweep", True) or self.records is None:
            return None
        from entityframe_spark.operators.pair_sweep import pair_sweep_stats

        return pair_sweep_stats(
            self._distinct_record_ids(),
            self.collections[ea.name].merge_edges,
            self.collections[eb.name].merge_edges,
            [threshold_to_fp(t) for t in ea.thresholds],
            [threshold_to_fp(t) for t in eb.thresholds],
        )

    def _pair_df(
        self, ea: ColExpression, eb: ColExpression, metric_names
    ) -> DataFrame:
        res = self._pair_stats_fused(ea, eb)
        if res is not None:
            res = M.metrics_from_stats(res, keys=["key_ta", "key_tb"])
        else:
            ma = self._grid_memberships(ea, "a")
            mb = self._grid_memberships(eb, "b")
            cells = (
                ma.join(mb, "record_id")
                .groupBy("t_a", "t_b", "cluster_a", "cluster_b")
                .agg(F.count(F.lit(1)).alias("n"))
            )
            res = M.metrics_from_cells(
                cells.withColumnRenamed("t_a", "key_ta").withColumnRenamed(
                    "t_b", "key_tb"
                ),
                keys=["key_ta", "key_tb"],
            )
        wanted = metric_names or ["f1", "precision", "recall", "ari", "nmi"]
        name_a = f"{ea.name}_threshold"
        name_b = f"{eb.name}_threshold"
        if ea.name == eb.name:
            name_a, name_b = f"{ea.name}_threshold", f"{eb.name}_threshold_2"
        return res.select(
            (F.col("key_ta") / F.lit(float(PRECISION_FACTOR))).alias(name_a),
            (F.col("key_tb") / F.lit(float(PRECISION_FACTOR))).alias(name_b),
            *[F.col(m) for m in wanted],
        ).orderBy(name_a, name_b)

    def _nway_df(self, exprs: list[ColExpression], metric_names) -> DataFrame:
        """3+ expressions: cross-collection consensus analysis (A15,
        principles.md:352-362). Output rows are the cartesian product
        of all threshold grids; each metric is the MEAN over all
        unordered collection pairs at that grid point — "how much do
        these k cuts agree". Keys follow the uniform contract:
        "{collection}_threshold" per expression + plain metric names.

        Executed as one union of per-pair metric frames + one grouped
        average — each pair reuses the single-shuffle contingency path.
        """
        wanted = metric_names or ["f1", "precision", "recall", "ari", "nmi", "agreement"]
        names = []
        for i, e in enumerate(exprs):
            nm = f"{e.name}_threshold"
            while nm in names:
                nm += "_2"
            names.append(nm)
        mems = [self._grid_memberships(e, f"c{i}") for i, e in enumerate(exprs)]

        pair_frames = []
        for i in range(len(exprs)):
            for j in range(i + 1, len(exprs)):
                ma = mems[i].select(
                    F.col(f"t_c{i}").alias("key_ta"),
                    "record_id",
                    F.col(f"cluster_c{i}").alias("cluster_a"),
                )
                mb = mems[j].select(
                    F.col(f"t_c{j}").alias("key_tb"),
                    "record_id",
                    F.col(f"cluster_c{j}").alias("cluster_b"),
                )
                cells = (
                    ma.join(mb, "record_id")
                    .groupBy("key_ta", "key_tb", "cluster_a", "cluster_b")
                    .agg(F.count(F.lit(1)).alias("n"))
                )
                res = M.metrics_from_cells(cells, keys=["key_ta", "key_tb"])
                pair_frames.append(
                    res.select(
                        F.lit(i).alias("_i"),
                        F.lit(j).alias("_j"),
                        F.col("key_ta"),
                        F.col("key_tb"),
                        *[F.col(mn) for mn in wanted],
                    )
                )
        allpairs = pair_frames[0]
        for pf in pair_frames[1:]:
            allpairs = allpairs.unionByName(pf)

        # expand each pair row onto the full grid of the OTHER
        # expressions (their thresholds don't affect this pair's value),
        # then average per full grid point
        grids = [
            allpairs.sparkSession.createDataFrame(
                [(threshold_to_fp(t),) for t in e.thresholds], f"t{k} long"
            )
            for k, e in enumerate(exprs)
        ]
        expanded = allpairs
        for k in range(len(exprs)):
            expanded = expanded.crossJoin(F.broadcast(grids[k])).where(
                (
                    (F.col("_i") == k) & (F.col("key_ta") == F.col(f"t{k}"))
                )
                | ((F.col("_j") == k) & (F.col("key_tb") == F.col(f"t{k}")))
                | ((F.col("_i") != k) & (F.col("_j") != k))
            )
        gcols = [f"t{k}" for k in range(len(exprs))]
        out = expanded.groupBy(*gcols).agg(
            *[F.round(F.avg(mn), 9).alias(mn) for mn in wanted]
        )
        sel = [
            (F.col(f"t{k}") / F.lit(float(PRECISION_FACTOR))).alias(names[k])
            for k in range(len(exprs))
        ]
        return out.select(*sel, *[F.col(mn) for mn in wanted]).orderBy(*names)

    def _analyse_single(self, expr, metric_names):
        rows = self._single_df(expr, metric_names).collect()
        return [r.asDict() for r in rows]

    def _analyse_pair(self, ea, eb, metric_names):
        rows = self._pair_df(ea, eb, metric_names).collect()
        return [r.asDict() for r in rows]
