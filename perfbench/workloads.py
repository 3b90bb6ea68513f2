"""The three workloads: set-up (input generation), one pass, verification
against perfbench.oracle, and driver-side native-kernel rates.

A pass is the body the user of the system runs; every call into the
package goes through ``Tracer.layer`` so a traced pass charges its Spark
jobs to the layer that caused them. ``link`` and ``dedup`` are the q1 and
q4 bodies of the repository's bench.py.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field
from typing import Any

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from entityframe_spark.functions import jw_native, uf_native
from entityframe_spark.operators.collection import Collection
from entityframe_spark.operators.entityframe import EntityFrame, col
from entityframe_spark.operators.metrics import metrics_from_cells
from entityframe_spark.pipeline.blocking import build_candidate_pairs
from entityframe_spark.pipeline.dedup import (
    dedup_groups,
    minhash_lsh_candidates,
    ngram_jaccard_pairs,
)
from entityframe_spark.pipeline.linkage import (
    assign_record_ids,
    cluster_edges,
    full_partition,
)
from entityframe_spark.pipeline.scoring import (
    attach_pair_texts,
    prepare_record_features,
    score_pairs,
)
from entityframe_spark.pipeline.transcripts import collapse_conversations

from perfbench import inputs, oracle
from perfbench.observe import Tracer, rate

MATCH_THRESHOLD = 0.5
SAMPLE_PAIRS = 200


@dataclass
class Pass:
    """One pass: its wall time, the work items it did (candidate pairs or
    sweep cells) over the seconds that did them, the named rates the
    detail line reports, per-query latencies, a summary that must repeat
    exactly on every pass of a seed, and the frames verification reads."""

    wall_s: float
    items: float
    items_s: float
    summary: tuple
    rates: dict[str, float] = field(default_factory=dict)
    query_s: list[float] = field(default_factory=list)
    frames: dict[str, Any] = field(default_factory=dict)


def write_input(frame: pd.DataFrame, path: str) -> str:
    """Write ``frame`` as one parquet file, the shape in which bench.py
    reads its inputs, so plans take the same routes (a one-partition scan,
    dedup's repartition of it) and a pass pays the same scan."""
    frame.to_parquet(path, index=False, coerce_timestamps="us")
    return path


def _lsh_rate(texts: list[str], num_hashes: int, bands: int) -> float:
    """Documents per second of lsh_band_hashes_native over ``texts``
    (normalised and packed as the band-keys UDF does)."""
    normed = [" ".join(t[:4096].lower().split()) for t in texts]
    off = np.zeros(len(normed) + 1, dtype=np.int64)
    np.cumsum([len(t) for t in normed], out=off[1:])
    txt = np.frombuffer("".join(normed).encode("utf-32-le"), dtype=np.uint32)
    rng = np.random.default_rng(42)
    p = 2_147_483_647
    A = rng.integers(1, p, size=num_hashes, dtype=np.int64)
    B = rng.integers(0, p, size=num_hashes, dtype=np.int64)

    def once() -> int:
        jw_native.lsh_band_hashes_native(txt, off, 5, A, B, num_hashes, bands)
        return len(normed)

    return rate(once)


# -- link --------------------------------------------------------------------


class Link:
    """Record linkage of events-as-transcripts: collapse -> block ->
    score -> cluster (bench.py q1)."""

    def __init__(self, spark, events_path: str):
        self.spark = spark
        self.events_path = events_path

    def run(self, tr: Tracer) -> Pass:
        t0 = time.perf_counter()
        e = self.spark.read.parquet(self.events_path)
        transcripts = e.select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.row_number()
            .over(Window.partitionBy("user_id").orderBy("ts", "event_id"))
            .alias("turn_idx"),
            F.col("event_type").alias("role"),
            F.concat_ws(" ", "event_type", "props").alias("text"),
            F.lit("").alias("tool"),
            F.col("ts"),
        )
        collapsed = tr.layer(
            "pipeline.transcripts",
            lambda: prepare_record_features(
                assign_record_ids(collapse_conversations(transcripts))
            ),
        ).localCheckpoint(eager=False)
        n_records = collapsed.count()
        pairs = tr.layer(
            "pipeline.blocking",
            lambda: build_candidate_pairs(collapsed, max_block_size=64),
        ).localCheckpoint(eager=False)
        n_pairs = pairs.count()
        scored = tr.layer(
            "pipeline.scoring",
            lambda: score_pairs(
                attach_pair_texts(pairs, collapsed, features_count=n_records)
            ),
        ).localCheckpoint(eager=True)
        checksum = scored.agg(
            F.sum(F.xxhash64(*scored.columns).cast("decimal(38,0)"))
        ).collect()[0][0]
        clusters = tr.layer(
            "pipeline.linkage",
            lambda: full_partition(collapsed, cluster_edges(scored, MATCH_THRESHOLD)),
        )
        n_out = clusters.count()
        wall = time.perf_counter() - t0
        return Pass(
            wall_s=wall,
            items=n_pairs,
            items_s=wall,
            summary=(n_records, n_pairs, int(checksum), n_out),
            rates={"pairs_per_s": n_pairs / wall},
            frames={"collapsed": collapsed, "scored": scored, "clusters": clusters},
        )

    def verify(self, p: Pass, seed: int) -> tuple[list[str], dict[str, Any]]:
        """Pair set well-formed and counted right, a sample of scores
        recomputed from the texts, and the >= 0.5 clustering equal to
        DuckDB connected components."""
        bad: list[str] = []
        recs = p.frames["collapsed"].select("record_id", "full_text").toPandas()
        scored = p.frames["scored"].select("left_id", "right_id", "weight").toPandas()
        clusters = p.frames["clusters"].toPandas()
        con = duckdb.connect()
        con.register("s", scored)
        con.register("r", recs)
        n_distinct, n_bad = con.execute(
            "SELECT COUNT(DISTINCT (left_id, right_id)), "
            "COUNT(*) FILTER (WHERE left_id >= right_id "
            "OR left_id NOT IN (SELECT record_id FROM r) "
            "OR right_id NOT IN (SELECT record_id FROM r)) FROM s"
        ).fetchone()
        if n_distinct != p.summary[1] or len(scored) != p.summary[1] or n_bad:
            bad.append(
                f"pairs: {len(scored)} scored, {n_distinct} distinct, "
                f"{n_bad} malformed, pipeline counted {p.summary[1]}"
            )
        text = dict(zip(recs["record_id"], recs["full_text"]))
        sample = scored.sample(n=min(SAMPLE_PAIRS, len(scored)), random_state=seed)
        off = [
            (int(r.left_id), int(r.right_id), r.weight, w)
            for r in sample.itertuples()
            if abs((w := oracle.pair_weight(text[r.left_id], text[r.right_id])) - r.weight)
            > 1.5e-6
        ]
        if off:
            bad.append(f"pair weights differ from recomputation: {off[:3]}")
        matches = scored[(scored["weight"] * 1e6).round() >= MATCH_THRESHOLD * 1e6]
        ref = oracle.connected_components(
            con,
            pd.DataFrame({"node": recs["record_id"]}),
            matches.rename(columns={"left_id": "u", "right_id": "v"}),
        )
        got = clusters.rename(columns={"record_id": "node", "cluster_id": "label"})
        if not oracle.same_partition(ref, got):
            bad.append("clusters differ from DuckDB connected components")
        counts = {
            "records": len(recs),
            "candidate_pairs": len(scored),
            "match_pairs": len(matches),
            "clusters": int(got["label"].nunique()),
        }
        con.close()
        return bad, counts

    def layer_extras(self, p: Pass, counts: dict[str, Any]) -> dict[str, float]:
        """Useful ratio of blocking, plus the scoring kernel rate on this
        workload's records and pairs."""
        feats = p.frames["collapsed"].select("record_id", "prefix", "toks_h", "grams_h")
        feats = feats.toPandas().set_index("record_id")
        pairs = p.frames["scored"].select("left_id", "right_id").limit(20_000).toPandas()
        left, right = feats.loc[pairs["left_id"]], feats.loc[pairs["right_id"]]

        def arrow(series: pd.Series) -> tuple[np.ndarray, np.ndarray]:
            lists = [np.asarray(v, dtype=np.int64) for v in series]
            off = np.zeros(len(lists) + 1, dtype=np.int64)
            np.cumsum([len(v) for v in lists], out=off[1:])
            return np.concatenate(lists), off

        args = (
            *arrow(left["grams_h"]),
            *arrow(right["grams_h"]),
            *arrow(left["toks_h"]),
            *arrow(right["toks_h"]),
            list(left["prefix"]),
            list(right["prefix"]),
        )

        def once() -> int:
            jw_native.score_batch_native(*args)
            return len(pairs)

        return {
            "pipeline.blocking.useful_ratio": counts["match_pairs"]
            / counts["candidate_pairs"],
            "functions.jw_native.score_pairs_per_s": rate(once),
        }


# -- dedup -------------------------------------------------------------------


class Dedup:
    """Near-duplicate documents: MinHash LSH candidates -> word-trigram
    Jaccard verification -> groups (bench.py q4)."""

    def __init__(self, spark, docs: pd.DataFrame, docs_path: str):
        self.spark = spark
        self.docs_pd = docs
        self.docs_path = docs_path

    def run(self, tr: Tracer) -> Pass:
        t0 = time.perf_counter()
        d = self.spark.read.parquet(self.docs_path)
        cands = tr.layer(
            "pipeline.dedup", lambda: minhash_lsh_candidates(d)
        ).localCheckpoint(eager=False)
        verified = tr.layer(
            "pipeline.dedup",
            lambda: ngram_jaccard_pairs(d, min_jaccard=0.6, candidate_pairs=cands),
        )
        groups = tr.layer("pipeline.linkage", lambda: dedup_groups(verified))
        n_out = groups.count()
        wall = time.perf_counter() - t0
        return Pass(
            wall_s=wall,
            items=len(self.docs_pd),
            items_s=wall,
            summary=(n_out,),
            rates={"docs_per_s": len(self.docs_pd) / wall},
            frames={"cands": cands, "verified": verified, "groups": groups},
        )

    def verify(self, p: Pass, seed: int) -> tuple[list[str], dict[str, Any]]:
        """Verified pairs' Jaccard recomputed on a sample, and the groups
        equal to DuckDB connected components of the verified pairs."""
        bad: list[str] = []
        n_cands = p.frames["cands"].count()
        verified = p.frames["verified"].toPandas()
        groups = p.frames["groups"].toPandas()
        text = dict(zip(self.docs_pd["doc_id"], self.docs_pd["text"]))
        sample = verified.sample(n=min(SAMPLE_PAIRS, len(verified)), random_state=seed)
        off = [
            (int(r.left_id), int(r.right_id), r.jaccard, j)
            for r in sample.itertuples()
            if abs((j := oracle.ngram_jaccard(text[r.left_id], text[r.right_id])) - r.jaccard)
            > 1.5e-6
            or j < 0.6
        ]
        if off:
            bad.append(f"verified Jaccard differs from recomputation: {off[:3]}")
        con = duckdb.connect()
        nodes = pd.DataFrame(
            {"node": pd.unique(verified[["left_id", "right_id"]].to_numpy().ravel())}
        )
        ref = oracle.connected_components(
            con, nodes, verified.rename(columns={"left_id": "u", "right_id": "v"})
        )
        con.close()
        got = groups.rename(columns={"doc_id": "node", "group_id": "label"})
        if not oracle.same_partition(ref, got) or len(got) != p.summary[0]:
            bad.append("groups differ from DuckDB connected components")
        counts = {
            "documents": len(self.docs_pd),
            "lsh_candidates": n_cands,
            "verified_pairs": len(verified),
            "grouped_docs": len(got),
            "groups": int(got["label"].nunique()),
        }
        return bad, counts

    def layer_extras(self, p: Pass, counts: dict[str, Any]) -> dict[str, float]:
        return {
            "pipeline.dedup.verify_ratio": counts["verified_pairs"]
            / counts["lsh_candidates"],
            "functions.jw_native.lsh_docs_per_s": _lsh_rate(
                list(self.docs_pd["text"]), 64, 8
            ),
        }


# -- pipeline ------------------------------------------------------------------


class Pipeline:
    """Every layer of the pipeline package in one pass: ``Link`` (q1),
    then ``Dedup`` (q4). Its throughput is q1's candidate pairs per second
    of q1's part of the pass."""

    def __init__(self, link: Link, dedup: Dedup):
        self.link, self.dedup = link, dedup

    def run(self, tr: Tracer) -> Pass:
        t0 = time.perf_counter()
        a = self.link.run(tr)
        b = self.dedup.run(tr)
        return Pass(
            wall_s=time.perf_counter() - t0,
            items=a.items,
            items_s=a.items_s,
            summary=a.summary + b.summary,
            rates={**a.rates, **b.rates},
            frames={"link": a, "dedup": b},
        )

    def verify(self, p: Pass, seed: int) -> tuple[list[str], dict[str, Any]]:
        bad_a, counts_a = self.link.verify(p.frames["link"], seed)
        bad_b, counts_b = self.dedup.verify(p.frames["dedup"], seed)
        return bad_a + bad_b, {"link": counts_a, "dedup": counts_b}

    def layer_extras(self, p: Pass, counts: dict[str, Any]) -> dict[str, float]:
        return {
            **self.link.layer_extras(p.frames["link"], counts["link"]),
            **self.dedup.layer_extras(p.frames["dedup"], counts["dedup"]),
        }


# -- evaluate ------------------------------------------------------------------

GRID = (0.0, 0.975, 0.025)  # 40 thresholds per side: a 40x40 pair sweep
TRUTH_GRID = [round(0.05 + 0.1 * i, 2) for i in range(10)]
QUERY_THRESHOLDS = [round(0.05 + 0.06 * i, 2) for i in range(16)]
QUERY_DISTINCT = 4
QUERY_FINDS = 4  # find_entity_for_record calls per threshold
CACHE_SIZE = 10  # Collection's partition LRU


def _query_plan(seed: int, n_records: int) -> list[tuple[str, int, float]]:
    """Seeded closed-loop point queries at QUERY_DISTINCT thresholds drawn
    from the 16 in QUERY_THRESHOLDS: at each, one entity_count, which
    computes and caches the partition (a cache miss), then QUERY_FINDS
    find_entity_for_record calls on it (hits). Every seed has the same
    mix: a fifth of the queries miss, so the median query is a hit and
    the 90th percentile a miss."""
    rng = np.random.default_rng(seed)
    plan = []
    for t in rng.choice(QUERY_THRESHOLDS, QUERY_DISTINCT, replace=False):
        plan.append(("count", -1, float(t)))
        plan += [("find", int(rng.integers(0, n_records)), float(t)) for _ in range(QUERY_FINDS)]
    return plan


def _rounded(rows) -> tuple:
    """Rows as sorted tuples with floats rounded to 9 places: metric sums
    may differ in the last bits between passes."""
    return tuple(
        sorted(tuple(round(v, 9) if isinstance(v, float) else v for v in r) for r in rows)
    )


def lru_hit_ratio(thresholds: list[float], size: int = CACHE_SIZE) -> float:
    """Hit ratio of a ``size``-entry LRU over the queried thresholds."""
    cache: list[float] = []
    hits = 0
    for t in thresholds:
        if t in cache:
            hits += 1
            cache.remove(t)
        elif len(cache) >= size:
            cache.pop(0)
        cache.append(t)
    return hits / len(thresholds)


class Evaluate:
    """The evaluation layer on a replicated customer->nation graph: one
    hierarchy build, a 40x40 pair sweep of its partitions against each
    other, a sweep against the nation truth, and point queries."""

    def __init__(self, spark, seed: int, replicas: int, data_dir: str):
        graph = inputs.customer_graph(seed, replicas)
        cg = spark.read.parquet(write_input(graph, os.path.join(data_dir, "customer.parquet")))

        self.edges = cg.select(
            F.col("key").cast("string").alias("src"),
            F.concat(F.lit("n"), F.col("nation").cast("string")).alias("dst"),
            (F.pmod(F.xxhash64("key", F.lit(seed)), F.lit(1000)) / 1000.0).alias("weight"),
        )
        # truth: each customer and each nation record belongs to its nation
        nations = graph["nation"].unique()
        self.truth_pd = pd.DataFrame(
            {
                "key": np.concatenate(
                    [graph["key"].astype(str), ["n%d" % n for n in nations]]
                ),
                "cluster_b": np.concatenate([graph["nation"], nations]),
            }
        )
        self.truth = spark.read.parquet(
            write_input(self.truth_pd, os.path.join(data_dir, "truth.parquet"))
        )
        self.n_records = replicas * (inputs.N_CUSTOMERS + inputs.N_NATIONS)
        self.plan = _query_plan(seed, self.n_records)

    def run(self, tr: Tracer) -> Pass:
        t0 = time.perf_counter()

        def built(c: Collection) -> int:
            return c.merge_edges.count() + c.records.count()

        ca = tr.layer(
            "operators.collection", lambda: Collection.from_edges(self.edges), built
        )
        ef = EntityFrame().add_collection("a", ca)
        ts = time.perf_counter()
        sweep = tr.layer(
            "operators.entityframe",
            lambda: ef.analyse_df(col("a").sweep(*GRID), col("a").sweep(*GRID)).collect(),
            len,
        )
        sweep_s = time.perf_counter() - ts
        mem = tr.layer("operators.collection", lambda: ca.memberships_for_grid(TRUTH_GRID))
        cells = (
            mem.select("threshold_fp", "record_id", F.col("cluster_id").alias("cluster_a"))
            .join(ca.records.join(self.truth, "key").select("record_id", "cluster_b"), "record_id")
            .groupBy("threshold_fp", "cluster_a", "cluster_b")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        truth = tr.layer(
            "operators.metrics",
            lambda: metrics_from_cells(cells, keys=["threshold_fp"]).collect(),
            len,
        )
        answers, query_s = [], []
        for op, rid, t in self.plan:
            if op == "find":
                fn = lambda: ca.find_entity_for_record(rid, t)  # noqa: E731
            else:
                fn = lambda: ca.entity_count(t)  # noqa: E731
            tq = time.perf_counter()
            answers.append(tr.layer("operators.collection", fn, lambda _: 1))
            query_s.append(time.perf_counter() - tq)
        wall = time.perf_counter() - t0
        return Pass(
            wall_s=wall,
            items=self.n_records * len(sweep),
            items_s=sweep_s,
            summary=(_rounded(sweep), _rounded(truth), tuple(answers)),
            rates={"cells_per_s": self.n_records * len(sweep) / sweep_s},
            query_s=query_s,
            frames={"ca": ca, "sweep": sweep, "truth": truth, "answers": answers},
        )

    def verify(self, p: Pass, seed: int) -> tuple[list[str], dict[str, Any]]:
        """Sampled pair-sweep grid points and truth-sweep thresholds, and
        every point-query answer against DuckDB connected components and
        contingency metrics."""
        bad: list[str] = []
        con = duckdb.connect()
        recs = p.frames["ca"].records.select("record_id", "key").toPandas()
        ids = dict(zip(recs["key"], recs["record_id"]))
        nodes = pd.DataFrame({"node": recs["record_id"]})

        def id_edges(df) -> pd.DataFrame:
            e = df.toPandas()
            return pd.DataFrame(
                {
                    "u": e["src"].map(ids),
                    "v": e["dst"].map(ids),
                    "w_fp": (e["weight"] * 1e6).round().astype(np.int64),
                }
            )

        def check(what: str, got: dict, want: dict) -> None:
            if any(abs(got[m] - want[m]) > 1.5e-6 for m in oracle.METRICS):
                bad.append(f"{what}: {got} != DuckDB {want}")

        ea = id_edges(self.edges)
        parts = {}

        def part(t_fp: int) -> pd.DataFrame:
            if t_fp not in parts:
                parts[t_fp] = oracle.partition_at(con, nodes, ea, t_fp)
            return parts[t_fp]

        sweep = p.frames["sweep"]
        for i in np.random.default_rng(seed).choice(len(sweep), 2, replace=False):
            row = sweep[int(i)]
            ta, tb = row["a_threshold"], row["a_threshold_2"]
            want = oracle.contingency_metrics(
                con, part(round(ta * 1e6)), part(round(tb * 1e6))
            )
            check(f"sweep ({ta}, {tb})", {m: row[m] for m in oracle.METRICS}, want)

        truth = pd.DataFrame(
            {"node": self.truth_pd["key"].map(ids), "label": self.truth_pd["cluster_b"]}
        )

        truth_rows = p.frames["truth"]
        for i in np.random.default_rng(seed).choice(len(truth_rows), 3, replace=False):
            row = truth_rows[int(i)]
            want = oracle.contingency_metrics(con, part(row["threshold_fp"]), truth)
            check(f"truth sweep {row['threshold_fp']}", {m: row[m] for m in oracle.METRICS}, want)

        for (op, rid, t), ans in zip(self.plan, p.frames["answers"]):
            labels = part(round(t * 1e6)).set_index("node")["label"]
            want = int(labels[rid]) if op == "find" else int(labels.nunique())
            if ans != want:
                bad.append(f"{op}({rid}, {t}) = {ans}, DuckDB says {want}")
        con.close()
        self.edge_ids = ea  # the kernel rates in layer_extras run on these
        counts = {
            "records": len(recs),
            "edges": len(ea),
            "sweep_grid_points": len(sweep),
            "truth_sweep_points": len(p.frames["truth"]),
            "point_queries": len(self.plan),
        }
        return bad, counts

    def layer_extras(self, p: Pass, counts: dict[str, Any]) -> dict[str, float]:
        """Partition-cache hit ratio of the query plan, plus the
        single-linkage and grid-label kernel rates on the collection's
        edges (mapped to record ids by ``verify``, which runs first)."""
        ea = self.edge_ids
        order = np.lexsort((ea["v"].to_numpy(), ea["u"].to_numpy(), -ea["w_fp"].to_numpy()))
        src, dst, wfp = (ea[c].to_numpy()[order] for c in ("u", "v", "w_fp"))
        n = counts["records"]

        def linkage() -> int:
            uf_native.single_linkage_native(src, dst, wfp, n)
            return len(src)

        me = p.frames["ca"].merge_edges.toPandas().sort_values(
            "threshold_fp", ascending=False, kind="stable"
        )
        ch, pa, tf = (me[c].to_numpy() for c in ("child", "parent", "threshold_fp"))
        grid = np.array(
            sorted((round(t * 1e6) for t in col("a").sweep(*GRID).thresholds), reverse=True),
            dtype=np.int64,
        )

        def labels() -> int:
            uf_native.grid_labels_native(ch, pa, tf, n, grid)
            return n * len(grid)

        return {
            "operators.collection.cache_hit_ratio": lru_hit_ratio(
                [t for _, _, t in self.plan]
            ),
            "functions.uf_native.linkage_edges_per_s": rate(linkage),
            "functions.uf_native.grid_labels_per_s": rate(labels),
        }


def make(name: str, spark, seed: int, data_dir: str):
    """The workload ``name`` on inputs generated from ``seed`` and written
    under ``data_dir``."""
    if name == "pipeline":
        events = inputs.events_frame(seed)
        docs = inputs.documents_frame(seed)
        return Pipeline(
            Link(spark, write_input(events, os.path.join(data_dir, "events.parquet"))),
            Dedup(spark, docs, write_input(docs, os.path.join(data_dir, "documents.parquet"))),
        )
    if name == "evaluate":
        return Evaluate(spark, seed, inputs.REPLICAS, data_dir)
    raise ValueError(f"unknown workload {name!r}")
