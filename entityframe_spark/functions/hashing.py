"""Entity-level ops: hashing, size, density, fingerprint, map.

Parity with the reference's designed ``sl.Ops.hash.*`` /
``sl.Ops.compute.*`` + ``partition.map`` surface
(docs/design/interface.md:507-557, engine sketch
docs/design/engine.md:160-179: sort members, hash canonical bytes).

Canonical form for hashes: members (keys) sorted ascending, joined
with "," — deterministic across runs and engines, so two systems
holding the same entity produce the same digest (the reference's
verify_hashes use case, README.md:104-114).
"""

from __future__ import annotations

from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

try:  # blake3 is an optional extra in the reference too (Cargo.toml)
    import blake3 as _blake3
except ImportError:  # pragma: no cover
    _blake3 = None


def _canonical_members(records_in_clusters: DataFrame) -> DataFrame:
    """(cluster_id, members array<string> sorted, entity_size)."""
    return records_in_clusters.groupBy("cluster_id").agg(
        F.array_sort(F.collect_list(F.col("key").cast("string"))).alias("members"),
        F.count(F.lit(1)).alias("entity_size"),
    )


def entity_hashes(
    partition: DataFrame,
    records: DataFrame,
    algorithms: tuple[str, ...] = ("sha256", "md5"),
) -> DataFrame:
    """Per-entity digests over the sorted-member canonical string.

    sha256/sha512 via built-in sha2, md5 via built-in md5 (zero
    Python); blake3 via an Arrow-batched pandas UDF (the wheel when
    installed, else the b3_native C kernel).
    Returns (cluster_id, members, entity_size, <algo> hex columns).
    """
    ents = _canonical_members(partition.join(records, "record_id"))
    canon = F.concat_ws(",", F.col("members"))
    out = ents
    for algo in algorithms:
        if algo == "sha256":
            out = out.withColumn("sha256", F.sha2(canon, 256))
        elif algo == "sha512":
            out = out.withColumn("sha512", F.sha2(canon, 512))
        elif algo == "md5":
            out = out.withColumn("md5", F.md5(canon))
        elif algo == "blake3":
            # wheel when installed; else the repo's own C kernel
            # (b3_native, pinned to the published test vectors) — the
            # algorithm no longer degrades to a stand-in anywhere
            @F.pandas_udf(StringType())
            def _b3(s: pd.Series) -> pd.Series:
                if _blake3 is not None:
                    return s.map(
                        lambda x: _blake3.blake3(x.encode()).hexdigest()
                    )
                from entityframe_spark.functions import b3_native

                vals = [x.encode() for x in s.tolist()]
                return pd.Series(
                    b3_native.blake3_hex_batch(vals), index=s.index
                )

            out = out.withColumn("blake3", _b3(canon))
        elif algo == "blake2b":
            # documented stand-in for environments without the blake3
            # wheel (interface.md:547-552 lists blake3; blake2b is the
            # stdlib BLAKE-family equivalent, 256-bit digest here)
            import hashlib

            @F.pandas_udf(StringType())
            def _b2(s: pd.Series) -> pd.Series:
                return s.map(
                    lambda x: hashlib.blake2b(
                        x.encode(), digest_size=32
                    ).hexdigest()
                )

            out = out.withColumn("blake2b", _b2(canon))
        else:
            raise ValueError(f"unknown hash algorithm: {algo}")
    return out


def entity_sizes(partition: DataFrame) -> DataFrame:
    """sl.Ops.compute.size: (cluster_id, entity_size)."""
    return partition.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("entity_size")
    )


def entity_density(partition: DataFrame, edges: DataFrame) -> DataFrame:
    """sl.Ops.compute.density: internal connectivity
    2*|E_within| / (n*(n-1)) per entity (algorithms.md:823-828).
    ``edges``: (src, dst) record-id pairs. Singletons get density 0.
    """
    p = partition.select("record_id", "cluster_id")
    within = (
        edges.join(p.withColumnRenamed("record_id", "src"), "src")
        .withColumnRenamed("cluster_id", "ca")
        .join(p.withColumnRenamed("record_id", "dst"), "dst")
        .where(F.col("ca") == F.col("cluster_id"))
        .groupBy(F.col("ca").alias("cluster_id"))
        .agg(F.count(F.lit(1)).alias("internal_edges"))
    )
    sizes = entity_sizes(p)
    return sizes.join(within, "cluster_id", "left").select(
        "cluster_id",
        "entity_size",
        F.when(
            F.col("entity_size") > 1,
            2.0
            * F.coalesce(F.col("internal_edges"), F.lit(0))
            / (F.col("entity_size") * (F.col("entity_size") - 1)),
        )
        .otherwise(F.lit(0.0))
        .alias("density"),
    )


def entity_fingerprint(
    partition: DataFrame, records: DataFrame, num_hashes: int = 16
) -> DataFrame:
    """sl.Ops.compute.fingerprint: MinHash over member keys
    (algorithms.md:843-847) — array<long>, JVM-side xxhash64."""
    ents = _canonical_members(partition.join(records, "record_id"))
    sig = F.array(
        *[
            F.array_min(
                F.transform(F.col("members"), lambda m, i=i: F.xxhash64(F.lit(i), m))
            )
            for i in range(num_hashes)
        ]
    )
    return ents.select("cluster_id", "entity_size", sig.alias("fingerprint"))


def map_entities(
    partition: DataFrame,
    records: DataFrame,
    fn: Callable,
    schema: str,
) -> DataFrame:
    """partition.map(custom_callable) for arbitrary Python functions
    (interface.md:507-524): apply a per-entity pandas function over
    groupBy(cluster_id).applyInPandas. ``fn`` receives the entity's
    rows (record_id, source, key, cluster_id) and returns a pandas
    DataFrame matching ``schema``."""
    joined = partition.join(records, "record_id")
    return joined.groupBy("cluster_id").applyInPandas(fn, schema=schema)
