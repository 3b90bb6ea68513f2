"""Vectorized pairwise scoring of candidate pairs (SURVEY.md J5/F6).

Scale-critical design, in order of what actually dominated measured
cost on ~500k pairs:

1. Feature arrays are materialized ONCE PER RECORD
   (prepare_record_features, checkpointed by the collapse stage).
   Deriving them inside per-pair expressions lets Catalyst inline the
   split() into every lambda element — O(tokens^2) string parsing per
   pair (measured 20 pairs/sec).
2. Pairs carry HASHED features, not strings: token/bigram sets as
   array<long> (xxhash64 per element) and only a 256-char text
   prefix. Raw per-pair payload was ~26KB/row (13GB for 515k pairs) —
   IO-bound, thread-scaling-hostile; hashed payload is ~5-8x smaller
   and long-array intersects beat string intersects.
3. Every per-pair feature comes out of ONE Arrow stage over the C
   scoring kernel (functions/jw_native.py): set intersect sizes,
   Levenshtein on the 256-char prefix and Jaro-Winkler on the
   128-char prefix — the O(len^2) DP at 512 chars was 4x the whole
   rest (measured).

Features (all in [0,1]): bigram containment/jaccard (order-aware;
containment is what separates truncated variants), token jaccard,
prefix levenshtein, prefix jaro-winkler.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from entityframe_spark.functions.similarity import TOKEN_SPLIT

DEFAULT_WEIGHTS = {
    "bigram_containment": 0.35,
    "bigram_jaccard": 0.2,
    "token_jaccard": 0.15,
    "levenshtein": 0.15,
    "jaro_winkler": 0.15,
}

PREFIX_LEN = 256
FEATURE_COLS = ["record_id", "prefix", "toks_h", "grams_h"]


def prepare_record_features(collapsed: DataFrame, text_col: str = "full_text") -> DataFrame:
    """Add per-record scoring features: 256-char prefix, hashed
    distinct-token set, hashed distinct-bigram set. MUST be
    checkpointed/written before pair scoring so the arrays are
    physical, not re-derived per pair."""
    toks_raw = F.split(F.trim(F.col(text_col)), TOKEN_SPLIT)
    out = collapsed.withColumn("_toks_raw", toks_raw)
    grams = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(F.col("_toks_raw")) - 2, F.lit(0))),
            # try_element_at: NULL (dropped by concat_ws) past the end
            # instead of ANSI INVALID_ARRAY_INDEX on <2-token texts
            lambda i: F.concat_ws(
                " ",
                F.try_element_at(F.col("_toks_raw"), i + 1),
                F.try_element_at(F.col("_toks_raw"), i + 2),
            ),
        )
    )
    hash_all = lambda arr: F.transform(arr, lambda s: F.xxhash64(s))  # noqa: E731
    # array_sort: intersect sizes are order-independent (so every
    # downstream feature value is unchanged), but pre-sorted arrays let
    # the C scoring kernel run a linear merge-intersect instead of
    # per-pair hashing (r6; the kernel still detects and sorts unsorted
    # inputs, so correctness never depends on this)
    return (
        out.withColumn("prefix", F.substring(F.col(text_col), 1, PREFIX_LEN))
        .withColumn("toks_h", F.array_sort(hash_all(F.array_distinct(F.col("_toks_raw")))))
        .withColumn("grams_h", F.array_sort(hash_all(grams)))
        .drop("_toks_raw")
    )


def attach_pair_texts(
    pairs: DataFrame,
    features: DataFrame,
    broadcast_threshold: int = 500_000,
    features_count: int | None = None,
) -> DataFrame:
    """Prepare candidate pairs for :func:`score_pairs`. ``features``
    must carry FEATURE_COLS (from prepare_record_features); derived
    here if missing (small-input convenience path).

    Output shape depends on the size of the feature table:

    - below ``broadcast_threshold`` rows (the gather route, guide §8):
      the pair columns UNCHANGED — no text or array columns — plus a
      python-side ``_ef_pair_features`` handle on the returned
      DataFrame object. The feature table is collected ONCE and
      shipped to workers as a Spark broadcast; score_pairs' gather
      kernel looks both sides up by record index. The pair stream
      then carries two int64s + block_key instead of ~2.7 KB of
      duplicated arrays per pair (measured: 1.4 GB of Arrow traffic
      for 515k pairs over 1.5k records). The handle does not survive
      further transformations, so pass the result to score_pairs
      unmodified.
    - otherwise (the 100 TB path; ``broadcast_threshold=0`` forces
      it): two shuffle equi-joins put both sides' prefix
      (left_text/right_text) and hashed arrays (lgrams/rgrams,
      ltoks/rtoks) on each pair row. Feature rows are ~2-4 KB, so
      this shuffles pairs x 2 x that (8 GB for 2.4M pairs, an IO cost
      that does not scale with cores); callers at that scale should
      bucket both sides on record_id and let sort-merge join
      co-locate.

    ``features_count``: caller-supplied row count of ``features``.
    When the caller already knows it (it usually does — the collapse
    stage counts its output), the capped limit().count() probe job is
    skipped entirely; the probe only runs without the hint (VERDICT
    r3: one extra Spark job in the hot path)."""
    if "toks_h" not in features.columns:
        features = prepare_record_features(features).localCheckpoint(eager=False)
    sel = features.select(*FEATURE_COLS)
    if broadcast_threshold and (
        features_count < broadcast_threshold
        if features_count is not None
        else sel.limit(broadcast_threshold).count() < broadcast_threshold
    ):
        out = pairs.select("*")  # fresh DF object: never mutate the caller's
        out._ef_pair_features = _collect_features_broadcast(sel)
        return out
    left = sel.select(
        F.col("record_id").alias("left_id"),
        F.col("prefix").alias("left_text"),
        F.col("toks_h").alias("ltoks"),
        F.col("grams_h").alias("lgrams"),
    )
    right = sel.select(
        F.col("record_id").alias("right_id"),
        F.col("prefix").alias("right_text"),
        F.col("toks_h").alias("rtoks"),
        F.col("grams_h").alias("rgrams"),
    )
    return pairs.join(left, "left_id").join(right, "right_id")


_prev_feature_broadcasts: list = []  # bounded: previous handle released


def _collect_features_broadcast(sel: DataFrame):
    """Collect the per-record feature table (record_id, prefix, toks_h,
    grams_h) to the driver via Arrow, pack it into flat numpy buffers
    (values + n_rec+1 offsets, Arrow list layout; prefixes as uint32
    codepoints), and broadcast ONE copy per worker. Returns the
    broadcast handle; value = (sorted_ids, gvals, goff, tvals, toff,
    pvals, poff)."""
    import numpy as np

    tbl = sel.toArrow().combine_chunks().sort_by("record_id")
    ids = tbl.column("record_id").to_numpy(zero_copy_only=False).astype(np.int64)

    def flat(name):
        arr = tbl.column(name)
        if arr.num_chunks == 1:
            arr = arr.chunk(0)
        else:  # empty table
            import pyarrow as pa

            arr = pa.array([], type=arr.type)
        if arr.null_count:
            py = arr.to_pylist()
            lens = np.fromiter(
                (0 if v is None else len(v) for v in py), np.int64, count=len(py)
            )
            off = np.zeros(len(py) + 1, np.int64)
            np.cumsum(lens, out=off[1:])
            vals = np.fromiter((x for v in py if v for x in v), np.int64)
        else:
            off = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = arr.values.to_numpy(zero_copy_only=False).astype(np.int64)
        return np.ascontiguousarray(vals), np.ascontiguousarray(off)

    gvals, goff = flat("grams_h")
    tvals, toff = flat("toks_h")
    from entityframe_spark.functions.jw_native import _pack_offsets

    prefixes = tbl.column("prefix").to_pylist()
    pvals, poff = _pack_offsets(prefixes, PREFIX_LEN)
    sc = sel.sparkSession.sparkContext
    while _prev_feature_broadcasts:
        try:
            _prev_feature_broadcasts.pop().unpersist(blocking=False)
        except Exception:
            pass
    bc = sc.broadcast((ids, gvals, goff, tvals, toff, pvals, poff))
    _prev_feature_broadcasts.append(bc)
    return bc


def _score_pairs_gather(
    pairs: DataFrame, bc, lev_max_len: int, jw_max_len: int
) -> DataFrame:
    """Gather route (guide §8): the pair stream carries only
    (left_id, right_id, block_key); workers look both records up in
    the broadcast feature table and the C gather kernel computes every
    feature. Pairs whose ids are absent from the table are dropped —
    the same semantics as the join route's inner joins."""
    lev_cap, jw_cap = int(lev_max_len), int(jw_max_len)
    src = pairs.select("left_id", "right_id", "block_key")
    out_schema = (
        "left_id long, right_id long, block_key string, "
        "_gi int, _gl int, _gr int, _ti int, _tl int, _tr int, "
        "_lev double, _jw double"
    )

    def run(batches):
        import numpy as np
        import pyarrow as pa

        from entityframe_spark.functions import jw_native, native

        native.tune_allocator()
        ids, gvals, goff, tvals, toff, pvals, poff = bc.value
        feat = (gvals, goff, tvals, toff, pvals, poff)
        for b in batches:
            n = b.num_rows
            if n == 0 or len(ids) == 0:
                continue  # empty feature table: no pair can match
            idx = {nm: i for i, nm in enumerate(b.schema.names)}
            lid = b.column(idx["left_id"]).to_numpy(zero_copy_only=False)
            rid = b.column(idx["right_id"]).to_numpy(zero_copy_only=False)
            li = np.searchsorted(ids, lid)
            ri = np.searchsorted(ids, rid)
            np.minimum(li, len(ids) - 1, out=li)
            np.minimum(ri, len(ids) - 1, out=ri)
            ok = (ids[li] == lid) & (ids[ri] == rid)
            if not ok.all():
                keep = pa.array(ok)
                b = b.filter(keep)
                li, ri = li[ok], ri[ok]
                n = b.num_rows
                if n == 0:
                    continue
            gi, gl, gr, ti, tl, tr, lev, jw = jw_native.score_batch_gather_native(
                feat, li, ri, lev_cap, jw_cap
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(idx["left_id"]),
                    b.column(idx["right_id"]),
                    b.column(idx["block_key"]),
                    pa.array(gi, pa.int32()),
                    pa.array(gl, pa.int32()),
                    pa.array(gr, pa.int32()),
                    pa.array(ti, pa.int32()),
                    pa.array(tl, pa.int32()),
                    pa.array(tr, pa.int32()),
                    pa.array(lev, pa.float64()),
                    pa.array(jw, pa.float64()),
                ],
                names=[
                    "left_id", "right_id", "block_key",
                    "_gi", "_gl", "_gr", "_ti", "_tl", "_tr",
                    "_lev", "_jw",
                ],
            )

    return src.mapInArrow(run, out_schema).select(*_feature_projection())


def _feature_projection():
    """Shared final projection: identical expressions (and doubles) on
    both Arrow routes."""
    gi, gl, gr = F.col("_gi"), F.col("_gl"), F.col("_gr")
    ti, tl, tr = F.col("_ti"), F.col("_tl"), F.col("_tr")
    return [
        "left_id",
        "right_id",
        "block_key",
        F.round(
            F.when(F.least(gl, gr) == 0, F.lit(1.0)).otherwise(gi / F.least(gl, gr)),
            6,
        ).alias("bigram_containment"),
        F.round(
            F.when(gl + gr - gi == 0, F.lit(1.0)).otherwise(gi / (gl + gr - gi)), 6
        ).alias("bigram_jaccard"),
        F.round(
            F.when(tl + tr - ti == 0, F.lit(1.0)).otherwise(ti / (tl + tr - ti)), 6
        ).alias("token_jaccard"),
        F.round(F.col("_lev"), 6).alias("levenshtein"),
        F.round(F.col("_jw"), 6).alias("jaro_winkler"),
    ]


def _score_pairs_arrow(
    src_df: DataFrame, lev_max_len: int, jw_max_len: int
) -> DataFrame:
    """r6 fast path: the ENTIRE per-pair feature computation — gram and
    token intersect sizes, Levenshtein, Jaro-Winkler — in ONE
    mapInArrow stage backed by the C scoring kernel
    (functions/jw_native.py score_batch).

    Why (guide §4.2 / §1.2): the previous plan computed intersect sizes
    with JVM array_intersect — an OpenHashSet of BOXED values built per
    pair, measured 2.3s for 515k pairs (~75% of the JVM stage) — then
    paid a repartition barrier so the string UDF would not see the wide
    array columns as pass-through. Moving the intersects into the same
    native kernel as lev/JW (linear merge over pre-sorted hash arrays)
    removes both the boxed per-pair hashing AND the barrier Exchange:
    the plan is now scan -> joins -> MapInArrow -> project,
    one stage, no shuffle. The arrays are consumed INSIDE the Arrow
    stage (not passed through), so the output rows stay narrow.

    Feature values are bit-identical to the JVM expressions
    size(array_intersect) and the built-in levenshtein (pinned by
    tests/test_similarity.py): intersect size has distinct-value
    semantics, and the final feature expressions (divisions + round)
    stay in the JVM, shared with the gather route."""
    pack_len = max(int(lev_max_len), int(jw_max_len))
    lev_cap, jw_cap = int(lev_max_len), int(jw_max_len)
    src = src_df.select(
        "left_id",
        "right_id",
        "block_key",
        "lgrams",
        "rgrams",
        "ltoks",
        "rtoks",
        F.substring(F.col("left_text"), 1, pack_len).alias("_lp"),
        F.substring(F.col("right_text"), 1, pack_len).alias("_rp"),
    )
    out_schema = (
        "left_id long, right_id long, block_key string, "
        "_gi int, _gl int, _gr int, _ti int, _tl int, _tr int, "
        "_lev double, _jw double"
    )

    def run(batches):
        import numpy as np
        import pyarrow as pa

        from entityframe_spark.functions import jw_native, native

        native.tune_allocator()

        def list_np(arr):
            """Arrow ListArray -> (int64 values, int64 offsets[n+1],
            absolute). Null entries (not produced by the pipeline, but
            contract-safe) become empty lists."""
            if arr.null_count:
                py = arr.to_pylist()
                lens = np.fromiter(
                    (0 if v is None else len(v) for v in py),
                    np.int64,
                    count=len(py),
                )
                off = np.zeros(len(py) + 1, np.int64)
                np.cumsum(lens, out=off[1:])
                vals = np.fromiter(
                    (x for v in py if v for x in v), np.int64
                )
                return vals, off
            off = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            vals = arr.values.to_numpy(zero_copy_only=False)
            return vals, off

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            idx = {nm: i for i, nm in enumerate(b.schema.names)}
            lgv, lgo = list_np(b.column(idx["lgrams"]))
            rgv, rgo = list_np(b.column(idx["rgrams"]))
            ltv, lto = list_np(b.column(idx["ltoks"]))
            rtv, rto = list_np(b.column(idx["rtoks"]))
            lp = b.column(idx["_lp"]).to_pylist()
            rp = b.column(idx["_rp"]).to_pylist()
            gi, ti, lev, jw = jw_native.score_batch_native(
                lgv, lgo, rgv, rgo, ltv, lto, rtv, rto,
                lp, rp, lev_cap, jw_cap,
            )
            yield pa.RecordBatch.from_arrays(
                [
                    b.column(idx["left_id"]),
                    b.column(idx["right_id"]),
                    b.column(idx["block_key"]),
                    pa.array(gi, pa.int32()),
                    pa.array(np.diff(lgo).astype(np.int32), pa.int32()),
                    pa.array(np.diff(rgo).astype(np.int32), pa.int32()),
                    pa.array(ti, pa.int32()),
                    pa.array(np.diff(lto).astype(np.int32), pa.int32()),
                    pa.array(np.diff(rto).astype(np.int32), pa.int32()),
                    pa.array(lev, pa.float64()),
                    pa.array(jw, pa.float64()),
                ],
                names=[
                    "left_id", "right_id", "block_key",
                    "_gi", "_gl", "_gr", "_ti", "_tl", "_tr",
                    "_lev", "_jw",
                ],
            )

    return src.mapInArrow(run, out_schema).select(*_feature_projection())


def score_pairs(
    pairs_with_texts: DataFrame,
    feature_weights: dict[str, float] | None = None,
    lev_max_len: int = PREFIX_LEN,
    jw_max_len: int = 128,
) -> DataFrame:
    """-> (left_id, right_id, block_key, <features>, weight).
    weight = convex combination of the features named in
    ``feature_weights``; all five features are always emitted.

    ONE MapInArrow stage computes every per-pair feature in the native
    scoring kernel: the gather route when attach_pair_texts returned
    the broadcast handle (_score_pairs_gather), else over the joined
    feature columns (_score_pairs_arrow). No exchange, no barrier,
    narrow output rows; throughput is measured by bench.py's
    pairs_per_sec (see BENCH.md), not claimed here."""
    w = feature_weights or DEFAULT_WEIGHTS
    bc = getattr(pairs_with_texts, "_ef_pair_features", None)
    if bc is None and "lgrams" not in pairs_with_texts.columns:
        raise ValueError(
            "score_pairs input carries neither feature columns nor the "
            "gather-route handle. Pass the DataFrame returned by "
            "attach_pair_texts UNMODIFIED — the handle is a python-side "
            "attribute and does not survive further transformations "
            "(checkpoint/select/filter) between attach and score."
        )
    if bc is not None:
        scored = _score_pairs_gather(pairs_with_texts, bc, lev_max_len, jw_max_len)
    else:
        scored = _score_pairs_arrow(pairs_with_texts, lev_max_len, jw_max_len)
    total = sum(w.values())
    weight = None
    for name, coef in w.items():
        term = F.col(name) * F.lit(coef / total)
        weight = term if weight is None else weight + term
    return scored.withColumn("weight", F.round(weight, 6))
