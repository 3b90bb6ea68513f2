"""Independent reference computations the benchmark checks outputs against.

Connected components and contingency metrics run in DuckDB; pair scores
and n-gram Jaccard are recomputed here in plain Python/numpy from the raw
texts. None of this imports the package under test.
"""

from __future__ import annotations

import re

import duckdb
import numpy as np
import pandas as pd

PRECISION = 1_000_000
WEIGHTS = {  # scoring.DEFAULT_WEIGHTS, restated so a change to it shows
    "bigram_containment": 0.35,
    "bigram_jaccard": 0.2,
    "token_jaccard": 0.15,
    "levenshtein": 0.15,
    "jaro_winkler": 0.15,
}
METRICS = ["precision", "recall", "f1", "ari", "nmi"]


def connected_components(
    con: duckdb.DuckDBPyConnection, nodes: pd.DataFrame, edges: pd.DataFrame
) -> pd.DataFrame:
    """(node, label) with label = min node id of the node's component, by
    min-label propagation in DuckDB until no label changes. ``nodes`` has
    column ``node``; ``edges`` has ``u`` and ``v``."""
    con.register("cc_nodes", nodes[["node"]])
    con.register("cc_edges", edges[["u", "v"]])
    con.execute(
        "CREATE OR REPLACE TEMP TABLE cc_und AS "
        "SELECT u, v FROM cc_edges UNION SELECT v, u FROM cc_edges"
    )
    con.execute(
        "CREATE OR REPLACE TEMP TABLE cc_lab AS SELECT node, node AS label FROM cc_nodes"
    )
    while True:
        con.execute(
            """CREATE OR REPLACE TEMP TABLE cc_next AS
            SELECT l.node, LEAST(l.label, COALESCE(MIN(n.label), l.label)) AS label
            FROM cc_lab l LEFT JOIN cc_und e ON e.u = l.node
            LEFT JOIN cc_lab n ON n.node = e.v
            GROUP BY l.node, l.label"""
        )
        changed = con.execute(
            "SELECT COUNT(*) FROM cc_next x JOIN cc_lab l USING (node) "
            "WHERE x.label <> l.label"
        ).fetchone()[0]
        con.execute("CREATE OR REPLACE TEMP TABLE cc_lab AS SELECT * FROM cc_next")
        if changed == 0:
            break
    out = con.execute("SELECT node, label FROM cc_lab").df()
    for t in ("cc_nodes", "cc_edges"):
        con.unregister(t)
    return out


def partition_at(
    con: duckdb.DuckDBPyConnection, nodes: pd.DataFrame, edges: pd.DataFrame, t_fp: int
) -> pd.DataFrame:
    """Partition of ``nodes`` by the edges with ``w_fp >= t_fp``."""
    return connected_components(con, nodes, edges[edges["w_fp"] >= t_fp])


def contingency_metrics(
    con: duckdb.DuckDBPyConnection, a: pd.DataFrame, b: pd.DataFrame
) -> dict[str, float]:
    """Pairwise precision/recall/F1, ARI and NMI of partition ``a``
    against ``b`` (both (node, label)), the contingency algebra of the
    repository's DuckDB oracles, rounded to 6 places."""
    con.register("pa", a)
    con.register("pb", b)
    row = con.execute(
        """
WITH cells AS (
  SELECT pa.label AS ca, pb.label AS cb, COUNT(*) AS n
  FROM pa JOIN pb USING (node) GROUP BY 1, 2),
ma AS (SELECT ca, SUM(n) AS a_i FROM cells GROUP BY 1),
mb AS (SELECT cb, SUM(n) AS b_j FROM cells GROUP BY 1),
tot AS (SELECT SUM(n) AS n_tot FROM cells),
en AS (SELECT c.n, ma.a_i, mb.b_j, tot.n_tot FROM cells c
       JOIN ma USING (ca) JOIN mb USING (cb) CROSS JOIN tot),
sums AS (SELECT MAX(n_tot) AS n_tot, SUM(n * (n - 1) / 2.0) AS tp,
         SUM((n::DOUBLE / n_tot) * ln(n::DOUBLE * n_tot / (a_i * b_j))) AS mi FROM en),
marga AS (SELECT SUM(a_i * (a_i - 1) / 2.0) AS pp,
          SUM(-(a_i::DOUBLE / n_tot) * ln(a_i::DOUBLE / n_tot)) AS h_a
          FROM ma CROSS JOIN tot),
margb AS (SELECT SUM(b_j * (b_j - 1) / 2.0) AS ap,
          SUM(-(b_j::DOUBLE / n_tot) * ln(b_j::DOUBLE / n_tot)) AS h_b
          FROM mb CROSS JOIN tot)
SELECT
  round(CASE WHEN pp > 0 THEN tp / pp ELSE 0 END, 6),
  round(CASE WHEN ap > 0 THEN tp / ap ELSE 0 END, 6),
  round(CASE WHEN pp > 0 AND ap > 0 AND tp > 0
        THEN 2 * (tp / pp) * (tp / ap) / (tp / pp + tp / ap) ELSE 0 END, 6),
  round((tp - pp * ap / (n_tot * (n_tot - 1) / 2.0))
        / ((pp + ap) / 2.0 - pp * ap / (n_tot * (n_tot - 1) / 2.0)), 6),
  round(CASE WHEN h_a + h_b > 0 THEN 2 * mi / (h_a + h_b) ELSE 1 END, 6)
FROM sums CROSS JOIN marga CROSS JOIN margb"""
    ).fetchone()
    con.unregister("pa")
    con.unregister("pb")
    return dict(zip(METRICS, (float(v) for v in row)))


def same_partition(a: pd.DataFrame, b: pd.DataFrame) -> bool:
    """Whether two (node, label) frames group the same nodes together
    (labels may differ)."""
    if len(a) != len(b) or set(a["node"]) != set(b["node"]):
        return False
    m = a.merge(b, on="node", suffixes=("_a", "_b"))
    return (
        m.groupby("label_a")["label_b"].nunique().max() == 1
        and m.groupby("label_b")["label_a"].nunique().max() == 1
    )


# -- pair scoring, from the raw texts ----------------------------------------


def jaro_winkler(s1: str, s2: str, prefix_weight: float = 0.1) -> float:
    if s1 == s2:
        return 1.0
    l1, l2 = len(s1), len(s2)
    if l1 == 0 or l2 == 0:
        return 0.0
    window = max(max(l1, l2) // 2 - 1, 0)
    used = [False] * l2
    m1 = []
    for i, c in enumerate(s1):
        for j in range(max(0, i - window), min(l2, i + window + 1)):
            if not used[j] and s2[j] == c:
                used[j] = True
                m1.append(c)
                break
    if not m1:
        return 0.0
    m2 = [c for c, u in zip(s2, used) if u]
    half_t = sum(a != b for a, b in zip(m1, m2)) / 2
    m = len(m1)
    jaro = (m / l1 + m / l2 + (m - half_t) / m) / 3
    if jaro <= 0.7:
        return jaro
    prefix = 0
    for a, b in zip(s1[:4], s2[:4]):
        if a != b:
            break
        prefix += 1
    return jaro + prefix * prefix_weight * (1.0 - jaro)


def levenshtein_sim(a: str, b: str) -> float:
    """1 - edit distance / max length, by a row-vectorised DP."""
    if a == b:
        return 1.0
    if not a or not b:
        return 0.0
    bb = np.frombuffer(b.encode("utf-32-le"), dtype=np.uint32)
    idx = np.arange(len(b) + 1)
    prev = idx.copy()
    for i, ca in enumerate(a, start=1):
        cur = np.empty_like(prev)
        cur[0] = i
        cur[1:] = np.minimum(prev[:-1] + (bb != ord(ca)), prev[1:] + 1)
        # insertions: cur[j] = min_k<=j cur[k] + (j - k)
        prev = np.minimum.accumulate(cur - idx) + idx
    return 1.0 - prev[-1] / max(len(a), len(b))


def _features(text: str) -> tuple[set, set, str]:
    toks = re.split(r"\s+", text.strip(" "))
    grams = {" ".join(toks[i : i + 2]) for i in range(max(len(toks) - 1, 1))}
    return set(toks), grams, text[:256]


def _ratio(num: int, den: int) -> float:
    return 1.0 if den == 0 else num / den


def pair_weight(text_a: str, text_b: str) -> float:
    """The scored weight of one candidate pair, recomputed from texts."""
    ta, ga, pa = _features(text_a)
    tb, gb, pb = _features(text_b)
    gi, ti = len(ga & gb), len(ta & tb)
    feats = {
        "bigram_containment": _ratio(gi, min(len(ga), len(gb))),
        "bigram_jaccard": _ratio(gi, len(ga) + len(gb) - gi),
        "token_jaccard": _ratio(ti, len(ta) + len(tb) - ti),
        "levenshtein": levenshtein_sim(pa, pb),
        "jaro_winkler": jaro_winkler(pa[:128], pb[:128]),
    }
    total = sum(WEIGHTS.values())
    return round(
        sum(round(feats[k], 6) * (c / total) for k, c in WEIGHTS.items()), 6
    )


def ngram_jaccard(text_a: str, text_b: str, n: int = 3) -> float:
    """Word n-gram Jaccard of two documents, rounded to 6 places."""

    def grams(t: str) -> set:
        toks = re.split(r"\s+", t.strip(" ").lower())
        return {" ".join(toks[i : i + n]) for i in range(max(len(toks) - n + 1, 1))}

    a, b = grams(text_a), grams(text_b)
    union = len(a | b)
    return round(1.0 if union == 0 else len(a & b) / union, 6)
