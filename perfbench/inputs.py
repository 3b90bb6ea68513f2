"""Seeded input generation for the three workloads.

The base tables follow the shape of the sf0.1 star-schema test data the
repository's ``bench.py`` reads (events, documents, customer),
but are synthesised here so the benchmark needs no file outside its
checkout. They come from one fixed base seed, so every ``--seed`` runs the
same amount of work; the run seed then changes the inputs without changing
their similarity structure:

* ``link``: the seed relabels the users (so record ids, the salted
  signature sub-blocks, and hence the candidate pairs and their scores
  change) and shuffles the rows. The event texts stay as they are: a
  letter substitution would re-hash every MinHash band, and which bands
  the hot-band cap drops swung the candidate count by +-6% between seeds.
* ``dedup``: a per-seed bijective substitution of the 26 lower-case
  letters. Jaro-Winkler, Levenshtein, token and shingle overlap are all
  functions of character equality, so the verified pair set keeps its
  shape while every string and MinHash band key differs between seeds.
* ``evaluate``: per-seed edge weights ``xxhash64(key, seed)`` (as bench
  q7 does) and per-seed key shifts of the disjoint replicas.
"""

from __future__ import annotations

import string

import numpy as np
import pandas as pd

BASE_SEED = 42
N_EVENTS = 33_000
N_USERS = 500
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
N_DOCS = 2_500
N_DUP_DOCS = 125
DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
DOC_LANGS = ["en", "zh", "de", "fr", "es"]
DOC_LANG_P = [0.41, 0.15, 0.14, 0.15, 0.15]
N_CUSTOMERS = 15_000
N_NATIONS = 25
REPLICAS = 1


def letter_table(seed: int) -> dict[int, int]:
    """str.translate table of a seeded permutation of a-z."""
    letters = string.ascii_lowercase
    perm = np.random.default_rng(seed).permutation(len(letters))
    return str.maketrans(letters, "".join(letters[i] for i in perm))


def events_frame(seed: int) -> pd.DataFrame:
    """33k events over 500 users in 30 days; the seed relabels the
    users and shuffles the rows."""
    rng = np.random.default_rng(BASE_SEED)
    ts = np.sort(rng.integers(0, 30 * 86_400 * 10**6, N_EVENTS))
    users = rng.integers(0, N_USERS, N_EVENTS)
    types = np.array(EVENT_TYPES)[rng.integers(0, len(EVENT_TYPES), N_EVENTS)]
    props = [f'{{"k": {v}}}' for v in rng.integers(0, 100, N_EVENTS)]
    seeded = np.random.default_rng(seed)
    frame = pd.DataFrame(
        {
            "event_id": np.arange(N_EVENTS, dtype=np.int64),
            "ts": pd.Timestamp("2024-01-01") + pd.to_timedelta(ts, unit="us"),
            "user_id": seeded.permutation(N_USERS)[users],
            "event_type": types,
            "props": props,
        }
    )
    return frame.iloc[seeded.permutation(N_EVENTS)].reset_index(drop=True)


def documents_frame(seed: int) -> pd.DataFrame:
    """2,500 documents of 10-100 words; 125 are an earlier document plus
    a trailing marker word (the near-duplicates dedup must find)."""
    rng = np.random.default_rng(BASE_SEED)
    texts = [
        " ".join(rng.choice(DOC_VOCAB, int(rng.integers(10, 101))))
        for _ in range(N_DOCS)
    ]
    dup_ids = rng.choice(N_DOCS, N_DUP_DOCS, replace=False)
    is_dup = np.zeros(N_DOCS, dtype=bool)
    is_dup[dup_ids] = True
    originals = np.flatnonzero(~is_dup)
    for d in dup_ids:
        texts[d] = texts[int(rng.choice(originals))] + " dup"
    table = letter_table(seed)
    texts = [t.translate(table) for t in texts]
    return pd.DataFrame(
        {
            "doc_id": np.arange(N_DOCS, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(DOC_LANGS, N_DOCS, p=DOC_LANG_P),
            "source": [f"src{i % 20}" for i in range(N_DOCS)],
        }
    )


def customer_graph(seed: int, replicas: int) -> pd.DataFrame:
    """(key, nation) rows of ``replicas`` disjoint copies of a 15,000-row
    customer table with uniform nation keys. Each replica's keys and nation
    keys are shifted by table size from seeded bases far apart, so no
    replica's keys meet another's."""
    nations = np.random.default_rng(BASE_SEED).integers(0, N_NATIONS, N_CUSTOMERS)
    rng = np.random.default_rng(seed)
    key_base = int(rng.integers(1, 10**6)) * 10**6
    nation_base = int(rng.integers(1, 10**3)) * 10**3
    keys = np.arange(N_CUSTOMERS, dtype=np.int64)
    return pd.DataFrame(
        {
            "key": np.concatenate(
                [key_base + r * N_CUSTOMERS + keys for r in range(replicas)]
            ),
            "nation": np.concatenate(
                [nation_base + r * N_NATIONS + nations for r in range(replicas)]
            ),
        }
    )
