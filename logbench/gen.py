"""Seeded input generators for the benchmark.

Both generators are pure functions of ``(seed, size parameters)``: the
same arguments give byte-identical tables, and nothing here imports
Spark, so the engine under test only ever sees the generated files.

- ``events_table``: the ``events.parquet`` schema the transcript
  synthesis reads (``transcripts.TRANSCRIPTS_SQL``). The ``event_type``
  mix is uniform over the five types (one per log-line shape), and
  conversation sizes follow the FIXTURES F0 skew: 1% of conversations
  hold about half of all turns.
- ``corpus_table``: a document corpus shaped like ``documents.parquet``
  with planted near-duplicate clusters of skewed size plus exact
  copies. The planted cluster of every document is returned beside the
  table so recall can be checked.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = np.array(["error", "click", "view", "purchase", "signup"])
BASE_TS = dt.datetime(2024, 1, 1)
SPAN_US = 30 * 24 * 3600 * 10**6  # events spread over 30 days

#: share of conversations that are heavy, and share of turns they hold
HEAVY_CONV_SHARE = 0.01
HEAVY_TURN_SHARE = 0.5


def events_table(seed: int, n_turns: int, n_convs: int) -> pa.Table:
    """``n_turns`` events over ``n_convs`` conversations (user ids)."""
    if n_convs < 100 or n_turns < n_convs:
        raise ValueError("need n_convs >= 100 and n_turns >= n_convs")
    rng = np.random.default_rng([seed, 1])
    n_heavy = max(1, int(n_convs * HEAVY_CONV_SHARE))
    # user ids are a permutation so heavy conversations are scattered
    # over the id space (and over hash buckets), not ids 0..n_heavy-1
    ids = rng.permutation(n_convs).astype(np.int64)
    heavy_turn = rng.random(n_turns) < HEAVY_TURN_SHARE
    user = np.where(
        heavy_turn,
        ids[rng.integers(0, n_heavy, n_turns)],
        ids[n_heavy + rng.integers(0, n_convs - n_heavy, n_turns)],
    )
    ts_us = np.sort(rng.integers(0, SPAN_US, n_turns))
    base = np.datetime64(BASE_TS, "us")
    return pa.table(
        {
            "event_id": pa.array(np.arange(n_turns, dtype=np.int64)),
            "ts": pa.array(base + ts_us.astype("timedelta64[us]")),
            "user_id": pa.array(user),
            "event_type": pa.array(EVENT_TYPES[rng.integers(0, 5, n_turns)]),
            "value": pa.array(np.round(rng.random(n_turns) * 50, 2)),
            "props": pa.array(
                [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_turns)]
            ),
        }
    )


def write_events(sf_dir: str, seed: int, n_turns: int, n_convs: int) -> int:
    """Write ``<sf_dir>/events.parquet``; returns the event count."""
    os.makedirs(sf_dir, exist_ok=True)
    t = events_table(seed, n_turns, n_convs)
    pq.write_table(t, os.path.join(sf_dir, "events.parquet"))
    return t.num_rows


# ---------------------------------------------------------------------
# document corpus
# ---------------------------------------------------------------------

VOCAB = 5000
MIN_WORDS, MAX_WORDS = 40, 120
MAX_CLUSTER = 120
ZIPF_A = 1.7


def cluster_sizes(n_members: int) -> list[int]:
    """Skewed near-duplicate cluster sizes summing to about
    ``n_members``: ``1 + Zipf(1.7)`` capped at ``MAX_CLUSTER``, taken at
    evenly spaced quantiles rather than sampled. About half the
    clusters are pairs and a few hold ~100. The sizes depend on
    ``n_members`` only, not on the seed: a cluster of 120 holds 7,140
    pairs, so sampled sizes would make one seed's pair work several
    times another's."""
    k = np.arange(1, 200_000)
    cdf = np.cumsum(k ** -ZIPF_A)
    cdf /= cdf[-1]
    size = np.minimum(MAX_CLUSTER, 1 + k)
    n_clusters = max(1, round(n_members / float(size @ np.diff(cdf, prepend=0.0))))
    at = np.searchsorted(cdf, (np.arange(n_clusters) + 0.5) / n_clusters)
    return [int(s) for s in size[at]]


def corpus_table(
    seed: int, n_docs: int, cluster_share: float = 0.3, exact_share: float = 0.05
) -> tuple[pa.Table, np.ndarray]:
    """``n_docs`` documents. Returns ``(table, planted)`` where
    ``planted[doc_id]`` is the planted near-duplicate cluster of the
    document (-1 for none). Cluster members are their base document
    with 1-2 words substituted; exact copies inherit the cluster of the
    document they copy."""
    rng = np.random.default_rng([seed, 2])
    n_exact = int(n_docs * exact_share)
    n_unique = n_docs - n_exact
    sizes = cluster_sizes(int(n_unique * cluster_share))
    texts: list[list[int]] = []
    planted: list[int] = []
    for cid, size in enumerate(sizes):
        base = rng.integers(0, VOCAB, rng.integers(MIN_WORDS, MAX_WORDS + 1))
        texts.append(base)
        planted.append(cid)
        for _ in range(size - 1):
            v = base.copy()
            pos = rng.choice(len(v), size=int(rng.integers(1, 3)), replace=False)
            v[pos] = rng.integers(0, VOCAB, len(pos))
            texts.append(v)
            planted.append(cid)
    while len(texts) < n_unique:
        texts.append(rng.integers(0, VOCAB, rng.integers(MIN_WORDS, MAX_WORDS + 1)))
        planted.append(-1)
    texts, planted = texts[:n_unique], planted[:n_unique]
    for src in rng.integers(0, n_unique, n_exact):
        texts.append(texts[src])
        planted.append(planted[src])
    order = rng.permutation(len(texts))
    words = [" ".join(f"w{w}" for w in texts[i]) for i in order]
    planted_arr = np.asarray(planted, dtype=np.int64)[order]
    table = pa.table(
        {
            "doc_id": pa.array(np.arange(len(words), dtype=np.int64)),
            "text": pa.array(words),
            "lang": pa.array(["en"] * len(words)),
            "source": pa.array([f"src{i % 5}" for i in range(len(words))]),
            "n_chars": pa.array([len(w) for w in words], type=pa.int64()),
        }
    )
    return table, planted_arr


def write_corpus(
    path: str, seed: int, n_docs: int
) -> tuple[int, np.ndarray]:
    """Write the corpus as ONE parquet file with ONE row group (the
    shipped testdata layout); returns ``(n_docs, planted)``."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    t, planted = corpus_table(seed, n_docs)
    pq.write_table(t, path, row_group_size=t.num_rows)
    return t.num_rows, planted
