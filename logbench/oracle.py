"""Reference computations the benchmark checks every output against.

Log-pipeline outputs are checked against DuckDB running the repo's
own oracle SQL (``oracle_sql()["router_counts"]`` over the shared
transcript CTE) on the generated events. Dedup outputs are checked
against DuckDB for exact dedup and against plain-Python recomputation
(shingle Jaccard, SimHash hamming, union-find components) for the
near-duplicate chain. Every check returns a list of mismatch messages;
an empty list means the output agrees with the reference.
"""

from __future__ import annotations

import hashlib
from collections import Counter

import duckdb
import numpy as np

#: Jaccard at or above which a MinHash candidate is a near-duplicate edge
JACCARD_MIN = 0.7
#: SimHash hamming budget, as passed to simhash_near_dups
MAX_HAMMING = 3
#: least share of planted near-duplicate pairs the components must join
RECALL_MIN = 0.95


def _con() -> duckdb.DuckDBPyConnection:
    return duckdb.connect(config={"threads": 1})


def router_reference(events_path: str) -> dict[str, int]:
    """Per-sink turn counts from DuckDB over the generated events."""
    from __spark_entry__ import oracle_sql

    # The repo SQL guards CAST(regexp_extract(...)) with `text LIKE '10.%'`
    # inside an AND, but DuckDB may evaluate the cast on every row (seen
    # with 1-2 threads at 100k rows), where '' fails. TRY_CAST is the
    # same value on every guarded row and NULL elsewhere.
    sql = oracle_sql()["router_counts"]
    guarded = sql.replace("CAST(regexp_extract(", "TRY_CAST(regexp_extract(")
    if guarded.count("TRY_CAST(") != 1:
        raise RuntimeError("router_counts oracle SQL changed shape")
    con = _con()
    try:
        con.execute(
            f"CREATE VIEW events AS SELECT * FROM read_parquet('{events_path}')"
        )
        rows = con.execute(guarded).fetchall()
    finally:
        con.close()
    return {sink: int(cnt) for sink, cnt in rows}


def compare_counts(label: str, want: dict[str, int], got: dict[str, int]) -> list[str]:
    keys = set(want) | set(got)
    bad = [k for k in sorted(keys) if want.get(k, 0) != got.get(k, 0)]
    return [
        f"{label}: sink {k} has {got.get(k, 0)} rows, reference {want.get(k, 0)}"
        for k in bad
    ]


def readback(path: str) -> tuple[dict, int, int]:
    """Read a partitionBy(sink) parquet dataset back with DuckDB. Returns
    ``({sink: rows}, rows, distinct (conv_id, turn_idx))``."""
    con = _con()
    try:
        src = f"read_parquet('{path}/**/*.parquet', hive_partitioning = true)"
        counts = dict(
            con.execute(f"SELECT sink, count(*) FROM {src} GROUP BY 1").fetchall()
        )
        rows, distinct = con.execute(
            f"SELECT count(*), count(DISTINCT (conv_id, turn_idx)) FROM {src}"
        ).fetchone()
    finally:
        con.close()
    return counts, int(rows), int(distinct)


def check_sink_dir(label: str, want: dict[str, int], path: str) -> list[str]:
    """Read-back of one partitionBy(sink) dataset: per-sink counts equal
    the reference and no turn is written twice."""
    counts, rows, distinct = readback(path)
    bad = compare_counts(f"{label} read-back", want, {str(k): int(v) for k, v in counts.items()})
    if rows != distinct:
        bad.append(f"{label} read-back: {rows - distinct} duplicated turns")
    return bad


def check_ledger(want: dict[str, int], n_buckets: int, ledgers: list[dict],
                 data_dir: str) -> list[str]:
    """Checkpoint ledger after a completed run: every bucket committed
    exactly once, ledger totals equal the reference, and each bucket's
    read-back equals its ledger entry."""
    bad: list[str] = []
    buckets = Counter(lin["bucket"] for lin in ledgers)
    missing = sorted(set(range(n_buckets)) - set(buckets))
    dup = sorted(b for b, c in buckets.items() if c > 1)
    if missing or dup:
        bad.append(f"ledger: buckets missing {missing}, duplicated {dup}")
    total: dict[str, int] = {}
    for lin in ledgers:
        for k, v in lin["sink_counts"].items():
            total[k] = total.get(k, 0) + int(v)
    bad += compare_counts("ledger", want, total)
    con = _con()
    try:
        rows = con.execute(
            "SELECT bucket, sink, count(*) FROM read_parquet("
            f"'{data_dir}/**/*.parquet', hive_partitioning = true) GROUP BY 1, 2"
        ).fetchall()
        n, distinct = con.execute(
            "SELECT count(*), count(DISTINCT (conv_id, turn_idx)) FROM read_parquet("
            f"'{data_dir}/**/*.parquet', hive_partitioning = true)"
        ).fetchone()
    finally:
        con.close()
    got = {(int(b), str(s)): int(c) for b, s, c in rows}
    for lin in ledgers:
        for s, c in lin["sink_counts"].items():
            if got.get((lin["bucket"], s), 0) != int(c):
                bad.append(
                    f"ledger: bucket {lin['bucket']} sink {s} read back "
                    f"{got.get((lin['bucket'], s), 0)}, ledger {c}"
                )
    if n != distinct:
        bad.append(f"checkpoint read-back: {n - distinct} duplicated turns")
    return bad


def stream_counts(counts_dir: str) -> dict[str, int]:
    """The streaming counts sink summed over ``batch_id``."""
    con = _con()
    try:
        rows = con.execute(
            "SELECT sink, sum(cnt) FROM read_parquet("
            f"'{counts_dir}/**/*.parquet', hive_partitioning = true) GROUP BY 1"
        ).fetchall()
    finally:
        con.close()
    return {str(s): int(c) for s, c in rows}


# ---------------------------------------------------------------------
# dedup
# ---------------------------------------------------------------------


def exact_reference(corpus_path: str) -> set[tuple[str, int, int]]:
    con = _con()
    try:
        rows = con.execute(
            "SELECT md5(text), min(doc_id), count(*) FROM "
            f"read_parquet('{corpus_path}') GROUP BY 1"
        ).fetchall()
    finally:
        con.close()
    return {(h, int(k), int(n)) for h, k, n in rows}


def words(text: str) -> list[str]:
    return text.strip().lower().split()


def shingle_set(text: str, n: int = 3) -> set[str]:
    ws = words(text)
    return {" ".join(ws[i:i + n]) for i in range(len(ws) - n + 1)}


class SimHashRef:
    """64-bit SimHash as an int whose most significant bit is signature
    bit 0: per word, the first 16 hex digits of md5 vote bit by bit, and
    a bit is set when more than half the words set it. Word bit rows are
    cached, since a corpus reuses its vocabulary."""

    def __init__(self):
        self._rows: dict[str, np.ndarray] = {}

    def _row(self, w: str) -> np.ndarray:
        row = self._rows.get(w)
        if row is None:
            digest = bytes.fromhex(hashlib.md5(w.encode()).hexdigest()[:16])
            row = self._rows[w] = np.unpackbits(np.frombuffer(digest, np.uint8))
        return row

    def __call__(self, text: str) -> int:
        ws = words(text)
        votes = np.sum([self._row(w) for w in ws], axis=0, dtype=np.int64)
        bits = (2 * votes > len(ws)).astype(np.uint8)
        return int.from_bytes(np.packbits(bits).tobytes(), "big")


def check_minhash_pairs(pairs: list[tuple], texts: dict[int, str],
                        sets: dict[int, set[str]] | None = None) -> list[str]:
    """Recompute the exact shingle Jaccard of every reported pair.
    ``sets`` caches shingle sets across calls."""
    sets = {} if sets is None else sets
    bad = []
    for a, b, inter, union in pairs:
        if not a < b:
            bad.append(f"minhash pair ({a}, {b}) not ordered")
        if a not in sets:
            sets[a] = shingle_set(texts[a])
        if b not in sets:
            sets[b] = shingle_set(texts[b])
        sa, sb = sets[a], sets[b]
        want = (len(sa & sb), len(sa | sb))
        if (inter, union) != want:
            bad.append(f"minhash pair ({a}, {b}): {inter}/{union}, reference {want[0]}/{want[1]}")
    return bad[:20]


def check_simhash_pairs(pairs: list[tuple], texts: dict[int, str],
                        sigs: dict[int, int] | None = None) -> list[str]:
    """Recompute the hamming distance of every reported pair from a
    plain-Python SimHash. ``sigs`` caches signatures across calls."""
    sigs = {} if sigs is None else sigs
    ref = SimHashRef()
    bad = []
    for a, b, ham in pairs:
        if a not in sigs:
            sigs[a] = ref(texts[a])
        if b not in sigs:
            sigs[b] = ref(texts[b])
        sa, sb = sigs[a], sigs[b]
        want = bin(sa ^ sb).count("1")
        if ham != want or ham > MAX_HAMMING or not a < b:
            bad.append(f"simhash pair ({a}, {b}): hamming {ham}, reference {want}")
    return bad[:20]


def components_ref(edges: list[tuple[int, int]]) -> dict[int, int]:
    """Union-find: node -> min node id of its component."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def check_components(labels: dict[int, int], edges: list[tuple[int, int]]) -> list[str]:
    want = components_ref(edges)
    if labels == want:
        return []
    diff = [x for x in set(want) | set(labels) if want.get(x) != labels.get(x)]
    return [f"components: {len(diff)} nodes labelled differently from union-find"]


def planted_recall(labels: dict[int, int], planted, survivors: list[int]) -> float:
    """Share of planted near-duplicate pairs among the exact-dedup
    survivors whose two documents share a component."""
    by_cluster: dict[int, list[int]] = {}
    for d in survivors:
        if planted[d] >= 0:
            by_cluster.setdefault(int(planted[d]), []).append(d)
    total = found = 0
    for members in by_cluster.values():
        lab = Counter(labels.get(d, d) for d in members)
        total += len(members) * (len(members) - 1) // 2
        found += sum(c * (c - 1) // 2 for c in lab.values())
    return found / total if total else 1.0
