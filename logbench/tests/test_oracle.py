import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import gen
import oracle

SINKS = ["sink_errors", "sink_ui", "sink_growth", "sink_billing", "sink_rest"]


@pytest.fixture(scope="module")
def events(tmp_path_factory):
    d = tmp_path_factory.mktemp("ev")
    gen.write_events(str(d), 4, 20_000, 1_000)
    return os.path.join(d, "events.parquet")


def _sink_dir(root, counts):
    """A partitionBy(sink) dataset holding counts[sink] distinct turns."""
    i = 0
    for sink, n in counts.items():
        part = root / f"sink={sink}"
        part.mkdir(parents=True)
        t = pa.table({"conv_id": [f"c{j}" for j in range(i, i + n)],
                      "turn_idx": pa.array([0] * n, pa.int32())})
        pq.write_table(t, part / "part-0.parquet")
        i += n
    return str(root)


def test_reference_covers_every_event(events):
    ref = oracle.router_reference(events)
    assert set(ref) == set(SINKS)
    assert sum(ref.values()) == 20_000


def test_perturbed_sink_count_is_flagged(events, tmp_path):
    ref = oracle.router_reference(events)
    assert oracle.compare_counts("obs", ref, dict(ref)) == []
    bad = dict(ref, sink_ui=ref["sink_ui"] + 1)
    assert oracle.compare_counts("obs", ref, bad) == [
        f"obs: sink sink_ui has {ref['sink_ui'] + 1} rows, reference {ref['sink_ui']}"]
    small = {s: 3 for s in SINKS}
    out = _sink_dir(tmp_path / "ok", small)
    assert oracle.check_sink_dir("batch", small, out) == []
    assert oracle.check_sink_dir("batch", dict(small, sink_rest=4), out)


def test_duplicated_turns_are_flagged(tmp_path):
    out = tmp_path / "dup"
    part = out / "sink=sink_ui"
    part.mkdir(parents=True)
    t = pa.table({"conv_id": ["c0", "c0"], "turn_idx": pa.array([0, 0], pa.int32())})
    pq.write_table(t, part / "part-0.parquet")
    got = oracle.check_sink_dir("stream", {"sink_ui": 2}, str(out))
    assert got == ["stream read-back: 1 duplicated turns"]


def test_ledger_check_flags_missing_and_duplicated_buckets(tmp_path):
    data = tmp_path / "data"
    for b in range(2):
        part = data / f"bucket={b}" / "sink=sink_ui"
        part.mkdir(parents=True)
        t = pa.table({"conv_id": [f"c{b}"], "turn_idx": pa.array([0], pa.int32())})
        pq.write_table(t, part / "part-0.parquet")
    ledgers = [{"bucket": b, "sink_counts": {"sink_ui": 1}, "rows_routed": 1} for b in range(2)]
    assert oracle.check_ledger({"sink_ui": 2}, 2, ledgers, str(data)) == []
    assert oracle.check_ledger({"sink_ui": 2}, 3, ledgers, str(data))
    dup = ledgers + [ledgers[0]]
    assert any("duplicated [0]" in m for m in oracle.check_ledger({"sink_ui": 2}, 2, dup, str(data)))


def test_dedup_references():
    texts = {1: "a b c d e", 2: "a b c d f", 3: "x y z w v"}
    inter = len(oracle.shingle_set(texts[1]) & oracle.shingle_set(texts[2]))
    assert inter == 2  # "a b c", "b c d"
    assert oracle.check_minhash_pairs([(1, 2, 2, 4)], texts) == []
    assert oracle.check_minhash_pairs([(1, 2, 3, 4)], texts)
    ref = oracle.SimHashRef()
    assert ref("a b") == ref("b a") != ref("a c")
    assert 0 <= ref(texts[1]) < 2**64
    texts[4] = "e d c b a"  # same word multiset: same SimHash
    assert oracle.check_simhash_pairs([(1, 4, 0)], texts) == []
    assert oracle.check_simhash_pairs([(1, 4, 1)], texts)
    edges = [(1, 2), (2, 5), (7, 8)]
    assert oracle.components_ref(edges) == {1: 1, 2: 1, 5: 1, 7: 7, 8: 7}
    assert oracle.check_components({1: 1, 2: 1, 5: 1, 7: 7, 8: 7}, edges) == []
    assert oracle.check_components({1: 1, 2: 1, 5: 5, 7: 7, 8: 7}, edges)
    planted = [-1, 0, 0, 0, -1, 0, -1, 1, 1]
    labels = {1: 1, 2: 1, 5: 1, 7: 7, 8: 7}
    assert oracle.planted_recall(labels, planted, [1, 2, 3, 5, 7, 8]) == pytest.approx(4 / 7)
