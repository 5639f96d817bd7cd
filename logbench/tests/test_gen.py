from collections import Counter

import numpy as np
import pyarrow.parquet as pq

import gen


def test_events_same_seed_same_table_other_seed_differs():
    a = gen.events_table(5, 20_000, 1_000)
    assert a.equals(gen.events_table(5, 20_000, 1_000))
    b = gen.events_table(6, 20_000, 1_000)
    assert not a.equals(b)
    assert a.schema == b.schema


def test_events_schema_matches_shipped_events():
    t = gen.events_table(1, 1_000, 100)
    assert [f.name for f in t.schema] == [
        "event_id", "ts", "user_id", "event_type", "value", "props"]
    assert str(t.schema.field("ts").type) == "timestamp[us]"


def test_events_mix_is_uniform_and_conversations_skewed():
    n, convs = 100_000, 5_000
    t = gen.events_table(3, n, convs)
    types = Counter(t.column("event_type").to_pylist())
    assert set(types) == set(gen.EVENT_TYPES)
    assert all(abs(c / n - 0.2) < 0.01 for c in types.values())
    per_conv = sorted(Counter(t.column("user_id").to_pylist()).values(), reverse=True)
    top = sum(per_conv[: convs // 100]) / n
    assert 0.45 < top < 0.55  # 1% of conversations hold about half the turns


def test_corpus_deterministic_one_row_group_with_planted_clusters(tmp_path):
    a, pa_ = gen.corpus_table(9, 2_000)
    b, pb = gen.corpus_table(9, 2_000)
    assert a.equals(b) and np.array_equal(pa_, pb)
    c, _ = gen.corpus_table(10, 2_000)
    assert not a.equals(c)
    sizes = Counter(pa_[pa_ >= 0].tolist())
    assert max(sizes.values()) >= 20 and min(sizes.values()) >= 1
    texts = a.column("text").to_pylist()
    assert len(set(texts)) < len(texts)  # exact copies are planted too
    path = tmp_path / "documents.parquet"
    n, _ = gen.write_corpus(str(path), 9, 2_000)
    assert n == 2_000 and pq.ParquetFile(path).metadata.num_row_groups == 1



def test_cluster_sizes_skewed_and_the_same_for_every_seed():
    sizes = gen.cluster_sizes(570)
    assert abs(sum(sizes) - 570) < 20
    assert max(sizes) == gen.MAX_CLUSTER
    assert sorted(sizes)[len(sizes) // 2] <= 3  # most clusters are small
    n_clusters = []
    for seed in (9, 10):
        _, planted = gen.corpus_table(seed, 2_000)
        n_clusters.append(len(set(planted[planted >= 0].tolist())))
    assert n_clusters == [len(gen.cluster_sizes(int(1_900 * 0.3)))] * 2
