"""The correctness check's pair arithmetic and the seeded corpora."""

from __future__ import annotations

import itertools
import json
import os
import random

import pandas as pd
import pyarrow.parquet as pq
import pytest

from linkbench.metrics import END_TO_END, PER_LAYER
from linkbench.workloads import WORKLOADS, check_clusters, write_corpus

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _pairs(labels: dict[str, object]) -> set[tuple[str, str]]:
    return {
        (a, b)
        for a, b in itertools.combinations(sorted(labels), 2)
        if labels[a] == labels[b]
    }


@pytest.mark.parametrize("seed", range(20))
def test_pair_errors_match_brute_force(seed):
    rng = random.Random(seed)
    urls = [f"u{i:03d}" for i in range(rng.randint(1, 40))]
    entity = {u: rng.randint(0, len(urls) // 3) for u in urls}
    component = {u: f"c{rng.randint(0, len(urls) // 2)}" for u in urls}
    truth = pd.DataFrame({"url": urls, "entity_id": [entity[u] for u in urls]})
    clusters = pd.DataFrame({"node": urls, "component": [component[u] for u in urls]})
    gold, pred = _pairs(entity), _pairs(component)
    check = check_clusters(clusters, truth)
    assert check.missed_pairs == len(gold - pred)
    assert check.false_pairs == len(pred - gold)
    assert check.rows == len(urls)


def test_check_gates():
    truth = pd.DataFrame({"url": ["a", "b", "c", "d"], "entity_id": [0, 0, 1, 1]})
    exact = pd.DataFrame({"node": ["a", "b", "c", "d"], "component": ["a", "a", "c", "c"]})
    assert check_clusters(exact, truth).ok
    merged = exact.assign(component="a")
    assert not check_clusters(merged, truth).ok  # F1 0.5
    assert not check_clusters(exact.iloc[:3], truth).ok  # a page lost
    unique = pd.DataFrame({"url": ["a", "b"], "entity_id": [0, 1]})
    singles = pd.DataFrame({"node": ["a", "b"], "component": ["a", "b"]})
    assert check_clusters(singles, unique).ok
    assert not check_clusters(singles.assign(component="a"), unique).ok
    # the hash identifies the clustering, not the row order
    assert (
        check_clusters(exact, truth).content_hash
        == check_clusters(exact.iloc[::-1], truth).content_hash
    )


def test_corpus_is_a_function_of_the_seed(tmp_path):
    w = WORKLOADS["stream_dup4"]
    a = write_corpus(w, 3, str(tmp_path / "a"), files=2)
    b = write_corpus(w, 3, str(tmp_path / "b"), files=2)
    c = write_corpus(w, 4, str(tmp_path / "c"), files=2)

    def read(corpus):
        frames = [pq.read_table(p).to_pandas() for p in corpus.shard_paths]
        return pd.concat(frames).sort_values("url").reset_index(drop=True)

    pd.testing.assert_frame_equal(read(a), read(b))
    assert set(a.truth["url"]).isdisjoint(c.truth["url"])
    assert len(a.truth) == w.pages
    # the micro-batches partition the corpus, and carry no generator truth
    assert sum(len(s) for s in a.shard_urls) == w.pages
    assert frozenset().union(*a.shard_urls) == frozenset(a.truth["url"])
    assert "entity_id" not in read(a).columns


def test_benchmark_json_matches_the_code():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["end_to_end"]] == [
        (m.name, m.unit, m.better) for m in END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == [
        (m.name, m.unit, m.better) for m in PER_LAYER
    ]
    for wl in spec["workloads"]:
        assert WORKLOADS[wl["name"]].why == wl["why"]
