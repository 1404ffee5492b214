"""NearDup half: MinHash+LSH, SimHash, connected components, exact dedup,
n-gram Jaccard — vs driver-side brute-force oracles on the FIXTURES.md
planted corpus. Includes the BASELINE.json dup-pair recall >= 0.99 check.
"""

from __future__ import annotations

import itertools
import random

import pytest

from deduplicate_text_datasets_spark.config import (
    EngineConfig,
    MinHashConfig,
    SimHashConfig,
)
from deduplicate_text_datasets_spark.operators.connected_components import (
    connected_components,
)
from deduplicate_text_datasets_spark.operators.exact import (
    exact_duplicate_edges,
    exact_duplicates,
)
from deduplicate_text_datasets_spark.operators.minhash import (
    near_duplicate_edges,
)
from deduplicate_text_datasets_spark.operators.ngram import jaccard_pairs
from deduplicate_text_datasets_spark.operators.simhash import (
    simhash_fingerprints,
    simhash_pairs,
)
from deduplicate_text_datasets_spark.plans.pipeline import neardup_clusters
from deduplicate_text_datasets_spark.sources.documents import (
    DOCUMENTS_SCHEMA,
    synth_documents_pandas,
)

MH = MinHashConfig()
N_DOCS = 200


def _tokens(text: str) -> list[str]:
    import re

    return [t for t in re.split("[^a-z0-9]+", text.lower()) if t]


def _shingle_set(text: str, w: int = 5) -> set[str]:
    toks = _tokens(text)
    if len(toks) < w:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + w]) for i in range(len(toks) - w + 1)}


def _true_jaccard(a: str, b: str, w: int = 5) -> float:
    sa, sb = _shingle_set(a, w), _shingle_set(b, w)
    if not sa and not sb:
        return 1.0
    return len(sa & sb) / len(sa | sb)


@pytest.fixture(scope="module")
def fixture_pdf():
    return synth_documents_pandas(N_DOCS, size_lo=50, size_hi=300)


@pytest.fixture(scope="module")
def docs(spark, fixture_pdf):
    df = spark.createDataFrame(fixture_pdf, schema=DOCUMENTS_SCHEMA)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def oracle_pairs(fixture_pdf):
    """All pairs with true shingle-Jaccard >= threshold (brute force)."""
    texts = list(fixture_pdf["text"])
    out = {}
    for i, j in itertools.combinations(range(len(texts)), 2):
        jac = _true_jaccard(texts[i], texts[j])
        if jac > 0:
            out[(i, j)] = jac
    return out


def test_minhash_recall(spark, docs, oracle_pairs):
    """BASELINE.json: dup-pair recall >= 0.99 at the configured threshold."""
    edges = near_duplicate_edges(docs, MH)
    got = {(r["a"], r["b"]) for r in edges.select("a", "b").collect()}
    expected = {p for p, j in oracle_pairs.items() if j >= MH.jaccard_threshold}
    assert len(expected) >= 10, "fixture must plant near-dup pairs"
    recall = len(got & expected) / len(expected)
    assert recall >= 0.99, f"recall {recall}: missing {expected - got}"
    # verify step guarantees no false positives at the exact threshold
    for a, b in got:
        assert oracle_pairs.get((a, b), 0) >= MH.jaccard_threshold


def test_minhash_jaccard_values_exact(spark, docs, oracle_pairs):
    edges = near_duplicate_edges(docs, MH).collect()
    for r in edges:
        truth = oracle_pairs[(r["a"], r["b"])]
        assert abs(r["jaccard"] - truth) < 1e-9


def test_exact_duplicates(spark, docs, fixture_pdf):
    texts = list(fixture_pdf["text"])
    got = {r["doc_id"]: (r["group_id"], r["keep"]) for r in exact_duplicates(docs).collect()}
    first_of = {}
    for k, t in enumerate(texts):
        first_of.setdefault(t, k)
    for k, t in enumerate(texts):
        assert got[k] == (first_of[t], first_of[t] == k)
    assert exact_duplicate_edges(docs).count() == sum(
        1 for k, t in enumerate(texts) if first_of[t] != k
    )


def test_connected_components_vs_union_find(spark):
    rng = random.Random(7)
    n = 300
    edges = [(rng.randrange(n), rng.randrange(n)) for _ in range(220)]
    parent = list(range(n))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # canonical min-label per component
    truth = {}
    for x in range(n):
        r = find(x)
        truth.setdefault(r, []).append(x)
    expect = {x: min(members) for r, members in truth.items() for x in members}

    e = spark.createDataFrame(edges, "src long, dst long")
    nodes = spark.range(n).selectExpr("id as node")
    got = {
        r["node"]: r["component"]
        for r in connected_components(e, nodes=nodes).collect()
    }
    assert got == expect


def test_simhash_finds_near_dups(spark, docs, fixture_pdf):
    cfg = SimHashConfig()
    pairs = {(r["a"], r["b"]) for r in simhash_pairs(docs, cfg).collect()}
    texts = list(fixture_pdf["text"])
    # exact duplicate docs have identical fingerprints -> hamming 0
    exact_pairs = {
        (k - 1, k)
        for k in range(1, len(texts))
        if texts[k] == texts[k - 1]
    }
    assert exact_pairs, "fixture must plant exact dups"
    assert exact_pairs <= pairs
    # every reported pair is within the Hamming ball (verified exactly)
    fps = {
        r["doc_id"]: r["fingerprint"]
        for r in simhash_fingerprints(docs).collect()
    }
    for a, b in pairs:
        assert bin((fps[a] ^ fps[b]) & ((1 << 64) - 1)).count("1") <= cfg.hamming_k


def test_ngram_jaccard_pairs(spark, docs, oracle_pairs):
    # threshold 1/2 in exact integer arithmetic
    got = {
        (r["a"], r["b"]): (r["inter"], r["size_a"], r["size_b"])
        for r in jaccard_pairs(docs, MH, threshold_num=1, threshold_den=2).collect()
    }
    expected = {p for p, j in oracle_pairs.items() if j >= 0.5}
    assert set(got) == expected
    for (a, b), (inter, sa, sb) in got.items():
        assert inter / (sa + sb - inter) == pytest.approx(oracle_pairs[(a, b)])


def test_neardup_clusters_flagship(spark, docs, fixture_pdf, oracle_pairs):
    cfg = EngineConfig()
    out = neardup_clusters(docs, cfg).collect()
    by_id = {r["doc_id"]: r for r in out}
    assert len(by_id) == len(fixture_pdf)
    # cluster invariants
    for r in out:
        assert r["keep"] == (r["cluster_id"] == r["doc_id"])
        assert r["is_duplicate"] == (not r["keep"])
    # exact duplicates always share a cluster
    texts = list(fixture_pdf["text"])
    for k in range(1, len(texts)):
        if texts[k] == texts[k - 1]:
            assert by_id[k]["cluster_id"] == by_id[k - 1]["cluster_id"]
    # transitivity: oracle pairs >= threshold are in the same cluster
    for (a, b), j in oracle_pairs.items():
        if j >= cfg.minhash.jaccard_threshold:
            assert by_id[a]["cluster_id"] == by_id[b]["cluster_id"]


def test_candidate_pairs_pair_cap_keeps_one_cached_copy(spark, monkeypatch):
    """Above the driver pair cap the distributed plan runs from a
    copartitioned cached copy; the probe-time copy is released, so the
    bucket frame is not cached twice."""
    from deduplicate_text_datasets_spark.operators.minhash import candidate_pairs
    from deduplicate_text_datasets_spark.plans.caching import cache_scope

    rows = [(int(m), 0, 1) for m in range(20)]  # one bucket of 20 docs
    buckets = spark.createDataFrame(rows, "doc_id long, band int, bucket long")
    monkeypatch.setenv("SPARK_GRAFT_LSH_DRIVER_PAIR_MAX", "10")  # < C(20,2)
    with cache_scope() as frames:
        pairs = candidate_pairs(buckets, MinHashConfig())
        probe_copy, copartitioned = frames[0], frames[1]
        assert not probe_copy.storageLevel.useMemory
        assert copartitioned.storageLevel.useMemory
        got = sorted((r["a"], r["b"]) for r in pairs.collect())
    assert got == sorted(itertools.combinations(range(20), 2))
