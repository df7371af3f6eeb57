"""Round-3 late additions: triangle counting, degree histogram, int8
quantization, bigram-LM scoring."""

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from mahout_samsara_book_spark.functions.text_analysis import bigram_lm_scores
from mahout_samsara_book_spark.operators.graph import (
    cooccurrence_edges,
    degrees,
    triangle_counts,
)
from mahout_samsara_book_spark.operators.quantize import (
    int8_quantize,
    int8_recon_stats,
)


def _edges(spark, pairs):
    return spark.createDataFrame(pairs, "a long, b long")


def test_triangle_counts_known_graph(spark):
    # K4 on {1,2,3,4} (4 triangles, each node in 3) plus a pendant 4-5
    k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
    out = triangle_counts(_edges(spark, k4 + [(4, 5)]))
    got = {r["node"]: r["tri"] for r in out.collect()}
    assert got == {1: 3, 2: 3, 3: 3, 4: 3}


def test_triangle_counts_no_triangle(spark):
    # a path graph has none
    out = triangle_counts(_edges(spark, [(1, 2), (2, 3), (3, 4)]))
    assert out.count() == 0


def test_triangle_counts_hub(spark):
    # star + one rim edge: exactly one triangle (hub, 2, 3)
    star = [(1, n) for n in range(2, 8)]
    out = triangle_counts(_edges(spark, star + [(2, 3)]))
    got = {r["node"]: r["tri"] for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 1}


def test_cooccurrence_min_weight(spark):
    items = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 10), (2, 11), (2, 12), (3, 12), (3, 10)],
        "l_orderkey long, l_partkey long",
    )
    all_edges = {
        (r["a"], r["b"]) for r in cooccurrence_edges(items).collect()
    }
    assert all_edges == {(10, 11), (10, 12), (11, 12)}
    heavy = {
        (r["a"], r["b"])
        for r in cooccurrence_edges(items, min_weight=2).collect()
    }
    assert heavy == {(10, 11), (10, 12)}  # pairs sharing two orders


def test_degrees(spark):
    out = degrees(_edges(spark, [(1, 2), (1, 3), (2, 3), (3, 4)]))
    got = {r["node"]: r["deg"] for r in out.collect()}
    assert got == {1: 2, 2: 2, 3: 3, 4: 1}


def test_int8_quantize_codes(spark):
    emb = spark.createDataFrame(
        [(0, [1.0, -0.5, 0.25, 0.0]), (1, [0.0, 0.0, 0.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    rows = {r["vec_id"]: r for r in int8_quantize(emb).collect()}
    assert rows[0]["codes"] == [127, -64, 32, 0]  # absmax=1 → scale=1/127
    assert rows[0]["scale"] == pytest.approx(1.0 / 127.0)
    assert rows[1]["codes"] == [0, 0, 0, 0] and rows[1]["scale"] == 0.0


def test_int8_recon_error_bound(spark):
    rng = np.random.default_rng(7)
    data = [
        (i, [float(x) for x in rng.normal(size=16).astype(np.float32)])
        for i in range(50)
    ]
    emb = spark.createDataFrame(data, "vec_id long, embedding array<float>")
    out = {r["vec_id"]: r for r in int8_recon_stats(emb).collect()}
    for i, v in data:
        v = np.asarray(v, dtype=np.float64)
        scale = np.abs(v).max() / 127.0
        # quantization error per dim is bounded by scale/2
        assert out[i]["mse"] <= (scale / 2) ** 2 + 1e-18
        q = np.round(v / scale)
        assert out[i]["code_l1"] == int(np.abs(q).sum())
        assert out[i]["mse"] == pytest.approx(
            float(np.mean((v - q * scale) ** 2)), rel=1e-12
        )


def test_bigram_lm_hand_computed(spark):
    docs = spark.createDataFrame(
        [(0, "a b a b"), (1, "a b"), (2, "c")],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in bigram_lm_scores(docs).collect()}
    # corpus bigrams: d0: ab, ba, ab; d1: ab → c(ab)=3, c(ba)=1
    # ctx(a)=3, ctx(b)=1; V=3 (a,b,c)
    p_ab = (3 + 1) / (3 + 3)
    p_ba = (1 + 1) / (1 + 3)
    d0 = (math.log(p_ab) + math.log(p_ba) + math.log(p_ab)) / 3
    assert out[0]["n_bigrams"] == 3
    assert out[0]["avg_logp"] == pytest.approx(d0, rel=1e-12)
    assert out[1]["n_bigrams"] == 1
    assert out[1]["avg_logp"] == pytest.approx(math.log(p_ab), rel=1e-12)
    assert 2 not in out  # single-token doc contributes no bigrams


def test_sliding_active_users(spark):
    from datetime import datetime

    from mahout_samsara_book_spark.streaming.events import (
        sliding_active_users,
    )

    # two users at 01:00:00 and one at 01:20:00 — the 01:00 event lands
    # in the 4 sliding (1h, 15min) windows starting 00:15..01:00
    ev = spark.createDataFrame(
        [
            (1, datetime(2024, 1, 1, 1, 0, 0), 10, "a", 1.0, "{}"),
            (2, datetime(2024, 1, 1, 1, 0, 0), 11, "a", 1.0, "{}"),
            (3, datetime(2024, 1, 1, 1, 20, 0), 10, "a", 1.0, "{}"),
        ],
        "event_id long, ts timestamp_ntz, user_id long, "
        "event_type string, value double, props string",
    )
    out = {
        r["window_start"]: (r["n_users"], r["n_events"])
        for r in sliding_active_users(ev).collect()
    }
    from datetime import timezone

    base = int(
        datetime(2024, 1, 1, 1, 0, 0, tzinfo=timezone.utc).timestamp()
    )
    # windows starting 00:30..01:00 contain all three events
    assert out[base] == (2, 3)
    assert out[base - 1800] == (2, 3)
    # window starting 00:15 ends at 01:15 — misses the 01:20 event
    assert out[base - 2700] == (2, 2)
    # window starting 01:15 contains only the 01:20 event
    assert out[base + 900] == (1, 1)
    # each event appears in exactly 4 windows
    assert sum(n for _, n in out.values()) == 12


def test_inverted_index(spark):
    from mahout_samsara_book_spark.functions.text import inverted_index

    docs = spark.createDataFrame(
        [(0, "x x y"), (1, "x z"), (2, "x y"), (3, "w")],
        "doc_id long, text string",
    )
    out = {r["term"]: r for r in inverted_index(docs, 2, head_k=2).collect()}
    assert set(out) == {"x", "y"}  # z, w below min_df
    assert out["x"]["df"] == 3 and out["x"]["total_tf"] == 4
    assert out["x"]["head_postings"] == [0, 1]  # capped at head_k=2
    assert out["y"]["head_postings"] == [0, 2]


def test_tfidf_neighbors_invariants(spark):
    """Exact duplicates are each other's rank-1 neighbor with cosine
    exactly 1.0 (integer dot == integer norm product is exact); every
    cosine ∈ (0, 1]; ranks are dense 1..k per doc; a doc is never its
    own neighbor; terms over max_df never contribute (the stop-term doc
    pair shares only 'the', so it must NOT appear)."""
    from mahout_samsara_book_spark.functions.text import tfidf_neighbors

    docs = spark.createDataFrame(
        [
            (0, "alpha beta gamma delta"),
            (1, "alpha beta gamma delta"),  # exact dup of 0
            (2, "alpha beta epsilon zeta"),
            (3, "the quick brown fox"),
            (4, "the lazy dog sleeps"),
        ],
        "doc_id long, text string",
    )
    # max_df=2 drops nothing here except terms shared by >2 docs
    # ('alpha'/'beta' have df=3): pairs must come from rarer terms
    out = tfidf_neighbors(docs, k=3, max_df=2).collect()
    rows = {(r["doc_id"], r["neighbor"]): r for r in out}
    assert all(r["doc_id"] != r["neighbor"] for r in out)
    assert all(0.0 < r["cosine"] <= 1.0 for r in out)
    # dup pair: top neighbor of each other at cosine 1.0 — approx, not
    # exact: the least() clamp fixes fl(sqrt(s2))² rounding ABOVE s2,
    # but when the square rounds BELOW s2 the quotient lands one ulp
    # under 1.0 and no clamp can restore it (platform/corpus dependent)
    import pytest as _pytest

    one = _pytest.approx(1.0, abs=1e-15)
    assert rows[(0, 1)]["rank"] == 1 and rows[(0, 1)]["cosine"] == one
    assert rows[(1, 0)]["rank"] == 1 and rows[(1, 0)]["cosine"] == one
    # docs 3 and 4 share only 'the' (df=2 ≤ max_df) — they DO pair via
    # it; drop max_df to 1 and the pair must disappear
    strict = tfidf_neighbors(docs, k=3, max_df=1).collect()
    skeys = {(r["doc_id"], r["neighbor"]) for r in strict}
    assert (3, 4) not in skeys and (4, 3) not in skeys
    # ranks dense per doc
    import collections

    per_doc = collections.defaultdict(list)
    for r in out:
        per_doc[r["doc_id"]].append(r["rank"])
    for ranks in per_doc.values():
        assert sorted(ranks) == list(range(1, len(ranks) + 1))


def test_pmi_pairs_hand_computed(spark):
    from mahout_samsara_book_spark.functions.text_analysis import pmi_pairs

    docs = spark.createDataFrame(
        [(0, "a b"), (1, "a b"), (2, "a c"), (3, "d")],
        "doc_id long, text string",
    )
    out = {(r["a"], r["b"]): r for r in pmi_pairs(docs, min_cooc=2).collect()}
    assert set(out) == {("a", "b")}
    r = out[("a", "b")]
    assert r["cooc"] == 2
    # PMI = ln(2*4 / (3*2)) = ln(4/3)
    assert r["pmi"] == pytest.approx(math.log(8 / 6), rel=1e-12)


def test_top_transitions(spark):
    from mahout_samsara_book_spark.operators.graph import top_transitions

    edges = spark.createDataFrame(
        [("a", "b", 6), ("a", "c", 3), ("a", "d", 1), ("b", "a", 2)],
        "src string, dst string, w long",
    )
    out = {(r["src"], r["rank"]): r for r in top_transitions(edges, k=2).collect()}
    assert out[("a", 1)]["dst"] == "b"
    assert out[("a", 1)]["p"] == pytest.approx(0.6)
    assert out[("a", 2)]["dst"] == "c"
    assert ("a", 3) not in out  # k=2 cap
    assert out[("b", 1)]["p"] == pytest.approx(1.0)


def test_bloom_prune_join_no_false_negatives(spark):
    from mahout_samsara_book_spark.operators.bloom import bloom_prune_join

    build = spark.createDataFrame(
        [(k,) for k in range(0, 100, 7)], "key long"
    )
    probes = spark.createDataFrame(
        [(i, i % 100) for i in range(500)], "row_id long, key long"
    )
    pruned = bloom_prune_join(build, probes, "key", "key", m_bits=1 << 12)
    kept = {r["key"] for r in pruned.select("key").distinct().collect()}
    # every true member survives (Bloom has no false negatives)
    assert set(range(0, 100, 7)) <= kept
    # with this sizing the filter actually prunes most non-members
    assert len(kept) < 60


def test_kcore_peel_cascade(spark):
    from mahout_samsara_book_spark.operators.graph import kcore_peel

    # triangle (core-2) with a pendant chain: peeling k=2 removes the
    # chain node by node (one per round — the cascade)
    edges = _edges(spark, [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)])
    after1 = kcore_peel(edges, k=2, rounds=1)
    got1 = {r["node"]: r["deg"] for r in after1.collect()}
    assert got1 == {1: 2, 2: 2, 3: 3, 4: 1}  # 5 gone, 4 now pendant
    after2 = kcore_peel(edges, k=2, rounds=2)
    got2 = {r["node"]: r["deg"] for r in after2.collect()}
    assert got2 == {1: 2, 2: 2, 3: 2}  # converged to the triangle core
    after3 = kcore_peel(edges, k=2, rounds=3)
    assert {r["node"]: r["deg"] for r in after3.collect()} == got2


def test_kcore_peel_keeps_caller_cache_and_releases_its_own(
    spark, monkeypatch
):
    """kcore_peel never evicts a relation its caller cached, and a
    raise mid-loop releases every cache the call itself made.  The
    degree relations' local checkpoints are left out of the count:
    they are lineage cuts whose blocks Spark's ContextCleaner reclaims
    once the relation is garbage, not caches the operator owns."""
    from pyspark import StorageLevel

    from mahout_samsara_book_spark.operators.graph import kcore_peel

    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5)]
    edges = _edges(spark, pairs).cache()
    try:
        got = {
            r["node"]: r["deg"]
            for r in kcore_peel(edges, k=2, rounds=2).collect()
        }
        assert got == {1: 2, 2: 2, 3: 2}
        assert edges.is_cached
        assert edges.storageLevel != StorageLevel.NONE
    finally:
        edges.unpersist(blocking=True)

    def persistent_ids():
        return {
            rid
            for rid, rdd in spark.sparkContext._jsc.getPersistentRDDs().items()
            if not rdd.rdd().isLocallyCheckpointed()
        }

    before = persistent_ids()
    frame_cls = type(edges)
    real = frame_cls.localCheckpoint
    calls = []

    def failing_second_round(self, *args, **kwargs):
        # the first call checkpoints the initial degrees; the second
        # runs round 0's degree job — which materializes the edge and
        # marked caches — and then raises
        out = real(self, *args, **kwargs)
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("injected failure mid-loop")
        return out

    monkeypatch.setattr(frame_cls, "localCheckpoint", failing_second_round)
    with pytest.raises(RuntimeError, match="injected failure"):
        kcore_peel(_edges(spark, pairs), k=2, rounds=3)
    assert len(calls) == 2
    assert persistent_ids() <= before


def test_sliding_hll_tracks_exact(spark):
    from mahout_samsara_book_spark.streaming.events import (
        sliding_active_users,
        sliding_hll_users,
    )

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    exact = {
        r["window_start"]: r["n_users"]
        for r in sliding_active_users(ev).collect()
    }
    approx = {
        r["window_start"]: r["n_est"]
        for r in sliding_hll_users(ev).collect()
    }
    assert set(exact) == set(approx)  # identical window membership
    # HLL with b=6 (m=64): ~13% standard error — allow 3 sigma + slack
    for ws, n in exact.items():
        assert abs(approx[ws] - n) <= max(5, 0.5 * n)


def test_containment_catches_partial_copy(spark):
    from mahout_samsara_book_spark.operators.dedup import containment_dedup

    short = "alpha beta gamma delta epsilon"
    long = short + " zeta eta theta iota kappa " * 5
    docs = spark.createDataFrame(
        [(1, short), (2, long), (3, "unrelated words entirely different")],
        "doc_id long, text string",
    )
    out = {(r["doc_a"], r["doc_b"]): r for r in
           containment_dedup(docs, n=3, threshold=0.8).collect()}
    assert (1, 2) in out  # quote-expansion pair caught
    r = out[(1, 2)]
    assert r["cont_ab"] == pytest.approx(1.0)  # short fully inside long
    assert r["cont_ba"] < 0.5  # Jaccard would have missed this pair
    assert all(a != 3 and b != 3 for a, b in out)


def test_js_divergence_bounds(spark):
    import math

    from mahout_samsara_book_spark.functions.text_analysis import (
        js_divergence_by_group,
    )

    docs = spark.createDataFrame(
        [
            (0, "aa bb cc", "same1"),
            (1, "aa bb cc", "same2"),
            (2, "xx yy zz", "disjoint"),
        ],
        "doc_id long, text string, lang string",
    )
    out = {(r["grp_a"], r["grp_b"]): r["js"]
           for r in js_divergence_by_group(docs, "lang").collect()}
    assert out[("same1", "same2")] == pytest.approx(0.0, abs=1e-12)
    assert out[("disjoint", "same1")] == pytest.approx(math.log(2), rel=1e-12)
    assert out[("disjoint", "same2")] == pytest.approx(math.log(2), rel=1e-12)
