"""Dedup operator tests: exact survivors + approximate-method recall
against the exact n-gram Jaccard ground truth."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from another_map_reduce_spark.operators.dedup import (
    dedup_exact,
    incremental_minhash_pairs,
    lsh_band_index,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    word_ngrams,
)
from another_map_reduce_spark.operators.similarity import signlsh_bands
from another_map_reduce_spark.sources.tables import load_table


@pytest.fixture(scope="module")
def docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents")


def test_word_ngrams_basic(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("x y",), ("p p p p",)], "text string"
    )
    got = df.select(word_ngrams(F.col("text"), 3).alias("g")).collect()
    assert got[0].g == ["a b c", "b c d"]
    assert got[1].g == []  # fewer than n tokens
    assert got[2].g == ["p p p"]  # distinct collapses repeats


def test_dedup_exact_keeps_min_id(spark):
    df = spark.createDataFrame(
        [(1, "dup"), (2, "dup"), (3, "unique"), (5, "dup")],
        "doc_id long, text string",
    )
    out = dedup_exact(df, ["text"], "doc_id").orderBy("doc_id").collect()
    assert [(r.doc_id, r.dup_cnt) for r in out] == [(1, 3), (3, 1)]


def test_exact_jaccard_finds_planted_dups(spark, docs):
    pairs = ngram_jaccard_pairs(docs, threshold=0.8).collect()
    assert len(pairs) > 0  # the synthetic corpus plants near-dups
    assert all(0.8 <= r.jac <= 1.0 for r in pairs)
    assert all(r.d1 < r.d2 for r in pairs)


def test_containment_catches_excerpt_jaccard_misses(spark):
    """The asymmetric case containment exists for: a short excerpt of
    a long source has containment ≈ 1 but Jaccard ≈ excerpt/source —
    invisible to every symmetric detector at any usable threshold."""
    from another_map_reduce_spark.operators.dedup import containment_pairs

    filler = " ".join(f"w{i} x{i} y{i}" for i in range(300))
    excerpt = "the quick brown fox jumps over the lazy dog again and again"
    df = spark.createDataFrame(
        [
            (1, f"{filler} {excerpt}"),  # history: long source
            (3, " ".join(f"z{i} q{i}" for i in range(200))),  # unrelated
            (10, excerpt),  # delta: pure excerpt
        ],
        "doc_id long, text string",
    )
    hist = df.where("doc_id % 10 != 0")
    delta = df.where("doc_id % 10 = 0")
    got = containment_pairs(hist, delta, threshold=0.9).collect()
    assert [(r.new_doc, r.src_doc) for r in got] == [(10, 1)]
    assert got[0].containment == 1.0
    # the same pair is invisible to symmetric Jaccard
    jac = ngram_jaccard_pairs(df, threshold=0.5).collect()
    assert not any({r.d1, r.d2} == {1, 10} for r in jac)


def test_containment_max_df_caps_history_side(spark):
    """max_df drops hot history shingles BEFORE the join; capped
    output is a subset with containment never increased."""
    from another_map_reduce_spark.operators.dedup import containment_pairs

    excerpt = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, f"boiler plate text {excerpt}") for i in range(1, 6)] + [
        (10, excerpt)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    hist = df.where("doc_id % 10 != 0")
    delta = df.where("doc_id % 10 = 0")
    full = {
        (r.new_doc, r.src_doc): r.containment
        for r in containment_pairs(hist, delta, threshold=0.1).collect()
    }
    capped = {
        (r.new_doc, r.src_doc): r.containment
        for r in containment_pairs(
            hist, delta, threshold=0.1, max_df=2
        ).collect()
    }
    assert set(capped) <= set(full)
    for k, v in capped.items():
        assert v <= full[k] + 1e-12


def test_minhash_lsh_recall_vs_exact(spark, docs):
    """At jaccard ≥0.8 with the default k=128,b=32,r=4 the miss
    probability per pair is ≤(1-0.8^4)^32 ≈ 4.7e-8 — so expect
    (near-)full recall and NO false positives (the candidate set is
    verified with exact Jaccard)."""
    exact = {
        (r.d1, r.d2): r.jac
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    approx = {
        (r.d1, r.d2): r.jac for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    assert set(approx) <= set(exact)  # verification kills false positives
    recall = len(approx) / max(len(exact), 1)
    assert recall >= 0.9, f"recall {recall}: {set(exact) - set(approx)}"
    for pair, jac in approx.items():
        assert abs(jac - exact[pair]) < 1e-12


def test_simhash_pairs_sane(spark, docs):
    pairs = simhash_pairs(docs, max_hamming=3).collect()
    assert all(r.hamming <= 3 for r in pairs)
    assert all(r.d1 < r.d2 for r in pairs)
    # near-identical docs (jaccard ≥ 0.95) should mostly collide in simhash
    exact_high = {
        (r.d1, r.d2)
        for r in ngram_jaccard_pairs(docs, threshold=0.95).collect()
    }
    got = {(r.d1, r.d2) for r in pairs}
    if exact_high:
        overlap = len(exact_high & got) / len(exact_high)
        assert overlap >= 0.5, f"simhash caught only {overlap:.0%}"


def test_simhash_rejects_unsupported_radius(spark, docs):
    """4×16-bit pigeonhole blocking is exact only for hamming ≤ 3; a
    larger radius must fail loudly instead of silently dropping pairs."""
    with pytest.raises(ValueError, match="max_hamming"):
        simhash_pairs(docs, max_hamming=4)


@pytest.mark.parametrize(
    "build",
    [
        lambda df, vecs: lsh_band_index(df, k=128, bands=256),  # r = 0
        lambda df, vecs: minhash_lsh_pairs(df, k=100, bands=32),  # drops 4 slots
        lambda df, vecs: lsh_band_index(df, bands=0),
        lambda df, vecs: signlsh_bands(vecs, "vec_id", "embedding", 16, 0),
    ],
    ids=["bands_gt_k", "k_not_multiple", "zero_bands", "signlsh_zero_rows"],
)
def test_banding_rejects_unusable_shapes(spark, build):
    """A banding with empty band slices hashes every document to the
    same key (a silent all-pairs join) and an uneven one drops
    signature slots: both must raise while the plan is built, before
    any Spark job runs."""
    df = spark.createDataFrame([(1, "a b c d")], "doc_id long, text string")
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="rows per band"):
        build(df, vecs)


def test_max_df_cap_returns_subset(spark, docs):
    """Frequency-capped jaccard must not invent pairs."""
    full = {(r.d1, r.d2) for r in ngram_jaccard_pairs(docs, 0.8).collect()}
    capped = {
        (r.d1, r.d2)
        for r in ngram_jaccard_pairs(docs, 0.8, max_df=1000).collect()
    }
    assert capped <= full


def test_connected_components_shapes(spark):
    """Chain, triangle, and isolated pair resolve to min-id components;
    convergence needs diameter rounds and the label is partition-stable."""
    from another_map_reduce_spark.operators.graph import (
        cluster_stats,
        connected_components,
    )

    # components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21}
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (11, 12), (10, 12), (20, 21)],
        "src long, dst long",
    )
    got = {
        (r.node, r.component)
        for r in connected_components(edges).collect()
    }
    assert got == {
        (1, 1), (2, 1), (3, 1), (4, 1),
        (10, 10), (11, 10), (12, 10),
        (20, 20), (21, 20),
    }
    stats = {
        (r.component, r.n_docs, tuple(r.members))
        for r in cluster_stats(
            connected_components(edges.repartition(7))
        ).collect()
    }
    assert stats == {
        (1, 4, (1, 2, 3, 4)),
        (10, 3, (10, 11, 12)),
        (20, 2, (20, 21)),
    }


def test_connected_components_diameter_guard(spark, monkeypatch):
    """A long chain over the byte bound goes to the Kiveris
    large-star/small-star path, which contracts the chain in O(log n)
    rounds and returns the SAME labelling the local union-find
    produces."""
    from another_map_reduce_spark.operators import graph

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(12)], "src long, dst long"
    )
    full = graph.connected_components(chain)
    monkeypatch.setattr(graph, "_LOCAL_CC_BYTES", 0)
    via_fallback = graph.connected_components(chain)
    assert {r.component for r in via_fallback.collect()} == {0}
    assert via_fallback.count() == 13  # every node labelled, none dropped
    assert {r.component for r in full.collect()} == {0}


def test_kiveris_fallback_multi_component(spark, monkeypatch):
    """Kiveris over-bound path on a forest: two long chains + an
    isolated 2-node edge; labels must equal each component's min node
    id and match the local path's output exactly."""
    from another_map_reduce_spark.operators import graph

    edges = (
        [(i, i + 1) for i in range(10, 25)]      # chain: component 10
        + [(i, i + 1) for i in range(40, 52)]    # chain: component 40
        + [(100, 101)]                            # pair: component 100
    )
    df = spark.createDataFrame(edges, "src long, dst long")
    via_local = graph.connected_components(df).orderBy("node")
    monkeypatch.setattr(graph, "_LOCAL_CC_BYTES", 0)
    via_fallback = graph.connected_components(df).orderBy("node")
    assert [tuple(r) for r in via_fallback.collect()] == [
        tuple(r) for r in via_local.collect()
    ]
    comps = {r.component for r in via_fallback.collect()}
    assert comps == {10, 40, 100}


def test_connected_components_local_kiveris_parity(spark, monkeypatch):
    """The local union-find and the over-bound Kiveris path give the
    same hand-written labelling on chains, a star, a cycle, duplicate,
    reversed and self-loop edges; both drop edges with a null
    endpoint, so node 5 (reached only through one) is not labelled."""
    from another_map_reduce_spark.operators import graph

    edges = spark.createDataFrame(
        [
            (9, 8), (8, 7), (6, 7),              # reversed chain 6-7-8-9
            (30, 31), (30, 32), (30, 33),        # star on 30
            (21, 20), (22, 21), (20, 22),        # cycle 20-21-22
            (40, 41), (41, 40), (40, 41),        # duplicate + reversed
            (50, 50),                            # self-loop only
            (1, 2), (2, None), (None, 5),        # null endpoints
        ],
        "src long, dst long",
    )
    want = {
        6: 6, 7: 6, 8: 6, 9: 6,
        30: 30, 31: 30, 32: 30, 33: 30,
        20: 20, 21: 20, 22: 20,
        40: 40, 41: 40,
        50: 50,
        1: 1, 2: 1,
    }

    def labels():
        got = [tuple(r) for r in graph.connected_components(edges).collect()]
        assert len(got) == len(want)  # one row per node
        return dict(got)

    local = labels()
    monkeypatch.setattr(graph, "_LOCAL_CC_BYTES", 0)
    assert labels() == local == want


def test_kiveris_long_chain_log_rounds(spark):
    """A 256-node path — the adversarial diameter case — must contract
    in O(log n) large-star/small-star rounds, not O(diameter), and
    still produce the exact min-id labelling.  Bound: Kiveris et al.
    prove O(log² n) worst-case; on paths each round roughly halves the
    chain, so 2·log₂(n) + a stall-detect round is a generous ceiling
    (log₂ 256 = 8 → bound 17).  This test drives the fallback
    DIRECTLY (stats instrumentation), so a regression that slipped
    rounds back to O(n) fails fast instead of timing out."""
    import math

    from another_map_reduce_spark.operators.graph import (
        _kiveris_components,
    )

    n = 256
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    base = edges.select(
        F.col("src").alias("node"), F.col("dst").alias("nbr")
    )
    sym = base.union(
        base.select(F.col("nbr").alias("node"), F.col("node").alias("nbr"))
    )
    stats: dict = {}
    got = _kiveris_components(sym, stats=stats)
    assert {r.component for r in got.collect()} == {0}
    assert got.count() == n
    assert stats["rounds"] <= 2 * int(math.log2(n)) + 1, stats


def test_lev1_pairs_blocking_is_complete_and_tight(spark):
    """FastSS deletion-neighborhood contract on crafted words: every
    true distance-<=1 pair survives (substitution, insertion at the
    front, append at the end), distance-2 key-sharers ("ab"/"ba") are
    killed by the verify, and unrelated words never pair."""
    from another_map_reduce_spark.operators.dedup import lev1_pairs

    df = spark.createDataFrame(
        [("ab",), ("ba",), ("abc",), ("abd",), ("xabc",), ("abcd",), ("zzz",)],
        "w string",
    )
    got = sorted((r.w1, r.w2) for r in lev1_pairs(df).collect())
    assert got == [
        ("ab", "abc"),    # append
        ("ab", "abd"),    # append
        ("abc", "abcd"),  # append
        ("abc", "abd"),   # substitution
        ("abc", "xabc"),  # front insertion
        ("abcd", "abd"),  # interior deletion
    ]
    # brute-force parity on the same vocab (independent re-derivation)
    import itertools

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    words = sorted(r.w for r in df.collect())
    want = sorted(
        (a, b) for a, b in itertools.combinations(words, 2) if lev(a, b) <= 1
    )
    assert got == want


def test_lev1_pairs_matches_bruteforce_on_dense_random_vocab(spark):
    """Randomized (fixed-seed) completeness sweep: 200 distinct words
    over a 3-letter alphabet, lengths 1-5 — a vocabulary dense enough
    that every FastSS case (substitution, insertion, deletion,
    distance-2 key-sharers) occurs many times — must match a pure
    Python brute force exactly."""
    import itertools
    import random

    from another_map_reduce_spark.operators.dedup import lev1_pairs

    rng = random.Random(20260814)
    vocab = set()
    while len(vocab) < 200:
        vocab.add(
            "".join(rng.choice("abc") for _ in range(rng.randint(1, 5)))
        )
    words = sorted(vocab)
    df = spark.createDataFrame([(w,) for w in words], "w string")
    got = sorted((r.w1, r.w2) for r in lev1_pairs(df).collect())

    def lev(a, b):
        if len(a) < len(b):
            a, b = b, a
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[-1]

    want = sorted(
        (a, b) for a, b in itertools.combinations(words, 2) if lev(a, b) <= 1
    )
    assert got == want
    assert len(want) > 100  # the sweep actually exercised dense structure


def test_incremental_minhash_equals_batch_restriction(spark, sf_dir):
    """The incremental path (delta banded against the stored history
    index) must find exactly the batch operator's pairs restricted to
    the delta/history boundary — index reuse changes the cost, never
    the answer."""
    from pyspark.sql import functions as F

    from another_map_reduce_spark.operators.dedup import (
        incremental_minhash_pairs,
        lsh_band_index,
        minhash_lsh_pairs,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    idx = lsh_band_index(hist)
    inc = {
        (r.new_doc, r.dup_of, round(r.jac, 9))
        for r in incremental_minhash_pairs(hist, delta, idx).collect()
    }
    full = minhash_lsh_pairs(docs, threshold=0.8).collect()
    cross = {
        ((r.d1, r.d2) if r.d1 % 10 == 0 else (r.d2, r.d1)) + (round(r.jac, 9),)
        for r in full
        if (r.d1 % 10 == 0) != (r.d2 % 10 == 0)
    }
    assert inc == cross and inc, (len(inc), len(cross))


def _walk(node):
    """Pre-order nodes of a physical plan (AQE's initial plan when the
    query has not run)."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.initialPlan()
    yield node
    children = node.children()
    for i in range(children.size()):
        yield from _walk(children.apply(i))


def _plan_nodes(df):
    return list(_walk(df._jdf.queryExecution().executedPlan()))


def _output(node):
    out = node.output()
    return [
        (out.apply(i).name(), out.apply(i).dataType().typeName())
        for i in range(out.size())
    ]


def _child_cols(node, i):
    return [c for c, _ in _output(node.children().apply(i))]


def test_verify_join_strategies(spark):
    """Read from the plans without running them: the exact-Jaccard
    verify joins build their hash table from the candidate pairs, and
    the incremental probe broadcasts the delta's shingle sets only above
    the history join.

    The last check (no broadcast of the corpus shingle sets) holds for
    this tiny corpus only.  The hint binds the first verify join; the
    second (``d2``) is picked by size estimates and is left unpinned:
    here it is a sort-merge join, but on larger inputs under the
    broadcast threshold the planner broadcasts the corpus sets there.
    The check guards the pinned joins against regressions, not the
    unpinned one."""
    df = spark.createDataFrame(
        [(i, f"the quick brown fox {i % 3} jumps over the lazy dog")
         for i in range(8)],
        "doc_id long, text string",
    )
    hist = df.where(F.col("doc_id") % 2 == 1)
    delta = df.where(F.col("doc_id") % 2 == 0)
    batch = _plan_nodes(minhash_lsh_pairs(df))
    inc = _plan_nodes(
        incremental_minhash_pairs(hist, delta, lsh_band_index(hist))
    )

    def cand_build(nodes, cand_cols):
        return [
            n for n in nodes
            if n.nodeName() == "ShuffledHashJoin"
            and n.buildSide().toString() == "BuildLeft"
            and _child_cols(n, 0) == cand_cols
        ]

    assert cand_build(batch, ["d1", "d2"])
    delta_join = [
        n for n in inc
        if n.nodeName() == "BroadcastHashJoin"
        and n.buildSide().toString() == "BuildRight"
        and _child_cols(n, 1)[0] == "new_doc"
        and "array" in dict(_output(n.children().apply(1))).values()
    ]
    assert len(delta_join) == 1
    assert cand_build(_walk(delta_join[0].children().apply(0)),
                      ["new_doc", "dup_of"])
    for n in batch + inc:
        if n.nodeName() == "BroadcastExchange":
            cols = _output(n)
            assert cols[0][0] == "new_doc" or all(
                t != "array" for _, t in cols
            ), cols


def test_triangle_stats_known_graphs(spark):
    """triangle_stats on graphs with closed-form answers: the 4-clique
    (6 edges, 4 triangles, 12 wedges, clustering 1.0) and the 4-path
    (3 edges, 0 triangles, 2 wedges, clustering 0)."""
    from another_map_reduce_spark.operators.graph import triangle_stats

    clique = spark.createDataFrame(
        [(u, v) for u in range(4) for v in range(u + 1, 4)], "u int, v int"
    )
    r = triangle_stats(clique).collect()[0]
    assert (r.n_edges, r.n_triangles, r.n_wedges, r.clustering) == (6, 4, 12, 1.0)

    path = spark.createDataFrame([(0, 1), (1, 2), (2, 3)], "u int, v int")
    r = triangle_stats(path).collect()[0]
    assert (r.n_edges, r.n_triangles, r.n_wedges, r.clustering) == (3, 0, 2, 0.0)


def test_triangle_stats_random_graph_bruteforce(spark):
    """triangle_stats vs a pure-Python brute force on a seeded random
    graph — every closed-form-free quantity checked exactly."""
    import itertools
    import random

    from another_map_reduce_spark.operators.graph import triangle_stats

    rng = random.Random(20260814)
    nodes = range(14)
    edges = sorted(
        (u, v)
        for u, v in itertools.combinations(nodes, 2)
        if rng.random() < 0.35
    )
    adj = {n: set() for n in nodes}
    for u, v in edges:
        adj[u].add(v)
        adj[v].add(u)
    tris = sum(
        1
        for u, v, w in itertools.combinations(nodes, 3)
        if v in adj[u] and w in adj[u] and w in adj[v]
    )
    wedges = sum(len(a) * (len(a) - 1) // 2 for a in adj.values())

    df = spark.createDataFrame(edges, "u int, v int")
    r = triangle_stats(df).collect()[0]
    assert (r.n_edges, r.n_triangles, r.n_wedges) == (len(edges), tris, wedges)
    assert r.clustering == round(3.0 * tris / wedges, 6)


def test_lsh_append_equals_rebuild(spark, sf_dir, tmp_path):
    """Appending a batch to a stored band index (lsh_append_docs) must
    yield exactly the row set of a monolithic lsh_band_index over the
    union — band rows are a pure function of each doc's text."""
    from pyspark.sql import functions as F

    from another_map_reduce_spark.operators.dedup import (
        lsh_append_docs,
        lsh_band_index,
    )
    from another_map_reduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    base = docs.where(~(F.col("doc_id") % 10).isin(0, 5))
    day1 = docs.where(F.col("doc_id") % 10 == 5)
    path = str(tmp_path / "bands")
    lsh_band_index(base).write.mode("overwrite").parquet(path)
    lsh_append_docs(day1, path)
    appended = {
        (r.doc, r.band, r.sig) for r in spark.read.parquet(path).collect()
    }
    rebuilt = {
        (r.doc, r.band, r.sig)
        for r in lsh_band_index(docs.where(F.col("doc_id") % 10 != 0)).collect()
    }
    assert appended == rebuilt


def test_ingest_replay_feedback_blocks_day2_dup(spark, sf_dir):
    """The index-feedback property, pinned on the fixture's planted
    chain: day-1 doc 467 (sf0.001) passes the gate with no base dup →
    accepted → enters the index; day-2 doc 110's only corpus near-dup
    is 467, so it MUST be rejected with dup_of_min = 467.  If the
    day-1 append were skipped, 110 would be wrongly accepted."""
    from another_map_reduce_spark.queries import QUERIES

    rows = {
        (r.day, r.doc_id): r
        for r in QUERIES["pipeline_ingest_replay"](spark, sf_dir).collect()
    }
    d1 = rows[(1, 467)]
    assert d1.pass_gate and d1.accepted and d1.dup_of_min == -1
    d2 = rows[(2, 110)]
    assert d2.pass_gate and not d2.accepted and d2.dup_of_min == 467


def test_incremental_simhash_equals_batch_boundary(spark, sf_dir, tmp_path):
    """The stored-index incremental SimHash must equal the batch
    operator's pairs restricted to the delta×history boundary (same
    hashes, same pigeonhole capture)."""
    from pyspark.sql import functions as F

    from another_map_reduce_spark.operators.dedup import (
        incremental_simhash_pairs,
        simhash_chunks,
        simhash_frame,
        simhash_pairs,
    )
    from another_map_reduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    hist = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    path = str(tmp_path / "chunks")
    simhash_chunks(simhash_frame(hist)).write.parquet(path)
    inc = {
        (r.new_doc, r.dup_of, r.hamming)
        for r in incremental_simhash_pairs(
            delta, spark.read.parquet(path)
        ).collect()
    }
    batch = {
        (min(r.d1, r.d2), max(r.d1, r.d2), r.hamming)
        for r in simhash_pairs(docs).collect()
        if (r.d1 % 10 == 0) != (r.d2 % 10 == 0)
    }
    # normalize incremental pairs to (min, max) for comparison
    inc_norm = {(min(a, b), max(a, b), h) for a, b, h in inc}
    assert inc_norm == batch


def test_incremental_probes_ignore_self_on_replayed_batch(spark, sf_dir, tmp_path):
    """Crash-restart replay: a batch ALREADY in the stored index is
    re-probed — neither incremental path may report a doc as a dup of
    itself (hamming 0 / jaccard 1 self-pairs)."""
    from pyspark.sql import functions as F

    from another_map_reduce_spark.operators.dedup import (
        incremental_minhash_pairs,
        incremental_simhash_pairs,
        lsh_band_index,
        simhash_chunks,
        simhash_frame,
    )
    from another_map_reduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.where(F.col("doc_id") % 10 == 0)
    # index CONTAINS the batch (the post-append state)
    hist = docs  # full corpus, batch included
    sh_path = str(tmp_path / "sim")
    simhash_chunks(simhash_frame(hist)).write.parquet(sh_path)
    sim = incremental_simhash_pairs(batch, spark.read.parquet(sh_path)).collect()
    assert all(r.new_doc != r.dup_of for r in sim)
    mh_path = str(tmp_path / "mh")
    lsh_band_index(hist).write.parquet(mh_path)
    mh = incremental_minhash_pairs(
        hist, batch, spark.read.parquet(mh_path), threshold=0.8
    ).collect()
    assert all(r.new_doc != r.dup_of for r in mh)


def test_shingle_docs_keep_short(spark):
    """drop_short=False keeps < n-token docs with empty shingle sets
    (hybrid retrieval needs every doc rankable in the dense arm)."""
    from another_map_reduce_spark.operators.dedup import shingle_docs

    df = spark.createDataFrame(
        [(1, "only two"), (2, "three tokens right here")],
        "doc_id long, text string",
    )
    kept = {r.doc: r.shingles for r in shingle_docs(df, "text", "doc_id", 3, drop_short=False).collect()}
    assert set(kept) == {1, 2} and kept[1] == []
    dropped = {r.doc for r in shingle_docs(df, "text", "doc_id", 3).collect()}
    assert dropped == {2}


def test_prefix_filter_equals_allpairs_exact(spark, sf_dir):
    """Prefix filtering is EXACT: its pairs must equal the all-pairs
    ground-truth operator at the same threshold (the prefix theorem's
    completeness, asserted directly operator-to-operator)."""
    from another_map_reduce_spark.operators.dedup import (
        ngram_jaccard_pairs,
        prefix_filter_jaccard_pairs,
    )
    from another_map_reduce_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    pf = {
        (r.d1, r.d2, round(r.jac, 9))
        for r in prefix_filter_jaccard_pairs(docs, threshold=0.8).collect()
    }
    ap = {
        (r.d1, r.d2, round(r.jac, 9))
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    assert pf == ap and pf  # equal and non-vacuous


def test_lsh_compact_index_layout_only(spark, sf_dir, tmp_path):
    """After daily appends fragment the band index, lsh_compact_index
    must restore the target file count WITHOUT changing any row or
    any incremental-probe result (compaction is layout-only) — the
    dedup twin of the IVF compaction parity suite."""
    import glob

    from pyspark.sql import functions as F

    from another_map_reduce_spark.operators.dedup import (
        incremental_minhash_pairs,
        lsh_append_docs,
        lsh_band_index,
        lsh_compact_index,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.where(F.col("doc_id") % 10 > 2)
    day1 = docs.where(F.col("doc_id") % 10 == 1)
    day2 = docs.where(F.col("doc_id") % 10 == 2)
    path = str(tmp_path / "bandidx")
    lsh_band_index(base).write.mode("overwrite").parquet(path)
    lsh_append_docs(day1, path)
    lsh_append_docs(day2, path)

    from another_map_reduce_spark.operators.dedup import read_lsh_index
    from another_map_reduce_spark.storeops import resolve_table

    def n_files():
        # the live generation moves on compaction (pointer commit)
        return len(glob.glob(f"{resolve_table(path)}/*.parquet"))

    hist = docs.where(F.col("doc_id") % 10 != 0)
    delta = docs.where(F.col("doc_id") % 10 == 0)
    idx = read_lsh_index(spark, path)
    before_rows = idx.count()
    before = {
        (r.new_doc, r.dup_of, round(r.jac, 9))
        for r in incremental_minhash_pairs(hist, delta, idx).collect()
    }
    assert n_files() > 4  # fragmentation is real
    lsh_compact_index(spark, path, target_files=4)
    assert n_files() == 4
    idx2 = read_lsh_index(spark, path)
    assert idx2.count() == before_rows
    after = {
        (r.new_doc, r.dup_of, round(r.jac, 9))
        for r in incremental_minhash_pairs(hist, delta, idx2).collect()
    }
    assert after == before and before
