"""Tests for the training-data-pipeline operators (dedup, similarity, text)."""

from __future__ import annotations

import random

import numpy as np
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tsatool_app_spark.functions import (
    brute_force_topk,
    exact_dedup_groups,
    lang_id_heuristic,
    lsh_ann_topk,
    minhash_near_dup_pairs,
    ngram_jaccard_pairs,
    quantized_dot,
    simhash_signatures,
    text_stats,
    quality_score,
    doc_fingerprint,
)
from tsatool_app_spark.functions.dedup import DRIVER_COMPONENTS_LIMIT
from tsatool_app_spark.model import load_table


def docs_with_dups(spark):
    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into "
        "the deep dark forest where nobody ever goes at night"
    )
    near = base.replace("lazy dog", "lazy cat")  # small edit → near-dup
    other = (
        "completely different content about spark dataframes and shuffle "
        "partitioning strategies for large scale distributed analytics"
    )
    rows = [(1, base), (2, base), (3, near), (4, other)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_groups(spark):
    out = exact_dedup_groups(docs_with_dups(spark)).collect()
    by_copies = sorted((r.n_copies, r.keep_id) for r in out)
    assert by_copies == [(1, 3), (1, 4), (2, 1)]


def test_minhash_finds_near_dups(spark):
    pairs = minhash_near_dup_pairs(docs_with_dups(spark), num_hashes=64, bands=16)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always collides
    assert (1, 3) in got or (2, 3) in got  # near-dup should collide
    assert not any(4 in p for p in got)  # unrelated doc never pairs


def test_minhash_oversize_bucket_audit(spark):
    """The hot-bucket cap must not be a silent drop: when a near-identical
    cluster exceeds ``max_bucket_size``, the candidate join skips its
    O(d²) pairs AND ``minhash_oversize_buckets`` surfaces the dropped
    (band, bucket, size) rows so the caller can route the cluster through
    exact dedup instead."""
    from tsatool_app_spark.functions.dedup import minhash_oversize_buckets

    base = (
        "identical mega cluster document repeated many times to overflow "
        "a single locality sensitive hashing bucket in every band"
    )
    cluster = spark.createDataFrame(
        [(i, base) for i in range(40)], "doc_id long, text string"
    )
    # Below the cap: no oversize rows, full O(d²) candidate set.
    assert minhash_oversize_buckets(cluster, max_bucket_size=64).count() == 0
    uncapped = minhash_near_dup_pairs(cluster, max_bucket_size=64)
    assert uncapped.count() == 40 * 39 // 2
    # Above the cap: every band's bucket is oversize (identical docs share
    # all signatures), the audit reports each, and no pairs leak through.
    audit = minhash_oversize_buckets(cluster, max_bucket_size=16).collect()
    assert len(audit) == 8  # default bands=8, one hot bucket per band
    assert all(r.size == 40 for r in audit)
    assert minhash_near_dup_pairs(cluster, max_bucket_size=16).count() == 0


def test_dedup_first_pipeline_matches_raw(spark):
    """near_dup_pairs_dedup_first must emit EXACTLY the raw-corpus
    LSH+verify pipeline's pairs — on a corpus with clone groups (the case
    it exists to accelerate), near-dups, and singletons.  Jaccard values
    must agree too: within-group pairs are 1.0 by identical shingle sets,
    cross-group pairs inherit the representative pair's exact value."""
    from tsatool_app_spark.functions.dedup import (
        near_dup_pairs_dedup_first,
        ngram_jaccard_pairs,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into "
        "the deep dark forest where nobody ever goes at night"
    )
    near = base.replace("lazy dog", "lazy cat")
    other = (
        "completely different content about spark dataframes and shuffle "
        "partitioning strategies for large scale distributed analytics"
    )
    rows = (
        [(i, base) for i in range(1, 6)]          # 5-clone group
        + [(10 + i, near) for i in range(3)]      # 3-clone near-dup group
        + [(100, other), (101, other + " extra")] # singleton-ish tail
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    raw_cands = minhash_near_dup_pairs(docs, num_hashes=64, bands=16).select(
        "id_a", "id_b"
    )
    raw = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, raw_cands)
        .where("jaccard >= 0.85")
        .collect()
    }
    fast = {
        (r.id_a, r.id_b): r.jaccard
        for r in near_dup_pairs_dedup_first(
            docs, min_jaccard=0.85, num_hashes=64, bands=16
        ).collect()
    }
    assert fast == raw
    # sanity: the clone groups are actually in there
    assert (1, 2) in fast and fast[(1, 2)] == 1.0
    assert (10, 11) in fast and fast[(10, 11)] == 1.0
    assert all(j >= 0.85 for j in fast.values())


def test_simhash_dedup_first_matches_raw(spark):
    """simhash_pairs_dedup_first must emit EXACTLY the raw-corpus
    sign-then-probe pipeline's (id_a, id_b, hamming) rows — clone groups
    pair at hamming 0 (identical text ⇒ identical signature) and
    cross-group pairs inherit the representative pair's distance."""
    from tsatool_app_spark.functions.dedup import (
        simhash_near_dup_pairs,
        simhash_pairs_dedup_first,
        simhash_signatures,
    )

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away into "
        "the deep dark forest where nobody ever goes at night"
    )
    near = base.replace("lazy dog", "lazy cat")
    other = (
        "completely different content about spark dataframes and shuffle "
        "partitioning strategies for large scale distributed analytics"
    )
    rows = (
        [(i, base) for i in range(1, 6)]
        + [(10 + i, near) for i in range(3)]
        + [(100, other), (101, other + " extra")]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = simhash_signatures(docs, bits=56, shingle_k=3)
    raw = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(
            sigs, bits=56, max_hamming=3, n_blocks=6
        ).collect()
    }
    fast = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_pairs_dedup_first(
            docs, bits=56, shingle_k=3, max_hamming=3, n_blocks=6
        ).collect()
    }
    assert fast == raw
    assert (1, 2) in fast and fast[(1, 2)] == 0
    assert all(h <= 3 for h in fast.values())


def test_shingles_match_substring_reference(spark):
    """shingles() gives, in order, the k-character substrings a Python
    slice gives, and the values of the transform/substring lambda form it
    replaced: texts shorter than k are one shingle, NULL is [NULL], and
    newlines, combining marks and surrogate pairs are one character each."""
    from tsatool_app_spark.functions.dedup import shingles

    texts = [
        None, "", "a", "abcd", "abcde", "abcdef", "a\nb\r\ncd\n\nef",
        "😀😀ab😀cd😀", "x😀", "😀😀😀😀😀", "éé́ab", "\n" * 6,
    ]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    t = F.col("text")
    for k in (1, 3, 5):
        lam = F.transform(
            F.sequence(F.lit(1), F.greatest(F.length(t) - (k - 1), F.lit(1))),
            lambda i: F.substring(t, i, k),
        )
        for r in df.select("text", shingles(t, k).alias("s"), lam.alias("l")).collect():
            if r.text is None:
                ref = [None]
            elif len(r.text) < k:
                ref = [r.text]
            else:
                ref = [r.text[i:i + k] for i in range(len(r.text) - k + 1)]
            assert r.s == r.l == ref, (k, r.text)


def test_ngram_jaccard(spark):
    docs = docs_with_dups(spark)
    cands = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long"
    )
    j = {(r.id_a, r.id_b): r.jaccard for r in ngram_jaccard_pairs(docs, cands).collect()}
    assert j[(1, 2)] == 1.0
    assert 0.5 < j[(1, 3)] < 1.0
    assert j[(1, 4)] < 0.1


def test_pair_overlap_fixed_values(spark):
    """Fixed-case values of the row-wise pair verify on a clone-heavy
    corpus with duplicate/reversed/self/zero-overlap candidate pairs and
    an id absent from the corpus (it drops).  The randomized set-reference
    check is tests/test_properties.py::test_pair_overlap_matches_set_reference."""
    from tsatool_app_spark.functions.dedup import ngram_containment_pairs

    base = (
        "the quick brown fox jumps over the lazy dog and runs far away "
        "into the deep dark forest where nobody ever goes at night"
    )
    other = "unrelated corpus text about columnar shuffles and partitions"
    rows = (
        [(i, base) for i in (1, 2, 3)]
        + [(10, base.replace("dog", "cat")), (11, base.replace("dog", "cat"))]
        + [(100, other)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    cands = spark.createDataFrame(
        # clone-clone, clone-near, reversed order, self-pair, zero overlap,
        # and a doc_id absent from the corpus
        [(1, 2), (2, 3), (1, 10), (11, 3), (3, 3), (1, 100), (1, 999)],
        "id_a long, id_b long",
    )
    j = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(docs, cands).collect()
    }
    assert j[(1, 2)] == 1.0 and j[(2, 3)] == 1.0 and j[(3, 3)] == 1.0
    assert 0.5 < j[(1, 10)] < 1.0 and j[(1, 10)] == j[(11, 3)]
    assert j[(1, 100)] < 0.1 and (1, 999) not in j
    c = {
        (r.id_a, r.id_b): r
        for r in ngram_containment_pairs(docs, cands).collect()
    }
    assert set(c) == set(j)
    assert c[(1, 2)].containment == 1.0
    assert c[(1, 10)].n_inter == c[(11, 3)].n_inter < c[(1, 10)].n_smaller


def test_simhash_hamming(spark):
    sig = simhash_signatures(docs_with_dups(spark))
    s = {r.doc_id: r.simhash for r in sig.collect()}
    assert s[1] == s[2]
    d_near, d_far = (bin(s[1] ^ s[j]).count("1") for j in (3, 4))
    assert d_near < d_far


def test_simhash_combination_probe_complete(spark):
    """Combination block probing must be COMPLETE vs brute force: every
    pair within max_hamming appears (pigeonhole over 3-of-6 block
    combos), and nothing beyond max_hamming leaks through the verify."""
    from tsatool_app_spark.functions.dedup import simhash_near_dup_pairs

    # Signatures engineered around a base value: flip 0..6 specific bits.
    base = 0x00A5_5A3C_C3F0_0F5A & ((1 << 56) - 1)
    def flip(v, *bs):
        for b in bs:
            v ^= 1 << b
        return v
    rows = [
        (1, base),
        (2, flip(base, 3)),            # hamming 1 from base
        (3, flip(base, 3, 17, 44)),    # hamming 3 from base
        (4, flip(base, 0, 9, 19, 29)), # hamming 4 — must NOT pair with base
        (5, base),                     # exact dup
    ]
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    got = {
        (r.id_a, r.id_b): r.hamming
        for r in simhash_near_dup_pairs(
            sigs, bits=56, max_hamming=3, n_blocks=6
        ).collect()
    }
    # brute-force expectation
    import itertools
    vals = dict(rows)
    want = {
        (a, b): bin(vals[a] ^ vals[b]).count("1")
        for a, b in itertools.combinations(sorted(vals), 2)
        if bin(vals[a] ^ vals[b]).count("1") <= 3
    }
    assert got == want
    assert (1, 4) not in got


def test_simhash_bucket_cap_and_audit(spark):
    """A mega-cluster of identical signatures must hit the bucket cap in
    every probe table, be excluded from the candidate join, and be
    surfaced by simhash_bucket_audit — never silently exploded to O(d²)."""
    from tsatool_app_spark.functions.dedup import (
        simhash_bucket_audit,
        simhash_near_dup_pairs,
    )

    sig = 0x0055_AA33_CC0F_F0AA & ((1 << 56) - 1)
    rows = [(i, sig) for i in range(100)] + [(1000, sig ^ 0b101), (1001, 0)]
    sigs = spark.createDataFrame(rows, "doc_id long, simhash long")
    # Cap above cluster size: audit empty, full pair set (100 identical +
    # one hamming-2 neighbor of all of them).
    assert simhash_bucket_audit(sigs, max_bucket_size=128).count() == 0
    full = simhash_near_dup_pairs(sigs, max_bucket_size=128)
    assert full.count() == 100 * 99 // 2 + 100
    # Cap below cluster size: audit reports one oversize bucket per combo
    # table (C(6,3)=20), and the mega-cluster's pairs are dropped.
    audit = simhash_bucket_audit(sigs, max_bucket_size=64).collect()
    assert len(audit) == 20
    assert all(r.size >= 100 for r in audit)
    capped = simhash_near_dup_pairs(sigs, max_bucket_size=64)
    assert capped.count() == 0


def test_text_stats_and_quality(spark):
    docs = docs_with_dups(spark)
    st = {r.doc_id: r for r in text_stats(docs).collect()}
    assert st[1].n_tokens_ws == len(docs_with_dups(spark).collect()[0].text.split())
    q = {r.doc_id: r.quality for r in quality_score(docs).collect()}
    assert all(0.0 <= v <= 1.0 for v in q.values())
    fp = {r.doc_id: r.fingerprint for r in doc_fingerprint(docs).collect()}
    assert fp[1] == fp[2] and fp[1] != fp[3]


def test_lang_id_heuristic(spark, sf_dir):
    # Note: the testdata `lang` column is a random label over English-ish
    # word salad (not recoverable from text), so accuracy is asserted on
    # hand-crafted snippets; the testdata run only checks it executes.
    samples = [
        (1, "the cat is on the mat and the dog is in the house", "en"),
        (2, "der Hund ist im Haus und die Katze ist auf der Matte", "de"),
        (3, "le chat est sur le tapis et la maison est grande", "fr"),
        (4, "el perro es grande y el gato es pequeño y que bonito", "es"),
        (5, "这是一个中文句子用来测试语言识别的功能看看效果如何", "zh"),
        (6, "xyzzy plugh qwerty", "und"),
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t, _ in samples], "doc_id long, text string"
    )
    pred = {r.doc_id: r.lang_pred for r in lang_id_heuristic(df).collect()}
    for i, _, want in samples:
        assert pred[i] == want, (i, pred[i], want)
    docs = load_table(spark, sf_dir, "documents")
    assert lang_id_heuristic(docs).count() == docs.count()


def test_brute_force_topk_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    rows = emb.collect()
    vecs = {r.vec_id: np.array(r.embedding, dtype=float) for r in rows}
    qid = min(vecs)
    q = vecs[qid]

    def cos(a, b):
        return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

    expected = sorted(vecs, key=lambda i: (-cos(vecs[i], q), i))[:5]
    got = [r.vec_id for r in brute_force_topk(emb, list(q), k=5).collect()]
    assert got == expected


def test_lsh_ann_recall(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    q = list(emb.orderBy("vec_id").first().embedding)
    exact = {r.vec_id for r in brute_force_topk(emb, q, k=10).collect()}
    approx = {r.vec_id for r in lsh_ann_topk(emb, q, k=10, n_planes=16, band_bits=4).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.3, f"LSH ANN recall too low: {recall}"


def test_quantized_dot_exactness(spark):
    df = spark.createDataFrame(
        [([1.5, -2.25, 3.0], [2.0, 1.0, -1.5])], "a array<float>, b array<float>"
    )
    out = df.select(quantized_dot(F.col("a"), F.col("b")).alias("d")).collect()[0].d
    # floor(1.5k)*floor(2k) + floor(-2.25k)*floor(1k) + floor(3k)*floor(-1.5k)
    assert out == 1500 * 2000 + (-2250) * 1000 + 3000 * (-1500)


def test_ivf_ann_recall(spark, sf_dir):
    from tsatool_app_spark.functions.similarity import build_ivf_index, ivf_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    indexed, centroids = build_ivf_index(emb, n_clusters=8)
    indexed = indexed.cache()
    q = list(emb.orderBy("vec_id").first().embedding)
    exact = {r.vec_id for r in brute_force_topk(emb, q, k=10).collect()}
    # probing half the clusters should recover most true neighbours
    approx = {r.vec_id for r in ivf_ann_topk(indexed, centroids, q, k=10, nprobe=4).collect()}
    recall = len(exact & approx) / 10
    assert recall >= 0.5, f"IVF recall too low: {recall}"
    # full probe == brute force exactly
    full = [r.vec_id for r in ivf_ann_topk(indexed, centroids, q, k=10, nprobe=8).collect()]
    assert set(full) == exact


def test_connected_components_cliques_and_chain(spark):
    from tsatool_app_spark.functions.dedup import (
        _connected_components_stats,
        connected_components,
    )

    # two cliques {1,2,3}, {10,11}, a 64-node path 100..163 with ascending
    # ids, and a 96-node path on shuffled ids 1000..1999 — the adversarial
    # case for the loop: a node-level step alone moves the minimum one hop
    # per round there, so only root hooking converges within max_iter
    shuffled = random.Random(0).sample(range(1000, 2000), 96)
    edges = (
        [(1, 2), (2, 3), (1, 3), (10, 11)]
        + [(100 + i, 101 + i) for i in range(63)]
        + list(zip(shuffled, shuffled[1:]))
    )
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    distributed, _ = _connected_components_stats(e, driver_limit=0)
    for labels in (connected_components(e), distributed):
        cc = {r.node: r.component for r in labels.collect()}
        assert cc[1] == cc[2] == cc[3] == 1
        assert cc[10] == cc[11] == 10
        assert all(cc[100 + i] == 100 for i in range(64))
        assert all(cc[x] == min(shuffled) for x in shuffled)


def test_connected_components_stats_loser_count(spark):
    """r13: the components loop reports the loser count off its own
    convergence aggregate (one action per round); the count must equal
    |{node: component != node}| exactly, and the empty edge set must
    terminate immediately with 0."""
    from tsatool_app_spark.functions.dedup import _connected_components_stats

    edges = [(1, 2), (2, 3), (1, 3), (10, 11)] + [
        (100 + i, 101 + i) for i in range(15)
    ]
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    empty = spark.createDataFrame([], "id_a long, id_b long")
    for driver_limit in (DRIVER_COMPONENTS_LIMIT, 0):  # driver, distributed
        labels, n_losers = _connected_components_stats(e, driver_limit=driver_limit)
        rows = labels.collect()
        assert n_losers == sum(1 for r in rows if r.node != r.component)
        assert n_losers == 2 + 1 + 15  # cliques {1,2,3},{10,11} + 16-node path
        labels0, n0 = _connected_components_stats(empty, driver_limit=driver_limit)
        assert n0 == 0 and labels0.count() == 0


def _reference_components(edges):
    """node -> min node of its component, by breadth-first search."""
    adj = {}
    for u, v in edges:
        adj.setdefault(u, set()).add(v)
        adj.setdefault(v, set()).add(u)
    label = {}
    for start in sorted(adj):
        if start in label:
            continue
        seen, todo = {start}, [start]
        while todo:
            for w in adj[todo.pop()] - seen:
                seen.add(w)
                todo.append(w)
        for x in seen:
            label[x] = start  # sorted starts: the first one seen is the min
    return label


@st.composite
def _pair_graphs(draw):
    """Disjoint cliques, chains of at least 64 nodes and stars on shuffled
    ids, plus duplicate and reversed copies of some edges."""
    n_parts = draw(st.integers(1, 4))
    ids = draw(st.permutations(range(1, 400)))
    edges, nxt = [], 0
    for kind in draw(st.lists(st.sampled_from(["clique", "chain", "star"]),
                              min_size=n_parts, max_size=n_parts)):
        size = draw(st.integers(64, 90) if kind == "chain" else st.integers(2, 8))
        nodes = ids[nxt:nxt + size]
        nxt += size
        if kind == "clique":
            edges += [(a, b) for i, a in enumerate(nodes) for b in nodes[i + 1:]]
        elif kind == "chain":
            edges += list(zip(nodes, nodes[1:]))
        else:
            edges += [(nodes[0], b) for b in nodes[1:]]
    extra = draw(st.lists(st.sampled_from(edges), max_size=10))
    edges += extra + [(b, a) for a, b in draw(st.lists(st.sampled_from(edges), max_size=10))]
    return draw(st.permutations(edges))


@settings(max_examples=2, deadline=None, suppress_health_check=list(HealthCheck))
@given(edges=_pair_graphs())
def test_connected_components_property(spark, edges):
    """Both components paths — the driver union-find and the distributed
    pointer-jumping loop, forced with bound 0 — label every node with the
    min id of its component, and count the losers exactly."""
    from tsatool_app_spark.functions.dedup import _connected_components_stats

    want = _reference_components(edges)
    e = spark.createDataFrame(edges, "id_a long, id_b long")
    for driver_limit in (DRIVER_COMPONENTS_LIMIT, 0):
        labels, n_losers = _connected_components_stats(e, driver_limit=driver_limit)
        got = {r.node: r.component for r in labels.collect()}
        assert got == want
        assert n_losers == sum(1 for x, c in want.items() if x != c)


def test_anti_join_ids_n_ids_matches_counted(spark):
    """r13: a caller-supplied n_ids must produce the same rows as the
    counted gate on both sides of the broadcast bound."""
    from tsatool_app_spark.functions.dedup import anti_join_ids

    df = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    ids = spark.createDataFrame([(i,) for i in range(0, 20, 2)], "doc_id long")
    expect = sorted(
        r.doc_id for r in anti_join_ids(df, ids, "doc_id").collect()
    )
    for n_ids in (10, 10**9):  # under / over any plausible broadcast bound
        got = sorted(
            r.doc_id
            for r in anti_join_ids(df, ids, "doc_id", n_ids=n_ids).collect()
        )
        assert got == expect


def test_near_dedup_loser_ids_matches_expanded(spark):
    """near_dedup_loser_ids must drop EXACTLY the ids the expanded-pair
    composition drops, on a corpus with exact-clone groups (smaller than
    max_bucket_size, so they need no exact dedup first), cross-group
    near-dups (chained), and singletons; and report their count."""
    from tsatool_app_spark.functions.dedup import (
        connected_components,
        near_dedup_loser_ids,
        near_dup_pairs_dedup_first,
    )

    base = "the quick brown fox jumps over the lazy dog again and again "
    rows = []
    # group A: 4 exact clones of base*6; group B: near-dup of A (one word
    # changed) with 3 clones; group C: unrelated; plus singletons
    ta = base * 6
    tb = (base * 5) + base.replace("quick", "swift")
    tc = "completely different content about spark optimization rounds " * 6
    for i, t in [(1, ta), (2, ta), (3, ta), (4, ta)]:
        rows.append((i, t))
    for i in (10, 11, 12):
        rows.append((i, tb))
    for i in (20, 21):
        rows.append((i, tc))
    rows += [(30, "solo document one " * 20), (31, "solo document two " * 20)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = near_dup_pairs_dedup_first(docs, min_jaccard=0.85).select(
        "id_a", "id_b"
    )
    cc = connected_components(pairs)
    expected = sorted(
        r.node for r in cc.where("node != component").collect()
    )
    losers, n_losers = near_dedup_loser_ids(docs, min_jaccard=0.85)
    got = sorted(r.doc_id for r in losers.collect())
    assert got == expected
    assert n_losers == len(got)
    assert len(got) >= 5  # the fixture must actually exercise clusters


def test_near_dedup_survivors(spark):
    from tsatool_app_spark.functions.dedup import near_dedup_survivors

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(1, 7)], "doc_id long, text string"
    )
    # cluster {1,2,3} via pairs (1,2),(2,3); cluster {5,6}
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (5, 6)], "id_a long, id_b long"
    )
    kept = sorted(r.doc_id for r in near_dedup_survivors(docs, pairs).collect())
    assert kept == [1, 4, 5]


def test_leakage_safe_split_cluster_invariant(spark):
    """Every member of a near-dup cluster lands in the SAME split, and
    singleton docs split by their own id."""
    from tsatool_app_spark.functions.sampling import hash_bucket, leakage_safe_split
    import pyspark.sql.functions as F

    docs = spark.createDataFrame(
        [(i, f"doc {i}") for i in range(100)], "doc_id long, text string"
    )
    # clusters: {1,2,3} -> 1, {10,11} -> 10
    comps = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (10, 10), (11, 10)], "node long, component long"
    )
    out = {r.doc_id: (r.cluster, r.split)
           for r in leakage_safe_split(docs, comps).collect()}
    assert len(out) == 100
    assert out[1] == out[2] == out[3]
    assert out[10] == out[11]
    assert out[5][0] == 5  # singleton keys on own id
    # split fractions: md5-bucket < 80 / < 90 / rest
    b = {r.doc_id: r.b for r in docs.select(
        "doc_id", hash_bucket(F.col("doc_id")).alias("b")).collect()}
    for d in (4, 5, 6, 50):
        want = "train" if b[d] < 80 else ("val" if b[d] < 90 else "test")
        assert out[d][1] == want


def test_gram_matrix_matches_numpy(spark):
    """gram_matrix == quantized numpy X.T@X."""
    import numpy as np

    from tsatool_app_spark.functions.linalg import gram_matrix

    rng = np.random.default_rng(7)
    x = rng.standard_normal((40, 6))
    df = spark.createDataFrame(
        [(i, [float(v) for v in row]) for i, row in enumerate(x)],
        "vec_id long, embedding array<float>",
    ).repartition(4)

    rows = gram_matrix(df, scale=1000).collect()
    q = np.floor(x.astype(np.float32).astype(np.float64) * 1000).astype(np.int64)
    expect = q.T @ q
    got = {(r["i"], r["j"]): r["g"] for r in rows}
    iu, ju = np.triu_indices(6)
    for i, j in zip(iu, ju):
        assert got[(int(i), int(j))] == int(expect[i, j])


def test_power_sums_and_moments_match_numpy(spark):
    import numpy as np

    from tsatool_app_spark.functions.stats import moments_from_sums, power_sums

    rng = np.random.default_rng(11)
    vals = rng.integers(1, 60, size=500)
    groups = rng.integers(0, 3, size=500)
    df = spark.createDataFrame(
        [(int(g), int(v)) for g, v in zip(groups, vals)], "g int, x long"
    ).repartition(5)
    rows = {r["g"]: r for r in power_sums(df, "x", ["g"]).collect()}
    for g in range(3):
        xs = vals[groups == g].astype(np.float64)
        r = rows[g]
        assert r["n"] == len(xs)
        for k in range(1, 5):
            assert r[f"s{k}"] == int((vals[groups == g].astype(object) ** k).sum())
        mean, var, skew, kurt = moments_from_sums(
            r["n"], r["s1"], r["s2"], r["s3"], r["s4"]
        )
        np.testing.assert_allclose(mean, xs.mean(), rtol=1e-12)
        np.testing.assert_allclose(var, xs.var(), rtol=1e-9)
        m = xs - xs.mean()
        np.testing.assert_allclose(skew, (m**3).mean() / xs.var() ** 1.5, rtol=1e-9)
        np.testing.assert_allclose(
            kurt, (m**4).mean() / xs.var() ** 2 - 3.0, rtol=1e-9
        )


def test_kfold_assign_cluster_integrity_and_coverage(spark):
    """Docs sharing a component share a fold; folds cover 0..k-1; every
    doc assigned exactly once."""
    from pyspark.sql import functions as F

    from tsatool_app_spark.functions.sampling import kfold_assign

    docs = spark.range(0, 1000).select(F.col("id").alias("doc_id"))
    comps = spark.range(0, 1000, 2).select(
        F.col("id").alias("node"), (F.col("id") - F.col("id") % 100).alias("component")
    )
    out = kfold_assign(docs, comps, k=4).collect()
    assert len(out) == 1000 and {r["fold"] for r in out} == {0, 1, 2, 3}
    by_comp = {}
    for r in out:
        if r["doc_id"] % 2 == 0:
            by_comp.setdefault(r["doc_id"] - r["doc_id"] % 100, set()).add(r["fold"])
    assert all(len(folds) == 1 for folds in by_comp.values())


def test_class_balance_entropy_matches_numpy(spark):
    import math

    from tsatool_app_spark.functions.profile import class_balance

    df = spark.createDataFrame(
        [("a",)] * 50 + [("b",)] * 30 + [("c",)] * 20, "label string"
    )
    rows = class_balance(df, "label").collect()
    total_entropy = sum(r["entropy_term"] for r in rows)
    expect = -sum(p * math.log2(p) for p in (0.5, 0.3, 0.2))
    assert abs(total_entropy - expect) < 1e-12
    assert abs(sum(r["gini_term"] for r in rows) - (1 - (0.25 + 0.09 + 0.04))) < 1e-12


def test_class_balance_fractional_weights(spark):
    """Fractional weights must be SUMMED before the long cast — casting
    each weight first truncated 0.9 → 0 and zeroed whole classes."""
    from tsatool_app_spark.functions.profile import class_balance

    df = spark.createDataFrame(
        [("a", 0.9)] * 10 + [("b", 1.5)] * 10, "label string, w double"
    )
    rows = {r["label"]: r for r in class_balance(df, "label", weight_col="w").collect()}
    assert rows["a"]["n"] == 9  # 10 × 0.9, not 10 × long(0.9) == 0
    assert rows["b"]["n"] == 15
    assert abs(rows["a"]["share"] - 9 / 24) < 1e-12


def test_strip_markup(spark):
    from tsatool_app_spark.functions.text import strip_markup

    df = spark.createDataFrame(
        [(1, '<div id="a">Hello <b>world</b></div>&nbsp;&amp; more &lt;ok&gt;')],
        "doc_id long, text string",
    )
    out = strip_markup(df).collect()[0]["text"]
    assert out == 'Hello world & more <ok>'


def test_token_budget_mixture(spark):
    """Sources with budget >= supply keep everything (rate capped at 1);
    undersupplied sources sample down so kept tokens land near the budget;
    unbudgeted sources are dropped; membership is deterministic."""
    from tsatool_app_spark.functions.sampling import token_budget_mixture

    rows = [
        (i, "a" * 100, "web" if i < 2000 else ("books" if i < 2200 else "other"))
        for i in range(2400)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    docs = docs.withColumn("n_chars", F.length("text"))
    out = token_budget_mixture(
        docs, {"web": 50_000, "books": 1_000_000}
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert "other" not in by_src  # unbudgeted -> dropped
    assert len(by_src["books"]) == 200  # budget > supply -> keep all
    assert all(r["rate_q"] == 10_000 for r in by_src["books"])
    # web: 200k tokens available, 50k budget -> rate 2500/10000; the md5
    # bucket test keeps ~25% of docs (binomial, wide tolerance)
    n_web = len(by_src["web"])
    assert 350 <= n_web <= 650, n_web
    assert all(r["rate_q"] == 2500 for r in by_src["web"])
    # deterministic: second run selects the identical ids
    again = {
        r["doc_id"]
        for r in token_budget_mixture(docs, {"web": 50_000, "books": 1_000_000}).collect()
    }
    assert again == {r["doc_id"] for r in out}


def test_token_budget_mixture_zero_or_null_supply(spark):
    """A budgeted source whose token supply sums to NULL (all-null
    token_col) or 0 must keep ALL its rows — not silently vanish via a
    NULL rate_q poisoning the hash filter; an explicit 0 budget still
    drops the source entirely."""
    from tsatool_app_spark.functions.sampling import token_budget_mixture

    rows = (
        [(i, "nulls", None) for i in range(40)]
        + [(100 + i, "zeros", 0) for i in range(40)]
        + [(200 + i, "real", 50) for i in range(40)]
    )
    docs = spark.createDataFrame(rows, "doc_id long, source string, n_chars int")
    out = token_budget_mixture(
        docs, {"nulls": 1_000, "zeros": 1_000, "real": 0}
    ).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert len(by_src.get("nulls", [])) == 40  # NULL supply -> keep all
    assert len(by_src.get("zeros", [])) == 40  # zero supply -> keep all
    assert all(r["rate_q"] == 10_000 for r in out)
    assert "real" not in by_src  # explicit 0 budget -> drop all


def test_simhash_default_widths_agree(spark):
    """Pairing simhash_signatures with simhash_near_dup_pairs AT DEFAULTS
    must behave identically to the explicit bits=56 configuration — the r4
    advisory found signatures defaulting narrower than the pairer claimed,
    zeroing the high probe blocks."""
    import inspect

    from tsatool_app_spark.functions.dedup import (
        simhash_near_dup_pairs,
        simhash_signatures,
    )

    sig_bits = inspect.signature(simhash_signatures).parameters["bits"].default
    pair_bits = inspect.signature(simhash_near_dup_pairs).parameters["bits"].default
    assert sig_bits == pair_bits
    sigs = simhash_signatures(docs_with_dups(spark))
    default_pairs = {
        (r.id_a, r.id_b) for r in simhash_near_dup_pairs(sigs).collect()
    }
    explicit_pairs = {
        (r.id_a, r.id_b)
        for r in simhash_near_dup_pairs(sigs, bits=56, max_hamming=3, n_blocks=6).collect()
    }
    assert default_pairs == explicit_pairs
    assert (1, 2) in default_pairs  # the planted exact dup survives


def test_span_fingerprints_offset_independent(spark):
    """Content-defined selection: the same 200-char span embedded at
    DIFFERENT offsets in two documents selects identical fingerprints,
    and a python md5 re-computation agrees exactly (the cross-engine
    portability the DuckDB oracle relies on)."""
    import hashlib

    from tsatool_app_spark.functions.spans import (
        duplicated_span_pairs,
        span_fingerprints,
    )

    span = " ".join(f"tok{i:03d}" for i in range(32))  # 223 chars, no repeats
    d1 = "aaa bbb ccc " + span + " tail one"
    d2 = "completely different very long prefix text here " + span
    d3 = "nothing in common with the others at all whatsoever here"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], "doc_id long, text string"
    )
    fps = {
        (r.doc_id, r.pos, r.fp) for r in span_fingerprints(df, window_len=40).collect()
    }
    # python reference for doc 1: every selected window's md5 agrees
    want1 = set()
    for p in range(1, len(d1) - 40 + 2):
        h = hashlib.md5(d1[p - 1 : p + 39].encode()).hexdigest()
        if h[31] < "2":
            want1.add((1, p, h))
    assert {t for t in fps if t[0] == 1} == want1 and want1
    shared = {t[2] for t in fps if t[0] == 1} & {t[2] for t in fps if t[0] == 2}
    assert shared, "shared span must select common fingerprints"
    pairs = {
        (r.id_a, r.id_b): r.n_shared
        for r in duplicated_span_pairs(df, window_len=40).collect()
    }
    assert pairs == {(1, 2): len(shared)}  # doc 3 pairs with nobody


def test_duplicated_span_pairs_hot_cap(spark):
    """Boilerplate shared by more documents than max_docs_per_fp is
    excluded from the pair join and surfaced by the audit."""
    from tsatool_app_spark.functions.spans import (
        duplicated_span_pairs,
        hot_span_fingerprints,
    )

    boiler = "x" * 60  # one distinct 40-char window, trivially selected or not
    # make selection certain: find a 60-char string whose windows select —
    # use varied text instead so at least one window is selected
    boiler = " ".join(f"common{i:02d}" for i in range(8))  # 70 chars shared
    rows = [(i, f"{boiler} unique suffix number {i} padding padding padding")
            for i in range(1, 7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    uncapped = duplicated_span_pairs(df, window_len=40, max_docs_per_fp=None)
    capped = duplicated_span_pairs(df, window_len=40, max_docs_per_fp=3)
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un == 15  # all C(6,2) pairs share the boilerplate span
    assert n_cap < n_un  # the hot fingerprints are gone
    audit = hot_span_fingerprints(df, window_len=40, max_docs_per_fp=3).collect()
    assert audit and max(r.n_docs for r in audit) == 6


def test_duplicated_span_sites_position_cap(spark):
    """r9 (VERDICT r8 weak item): periodic text makes ONE fingerprint
    select at ~doc_length positions — content-defined selection either
    never selects a constant window or selects it EVERYWHERE — so two
    such documents are |pos_a|x|pos_b| rows for a single (pair, fp)
    while staying under the document-count cap.  The position cap bounds
    that to cap^2 and the audit companion surfaces what was clipped."""
    import hashlib

    from tsatool_app_spark.functions.spans import (
        duplicated_span_sites,
        oversize_span_sites,
    )

    # a character whose constant 40-char window SELECTS (last md5 hex < '2')
    ch = next(
        c for c in "abcdefghijklmnopqrstuvwxyz0123456789"
        if hashlib.md5((c * 40).encode()).hexdigest()[31] < "2"
    )
    n_pos = 2_000  # raw cross-doc fan-out would be 4,000,000 rows
    periodic = ch * (n_pos + 39)
    df = spark.createDataFrame(
        [(1, periodic), (2, periodic)], "doc_id long, text string"
    )
    capped = duplicated_span_sites(df, window_len=40).collect()
    assert len(capped) == 64 * 64  # one fp, first 64 positions each side
    assert max(r.pos_a for r in capped) == 64
    assert max(r.pos_b for r in capped) == 64
    audit = {
        (r.doc_id, r.n_sites)
        for r in oversize_span_sites(df, window_len=40).collect()
    }
    assert audit == {(1, n_pos), (2, n_pos)}
    # non-degenerate text is untouched by the cap: every (doc, fp) has
    # one position, so capped output == uncapped output
    span = " ".join(f"tok{i:03d}" for i in range(32))
    nd = spark.createDataFrame(
        [(1, "aaa bbb ccc " + span), (2, "other lead-in " + span + " x")],
        "doc_id long, text string",
    )
    rows_capped = {
        tuple(r) for r in duplicated_span_sites(nd, window_len=40).collect()
    }
    rows_raw = {
        tuple(r)
        for r in duplicated_span_sites(
            nd, window_len=40, max_sites_per_doc_fp=None
        ).collect()
    }
    assert rows_capped == rows_raw and rows_capped
    assert oversize_span_sites(nd, window_len=40).count() == 0


def test_excise_spans_matches_python_reference(spark):
    """r9 new capability: surgical span excision — the detected verbatim
    benchmark windows are spliced OUT of each document.  Pinned against a
    hashlib + manual interval-merge reference, covering: hit at position
    1, whole-doc excision, multiple islands, multibyte text, clean
    pass-through, and the pad= margin option."""
    import hashlib

    from tsatool_app_spark.functions.spans import excise_spans

    W = 40
    leak1 = " ".join(f"lk{i:03d}" for i in range(20))  # 119 chars
    leak2 = "ääkköset ja €urot vuotavat tänne nyt " * 3  # multibyte leak
    bench_text = "bench prefix " + leak1 + " middle " + leak2 + " bench end"
    docs_rows = [
        (1, leak1 + " then novel tail text following the leak here"),  # pos 1
        (2, "novel head text comes first here and then " + leak1),
        (3, leak1),                                      # whole-doc (~all)
        (4, "two leaks: " + leak1 + " novel middle gap text " + leak2),
        (5, "completely novel text with no shared windows at all here"),
        (6, None),
        (7, "short"),
    ]
    docs = spark.createDataFrame(docs_rows, "doc_id long, text string")
    bench = spark.createDataFrame([(100, bench_text)], "doc_id long, text string")

    def sel_fps(text):
        out = {}
        if not text or len(text) < W:
            return out
        for p in range(len(text) - W + 1):
            h = hashlib.md5(text[p : p + W].encode()).hexdigest()
            if h[31] < "2":
                out.setdefault(h, []).append(p + 1)
        return out

    bfps = set(sel_fps(bench_text))

    def reference(text, pad=0):
        if text is None:
            return (None, 0, 0)
        hits = sorted(
            p for fp, ps in sel_fps(text).items() if fp in bfps for p in ps
        )
        ivs = []
        for p in hits:
            s, e = max(p - pad, 1), p + W + pad
            if ivs and s <= ivs[-1][1]:
                ivs[-1][1] = max(ivs[-1][1], e)
            else:
                ivs.append([s, e])
        kept, cur = [], 1
        for s, e in ivs:
            kept.append(text[cur - 1 : s - 1])
            cur = e
        kept.append(text[cur - 1 :])
        n_exc = sum(min(e, len(text) + 1) - s for s, e in ivs)
        return ("".join(kept), len(ivs), n_exc)

    for pad in (0, W):
        got = {
            r.doc_id: (r.clean_text, r.n_spans_excised, r.n_excised_chars)
            for r in excise_spans(docs, bench, window_len=W, pad=pad).collect()
        }
        want = {i: reference(t, pad) for i, t in docs_rows}
        assert got == want, f"pad={pad}"
    # the excision did real work: doc 1 lost its leading leak, doc 5
    # untouched, doc 3 mostly emptied
    base = {r.doc_id: r for r in excise_spans(docs, bench, window_len=W).collect()}
    assert base[5].clean_text == docs_rows[4][1] and base[5].n_spans_excised == 0
    # pad=0 removes the detected windows; the leak's first chars can
    # survive up to the first selected window (documented edge behavior)
    assert base[1].n_excised_chars > len(leak1) // 2
    assert len(base[1].clean_text) < len(docs_rows[0][1])
    assert base[3].n_excised_chars > len(leak1) // 2
    # with pad=W the whole contiguous leak goes, edges included
    padded = {r.doc_id: r for r in excise_spans(docs, bench, window_len=W, pad=W).collect()}
    assert "lk" not in padded[2].clean_text and "lk" not in padded[1].clean_text
    # fps_pos sharing and arrow impl produce identical rows
    from tsatool_app_spark.functions.spans import span_fingerprints

    fp_shared = span_fingerprints(docs, window_len=W, impl="arrow")
    shared = {
        r.doc_id: (r.clean_text, r.n_spans_excised, r.n_excised_chars)
        for r in excise_spans(
            docs, bench, window_len=W, fps_pos=fp_shared
        ).collect()
    }
    assert shared == {
        r.doc_id: (r.clean_text, r.n_spans_excised, r.n_excised_chars)
        for r in excise_spans(docs, bench, window_len=W).collect()
    }


def test_span_pairs_dedup_first_matches_raw(spark):
    """The dedup-first span composition must emit EXACTLY the raw join's
    rows on a clone-heavy corpus, including cap behavior (the cap counts
    DOCUMENTS, so clones can push a fingerprint over it)."""
    from tsatool_app_spark.functions.spans import (
        duplicated_span_pairs,
        duplicated_span_pairs_dedup_first,
    )

    span = " ".join(f"tok{i:03d}" for i in range(32))
    d1 = "aaa bbb ccc " + span + " tail one"
    d2 = "completely different very long prefix text here " + span
    rows = (
        [(i, d1) for i in (1, 2, 7)]          # clone group of 3
        + [(3, d2), (4, d2)]                   # clone group of 2
        + [(5, "nothing shared with anyone here at all whatsoever okay")]
    )
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for cap in (None, 256, 4):
        raw = sorted(
            tuple(r)
            for r in duplicated_span_pairs(
                df, window_len=40, max_docs_per_fp=cap
            ).collect()
        )
        fast = sorted(
            tuple(r)
            for r in duplicated_span_pairs_dedup_first(
                df, window_len=40, max_docs_per_fp=cap
            ).collect()
        )
        assert fast == raw, f"cap={cap}"
    # uncapped: clone groups pair within, and d1/d2 pair across via span
    pairs = {
        (r.id_a, r.id_b)
        for r in duplicated_span_pairs_dedup_first(df, max_docs_per_fp=None).collect()
    }
    assert {(1, 2), (2, 7), (1, 7), (3, 4), (1, 3)} <= pairs
    # cap=4: the shared span's fingerprints live in 5 docs -> capped, so
    # cross-group pairs vanish but within-group (full-text) pairs survive
    capped = {
        (r.id_a, r.id_b)
        for r in duplicated_span_pairs_dedup_first(df, max_docs_per_fp=4).collect()
    }
    assert (1, 3) not in capped and (3, 4) in capped


def test_span_shared_fingerprint_pass(spark):
    """r8 (VERDICT r7 ask #3): one span_doc_fingerprints pass feeds the
    pair query AND the audit via fps= — results identical to the
    from-docs path, so the corpus is hashed once per family, not once
    per consumer."""
    from tsatool_app_spark.functions.spans import (
        duplicated_span_pairs,
        hot_span_fingerprints,
        span_doc_fingerprints,
    )

    boiler = " ".join(f"common{i:02d}" for i in range(8))
    rows = [(i, f"{boiler} unique suffix number {i} padding padding padding")
            for i in range(1, 7)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = span_doc_fingerprints(df, window_len=40).localCheckpoint()
    for cap in (None, 3):
        a = sorted(tuple(r) for r in duplicated_span_pairs(
            df, window_len=40, max_docs_per_fp=cap).collect())
        b = sorted(tuple(r) for r in duplicated_span_pairs(
            fps=fps, max_docs_per_fp=cap).collect())
        assert a == b, f"cap={cap}"
    audit_docs = sorted(tuple(r) for r in hot_span_fingerprints(
        df, window_len=40, max_docs_per_fp=3).collect())
    audit_fps = sorted(tuple(r) for r in hot_span_fingerprints(
        fps=fps, max_docs_per_fp=3).collect())
    assert audit_docs == audit_fps and audit_docs
    with pytest.raises(ValueError):
        duplicated_span_pairs()  # neither docs nor fps


def test_span_fingerprints_impls_identical(spark):
    """r8 (VERDICT r7 ask #4): the arrow (mapInPandas/hashlib) path is
    BYTE-IDENTICAL to the SQL expression path — same selection rule, so
    it stays oracle-comparable — across ASCII, multibyte (2- and 3-byte
    UTF-8, where char positions != byte positions), short (< window),
    empty, and NULL documents; and the downstream pair query agrees."""
    from tsatool_app_spark.functions.spans import (
        duplicated_span_pairs,
        span_fingerprints,
    )

    span = " ".join(f"tok{i:03d}" for i in range(32))
    mb_span = "ääkköset ja €urot " * 8  # multibyte, shared across 4/5
    rows = [
        (1, "aaa bbb ccc " + span + " tail one"),
        (2, "completely different very long prefix text here " + span),
        (3, "prefix häntä " + mb_span + " suffix"),
        (4, mb_span + " eri häntä tässä dokumentissa kokonaan"),
        (5, "short"),
        (6, ""),
        (7, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sql_rows = sorted(
        tuple(r) for r in span_fingerprints(df, window_len=40).collect()
    )
    arrow_rows = sorted(
        tuple(r)
        for r in span_fingerprints(df, window_len=40, impl="arrow").collect()
    )
    assert arrow_rows == sql_rows and sql_rows
    assert any(t[0] in (3, 4) for t in sql_rows)  # multibyte docs selected
    # schema parity (names and types; nullability flags may differ)
    assert [
        (f.name, f.dataType) for f in span_fingerprints(df, impl="arrow").schema
    ] == [(f.name, f.dataType) for f in span_fingerprints(df).schema]
    pairs_sql = sorted(
        tuple(r) for r in duplicated_span_pairs(df, window_len=40).collect()
    )
    pairs_arrow = sorted(
        tuple(r)
        for r in duplicated_span_pairs(df, window_len=40, impl="arrow").collect()
    )
    assert pairs_arrow == pairs_sql and {(3, 4)} <= {
        (a, b) for a, b, _ in pairs_sql
    }
    with pytest.raises(ValueError):
        span_fingerprints(df, impl="rdd")


def test_span_fingerprints_arrow_flush_identical(spark):
    """r9 (ADVICE r8 medium): the arrow pass flushes its accumulators
    every ``flush_rows`` rows so a batch of many large documents cannot
    pile total_chars/8 rows into task memory before the first yield.
    Flushing mid-batch (and mid-document-stream) must only re-batch the
    output — rows identical to the unflushed sql path."""
    from tsatool_app_spark.functions.spans import (
        _span_fingerprints_arrow,
        span_fingerprints,
    )

    span = " ".join(f"fl{i:03d}" for i in range(40))
    rows = [(i, f"doc {i} prefix " + span + f" suffix {i}") for i in range(8)]
    rows.append((99, "ääkköset ja €urot " * 12))  # multibyte crosses flushes
    df = spark.createDataFrame(rows, "doc_id long, text string").coalesce(1)
    want = sorted(tuple(r) for r in span_fingerprints(df, window_len=40).collect())
    got = sorted(
        tuple(r)
        for r in _span_fingerprints_arrow(df, 40, "2", "text", "doc_id",
                                          flush_rows=3).collect()
    )
    assert got == want and len(want) > 20  # several flushes actually fired


def test_duplicated_span_sites_localization(spark):
    """r8: duplicated_span_sites returns the exact co-occurrence
    positions — a span planted at different offsets yields sites with a
    constant pos delta equal to the offset shift; sites agree with a
    hashlib recomputation; the fps_pos= shared pass and the pair query's
    fingerprint counts are consistent."""
    import hashlib

    from tsatool_app_spark.functions.spans import (
        duplicated_span_pairs,
        duplicated_span_sites,
        span_fingerprints,
    )

    span = " ".join(f"loc{i:03d}" for i in range(32))  # 223 chars
    d1 = "aaa bbb ccc " + span + " tail one"          # span at char 13
    d2 = "a much longer and different prefix here " + span  # span at 41
    df = spark.createDataFrame([(1, d1), (2, d2)], "doc_id long, text string")
    sites = duplicated_span_sites(df, window_len=40).collect()
    assert sites
    deltas = {r.pos_b - r.pos_a for r in sites}
    assert deltas == {41 - 13}  # constant shift, every shared site
    for r in sites:
        w1 = d1[r.pos_a - 1 : r.pos_a + 39]
        w2 = d2[r.pos_b - 1 : r.pos_b + 39]
        assert w1 == w2 and hashlib.md5(w1.encode()).hexdigest() == r.fp
    # site count equals the pair's n_shared here (no within-doc repeats)
    n_shared = duplicated_span_pairs(df, window_len=40).collect()[0].n_shared
    assert len(sites) == n_shared
    # shared hashing pass: identical output through fps_pos=
    fps_pos = span_fingerprints(df, window_len=40).localCheckpoint()
    via_fps = sorted(
        tuple(r) for r in duplicated_span_sites(fps_pos=fps_pos).collect()
    )
    assert via_fps == sorted(tuple(r) for r in sites)
    with pytest.raises(ValueError):
        duplicated_span_sites()


def test_span_contamination_hits(spark):
    """r8: span-level decontamination — a train doc embedding a slice of
    a benchmark doc at a shifted offset is flagged with the exact count
    of shared selected windows; clean docs are absent; the benchmark
    side is broadcast (plan-asserted); sql/arrow impls agree exactly."""
    from tsatool_app_spark.functions.spans import (
        span_contamination_hits,
        span_doc_fingerprints,
    )

    secret = " ".join(f"bm{i:03d}" for i in range(40))  # 239-char benchmark span
    bench = spark.createDataFrame(
        [(900, "eval question: " + secret + " answer: yes")],
        "doc_id long, text string",
    )
    train = spark.createDataFrame(
        [
            (1, "totally clean document " + " ".join(f"c{j}" for j in range(40))),
            (2, "a long and different prefix here " + secret + " trailing"),
        ],
        "doc_id long, text string",
    )
    hits = {r.doc_id: r.n_shared for r in span_contamination_hits(train, bench).collect()}
    assert set(hits) == {2}
    # exact count: distinct train-doc fps ∩ benchmark fp set
    bfps = {r.fp for r in span_doc_fingerprints(bench).collect()}
    tfps = {r.fp for r in span_doc_fingerprints(
        train.where("doc_id = 2")).collect()}
    assert hits[2] == len(bfps & tfps) > 0
    # arrow impl: identical rows
    arrow = {r.doc_id: r.n_shared
             for r in span_contamination_hits(train, bench, impl="arrow").collect()}
    assert arrow == hits
    # benchmark fingerprints are the broadcast side
    plan = span_contamination_hits(train, bench)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # dedup-first composition: identical rows on a clone-heavy corpus
    rows = [(r.doc_id, r.text) for r in train.collect()]
    clone_rows = rows + [(21, rows[1][1]), (22, rows[1][1]), (31, rows[0][1])]
    clones = spark.createDataFrame(clone_rows, "doc_id long, text string")
    direct = {r.doc_id: r.n_shared
              for r in span_contamination_hits(clones, bench).collect()}
    fast = {r.doc_id: r.n_shared
            for r in span_contamination_hits(clones, bench, dedup_texts=True).collect()}
    assert fast == direct and set(direct) == {2, 21, 22}


def test_span_fingerprints_arrow_multi_megabyte_doc(spark):
    """r8 (ADVICE r7 #3 closure): the arrow impl streams positions, so a
    multi-megabyte document is safe (the SQL impl's per-row struct array
    would peak at ~70 B x doc length).  A 2 MB doc fingerprints without
    error, the selection rate lands near 1/8, and a hashlib spot-check
    of the first selected windows agrees byte-for-byte."""
    import hashlib

    rng = __import__("numpy").random.default_rng(11)
    big = "".join(chr(c) for c in rng.integers(97, 123, 2_000_000))
    df = spark.createDataFrame([(1, big)], "doc_id long, text string")
    from tsatool_app_spark.functions.spans import span_fingerprints

    fps = span_fingerprints(df, window_len=40, impl="arrow")
    rows = fps.orderBy("pos").limit(20).collect()
    n = fps.count()
    positions = 2_000_000 - 40 + 1
    assert 0.115 < n / positions < 0.135  # ~1/8 selection on random text
    for r in rows:
        w = big[r.pos - 1 : r.pos + 39]
        h = hashlib.md5(w.encode()).hexdigest()
        assert h == r.fp and h[31] < "2"


def test_epoch_budget_mixture(spark):
    """Upsampling mixture (epoch control): budget > supply repeats the
    source (full epochs for every doc + a deterministic md5 subset for
    the fractional epoch); budget <= supply degenerates to EXACTLY
    token_budget_mixture's keep-set with n_copies = 1; unbudgeted
    sources drop; zero budget drops; zero supply keeps one copy."""
    from tsatool_app_spark.functions.sampling import (
        epoch_budget_mixture,
        explode_epoch_copies,
        token_budget_mixture,
    )

    rows = [
        (i, "a" * 100, "web" if i < 2000 else ("wiki" if i < 2200 else "other"))
        for i in range(2400)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    docs = docs.withColumn("n_chars", F.length("text"))
    budgets = {"web": 50_000, "wiki": 75_000, "zero": 0}
    out = epoch_budget_mixture(docs, budgets).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    assert "other" not in by_src and "zero" not in by_src
    # wiki: 20k supply, 75k budget -> full = 3 epochs, rem = 15k/20k ->
    # rem_q = 7500; every doc keeps 3 or 4 copies
    wiki = by_src["wiki"]
    assert len(wiki) == 200
    assert all(r["rem_q"] == 7500 for r in wiki)
    assert {r["n_copies"] for r in wiki} == {3, 4}
    total_wiki = sum(r["n_copies"] for r in wiki) * 100
    assert abs(total_wiki - 75_000) < 6_000  # binomial on the fraction
    # web: budget < supply -> n_copies = 1 and the keep-set is EXACTLY
    # the down-sampling mixture's
    web_ids = {r["doc_id"] for r in by_src["web"]}
    assert all(r["n_copies"] == 1 and r["rem_q"] == 2500 for r in by_src["web"])
    down = {
        r["doc_id"]
        for r in token_budget_mixture(docs, {"web": 50_000}).collect()
    }
    assert web_ids == down
    # explode: one row per copy, copy_idx in [0, n_copies)
    mix = epoch_budget_mixture(docs, {"wiki": 75_000})
    ex = explode_epoch_copies(mix).groupBy("doc_id").count().collect()
    per = {r["doc_id"]: r["count"] for r in ex}
    assert {per[r["doc_id"]] for r in wiki} == {3, 4}
    # zero/NULL supply: one copy of everything
    nulls = spark.createDataFrame(
        [(1, None, "s")], "doc_id long, n_chars int, source string"
    )
    got = epoch_budget_mixture(nulls, {"s": 10}).collect()
    assert len(got) == 1 and got[0]["n_copies"] == 1


def test_explode_epoch_copies_zero_guard(spark):
    """ADVICE r11: a n_copies=0 row must DISAPPEAR under explode (Spark's
    sequence(0, -1) is the descending [0, -1], which would silently
    duplicate the row); negative counts and NULLs drop too."""
    from tsatool_app_spark.functions.sampling import explode_epoch_copies

    mix = spark.createDataFrame(
        [(1, 0), (2, 2), (3, -1), (4, None), (5, 1)],
        "doc_id long, n_copies int",
    )
    got = {
        (r["doc_id"], r["copy_idx"])
        for r in explode_epoch_copies(mix).collect()
    }
    assert got == {(2, 0), (2, 1), (5, 0)}


def test_temperature_budget_mixture(spark):
    """Temperature knob degeneracies (r11 VERDICT ask #4) — τ=0 and τ=1
    are EXACT in IEEE double, so the pins are bit-for-bit:

    - τ=1, total = Σsupply → every source allocated exactly its supply
      (one full epoch, rem_q 0, n_copies 1 everywhere);
    - τ=1, total < Σsupply → per-source budgets proportional; keep-set
      equals token_budget_mixture's at the same budgets;
    - τ=0 → uniform split: budget = total div n_sources per source;
    - zero-supply sources drop."""
    from tsatool_app_spark.functions.sampling import (
        temperature_budget_mixture,
        token_budget_mixture,
    )

    # supplies 10k / 20k / 40k chars: exact under weight_scale=1e6
    rows = []
    for i in range(100):
        rows.append((i, "a" * 100, "s0"))
    for i in range(100, 300):
        rows.append((i, "a" * 100, "s1"))
    for i in range(300, 700):
        rows.append((i, "a" * 100, "s2"))
    rows.append((999, None, "s3"))  # NULL supply -> dropped
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, source string"
    ).withColumn("n_chars", F.length("text").cast("long"))

    # τ=1, budget = full supply
    out = temperature_budget_mixture(docs, 70_000, 1.0).collect()
    assert {r["source"] for r in out} == {"s0", "s1", "s2"}
    assert all(r["n_copies"] == 1 and r["rem_q"] == 0 for r in out)
    assert len(out) == 700
    by = {}
    for r in out:
        by.setdefault(r["source"], set()).add(r["doc_id"])
    budgets = {r["source"]: r["budget"] for r in out}
    assert budgets == {"s0": 10_000, "s1": 20_000, "s2": 40_000}

    # τ=1, budget = half supply: proportional down-sample, keep-set
    # equals token_budget_mixture at the allocated budgets
    half = temperature_budget_mixture(docs, 35_000, 1.0)
    hrows = half.collect()
    hbud = {r["source"]: r["budget"] for r in hrows}
    assert hbud == {"s0": 5_000, "s1": 10_000, "s2": 20_000}
    assert all(r["n_copies"] == 1 for r in hrows)
    down = token_budget_mixture(docs, hbud)
    assert {(r["doc_id"]) for r in hrows} == {
        r["doc_id"] for r in down.collect()
    }

    # τ=0: uniform split across the 3 supplied sources
    uni = temperature_budget_mixture(docs, 90_000, 0.0).collect()
    ubud = {r["source"]: r["budget"] for r in uni}
    assert ubud == {"s0": 30_000, "s1": 30_000, "s2": 30_000}
    # s0 upsamples 3x exactly; s1 1.5x; s2 0.75x
    s0 = [r for r in uni if r["source"] == "s0"]
    assert all(r["n_copies"] == 3 and r["rem_q"] == 0 for r in s0)
    s1 = [r for r in uni if r["source"] == "s1"]
    assert all(r["rem_q"] == 5000 for r in s1)
    assert {r["n_copies"] for r in s1} == {1, 2}

    # validation
    import pytest as _pytest

    with _pytest.raises(ValueError):
        temperature_budget_mixture(docs, -1, 1.0)
    with _pytest.raises(ValueError):
        temperature_budget_mixture(docs, 10, -0.1)
    with _pytest.raises(ValueError):
        temperature_budget_mixture(docs.withColumn("budget", F.lit(1)), 10, 1.0)
