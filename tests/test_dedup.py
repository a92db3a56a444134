"""Dedup operator correctness on crafted corpora with known duplicates."""

from __future__ import annotations

import itertools

import pytest
from pyspark.sql import functions as F

from eget_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash,
)

BASE = "the quick brown fox jumps over the lazy dog near the quiet river bank today"
NEAR = BASE.replace("quiet", "calm")  # one-token change -> high jaccard
FAR = "completely different content about spark shuffles and arrow batches here"


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, BASE),
        (1, BASE),  # exact dup of 0
        (2, NEAR),  # near dup of 0/1
        (3, FAR),
        (4, "tiny"),
        (5, FAR + " with a small suffix appended"),
    ]
    return spark.createDataFrame(rows, "id long, text string")


def _py_shingles(text: str, k: int = 3) -> set[str]:
    toks = text.lower().split()
    if len(toks) < k:
        return {" ".join(toks)}
    return {" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)}


def test_exact_dedup(docs):
    got = {r["keep_id"]: r["dup_count"] for r in exact_dedup(docs, "id", "text").collect()}
    assert got[0] == 2  # ids 0,1 collapse, min id kept
    assert got[2] == 1 and got[3] == 1


def test_ngram_jaccard_matches_python(docs):
    rows = {r["id"]: r["text"] for r in docs.selectExpr("id", "text").collect()}
    # an int id column takes the same numpy-kernel path as a long one
    for df in (docs, docs.withColumn("id", F.col("id").cast("int"))):
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(df, "id", "text", threshold=0.01).collect()
        }
        for a, b in itertools.combinations(sorted(rows), 2):
            sa, sb = _py_shingles(rows[a]), _py_shingles(rows[b])
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.01:
                assert (a, b) in got
                assert abs(got[(a, b)] - round(j, 6)) < 1e-9
            else:
                assert (a, b) not in got


def test_minhash_lsh_finds_exact_and_near_dups(docs):
    pairs = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_pairs(docs, "id", "text", num_hashes=16, bands=8).collect()
    }
    assert (0, 1) in pairs  # identical docs share every band
    assert (0, 2) in pairs or (1, 2) in pairs  # near dup caught by some band
    assert (0, 3) not in pairs  # unrelated docs don't collide


def test_simhash_pairs_blocking(spark, docs):
    from eget_spark.operators.dedup import simhash_pairs

    pairs = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_pairs(docs, "id", "text", bits=32, max_hamming=8, bands=16).collect()
    }
    assert pairs.get((0, 1)) == 0  # identical docs: distance 0
    # exhaustive check: blocking found every pair within the bound that
    # the pigeonhole guarantees (hamming < bands)
    sigs = {r["id"]: r["simhash"] for r in simhash(docs, "id", "text", bits=32).collect()}
    import itertools

    for a, b in itertools.combinations(sorted(sigs), 2):
        h = bin(sigs[a] ^ sigs[b]).count("1")
        if h <= 8:
            assert (a, b) in pairs and pairs[(a, b)] == h


def test_simhash_distance_orders_similarity(docs):
    sigs = {r["id"]: r["simhash"] for r in simhash(docs, "id", "text", bits=16).collect()}
    ham = lambda a, b: bin(a ^ b).count("1")
    assert sigs[0] == sigs[1]
    assert ham(sigs[0], sigs[2]) <= ham(sigs[0], sigs[3])


def test_connected_components_vs_networkless_oracle(spark):
    """Hash-min label propagation == pure-Python union-find on random
    graphs (chains, stars, singletons excluded from pairs)."""
    import random

    from eget_spark.operators.dedup import connected_components, dedup_groups

    rng = random.Random(13)
    edges = set()
    # several chains and stars over 0..199
    for base in range(0, 200, 40):
        for i in range(base, base + rng.randint(3, 12)):
            edges.add((i, i + 1))
    for hub in (300, 400):
        for k in range(rng.randint(3, 8)):
            edges.add((hub, hub + k + 1))
    pairs = spark.createDataFrame(
        [(min(a, b), max(a, b)) for a, b in edges], "id_a long, id_b long"
    )
    got = {
        r["id"]: r["component"]
        for r in connected_components(pairs).collect()
    }
    # union-find oracle
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {x: find(x) for x in parent}
    assert got == want

    # dedup_groups: singletons keep themselves, members map to component min
    docs = spark.createDataFrame(
        [(i,) for i in list(want) + [9999]], "doc_id long"
    )
    g = {r["id"]: (r["keep_id"], r["is_duplicate"]) for r in dedup_groups(docs, pairs, "doc_id").collect()}
    assert g[9999] == (9999, False)
    for x, root in want.items():
        assert g[x] == (root, x != root)


def test_srp_lsh_pairs_matches_numpy_oracle(spark):
    """SRP-LSH vs a numpy reimplementation: identical hyperplanes, band
    collisions, first-band-wins dedup, and cosine threshold."""
    import numpy as np

    from eget_spark.operators.dedup import srp_lsh_pairs

    rng = np.random.RandomState(7)
    base = rng.randn(8, 12)
    # near-dups: perturb each base vector slightly; distractors random
    vecs = list(base) + [v + 0.05 * rng.randn(12) for v in base] + list(rng.randn(10, 12))
    V = np.array(vecs)
    df = spark.createDataFrame(
        [(i, [float(x) for x in V[i]]) for i in range(len(V))],
        "vec_id long, embedding array<double>",
    )
    n_bits, bands, r, seed, thr = 16, 4, 4, 1, 0.8
    got = {
        (row["id_a"], row["id_b"])
        for row in srp_lsh_pairs(
            df, "vec_id", "embedding", n_bits=n_bits, bands=bands, threshold=thr, seed=seed
        ).collect()
    }
    i = np.arange(n_bits)[:, None]
    d = np.arange(V.shape[1])[None, :]
    W = ((i * 2654435761 + d * 40503 + seed) % 2001) - 1000
    bits = (V @ W.T >= 0).astype(int)
    Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
    C = Vn @ Vn.T
    want = set()
    for a in range(len(V)):
        for b in range(a + 1, len(V)):
            collide = any(
                (bits[a, bd * r : (bd + 1) * r] == bits[b, bd * r : (bd + 1) * r]).all()
                for bd in range(bands)
            )
            if collide and round(C[a, b], 6) >= thr:
                want.add((a, b))
    assert want, "oracle found no pairs - test corpus broken"
    assert got == want


def test_incremental_lsh_matches_full_lsh_cross_pairs(spark, docs):
    """match-against-index == full-corpus LSH pairs restricted to
    (new, index) cross pairs; band is the LOWEST colliding band."""
    from pyspark.sql import functions as F

    from eget_spark.operators.dedup import (
        lsh_bucket_table,
        lsh_match_against_index,
        minhash_lsh_pairs,
    )

    new = docs.where(F.col("id") % 2 == 0)
    old = docs.where(F.col("id") % 2 != 0)
    index = lsh_bucket_table(old, "id", "text", num_hashes=8, bands=4, k=3)
    got = {
        (r["new_id"], r["index_id"]): r["band"]
        for r in lsh_match_against_index(
            new, index, "id", "text", num_hashes=8, bands=4, k=3
        ).collect()
    }
    full = minhash_lsh_pairs(
        docs, "id", "text", num_hashes=8, bands=4, k=3
    ).collect()
    cross = {
        (a, b) if a % 2 == 0 else (b, a)
        for a, b in ((r["id_a"], r["id_b"]) for r in full)
        if (a % 2 == 0) != (b % 2 == 0)
    }
    assert set(got) == cross and got  # the 0/1 exact-dup pair must appear
    # min-band: recompute from the two bucket tables without the aggregate
    nb = lsh_bucket_table(new, "id", "text", num_hashes=8, bands=4, k=3)
    raw = (
        nb.alias("n")
        .join(
            index.alias("i"),
            (F.col("n.band") == F.col("i.band")) & (F.col("n.sig") == F.col("i.sig")),
        )
        .select(F.col("n.id").alias("a"), F.col("i.id").alias("b"), F.col("n.band").alias("band"))
        .collect()
    )
    mins = {}
    for r in raw:
        k = (r["a"], r["b"])
        mins[k] = min(mins.get(k, 99), r["band"])
    assert got == mins


def test_select_representatives_quality_argmax_and_ties(spark):
    from eget_spark.operators.dedup import select_representatives

    # clusters: {1,2,3} (chain), {10,11}; 20 is a singleton
    docs = spark.createDataFrame(
        [(1, 5), (2, 9), (3, 9), (10, 4), (11, 2), (20, 7)],
        "doc_id long, score long",
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long"
    )
    out = {r["id"]: (r["rep_id"], r["is_duplicate"]) for r in
           select_representatives(docs, pairs, "doc_id", "score").collect()}
    # max score wins; tie (2 vs 3 both 9) -> lowest id
    assert out[1] == (2, True) and out[2] == (2, False) and out[3] == (2, True)
    assert out[10] == (10, False) and out[11] == (10, True)
    assert out[20] == (20, False)
    assert len(out) == 6


def test_jaccard_histogram_matches_python(spark):
    from eget_spark.operators.dedup import jaccard_histogram

    rows = [
        (0, "a b c d e"),
        (1, "a b c d e"),      # exact dup of 0 -> bucket 10
        (2, "a b c x y z"),    # partial overlap with 0/1
        (3, "p q r s"),        # disjoint: no pairs
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    def grams(text, n=3):
        toks = text.split()
        if len(toks) < n:
            return {" ".join(toks)}
        return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}

    gs = {i: grams(t) for i, t in rows}
    want: dict[int, int] = {}
    ids = sorted(gs)
    for x in ids:
        for y in ids:
            if x < y and gs[x] & gs[y]:
                i = len(gs[x] & gs[y])
                u = len(gs[x]) + len(gs[y]) - i
                b = (10 * i) // u
                want[b] = want.get(b, 0) + 1
    got = {
        r["bucket"]: r["n_pairs"]
        for r in jaccard_histogram(df, "doc_id", "text", 3, 10).collect()
    }
    assert got == want
    assert got[10] == 1  # the exact-dup pair has its own bucket


def _py_winnow(text, k=5, w=4):
    import hashlib
    import re as _re

    toks = _re.split(r"\s+", text.lower().strip())
    if len(toks) < k:
        grams = [" ".join(toks)]
    else:
        grams = [" ".join(toks[i : i + k]) for i in range(len(toks) - k + 1)]
    hs = [
        int(hashlib.md5(g.encode("utf-8")).hexdigest()[:8], 16) for g in grams
    ]
    sel = set()
    for s in range(max(len(hs) - w, 0) + 1):
        win = hs[s : s + w]
        m = min(win)
        off = max(j for j, h in enumerate(win) if h == m)
        sel.add((s + off, m))
    return sel


WINNOW_TEXTS = [
    "the quick brown fox jumps over the lazy dog again and again today",
    "pack my box with five dozen liquor jugs for the winter store room",
    "the quick brown fox jumps over the lazy dog again and again today",
    "short text",
    "one two three four five six seven eight nine ten eleven twelve th",
]


def test_winnow_matches_python_oracle(spark):
    from eget_spark.operators.dedup import winnow_selected

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(WINNOW_TEXTS)], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in winnow_selected(df, "doc_id", "text", k=5, w=4).collect():
        got.setdefault(r["id"], set()).add((r["pos"], r["h"]))
    assert got == {i: _py_winnow(t, 5, 4) for i, t in enumerate(WINNOW_TEXTS)}


def test_winnow_identical_docs_identical_fingerprints(spark):
    """Docs 0 and 2 are byte-identical: winnowing is deterministic, so
    their fingerprints are equal — the local-certainty contract minhash
    only gives probabilistically."""
    from eget_spark.operators.dedup import winnow_profile

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(WINNOW_TEXTS)], "doc_id long, text string"
    )
    rows = {r["id"]: (r["n_selected"], r["checksum"], r["max_pos"])
            for r in winnow_profile(df, "doc_id", "text").collect()}
    assert rows[0] == rows[2]
    assert rows[0] != rows[1]


def test_winnow_density_near_guarantee(spark):
    """Expected selection density is 2/(w+1); pin a loose deterministic
    band on the fixed corpus (this is the paper's headline statistic)."""
    from eget_spark.operators.dedup import winnow_selected

    text = " ".join(f"tok{(i * 7919) % 997}" for i in range(400))
    df = spark.createDataFrame([(0, text)], "doc_id long, text string")
    n_sel = winnow_selected(df, "doc_id", "text", k=5, w=4).count()
    n_grams = 400 - 5 + 1
    density = n_sel / n_grams
    assert 0.25 <= density <= 0.55  # 2/(w+1) = 0.4 expected


def test_winnow_shared_run_guarantee(spark):
    """Any shared token run of length >= w + k - 1 produces at least one
    COMMON selected (hash) fingerprint between the two docs — the
    winnowing guarantee (theorem 1 of the paper; position may differ,
    the hash set must intersect)."""
    from eget_spark.operators.dedup import winnow_selected

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 >= 4+5-1
    a = "x1 x2 x3 " + shared + " y1 y2"
    b = "z9 " + shared + " q7 q8 q9 q10"
    df = spark.createDataFrame([(0, a), (1, b)], "doc_id long, text string")
    rows = winnow_selected(df, "doc_id", "text", k=5, w=4).collect()
    hs = {0: set(), 1: set()}
    for r in rows:
        hs[r["id"]].add(r["h"])
    assert hs[0] & hs[1]


def test_winnow_pairs_matches_python_oracle(spark):
    from eget_spark.operators.dedup import winnow_pairs

    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "x1 x2 alpha beta gamma delta epsilon zeta eta theta y9",
        "totally different words with no overlap at all here now",
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got = {
        (r["id_a"], r["id_b"]): r["n_shared"]
        for r in winnow_pairs(df, "doc_id", "text", min_shared=1).collect()
    }
    # python mirror of the whole chain
    from collections import Counter

    fps = {i: {h for _, h in _py_winnow(t)} for i, t in enumerate(texts)}
    dfc = Counter(h for s in fps.values() for h in s)
    keep = {i: {h for h in s if dfc[h] <= 10} for i, s in fps.items()}
    want = {}
    for i in range(len(texts)):
        for j in range(i + 1, len(texts)):
            n = len(keep[i] & keep[j])
            if n >= 1:
                want[(i, j)] = n
    assert got == want
    assert (0, 3) in got            # identical docs share everything
    assert (0, 1) in got            # the >= w+k-1 shared run is caught
    assert (0, 2) not in got and (1, 2) not in got


def test_winnow_pairs_max_df_is_the_suppressor(spark):
    """The df cap is what controls boilerplate-driven pairs: at a
    permissive cap the shared footer produces pairs; at max_df=1 every
    cross-doc hash is by definition dropped (shared => df >= 2), so the
    pair set is exactly empty — the mechanism, pinned at its boundary."""
    from eget_spark.operators.dedup import winnow_pairs

    boiler = "copyright footer text all rights reserved worldwide inc"
    texts = [f"unique{i}a unique{i}b unique{i}c {boiler}" for i in range(5)]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    loose = winnow_pairs(df, "doc_id", "text", max_df=10, min_shared=1).count()
    assert loose > 0  # boilerplate really does relate the docs
    tight = winnow_pairs(df, "doc_id", "text", max_df=1, min_shared=1).count()
    assert tight == 0


def _py_spotsigs(text, ants, c=2):
    import re

    toks = [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]
    sigs = set()
    for i, w in enumerate(toks):
        if w in ants:
            chain = [t for t in toks[i + 1 :] if t not in ants][:c]
            if len(chain) == c:
                sigs.add(":".join([w] + chain))
    return sigs


def test_spotsig_rows_matches_python(spark):
    from eget_spark.operators.dedup import SPOTSIG_ANTECEDENTS, spotsig_rows

    texts = [
        "the quick brown fox is a lazy dog there and the end",
        "a b the c",  # chain 'the:c:?' too short -> dropped; 'a:b:c' kept
        "no anchors here whatsoever",
    ]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
    )
    got: dict[int, set] = {}
    for r in spotsig_rows(df, "doc_id", "text").collect():
        got.setdefault(r["id"], set()).add(r["sig"])
    ants = set(SPOTSIG_ANTECEDENTS)
    for i, t in enumerate(texts):
        assert got.get(i, set()) == _py_spotsigs(t, ants), i


def test_spotsig_pairs_boilerplate_blind(spark):
    from eget_spark.operators.dedup import spotsig_pairs

    article = (
        "the mayor said a budget vote is coming there will follow "
        "a public hearing the council meets tuesday"
    )
    nav_a = "home products pricing contact careers blog login signup"
    nav_b = "search trending sports weather markets opinion video photos"
    df = spark.createDataFrame(
        [
            (0, article + " " + nav_a),
            (1, article + " " + nav_b),
            (2, "the weather is a mild story there was a calm evening"),
        ],
        "doc_id long, text string",
    )
    got = spotsig_pairs(df, "doc_id", "text", threshold=0.9).collect()
    # nav chrome has no stopword anchors -> identical signature sets
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in got] == [(0, 1, 1.0)]


def test_spotsig_pairs_max_df_prunes_hot_sigs(spark):
    from eget_spark.operators.dedup import spotsig_pairs

    # every doc shares one template sig; unique remainder differs.
    # With max_df=2 the shared sig cannot generate candidate pairs, and
    # no surviving pair clears the threshold.
    rows = [
        (i, f"the common tail is w{i} x{i} the filler y{i} z{i}")
        for i in range(6)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # each doc has 3 sigs, exactly 1 shared -> jaccard = 1/5 = 0.2
    loose = spotsig_pairs(df, "doc_id", "text", threshold=0.2)
    capped = spotsig_pairs(df, "doc_id", "text", threshold=0.2, max_df=2)
    assert loose.count() == 15  # all pairs share 'the:common:tail'
    assert capped.count() == 0
