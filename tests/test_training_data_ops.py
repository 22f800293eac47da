"""Tests for the training-data pipeline operators: dedup families,
similarity search, text analysis."""

from __future__ import annotations

import numpy as np
import pytest

from graphjet_spark.operators.ann import (
    brute_force_topk,
    ivf_topk,
    lsh_bucketed_topk,
)
from graphjet_spark.operators.dedup import (
    dedup_keep_list,
    embedding_near_dups,
    exact_dedup,
    minhash_dedup,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash_near_dups,
    token_sets,
)
from graphjet_spark.operators.textstats import (
    content_fingerprint,
    language_id,
    quality_score,
    token_count,
    winnowing_fingerprints,
)

DOCS = [
    (0, "the quick brown fox jumps over the lazy dog near the river bank today"),
    (1, "the quick brown fox jumps over the lazy dog near the river bank today"),  # exact dup of 0
    (2, "the quick brown fox jumps over the lazy dog near the river bend today"),  # near dup of 0
    (3, "completely different content about spark shuffles and partitions here"),
    (4, "der schnelle braune fuchs springt über den faulen hund im wald"),
    (5, ""),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id bigint, text string").cache()


def test_exact_dedup(spark, docs):
    got = {r["keep_id"]: r["n_copies"] for r in exact_dedup(docs).collect()}
    assert got[0] == 2  # docs 0 and 1 identical, keep min id
    assert 1 not in got
    assert got[2] == 1 and got[3] == 1


def test_token_sets_ngrams(spark, docs):
    uni = token_sets(docs.filter("doc_id = 3"), n=1).count()
    assert uni == 9  # 9 distinct words
    bi = {
        r["tok"]
        for r in token_sets(docs.filter("doc_id = 3"), n=2).collect()
    }
    assert "spark shuffles" in bi and len(bi) == 8


def test_ngram_jaccard_pairs(spark, docs):
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=1, threshold=0.5).collect()
    }
    assert got[(0, 1)] == 1.0
    # doc 2 differs from 0 by one word (12 distinct each): |∩|=11, |∪|=13
    assert got[(0, 2)] == pytest.approx(11 / 13, abs=1e-6)
    assert (0, 3) not in got


def test_minhash_dedup_finds_near_dups(spark, docs):
    got = {
        (r["doc_a"], r["doc_b"]): r["est_jaccard"]
        for r in minhash_dedup(docs, shingle_n=2, threshold=0.5).collect()
    }
    assert got[(0, 1)] == 1.0  # identical signatures
    assert (0, 2) in got  # near dup caught by LSH
    assert all((a, b) != (0, 3) for a, b in got)


def test_minhash_signature_determinism(spark, docs):
    a = minhash_signatures(docs, num_hashes=32).collect()
    b = minhash_signatures(docs.repartition(4), num_hashes=32).collect()
    sa = {r["doc_id"]: r["sig"] for r in a}
    sb = {r["doc_id"]: r["sig"] for r in b}
    assert sa == sb  # partitioning-independent


def test_simhash_near_dups(spark, docs):
    fps = simhash_near_dups(docs, max_hamming=16, shingle_n=1).collect()
    got = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in fps}
    assert got[(0, 1)] == 0
    if (0, 2) in got:
        assert got[(0, 2)] <= 16
    # unrelated docs must not appear at small distance
    assert all(h > 0 for (a, b), h in got.items() if (a, b) != (0, 1))


def test_embedding_near_dups(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.999, 0.01, 0.0]),
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dups(emb, threshold=0.95).collect()
    }
    assert set(got) == {(0, 1)}
    assert got[(0, 1)] > 0.99


def test_short_docs_never_crash_ngram_operators(spark):
    """Docs with fewer tokens than n used to crash gram construction
    (descending sequence -> slice throws); they must yield empty gram
    sets and simply not participate in near-dup pairs."""
    rows = [(0, ""), (1, "one"), (2, "two words"), (3, "two words")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    assert token_sets(docs, n=3).count() == 0
    assert ngram_jaccard_pairs(docs, n=3, threshold=0.5).count() == 0
    # minhash/simhash with shingle_n=3: no doc has a 3-gram, so all are
    # excluded from near-dup consideration — no pairs, no crash (and no
    # sentinel-signature wart pairing every short doc with every other)
    assert minhash_dedup(docs, shingle_n=3, threshold=0.5).count() == 0
    assert simhash_near_dups(docs, max_hamming=3, shingle_n=3).count() == 0
    # at n=2 the identical docs 2 and 3 pair up again
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=2, threshold=0.5).collect()
    }
    assert got == {(2, 3): 1.0}


def test_ngram_jaccard_prefix_filter_matches_bruteforce(spark):
    """Prefix-filtered candidate generation is exact: same pairs as an
    all-pairs token-overlap evaluation, at several thresholds, on a
    corpus with heavy stop-token overlap (the hot-token case the prefix
    filter exists to bound)."""
    rng = np.random.default_rng(11)
    stop = ["the", "of", "and", "a", "to"]
    rare = [f"w{i}" for i in range(60)]
    rows = []
    for i in range(40):
        words = list(
            dict.fromkeys(
                stop + list(rng.choice(rare, size=rng.integers(3, 12), replace=False))
            )
        )
        rows.append((i, " ".join(words)))
    rows += [(100, rows[0][1]), (101, "")]  # exact dup + empty doc
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    # brute force oracle in Python
    sets = {i: set(t.split()) for i, t in rows}
    for t in (0.5, 0.8, 0.9):
        want = {}
        for a in sets:
            for b in sets:
                if a < b and sets[a] and sets[b]:
                    j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                    if round(j, 6) >= t:
                        want[(a, b)] = round(j, 6)
        got = {
            (r["doc_a"], r["doc_b"]): r["jaccard"]
            for r in ngram_jaccard_pairs(docs, n=1, threshold=t).collect()
        }
        assert got == pytest.approx(want)


def test_ngram_jaccard_sparse_and_dense_paths_agree(spark):
    """The two regime plans — dense-vocab bitset popcount (V <= 256)
    and sparse-vocab AllPairs/PPJoin prefix filtering — produce
    identical pairs and values.  The sparse corpus draws from 400 token
    types (forcing the prefix path); the same documents re-tokenized
    into a <=256-type alias vocabulary take the bitset path; both are
    checked against the brute-force oracle."""
    from graphjet_spark.operators import dedup as dd

    rng = np.random.default_rng(23)
    vocab = [f"tok{i}" for i in range(400)]
    rows = []
    for i in range(50):
        words = list(rng.choice(vocab, size=rng.integers(5, 15), replace=False))
        rows.append((i, " ".join(words)))
    # plant near-dups: doc 100+i = doc i plus one extra token
    for i in range(8):
        rows.append((100 + i, rows[i][1] + " tok399"))
    rows.append((200, rows[0][1]))  # exact dup
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    sets = {i: set(t.split()) for i, t in rows}
    t = 0.8
    want = {}
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if round(j, 6) >= t:
                    want[(a, b)] = round(j, 6)

    # 400 token types > _BITSET_VOCAB_MAX: the sparse prefix path runs
    assert len(vocab) > dd._BITSET_VOCAB_MAX
    got_sparse = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=1, threshold=t).collect()
    }
    assert got_sparse == pytest.approx(want)

    # alias every token into a 250-type vocabulary (preserving set
    # semantics per doc is NOT guaranteed by aliasing in general, so
    # recompute the oracle on the aliased docs) — bitset path runs
    alias = {w: f"a{int(w[3:]) % 250}" for w in vocab}
    arows = [
        (i, " ".join(dict.fromkeys(alias[w] for w in t.split())))
        for i, t in rows
    ]
    adocs = spark.createDataFrame(arows, "doc_id bigint, text string")
    asets = {i: set(t.split()) for i, t in arows}
    awant = {}
    for a in asets:
        for b in asets:
            if a < b and asets[a] and asets[b]:
                j = len(asets[a] & asets[b]) / len(asets[a] | asets[b])
                if round(j, 6) >= t:
                    awant[(a, b)] = round(j, 6)
    got_dense = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(adocs, n=1, threshold=t).collect()
    }
    assert got_dense == pytest.approx(awant)


def test_dedup_keep_list_matches_union_find(spark):
    """Keep-list pipeline vs a pure-Python mirror: brute-force Jaccard
    pairs >= t, union-find clustering, min id per group."""
    rng = np.random.default_rng(17)
    vocab = [f"w{i}" for i in range(20)]
    base = [
        " ".join(rng.choice(vocab, size=rng.integers(4, 10), replace=False))
        for _ in range(12)
    ]
    rows = []
    for i in range(30):  # many shared/duplicated docs -> real clusters
        rows.append((i, base[i % len(base)]))
    rows += [(100, ""), (101, "solo doc nothing shares")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")

    t = 0.6
    sets = {i: set(s.split()) for i, s in rows}
    parent = {i: i for i, _ in rows}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                j = len(sets[a] & sets[b]) / len(sets[a] | sets[b])
                if round(j, 6) >= t:
                    parent[find(a)] = find(b)
    groups = {}
    for i, _ in rows:
        groups.setdefault(find(i), []).append(i)
    want = {}
    for members in groups.values():
        m = min(members)
        for i in members:
            want[i] = m

    got = {
        r["doc_id"]: r["keep_id"]
        for r in dedup_keep_list(docs, n=1, threshold=t).collect()
    }
    assert got == want


def test_dedup_keep_list_delta_matches_full_recompute(spark):
    """Incremental keep-list maintenance (delta-ingest: quadratic pair
    work restricted to new x all) is row-identical to a full batch
    recompute, in BOTH similarity regimes (dense-vocab bitset and
    sparse-vocab prefix) and across several random batch splits —
    including batches that bridge two previously separate clusters and
    batches of exact dups of old docs."""
    from pyspark.sql import functions as F

    from graphjet_spark.operators import dedup as dd
    from graphjet_spark.operators.dedup import dedup_keep_list_delta

    for regime, nvocab in (("dense", 30), ("sparse", 400)):
        rng = np.random.default_rng(7 if regime == "dense" else 8)
        vocab = [f"w{i}" for i in range(nvocab)]
        assert (nvocab <= dd._BITSET_VOCAB_MAX) == (regime == "dense")
        base = [
            " ".join(
                rng.choice(vocab, size=rng.integers(6, 14), replace=False)
            )
            for _ in range(10)
        ]
        rows = []
        for i in range(40):
            rows.append((i, base[i % len(base)]))
        rows += [(100, ""), (101, base[0] + " " + vocab[0])]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string")

        full = {
            r["doc_id"]: r["keep_id"]
            for r in dedup_keep_list(docs, n=1, threshold=0.8).collect()
        }
        for mod in (3, 7):
            new_ids = docs.filter(F.pmod("doc_id", F.lit(mod)) == 0).select(
                "doc_id"
            )
            old_docs = docs.join(new_ids, "doc_id", "left_anti")
            old_keeps = dedup_keep_list(old_docs, n=1, threshold=0.8)
            got = {
                r["doc_id"]: r["keep_id"]
                for r in dedup_keep_list_delta(
                    docs, new_ids, old_keeps, n=1, threshold=0.8
                ).collect()
            }
            assert got == full, (regime, mod)


def test_embedding_near_dups_blocked_multiblock(spark):
    """The block-GEMM join returns the same pairs as a numpy all-pairs
    oracle when the data spans multiple blocks (block_rows < n)."""
    rng = np.random.default_rng(8)
    X = rng.standard_normal((90, 16)).astype(np.float64)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in X[i]]) for i in range(len(X))],
        "vec_id bigint, embedding array<float>",
    )
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    S = np.round(Xn @ Xn.T, 6)
    t = 0.3
    want = {
        (a, b)
        for a in range(len(X))
        for b in range(a + 1, len(X))
        if S[a, b] >= t
    }
    got = {
        (r["id_a"], r["id_b"])
        for r in embedding_near_dups(emb, threshold=t, block_rows=16).collect()
    }
    assert got == want


def test_brute_force_topk_exact(spark):
    rng = np.random.default_rng(0)
    vecs = rng.standard_normal((50, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(50)],
        "vec_id bigint, embedding array<float>",
    )
    got = brute_force_topk(emb, [0, 1], k=5).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["neighbor_id"], r["cosine"]))
    # numpy oracle
    v64 = vecs.astype(np.float64)
    sims = v64 @ v64.T / (
        np.linalg.norm(v64, axis=1)[:, None] * np.linalg.norm(v64, axis=1)[None, :]
    )
    for q in (0, 1):
        order = sorted(
            ((round(sims[q, j], 6), -j) for j in range(50) if j != q), reverse=True
        )[:5]
        want = [(-nj, c) for c, nj in order]
        assert by_q[q] == [(n, pytest.approx(c, abs=1e-9)) for n, c in want]


def test_lsh_topk_subset_of_exact_schema(spark):
    rng = np.random.default_rng(1)
    vecs = rng.standard_normal((80, 8)).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(80)],
        "vec_id bigint, embedding array<float>",
    )
    got = lsh_bucketed_topk(emb, [3], k=5, n_planes=4, n_tables=6, seed=7)
    rows = got.collect()
    assert [f.name for f in got.schema.fields] == ["query_id", "neighbor_id", "cosine"]
    assert 0 < len(rows) <= 5
    # deterministic given seed
    rows2 = lsh_bucketed_topk(emb, [3], k=5, n_planes=4, n_tables=6, seed=7).collect()
    assert rows == rows2


def test_ivf_topk_recall(spark):
    rng = np.random.default_rng(3)
    # clustered vectors so IVF cells are meaningful
    centers = rng.standard_normal((4, 8)) * 4
    vecs = np.vstack(
        [centers[i % 4] + rng.standard_normal(8) * 0.5 for i in range(120)]
    ).astype(np.float32)
    emb = spark.createDataFrame(
        [(i, [float(x) for x in vecs[i]]) for i in range(120)],
        "vec_id bigint, embedding array<float>",
    )
    exact = brute_force_topk(emb, [7], k=5).collect()
    approx = ivf_topk(emb, [7], k=5, n_cells=4, n_probe=2, seed=9).collect()
    exact_ids = [r["neighbor_id"] for r in exact]
    approx_ids = [r["neighbor_id"] for r in approx]
    # high recall on clustered data; deterministic given the seed
    assert len(set(exact_ids) & set(approx_ids)) >= 4
    approx2 = ivf_topk(emb, [7], k=5, n_cells=4, n_probe=2, seed=9).collect()
    assert approx == approx2


# ------------------------------------------------------------- text stats


def test_token_count(spark, docs):
    got = {r["doc_id"]: (r["ws_tokens"], r["bpe_ish_tokens"]) for r in token_count(docs).collect()}
    assert got[3] == (9, 9)
    assert got[5] == (0, 0)


def test_quality_score_bounds(spark, docs):
    got = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    assert all(0.0 <= q <= 1.0 for q in got.values())
    assert got[0] > got[5]  # real sentence beats empty string
    assert got[0] > got[4]  # English stopwords present


def test_language_id(spark, docs):
    got = {r["doc_id"]: r["pred_lang"] for r in language_id(docs).collect()}
    assert got[0] == "en"
    assert got[4] == "de"
    assert got[5] == "und"


def test_content_fingerprint_matches_hashlib(spark, docs):
    import hashlib

    got = {r["doc_id"]: r["md5"] for r in content_fingerprint(docs).collect()}
    for doc_id, text in DOCS:
        assert got[doc_id] == hashlib.md5(text.encode()).hexdigest()


def test_winnowing_shared_substring_guarantee(spark, docs):
    got = {
        r["doc_id"]: set(r["fingerprints"])
        for r in winnowing_fingerprints(docs, k=5, window=4).collect()
    }
    assert got[0] == got[1]  # identical docs -> identical fingerprint sets
    assert got[0] & got[2]  # long shared prefix -> shared fingerprints
    assert got[5] == set()


def test_winnowing_fingerprints_mirror(spark):
    """The flat-batch kernel vs a literal per-doc Python mirror of
    Schleimer winnowing (Horner k-gram hash, window mins, distinct,
    ascending) — edge cases: empty, shorter than k, fewer k-grams than
    the window, multi-byte utf-8, repeated chars."""
    k, window = 5, 4
    texts = [
        "",
        "abc",
        "abcd",
        "abcde",  # exactly one k-gram
        "abcdefg",  # 3 k-grams < window
        "abcdefgh",  # nk == window
        "the quick brown fox jumps over the lazy dog",
        "aaaaaaaaaaaaaa",  # all-equal hashes: dedup collapses to one
        "héllo wörld ünïcode text",  # multi-byte utf-8
        "zz yy xx ww vv uu tt ss rr qq pp oo",
    ]
    docs = spark.createDataFrame(
        list(enumerate(texts)), "doc_id bigint, text string"
    )
    got = {
        r["doc_id"]: r["fingerprints"]
        for r in winnowing_fingerprints(docs, k=k, window=window).collect()
    }
    for i, s in enumerate(texts):
        b = s.encode("utf-8")
        if len(b) < k:
            assert got[i] == []
            continue
        kh = []
        for p in range(len(b) - k + 1):
            h = 0
            for c in b[p : p + k]:
                h = (h * 257 + c) % ((1 << 31) - 1)
            kh.append(h)
        if len(kh) < window:
            want = sorted({min(kh)})
        else:
            want = sorted(
                {min(kh[p : p + window]) for p in range(len(kh) - window + 1)}
            )
        assert got[i] == want, f"doc {i}: {got[i]} != {want}"


def test_repetition_stats_mirror(spark):
    """Gopher-style repetition signals vs a literal Counter mirror,
    including a heavily repeated doc and an empty doc."""
    from collections import Counter

    from graphjet_spark.operators.textstats import repetition_stats

    texts = {
        0: "a b a b a b a b",
        1: "the quick brown fox jumps over the lazy dog",
        2: "",
        3: "x",
        4: "spam spam spam spam spam",
    }
    docs = spark.createDataFrame(
        [(k, v) for k, v in texts.items()], "doc_id bigint, text string"
    )
    got = {r["doc_id"]: r for r in repetition_stats(docs).collect()}
    for did, text in texts.items():
        toks = text.split()
        uc = Counter(toks)
        bc = Counter(
            f"{toks[i]} {toks[i + 1]}" for i in range(len(toks) - 1)
        )
        n = len(toks)
        bn = max(len(toks) - 1, 0)
        r = got[did]
        assert r["n_tokens"] == n
        assert r["distinct_token_frac"] == pytest.approx(
            len(uc) / n if n else 0.0, abs=1e-6
        )
        assert r["top_token_frac"] == pytest.approx(
            max(uc.values()) / n if n else 0.0, abs=1e-6
        )
        assert r["distinct_bigram_frac"] == pytest.approx(
            len(bc) / bn if bn else 0.0, abs=1e-6
        )
        assert r["top_bigram_frac"] == pytest.approx(
            max(bc.values()) / bn if bn else 0.0, abs=1e-6
        )


def test_hash_threshold_sample_deterministic(spark):
    """Stratified hash sampler: reproducible, stratum-respecting, and
    within binomial bounds of the target fraction."""
    from pyspark.sql import functions as F

    from graphjet_spark.operators.corpus import hash_threshold_sample

    rows = [
        (i, f"doc number {i} with some text payload {i * 7}", 
         "en" if i % 2 == 0 else "de")
        for i in range(2000)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string, lang string")
    fr = {"en": 0.5, "de": 0.1}
    a = {r["doc_id"] for r in hash_threshold_sample(docs, fr).collect()}
    b = {r["doc_id"] for r in hash_threshold_sample(docs, fr).collect()}
    assert a == b  # deterministic
    en = sum(1 for i in a if i % 2 == 0)
    de = len(a) - en
    assert abs(en - 500) < 80   # ~Binomial(1000, .5), 5+ sigma bound
    assert abs(de - 100) < 60   # ~Binomial(1000, .1)
    # docs in neither stratum with default_frac=0 never appear
    docs2 = docs.withColumn("lang", F.lit("zz"))
    assert hash_threshold_sample(docs2, fr).count() == 0


def test_source_quality_rollup_mirror(spark):
    """Per-source rollup vs recomputing from quality_score output."""
    from graphjet_spark.operators.corpus import source_quality_rollup
    from graphjet_spark.operators.textstats import quality_score

    rows = [
        (i, ("the quick brown fox " * (1 + i % 4)).strip(), f"s{i % 3}")
        for i in range(30)
    ]
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )
    q = {r["doc_id"]: r["quality"] for r in quality_score(docs).collect()}
    got = {r["source"]: r for r in source_quality_rollup(docs).collect()}
    for s in ("s0", "s1", "s2"):
        qs = [q[i] for i, _, src in rows if src == s]
        r = got[s]
        assert r["n_docs"] == len(qs)
        assert r["mean_quality"] == pytest.approx(
            sum(qs) / len(qs), abs=1e-6
        )
        assert r["pass_rate"] == pytest.approx(
            sum(1 for v in qs if v >= 0.7) / len(qs), abs=1e-6
        )
        assert r["keep"] == (r["mean_quality"] >= 0.75)


def test_sessionize_mirror(spark):
    """Gap sessionization vs a literal Python mirror (microsecond
    arithmetic, per-user ordering, tie-break by event_id)."""
    import datetime as dt

    from graphjet_spark.operators.sessions import session_stats, sessionize

    base = dt.datetime(2024, 1, 1)
    rows = []
    eid = 0
    # user 1: three sessions (gaps of 2h within, 10h between)
    for start_h in (0, 12, 30):
        for k in range(3):
            rows.append((eid, base + dt.timedelta(hours=start_h + 2 * k), 1))
            eid += 1
    # user 2: single event
    rows.append((eid, base, 2))
    eid += 1
    # user 3: identical timestamps (tie-break by event_id, one session)
    for _ in range(4):
        rows.append((eid, base, 3))
        eid += 1
    events = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp_ntz, user_id bigint"
    )
    gap = 6 * 3600 * 1_000_000
    sess = {
        (r["user_id"], r["session_id"]): (r["n_events"], r["span_us"])
        for r in sessionize(events, gap_us=gap).collect()
    }
    assert sess == {
        (1, 1): (3, 4 * 3600 * 1_000_000),
        (1, 2): (3, 4 * 3600 * 1_000_000),
        (1, 3): (3, 4 * 3600 * 1_000_000),
        (2, 1): (1, 0),
        (3, 1): (4, 0),
    }
    stats = {
        r["user_id"]: (
            r["n_sessions"],
            r["max_session_events"],
            r["max_session_span_us"],
        )
        for r in session_stats(events, gap_us=gap).collect()
    }
    assert stats == {
        1: (3, 3, 4 * 3600 * 1_000_000),
        2: (1, 1, 0),
        3: (1, 4, 0),
    }


def test_tfidf_top_terms_mirror(spark):
    """TF-IDF top-k vs a literal Counter mirror with rounded-score
    ordering and term tie-break."""
    import math
    from collections import Counter

    from graphjet_spark.operators.textstats import tfidf_top_terms

    texts = {
        0: "apple banana apple cherry",
        1: "banana cherry cherry date",
        2: "apple apple apple egg",
        3: "",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    n = len(texts)
    tfs = {d: Counter(t.split()) for d, t in texts.items()}
    df = Counter(term for c in tfs.values() for term in c)
    want = {}
    for d, c in tfs.items():
        scored = sorted(
            (
                (round(tf * math.log(n / df[t]), 6), t)
                for t, tf in c.items()
            ),
            key=lambda x: (-x[0], x[1]),
        )
        for r, (s, t) in enumerate(scored[:2], 1):
            want[(d, t)] = (s, r)
    got = {
        (r["doc_id"], r["term"]): (r["tfidf"], r["rank"])
        for r in tfidf_top_terms(docs, k=2).collect()
    }
    assert got == pytest.approx(want)


def test_embedding_cluster_stats_mirror(spark):
    """Cluster cohesion vs a numpy mirror on two labeled clusters."""
    from graphjet_spark.operators.ann import embedding_cluster_stats

    rng = np.random.default_rng(5)
    rows, vid = [], 0
    centers = {0: np.array([1.0, 0, 0, 0]), 1: np.array([0, 1.0, 0, 0])}
    vecs = {0: [], 1: []}
    for lbl, c in centers.items():
        for _ in range(8):
            v = c + rng.normal(0, 0.1, 4)
            vecs[lbl].append(v)
            rows.append((vid, [float(x) for x in v], lbl))
            vid += 1
    embs = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = {
        r["label"]: (r["n_vectors"], r["cohesion"])
        for r in embedding_cluster_stats(embs).collect()
    }
    for lbl, vs in vecs.items():
        # mirror must see the float32-rounded vectors, as parquet/Spark do
        arr = np.stack(vs).astype(np.float32).astype(np.float64)
        cen = arr.mean(axis=0)
        cos = (arr @ cen) / (
            np.linalg.norm(arr, axis=1) * np.linalg.norm(cen)
        )
        assert got[lbl][0] == len(vs)
        assert got[lbl][1] == pytest.approx(cos.mean(), abs=1e-6)


def test_decontamination_flags_mirror(spark):
    """Benchmark n-gram overlap flags vs a literal Python mirror."""
    from graphjet_spark.operators.dedup import decontamination_flags

    texts = {
        0: "alpha beta gamma delta epsilon",          # benchmark
        1: "zeta alpha beta gamma eta",               # shares 'alpha beta gamma'
        2: "beta gamma delta theta iota",             # shares 'beta gamma delta'
        3: "completely unrelated words here now",     # clean
        4: "alpha beta zeta gamma delta",             # no shared TRIgram
        5: "xx",                                      # too short for 3-grams
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    bench = docs.where("doc_id = 0").select("doc_id")
    got = {
        r["doc_id"]: r["shared_grams"]
        for r in decontamination_flags(docs, bench, n=3).collect()
    }

    def grams(t, n=3):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    bg = grams(texts[0])
    want = {
        d: len(grams(t) & bg)
        for d, t in texts.items()
        if d != 0 and grams(t) & bg
    }
    assert got == want
    assert 3 not in got and 4 not in got and 5 not in got


def test_event_burstiness_mirror(spark):
    """Burstiness vs a numpy mirror: periodic user -> B near -1,
    bursty user -> B > 0, single-event user omitted."""
    import datetime as dt

    from graphjet_spark.operators.sessions import event_burstiness

    t0 = dt.datetime(2024, 1, 1)
    rows, eid = [], 0
    # user 1: perfectly periodic hourly events
    for k in range(10):
        rows.append((eid, t0 + dt.timedelta(hours=k), 1)); eid += 1
    # user 2: bursts (1-min spacing) separated by week gaps
    for burst in range(3):
        for k in range(4):
            rows.append(
                (eid, t0 + dt.timedelta(days=7 * burst, minutes=k), 2)
            ); eid += 1
    # user 3: single event
    rows.append((eid, t0, 3)); eid += 1
    events = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp_ntz, user_id bigint"
    )
    got = {
        r["user_id"]: r for r in event_burstiness(events).collect()
    }
    assert 3 not in got
    for uid in (1, 2):
        ts = sorted(
            int((t - dt.datetime(1970, 1, 1)).total_seconds() * 1e6)
            for e, t, u in rows
            if u == uid
        )
        gaps = np.diff(ts).astype(np.float64)
        mu, sigma = gaps.mean(), gaps.std()
        b = (sigma - mu) / (sigma + mu) if sigma + mu > 0 else 0.0
        assert got[uid]["n_gaps"] == len(gaps)
        assert got[uid]["total_gap_us"] == int(gaps.sum())
        assert got[uid]["burstiness"] == pytest.approx(b, abs=1e-6)
    assert got[1]["burstiness"] == pytest.approx(-1.0, abs=1e-6)
    assert got[2]["burstiness"] > 0.3


def test_event_transitions_mirror(spark):
    """Transition matrix vs a Counter mirror over per-user sequences."""
    import datetime as dt
    from collections import Counter

    from graphjet_spark.operators.sessions import event_transitions

    t0 = dt.datetime(2024, 1, 1)
    seqs = {1: ["a", "b", "a", "c"], 2: ["b", "b"], 3: ["c"]}
    rows, eid = [], 0
    for uid, seq in seqs.items():
        for k, t in enumerate(seq):
            rows.append((eid, t0 + dt.timedelta(minutes=k), uid, t))
            eid += 1
    events = spark.createDataFrame(
        rows, "event_id bigint, ts timestamp_ntz, user_id bigint, event_type string"
    )
    got = {
        (r["type_from"], r["type_to"]): (r["cnt"], r["p"])
        for r in event_transitions(events).collect()
    }
    c = Counter()
    for seq in seqs.values():
        for x, y in zip(seq, seq[1:]):
            c[(x, y)] += 1
    tot = Counter()
    for (x, _), n in c.items():
        tot[x] += n
    want = {k: (n, round(n / tot[k[0]], 6)) for k, n in c.items()}
    assert got == pytest.approx(want)


def test_tfidf_cosine_pairs_mirror(spark):
    """TF-IDF cosine pairs vs a numpy mirror (including the df-cap
    dropping a ubiquitous term)."""
    import math

    from graphjet_spark.operators.dedup import tfidf_cosine_pairs

    texts = {
        0: "common alpha beta gamma",
        1: "common alpha beta delta",
        2: "common epsilon zeta eta",
        3: "common theta iota kappa",
        4: "common theta iota kappa",
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    n = len(texts)
    cap = 4  # 'common' has df=5 > cap -> dropped
    tfs = {d: {} for d in texts}
    df = {}
    for d, t in texts.items():
        for w in t.split():
            tfs[d][w] = tfs[d].get(w, 0) + 1
        for w in set(t.split()):
            df[w] = df.get(w, 0) + 1
    vecs = {}
    for d, c in tfs.items():
        v = {
            w: tf * math.log(n / df[w])
            for w, tf in c.items()
            if df[w] <= cap
        }
        nrm = math.sqrt(sum(x * x for x in v.values()))
        vecs[d] = {w: x / nrm for w, x in v.items()}
    want = {}
    for a in vecs:
        for b in vecs:
            if a < b:
                cos = round(
                    sum(
                        vecs[a][w] * vecs[b][w]
                        for w in vecs[a]
                        if w in vecs[b]
                    ),
                    6,
                )
                if cos >= 0.5:
                    want[(a, b)] = cos
    got = {
        (r["doc_a"], r["doc_b"]): r["cosine"]
        for r in tfidf_cosine_pairs(
            docs, threshold=0.5, max_df_frac=cap / len(texts)
        ).collect()
    }
    assert got == pytest.approx(want)
    assert (3, 4) in got and got[(3, 4)] == pytest.approx(1.0, abs=1e-6)


def test_exact_substring_pairs_matches_mirror(spark, docs):
    """Window-hash exact-substring dup pairs equal a literal
    sliding-window mirror of Lee et al.'s shared-span criterion."""
    from collections import defaultdict

    from graphjet_spark.operators.dedup import exact_substring_pairs

    window = 8
    wins = defaultdict(set)
    for doc_id, text in DOCS:
        toks = [t for t in text.split() if t]
        for i in range(len(toks) - window + 1):
            wins[" ".join(toks[i : i + window])].add(doc_id)
    want = defaultdict(int)
    for ids in wins.values():
        ids = sorted(ids)
        if not 2 <= len(ids) <= 50:
            continue
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                want[(a, b)] += 1
    got = {
        (r["doc_a"], r["doc_b"]): r["shared_windows"]
        for r in exact_substring_pairs(
            spark.createDataFrame(DOCS, "doc_id bigint, text string"),
            window=window,
        ).collect()
    }
    assert got == dict(want)
    assert got[(0, 1)] == 7 and got[(0, 2)] == 5  # full dup vs prefix run


def test_substring_dedup_rewrite_matches_mirror(spark):
    """The corpus rewrite (keep the globally-first occurrence of every
    duplicated window, drop covered tokens elsewhere) equals a literal
    per-document mirror; exact dups empty out, the first copy survives
    verbatim, in-doc repetition collapses, short docs pass through."""
    from graphjet_spark.operators.dedup import substring_dedup_rewrite

    window = 4
    corpus = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta epsilon zeta eta theta"),  # exact dup
        # shares the 5-token run "gamma delta epsilon zeta eta" with 0
        (2, "intro words gamma delta epsilon zeta eta outro words"),
        # in-doc repetition: "one two three four" appears twice
        (3, "one two three four filler one two three four"),
        (4, "too short here"),  # < window tokens: untouched
        (5, ""),
    ]

    firsts: dict[str, tuple[int, int]] = {}
    for doc_id, text in corpus:
        toks = [t for t in text.split() if t]
        for i in range(len(toks) - window + 1):
            s = " ".join(toks[i : i + window])
            key = (doc_id, i + 1)
            if s not in firsts or key < firsts[s]:
                firsts[s] = key
    want = {}
    for doc_id, text in corpus:
        toks = [t for t in text.split() if t]
        dropped: set[int] = set()
        for i in range(len(toks) - window + 1):
            s = " ".join(toks[i : i + window])
            if firsts[s] != (doc_id, i + 1):
                dropped.update(range(i + 1, i + 1 + window))
        kept = [t for j, t in enumerate(toks, 1) if j not in dropped]
        want[doc_id] = (" ".join(kept), len(toks), len(dropped))

    got = {
        r["doc_id"]: (r["kept_text"], r["n_tokens"], r["n_dropped"])
        for r in substring_dedup_rewrite(
            spark.createDataFrame(corpus, "doc_id bigint, text string"),
            window=window,
        ).collect()
    }
    assert got == want
    assert got[0][0] == corpus[0][1]  # first copy survives verbatim
    assert got[1] == ("", 8, 8)  # exact dup rewrites to empty
    assert got[2][0] == "intro words outro words"  # shared run excised
    assert got[3][0] == "one two three four filler"  # in-doc repeat collapses
    assert got[4] == ("too short here", 3, 0)
    assert got[5] == ("", 0, 0)


def test_crossdoc_dup_fraction_mirror(spark, docs):
    """Inter-document duplicated-n-gram fraction vs a literal mirror
    over the fixture corpus (exact dup pair, a near dup, an island,
    and an empty doc)."""
    from graphjet_spark.operators.dedup import crossdoc_dup_fraction

    n = 3
    grams: dict[int, set[str]] = {}
    for doc_id, text in DOCS:
        toks = text.split()
        grams[doc_id] = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    df: dict[str, int] = {}
    for gs in grams.values():
        for g in gs:
            df[g] = df.get(g, 0) + 1
    want = {}
    for doc_id, gs in grams.items():
        dup = sum(1 for g in gs if df[g] >= 2)
        want[doc_id] = (
            len(gs),
            dup,
            round(dup / len(gs), 6) if gs else 0.0,
        )

    got = {
        r["doc_id"]: (r["n_grams"], r["dup_grams"], r["dup_fraction"])
        for r in crossdoc_dup_fraction(spark.createDataFrame(
            DOCS, "doc_id bigint, text string"
        ), n=n).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0], k
        assert got[k][1] == want[k][1], k
        assert got[k][2] == pytest.approx(want[k][2], abs=1e-9)
    # the exact-dup pair shares every gram; the island shares none
    assert got[0][2] == 1.0 and got[1][2] == 1.0 and got[3][2] == 0.0


def test_unigram_logprob_mirror(spark, docs):
    """Corpus-unigram mean log-likelihood vs a literal mirror; empty
    docs are absent, rarer-vocabulary docs score lower."""
    import math

    from graphjet_spark.operators.textstats import unigram_logprob

    counts: dict[str, int] = {}
    for _, text in DOCS:
        for t in text.split():
            counts[t] = counts.get(t, 0) + 1
    total = sum(counts.values())
    want = {}
    for doc_id, text in DOCS:
        toks = text.split()
        if not toks:
            continue
        want[doc_id] = (
            len(toks),
            sum(math.log(counts[t] / total) for t in toks) / len(toks),
        )

    got = {
        r["doc_id"]: (r["n_tokens"], r["avg_logprob"])
        for r in unigram_logprob(spark.createDataFrame(
            DOCS, "doc_id bigint, text string"
        )).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][0] == want[k][0]
        assert got[k][1] == pytest.approx(want[k][1], abs=1e-6)
    # the German doc's vocabulary is rarer than the repeated English one
    assert got[4][1] < got[0][1]


def test_pack_sequences_mirror(spark):
    """Concat-and-chunk packing vs a literal Python mirror (hash
    order, cumulative offsets, chunk boundaries), plus partition-count
    independence of the two-phase prefix sum."""
    import hashlib

    from graphjet_spark.operators.corpus import pack_sequences

    rows = [
        (0, "a b c d e"),          # 5 tokens
        (1, "x " * 7),             # 7 tokens (trailing space trimmed)
        (2, ""),                   # dropped: zero tokens
        (3, "one"),                # 1 token
        (4, "p q r s t u v w x y z a b c"),  # 14 tokens
        (5, "m n"),                # 2 tokens
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    seq_len = 8

    def h(i: int) -> int:
        return int(hashlib.md5(f"pack:{i}".encode()).hexdigest()[:15], 16)

    toks = {i: len(t.split()) for i, t in rows if t.strip()}
    order = sorted(toks, key=lambda i: (h(i), i))
    want, off = {}, 0
    for i in order:
        n = toks[i]
        want[i] = (n, off, off // seq_len, (off + n - 1) // seq_len)
        off += n

    for parts in (1, 3, 16):
        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["start_offset"],
                r["seq_first"],
                r["seq_last"],
            )
            for r in pack_sequences(
                docs, seq_len=seq_len, partitions=parts
            ).collect()
        }
        assert got == want, f"partitions={parts}"

    out = pack_sequences(docs, seq_len=seq_len, partitions=4)
    nseq = {r["doc_id"]: r["n_seqs"] for r in out.collect()}
    for i, (n, off, sf, sl) in want.items():
        assert nseq[i] == sl - sf + 1


def test_kmeans_assign_mirror(spark):
    """Deterministic-hash-init Lloyd vs a literal numpy mirror (same
    init rank, same per-step rounding, same argmin tie-break), plus the
    clustering property on well-separated blobs: members of the same
    planted blob land in the same cluster."""
    import hashlib

    from graphjet_spark.operators.ann import kmeans_assign

    rng = np.random.RandomState(7)
    centers = np.array([[5.0, 0, 0, 0], [0, 5.0, 0, 0], [0, 0, 5.0, 0]])
    vecs = []
    for b in range(3):
        for j in range(6):
            vecs.append(centers[b] + rng.normal(0, 0.05, 4))
    vecs = np.array(vecs, dtype=np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    k, iters = 3, 2

    def h(i: int) -> int:
        return int(hashlib.md5(f"km:{i}".encode()).hexdigest()[:15], 16)

    x = vecs.astype(np.float64)
    order = sorted(range(len(rows)), key=lambda i: (h(i), i))
    cent = x[order[:k]].copy()
    for _t in range(iters):
        d2 = np.round(
            ((x[:, None, :] - cent[None, :, :]) ** 2).sum(axis=2), 9
        )
        assign = d2.argmin(axis=1)  # ties -> smaller index, same rule
        for c in range(k):
            m = assign == c
            if m.any():
                cent[c] = np.round(x[m].mean(axis=0), 12)

    got = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, k=k, iters=iters).collect()
    }
    assert got == {i: int(assign[i]) for i in range(len(rows))}
    for b in range(3):
        blob = {got[b * 6 + j] for j in range(6)}
        assert len(blob) == 1, f"blob {b} split across clusters {blob}"


def test_containment_pairs_mirror(spark, docs):
    """Asymmetric n-gram containment vs a literal brute-force mirror,
    plus the asymmetry case the op exists for: a short quote fully
    embedded in a long doc (containment 1.0 one way, low the other,
    tiny Jaccard both ways)."""
    from graphjet_spark.operators.dedup import containment_pairs

    corpus = DOCS + [
        (6, "jumps over the lazy dog"),  # quote embedded in docs 0-2
    ]
    n, t = 2, 0.4
    grams: dict[int, set[str]] = {}
    for doc_id, text in corpus:
        toks = text.split()
        grams[doc_id] = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    want = {}
    for a, ga in grams.items():
        if not ga:
            continue
        for b, gb in grams.items():
            if a == b:
                continue
            c = round(len(ga & gb) / len(ga), 6)
            if c >= t:
                want[(a, b)] = c
    got = {
        (r["doc_a"], r["doc_b"]): r["containment"]
        for r in containment_pairs(
            spark.createDataFrame(corpus, "doc_id bigint, text string"),
            n=n,
            threshold=t,
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k] == pytest.approx(want[k], abs=1e-9)
    # quote fully contained in its sources; reverse direction below t
    assert got[(6, 0)] == 1.0 and got[(6, 2)] == 1.0
    assert (0, 6) not in got


def test_containment_regime_equality(spark, monkeypatch):
    """The blocked in-task intersection path and the prefix-filtered
    candidate path are the SAME census: identical qualifying pairs and
    identical rounded values on a corpus with dup classes, subset
    quotes, and containment ties."""
    import graphjet_spark.operators.dedup as dd

    corpus = [
        (10, "a b c d"),
        (14, "a b c d"),          # dup class with 10
        (11, "a b c x"),
        (20, "a b c x"),          # dup class with 11
        (12, "a b d y"),
        (13, "b c d z"),
        (15, "a b c d e f g h"),  # superset: 10/14 contained at 1.0
    ]
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")

    def census(df):
        return sorted(
            (r.doc_a, r.doc_b, r.containment)
            for r in dd.containment_pairs(df, n=1, threshold=0.7).collect()
        )

    blocked = census(df)  # tiny vocab -> blocked regime
    monkeypatch.setattr(dd, "_CONTAIN_BLOCK_VOCAB_MAX", 0)
    prefix = census(df)
    assert blocked == prefix and len(blocked) > 0


def test_containment_topk_matches_census_slice(spark, monkeypatch):
    """containment_topk == containment_pairs ranked by (containment
    DESC, doc_b ASC) and sliced per doc — exercised on ties at 1.0
    (intra-mate vs superset), cross-class ties at 0.75 with interleaved
    doc ids, dup classes, and every k in 1..5; both vocab regimes."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    import graphjet_spark.operators.dedup as dd

    corpus = [
        (10, "a b c d"),
        (14, "a b c d"),
        (11, "a b c x"),
        (20, "a b c x"),
        (12, "a b d y"),
        (13, "b c d z"),
        (15, "a b c d e f g h"),
    ]
    df = spark.createDataFrame(corpus, "doc_id bigint, text string")
    census = dd.containment_pairs(df, n=1, threshold=0.7)
    for vocab_max in (dd._CONTAIN_BLOCK_VOCAB_MAX, 0):
        monkeypatch.setattr(dd, "_CONTAIN_BLOCK_VOCAB_MAX", vocab_max)
        for k in range(1, 6):
            w = Window.partitionBy("doc_a").orderBy(
                F.desc("containment"), F.asc("doc_b")
            )
            want = sorted(
                map(
                    tuple,
                    census.withColumn("rank", F.row_number().over(w))
                    .filter(F.col("rank") <= k)
                    .select("doc_a", "doc_b", "containment", "rank")
                    .collect(),
                )
            )
            got = sorted(
                map(
                    tuple,
                    dd.containment_topk(
                        df, n=1, threshold=0.7, k=k
                    ).collect(),
                )
            )
            assert got == want, (vocab_max, k)


def test_bm25_topk_mirror(spark, docs):
    """Okapi BM25 (+1-in-log IDF) vs a literal mirror over the fixture
    corpus; ranking and scores must match to 1e-9."""
    import math

    from graphjet_spark.operators.textstats import bm25_topk

    terms = ("quick", "spark", "fuchs")
    k1, b = 1.2, 0.75
    toklists = {d: [t for t in txt.split() if t] for d, txt in DOCS}
    dls = {d: len(ts) for d, ts in toklists.items() if ts}
    n_docs = len(dls)
    avgdl = sum(dls.values()) / n_docs
    tf = {
        (d, t): toklists[d].count(t)
        for d in dls
        for t in terms
        if toklists[d].count(t) > 0
    }
    dfreq = {t: sum(1 for (d, tt) in tf if tt == t) for t in terms}
    want = {}
    for d in dls:
        hits = [(t, f) for (dd, t), f in tf.items() if dd == d]
        if not hits:
            continue
        s = 0.0
        for t, f in hits:
            idf = math.log(
                1.0 + (n_docs - dfreq[t] + 0.5) / (dfreq[t] + 0.5)
            )
            s += idf * (f * (k1 + 1.0)) / (
                f + k1 * ((1.0 - b) + b * dls[d] / avgdl)
            )
        want[d] = (len(hits), round(s, 6))
    got = {
        r["doc_id"]: (r["n_terms"], r["bm25"])
        for r in bm25_topk(docs, terms, k1=k1, b=b, k=10).collect()
    }
    assert got.keys() == want.keys()
    for d in want:
        assert got[d][0] == want[d][0]
        assert got[d][1] == pytest.approx(want[d][1], abs=1e-9)


def test_mutual_nn_pairs_mirror_and_planted(spark):
    """mutual_nn_pairs vs a numpy mirror (same round-6 + id-tiebreak
    top-1 rules), plus planted near-identical cross-corpus twins that
    MUST pair up mutually."""
    from graphjet_spark.operators.ann import mutual_nn_pairs

    rng = np.random.default_rng(3)
    a = rng.standard_normal((30, 8)).astype(np.float32)
    b = rng.standard_normal((25, 8)).astype(np.float32)
    # plant twins: b[0] ~ a[5], b[1] ~ a[17]
    b[0] = a[5] + 0.01 * rng.standard_normal(8).astype(np.float32)
    b[1] = a[17] + 0.01 * rng.standard_normal(8).astype(np.float32)
    rows = [
        (i, [float(x) for x in a[i]], 0) for i in range(30)
    ] + [
        (100 + j, [float(x) for x in b[j]], 9) for j in range(25)
    ]
    emb = spark.createDataFrame(
        rows, "vec_id bigint, embedding array<float>, label int"
    )
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in mutual_nn_pairs(emb, split_label=5).collect()
    }

    av = a.astype(np.float64)
    bv = b.astype(np.float64)
    cos = (av @ bv.T) / (
        np.linalg.norm(av, axis=1)[:, None]
        * np.linalg.norm(bv, axis=1)[None, :]
    )
    cos = np.round(cos, 6)
    want = {}
    for i in range(30):
        j = min(
            range(25), key=lambda j: (-cos[i, j], 100 + j)
        )
        # mutual iff i is also j's best (same rounded order, id ties)
        i2 = min(range(30), key=lambda i2: (-cos[i2, j], i2))
        if i2 == i:
            want[(i, 100 + j)] = cos[i, j]
    assert set(got) == set(want)
    for k, v in want.items():
        assert abs(got[k] - v) < 2e-6
    assert (5, 100) in got and (17, 101) in got

    # multi-block path: tiny block_rows forces many (i, j) block-GEMM
    # tasks; the blocked candidate union must reproduce the exact
    # single-block result bit-for-bit (same rescore, same windows)
    got_blocked = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in mutual_nn_pairs(emb, split_label=5, block_rows=8).collect()
    }
    assert got_blocked == got


def test_bpe_merge_stats_mirror(spark):
    """bpe_merge_stats vs a literal Counter mirror of the Sennrich
    first-round pair count (word-type frequencies, </w> marker)."""
    from collections import Counter

    from graphjet_spark.operators.textstats import bpe_merge_stats

    texts = [
        "low low lower lowest",
        "new newer newest new",
        "a ab low",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    wfreq = Counter(w for t in texts for w in t.split())
    want = Counter()
    for w, f in wfreq.items():
        for i in range(len(w) - 1):
            want[f"{w[i]} {w[i + 1]}"] += f
        want[f"{w[-1]} </w>"] += f
    got = [
        (r["pair"], r["pair_count"])
        for r in bpe_merge_stats(docs, k=10).collect()
    ]
    want_top = sorted(want.items(), key=lambda x: (-x[1], x[0]))[:10]
    assert got == want_top
    # the argmax row is BPE's first merge: 'lo' pairs (in low/lower/
    # lowest x5 occurrences) dominate this corpus
    assert got[0][0] in ("l o", "o w")


def test_coverage_select_greedy_mirror(spark):
    """coverage_select vs a literal greedy mirror; gains must be
    non-increasing (submodularity) and the covered total must equal
    the union of the winners' gram sets."""
    from graphjet_spark.operators.corpus import coverage_select

    texts = [
        "a b c d e f",          # 5 bigrams, broad
        "a b c d",              # subset of 0
        "x y z w",              # disjoint 3 bigrams
        "a b x y q r",          # overlaps both + 2 new
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )

    def grams(t):
        w = t.split()
        return {f"{w[i]} {w[i+1]}" for i in range(len(w) - 1)}

    covered: set = set()
    want = []
    for r in range(1, 5):
        gains = {
            i: len(grams(t) - covered)
            for i, t in enumerate(texts)
            if len(grams(t) - covered) > 0
        }
        if not gains:
            break
        doc = min(gains, key=lambda i: (-gains[i], i))
        covered |= grams(texts[doc])
        want.append((r, doc, gains[doc], len(covered)))
    got = [
        (r["round"], r["doc_id"], r["gain"], r["covered_total"])
        for r in coverage_select(docs, k=4, n=2).orderBy("round").collect()
    ]
    assert got == want
    gains = [g for _, _, g, _ in got]
    assert gains == sorted(gains, reverse=True)  # submodular curve


def test_pii_scrub_planted(spark):
    """pii_scrub on planted PII: counts per family, placeholders in the
    scrubbed text, clean docs untouched, and no double-counting when an
    earlier family consumes the text (email host != phone)."""
    from graphjet_spark.operators.textstats import pii_scrub

    texts = [
        "contact alice.smith+x@example.co.uk or bob@mail.org today",
        "server at 10.0.255.7 answered; backup 192.168.1.1 did not",
        "call +1 (415) 555-0199 or 020-7946-0958 now",
        "mixed: eve@host.io from 8.8.8.8 dialed 646 555 2211",
        "perfectly clean text with no identifiers at all",
        "",
    ]
    docs = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id bigint, text string"
    )
    rows = {r["doc_id"]: r for r in pii_scrub(docs).collect()}
    assert (rows[0]["n_email"], rows[0]["n_ipv4"], rows[0]["n_phone"]) == (2, 0, 0)
    assert rows[0]["text_scrubbed"] == "contact <EMAIL> or <EMAIL> today"
    assert (rows[1]["n_email"], rows[1]["n_ipv4"], rows[1]["n_phone"]) == (0, 2, 0)
    assert rows[2]["n_phone"] == 2 and "<PHONE>" in rows[2]["text_scrubbed"]
    assert (rows[3]["n_email"], rows[3]["n_ipv4"], rows[3]["n_phone"]) == (1, 1, 1)
    assert rows[4]["text_scrubbed"] == texts[4]
    assert all(rows[4][c] == 0 for c in ("n_email", "n_ipv4", "n_phone"))


def test_chunk_documents_mirror(spark):
    """Chunker vs a literal Python mirror: overlap reconstruction,
    short tails, exactly-one-chunk docs, empty docs dropped."""
    from graphjet_spark.operators.corpus import chunk_documents

    texts = {
        0: " ".join(f"t{i}" for i in range(10)),  # 10 toks: 3 chunks
        1: "a b c",                               # 1 short chunk
        2: "",                                    # no chunks
        3: " ".join(f"u{i}" for i in range(4)),   # exactly chunk size
    }
    docs = spark.createDataFrame(
        list(texts.items()), "doc_id bigint, text string"
    )
    got = sorted(
        (r["doc_id"], r["chunk_idx"], r["start_tok"],
         r["n_chunk_tokens"], r["chunk_text"])
        for r in chunk_documents(
            docs, chunk_tokens=4, overlap=2
        ).collect()
    )
    want = []
    for d, t in texts.items():
        w = t.split()
        for ci, s in enumerate(range(0, len(w), 2)):
            piece = w[s : s + 4]
            want.append((d, ci, s + 1, len(piece), " ".join(piece)))
    assert got == sorted(want)
    # every token of doc 0 appears in some chunk (coverage)
    covered = set()
    for d, _, s, n, _ in got:
        if d == 0:
            covered.update(range(s, s + n))
    assert covered == set(range(1, 11))


def test_semdedup_keep_list_mirror(spark):
    """SemDeDup keep rule vs a literal numpy mirror (within-cluster max
    round-6 cosine to smaller ids, sentinel -2.0, keep = below tau),
    with planted near-identical twins that must be dropped and
    block_rows=4 forcing the multi-block cogroup path."""
    from graphjet_spark.operators.ann import kmeans_assign
    from graphjet_spark.operators.dedup import semdedup_keep_list

    rng = np.random.RandomState(31)
    base = rng.normal(0, 1.0, (24, 6))
    twins = base[:4] + rng.normal(0, 1e-4, (4, 6))
    vecs = np.vstack([base, twins]).astype(np.float32)
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    k, iters, tau = 3, 2, 0.9

    clusters = {
        r["vec_id"]: r["cluster"]
        for r in kmeans_assign(df, k=k, iters=iters).collect()
    }
    x = vecs.astype(np.float64)
    nrm = np.linalg.norm(x, axis=1)
    exp = {}
    for i in range(len(rows)):
        mates = [j for j in range(i) if clusters[j] == clusters[i]]
        mc = (
            round(
                max(float(x[i] @ x[j] / (nrm[i] * nrm[j])) for j in mates), 6
            )
            if mates
            else -2.0
        )
        exp[i] = (clusters[i], mc, mc < tau)

    got = {
        r["vec_id"]: (r["cluster"], r["max_cos_smaller"], r["keep"])
        for r in semdedup_keep_list(
            df, k=k, iters=iters, threshold=tau, block_rows=4
        ).collect()
    }
    assert set(got) == set(exp)
    for i in exp:
        assert got[i][0] == exp[i][0], (i, got[i], exp[i])
        assert abs(got[i][1] - exp[i][1]) < 1e-9, (i, got[i], exp[i])
        assert got[i][2] == exp[i][2], (i, got[i], exp[i])
    # the planted twins sit on top of their base vector: same cluster,
    # cosine ~1 to a smaller id => dropped
    for t in range(24, 28):
        assert got[t][2] is False or got[t][2] == False  # noqa: E712
        assert got[t][1] > 0.99


def test_gram_novelty_mirror(spark, docs):
    """Arrival-order n-gram novelty vs a literal mirror: doc 0 owns all
    its grams, its exact dup (doc 1) owns none, the island owns all."""
    from graphjet_spark.operators.dedup import gram_novelty

    n = 3
    grams: dict[int, set[str]] = {}
    for doc_id, text in DOCS:
        toks = text.split()
        grams[doc_id] = {
            " ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)
        }
    first: dict[str, int] = {}
    for doc_id in sorted(grams):
        for g in grams[doc_id]:
            first.setdefault(g, doc_id)
    want = {}
    for doc_id, gs in grams.items():
        nov = sum(1 for g in gs if first[g] == doc_id)
        want[doc_id] = (
            len(gs), nov, round(nov / len(gs), 6) if gs else 0.0
        )
    got = {
        r["doc_id"]: (r["n_grams"], r["novel_grams"], r["novelty"])
        for r in gram_novelty(
            spark.createDataFrame(DOCS, "doc_id bigint, text string"), n=n
        ).collect()
    }
    assert got.keys() == want.keys()
    for k in want:
        assert got[k][:2] == want[k][:2], k
        assert got[k][2] == pytest.approx(want[k][2], abs=1e-9)
    assert got[0][2] == 1.0 and got[1][2] == 0.0 and got[3][2] == 1.0


def test_dsir_logratio_mirror(spark):
    """DSIR importance log-ratio vs a literal numpy mirror (add-1
    smoothed unigram models, np.percentile linear interpolation =
    Spark percentile); en-typical docs rank above the de doc."""
    import numpy as np

    from graphjet_spark.operators.textstats import dsir_logratio

    rows = [
        (0, "en", "the cat sat on the mat"),
        (1, "en", "the dog sat on the log"),
        (2, "en", "a cat and a dog met"),
        (3, "de", "der hund und die katze schlafen"),
        (4, "de", "die katze sitzt auf der matte"),
        (5, "xx", "the cat sat on the mat"),  # en text mislabeled
    ]
    toks_by_doc = {i: t.split() for i, _, t in rows}
    all_toks = [w for ws in toks_by_doc.values() for w in ws]
    en_toks = [w for i, lg, t in rows if lg == "en" for w in t.split()]
    cr: dict[str, int] = {}
    ct: dict[str, int] = {}
    for w in all_toks:
        cr[w] = cr.get(w, 0) + 1
    for w in en_toks:
        ct[w] = ct.get(w, 0) + 1
    v, nr, nt = len(cr), len(all_toks), len(en_toks)
    lterm = {
        w: np.log((ct.get(w, 0) + 1) * (nr + v) / ((cr[w] + 1) * (nt + v)))
        for w in cr
    }
    score = {
        i: round(float(np.mean([lterm[w] for w in ws])), 6)
        for i, ws in toks_by_doc.items()
    }
    thr = float(np.percentile(sorted(score.values()), 75))
    got = {
        r["doc_id"]: (r["n_tokens"], r["log_ratio"], r["selected"])
        for r in dsir_logratio(
            spark.createDataFrame(rows, "doc_id bigint, lang string, text string"),
            target_lang="en",
            select_quantile=0.75,
        ).collect()
    }
    assert got.keys() == score.keys()
    for i in score:
        assert got[i][0] == len(toks_by_doc[i])
        assert got[i][1] == pytest.approx(score[i], abs=1e-9)
        assert got[i][2] == int(score[i] >= thr)
    # mislabeled-but-en-typical text outranks genuinely-de docs
    assert got[5][1] > got[3][1] and got[5][1] > got[4][1]


def test_source_boilerplate_planted_template(spark):
    """Host-scoped boilerplate vs a literal mirror: a planted per-site
    template bigram is flagged on its own site only; globally-unique
    and cross-site grams are never flagged; a site with one doc flags
    nothing (sdf >= 2 floor)."""
    import math

    from graphjet_spark.operators.textstats import source_boilerplate

    rows = [
        # siteA: 4 docs, 3 share the "cookie banner" template prefix
        (0, "cookie banner here alpha beta", "siteA"),
        (1, "cookie banner here gamma delta", "siteA"),
        (2, "cookie banner here epsilon zeta", "siteA"),
        (3, "eta theta iota kappa muon", "siteA"),
        # siteB: the SAME words never repeat within the site -> no flags
        (4, "cookie banner here lambda mu", "siteB"),
        (5, "nu xi omicron pi rho", "siteB"),
        # siteC: single doc -> nothing can reach the >= 2 floor
        (6, "cookie banner here cookie banner", "siteC"),
    ]
    n, frac = 2, 0.5
    docs = spark.createDataFrame(
        rows, "doc_id bigint, text string, source string"
    )

    def bigrams(t):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}

    by_source: dict[str, list[int]] = {}
    for doc_id, text, src in rows:
        by_source.setdefault(src, []).append(doc_id)
    want = {}
    for src, ids in by_source.items():
        sdf: dict[str, int] = {}
        for d in ids:
            for g in bigrams(rows[d][1]):
                sdf[g] = sdf.get(g, 0) + 1
        floor = math.ceil(frac * len(ids))
        flagged = {g for g, c in sdf.items() if c >= 2 and c >= floor}
        for d in ids:
            gs = bigrams(rows[d][1])
            b = sum(1 for g in gs if g in flagged)
            want[d] = (len(gs), b, round(b / len(gs), 6) if gs else 0.0)

    got = {
        r["doc_id"]: (r["n_grams"], r["boiler_grams"], r["boiler_fraction"])
        for r in source_boilerplate(docs, n=n, frac=frac).collect()
    }
    assert got == want
    # the planted template is flagged on siteA...
    assert got[0][1] > 0 and got[1][1] > 0 and got[2][1] > 0
    # ...not on the non-repeating site, the clean doc, or the singleton
    assert got[3][1] == 0 and got[4][1] == 0 and got[5][1] == 0
    assert got[6][1] == 0


def test_kn_bigram_model_hand_computed(spark):
    """Interpolated Kneser-Ney on a corpus small enough to smooth by
    hand.  Bigrams: (a,b) x2, (b,a) x1, (b,c) x2 -> T = 3 types, every
    continuation count is 1, so Pcont = 1/3 uniformly and

      p(b|a) = (2-.75)/2 + .75*(1/2)*(1/3) = 3/4
      p(a|b) = (1-.75)/3 + .75*(2/3)*(1/3) = 1/4
      p(c|b) = (2-.75)/3 + .75*(2/3)*(1/3) = 7/12

    Left-context mass stays < 1 (the discount reserve for unseen
    continuations): sum p(.|a) = 3/4, sum p(.|b) = 5/6.
    """
    import math

    from graphjet_spark.operators.lm import (
        kn_bigram_model,
        kn_doc_perplexity,
    )

    docs = spark.createDataFrame(
        [(1, "a b a b c"), (2, "b c"), (3, "lonely"), (4, "  ")],
        "doc_id long, text string",
    )
    m = {(r["w1"], r["w2"]): r for r in kn_bigram_model(docs).collect()}
    assert set(m) == {("a", "b"), ("b", "a"), ("b", "c")}
    assert m[("a", "b")]["c"] == 2
    assert abs(m[("a", "b")]["p_kn"] - 0.75) < 1e-12
    assert abs(m[("b", "a")]["p_kn"] - 0.25) < 1e-12
    assert abs(m[("b", "c")]["p_kn"] - 7 / 12) < 1e-12

    ppl = {r["doc_id"]: r for r in kn_doc_perplexity(docs).collect()}
    assert set(ppl) == {1, 2}  # 1-token and whitespace docs dropped
    assert ppl[2]["n_bigrams"] == 1
    assert ppl[2]["perplexity"] == round(12 / 7, 6)
    want = math.exp(
        -(2 * math.log(0.75) + math.log(0.25) + math.log(7 / 12)) / 4
    )
    assert ppl[1]["n_bigrams"] == 4
    assert abs(ppl[1]["perplexity"] - want) < 1e-6


def test_gopher_quality_flags_rules(spark):
    """Each Gopher A1 rule trips on exactly the doc built to violate it
    (and only that rule is asserted tripped there); the well-formed doc
    passes all seven."""
    from graphjet_spark.operators.textstats import gopher_quality_flags

    good = "the quick brown fox of note " * 10  # 60 words, mean len 3.67
    short = "the of and"
    bullets = "\n".join(f"- item {i} thing stuff more" for i in range(10))
    symbols = "the of " + "# " * 8 + "word " * 45  # 8/55 symbols
    digits = "42 " * 48 + "the of"  # 2/50 alpha words
    ellipsis = "the of " + "word " * 28 + "\nthis line trails off..."
    longwords = "abcdefghijkl " * 49 + "the of"  # mean len ~11.7

    docs = spark.createDataFrame(
        list(
            enumerate(
                [good, short, bullets, symbols, digits, ellipsis, longwords]
            )
        ),
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in gopher_quality_flags(docs).collect()}

    g = out[0]
    assert g["n_words"] == 60 and g["keep"] == 1
    assert all(
        g[c] == 1
        for c in (
            "r_wordcount r_meanlen r_symbol r_bullet r_ellipsis "
            "r_alpha r_stop".split()
        )
    )
    assert out[1]["r_wordcount"] == 0 and out[1]["keep"] == 0
    assert out[2]["r_bullet"] == 0
    assert out[3]["r_symbol"] == 0
    assert out[4]["r_alpha"] == 0
    assert out[5]["r_ellipsis"] == 0
    assert out[6]["r_meanlen"] == 0


# ---------------------------------------------------------- Bloom decon


def _bloom_mirror_bits(keys, m_bits, k):
    import hashlib

    bits = set()
    for s in keys:
        for i in range(k):
            h = hashlib.md5(f"{s}:{i}".encode()).hexdigest()[:15]
            bits.add(int(h, 16) % m_bits)
    return bits


def test_bloom_decontamination_superset_and_mirror(spark):
    from pyspark.sql import functions as F

    from graphjet_spark.operators.dedup import (
        bloom_decontamination_flags,
        decontamination_flags,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta eta theta"),
        (1, "alpha beta gamma delta other words here now"),   # shares grams w/ 0
        (2, "totally disjoint content nothing in common at all"),
        (3, "more unrelated text that should stay clean mostly"),
        (4, "alpha beta gamma delta epsilon zeta eta theta"),  # dup of benchmark
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    bench = docs.where(F.col("doc_id") == 0).select("doc_id")

    exact = {
        r.doc_id: r.shared_grams
        for r in decontamination_flags(docs, bench, n=3).collect()
    }
    # tiny filter (m=64, k=2): high fill ratio forces false positives,
    # exercising the one-sided-error contract, not just the happy path
    bloom = {
        r.doc_id: r.bloom_grams
        for r in bloom_decontamination_flags(
            docs, bench, n=3, m_bits=64, k=2
        ).collect()
    }
    # no false negatives: every exact-flagged doc is bloom-flagged with
    # at least as many grams
    for d, cnt in exact.items():
        assert bloom.get(d, 0) >= cnt

    # literal mirror: recompute each doc's passing grams in Python with
    # the same md5 bit set
    bench_grams = set()
    texts = dict(rows)
    def grams_of(t, n=3):
        w = t.split()
        return {" ".join(w[i : i + n]) for i in range(len(w) - n + 1)}
    bench_grams = grams_of(texts[0])
    bits = _bloom_mirror_bits(bench_grams, 64, 2)
    import hashlib

    def passes(g):
        return all(
            int(hashlib.md5(f"{g}:{i}".encode()).hexdigest()[:15], 16) % 64
            in bits
            for i in range(2)
        )

    expect = {}
    for d, t in texts.items():
        if d == 0:
            continue
        n_pass = sum(1 for g in grams_of(t) if passes(g))
        if n_pass:
            expect[d] = n_pass
    assert bloom == expect


def test_bloom_member_flags_no_false_negatives(spark):
    from graphjet_spark.operators.sketches import bloom_bits, bloom_member_flags

    members = spark.createDataFrame(
        [(f"key{i}",) for i in range(50)], "k string"
    )
    bits = bloom_bits(members, "k", m_bits=256, k=3)
    probe = spark.createDataFrame(
        [(f"key{i}",) for i in range(80)], "k string"
    )
    got = {r.k for r in bloom_member_flags(probe, bits, "k", m_bits=256, k=3).collect()}
    assert {f"key{i}" for i in range(50)} <= got  # every member passes


def test_bloom_member_flags_duplicate_probes(spark):
    """No false negatives on NON-distinct probes: duplicated member
    rows each pass independently, with multiplicity preserved (the r3
    ADVICE repro — a payload-column groupBy merged duplicates into
    dup_count*k hits and rejected true members)."""
    from graphjet_spark.operators.sketches import bloom_bits, bloom_member_flags

    members = spark.createDataFrame(
        [(f"key{i}",) for i in range(10)], "k string"
    )
    bits = bloom_bits(members, "k", m_bits=256, k=3)
    # key3 three times, key7 twice, one non-member-ish probe set
    probe = spark.createDataFrame(
        [("key3",), ("key3",), ("key3",), ("key7",), ("key7",)],
        "k string",
    )
    got = sorted(
        r.k
        for r in bloom_member_flags(
            probe, bits, "k", m_bits=256, k=3
        ).collect()
    )
    assert got == ["key3", "key3", "key3", "key7", "key7"]


def test_bloom_bits_mergeable(spark):
    from graphjet_spark.operators.sketches import bloom_bits

    a = spark.createDataFrame([(f"a{i}",) for i in range(20)], "k string")
    b = spark.createDataFrame([(f"b{i}",) for i in range(20)], "k string")
    whole = bloom_bits(a.union(b), "k", m_bits=128, k=3)
    merged = (
        bloom_bits(a, "k", m_bits=128, k=3)
        .union(bloom_bits(b, "k", m_bits=128, k=3))
        .distinct()
    )
    assert {r.bit for r in whole.collect()} == {r.bit for r in merged.collect()}


# ------------------------------------------------- paragraph dedup


def test_paragraph_dedup_rewrite(spark):
    from graphjet_spark.operators.dedup import paragraph_dedup_rewrite

    p0 = "a b c d"        # 4-token paragraphs below
    p1 = "e f g h"
    p2 = "i j k l"
    rows = [
        (0, f"{p0} {p1}"),          # both novel -> kept
        (1, f"{p0} {p2}"),          # first para duplicates doc 0 -> dropped
        (2, f"{p2} {p2}"),          # second para duplicates its own first
        (3, ""),                     # empty doc
        (4, "m n"),                  # short tail paragraph, novel
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.n_paras, r.kept_paras, r.text)
        for r in paragraph_dedup_rewrite(docs, para_tokens=4).collect()
    }
    assert got[0] == (2, 2, f"{p0} {p1}")
    assert got[1] == (2, 1, p2)      # p0 already owned by doc 0
    # p2's first global occurrence is (doc 1, idx 1), lexicographically
    # before (doc 2, idx 0): doc 2's copies both drop
    assert got[2] == (2, 0, "")
    assert got[3] == (0, 0, "")
    assert got[4] == (1, 1, "m n")


def test_paragraph_dedup_survives_hash_collision(spark, monkeypatch):
    """Ownership groups on (h, ptext), not the hash alone: even under a
    TOTAL 60-bit hash collision (every paragraph hashing to 0), distinct
    paragraph texts must all survive (r3 ADVICE: birthday collisions at
    billions of paragraphs must not drop distinct content)."""
    from pyspark.sql import functions as F

    import graphjet_spark.operators.dedup as dd

    monkeypatch.setattr(dd, "_hash60", lambda c: F.lit(0).cast("bigint"))
    rows = [(0, "a b c d e f g h"), (1, "a b c d x y z w")]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    got = {
        r.doc_id: (r.kept_paras, r.text)
        for r in dd.paragraph_dedup_rewrite(docs, para_tokens=4).collect()
    }
    # "a b c d" deduped (doc 0 wins); the three distinct paragraphs all
    # survive despite identical hashes
    assert got[0] == (2, "a b c d e f g h")
    assert got[1] == (1, "x y z w")


def test_paragraph_dedup_idempotent(spark):
    from graphjet_spark.operators.dedup import paragraph_dedup_rewrite

    rows = [
        (0, "a b c d e f g h"),
        (1, "a b c d x y z w"),
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string")
    first = paragraph_dedup_rewrite(docs, para_tokens=4)
    again = paragraph_dedup_rewrite(
        first.select("doc_id", "text"), para_tokens=4
    )
    a = {r.doc_id: (r.kept_paras, r.text) for r in first.collect()}
    b = {r.doc_id: (r.kept_paras, r.text) for r in again.collect()}
    # second pass keeps everything the first pass kept
    assert {d: t for d, (_, t) in a.items()} == {
        d: t for d, (_, t) in b.items()
    }
    assert all(b[d][0] == len(b[d][1].split()) // 4 + (1 if len(b[d][1].split()) % 4 else 0) or b[d][1] == "" for d in b)
