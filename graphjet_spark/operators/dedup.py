"""Document deduplication operators for training-data pipelines.

Five families, each scale-designed (the ``documents`` table at 100 TB):

- exact:       hash-groupBy on content (JVM-side xxhash64, one shuffle);
- n-gram Jaccard: prefix-filtered candidate generation (AllPairs /
               SSJoin) + exact set overlap on candidates only;
- MinHash+LSH: JVM-expression signatures over cross-engine md5-prefix
               shingle hashes, banded into LSH buckets, candidate pairs
               from bucket joins only — never all-pairs;
- SimHash:     60-bit fingerprints (bitwise vote sums as JVM aggregate
               expressions), near-dup = hamming distance <= k via
               band-exact pigeonhole prefilter;
- embedding cosine: block-GEMM candidate join + exact JVM rescore.

GraphJet precedent for the dedup discipline: explicit seen-set
dedup before aggregation (reference: graphjet-core/src/main/java/com/
twitter/graphjet/algorithms/counting/TopSecondDegreeByCount.java:99-103)
and Monte-Carlo-free deterministic formulations (SURVEY.md §2.8 R7).

All Python-side kernels are pandas/numpy over Arrow batches — no
per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from graphjet_spark.functions.hashing import md5_prefix_bigint

# ----------------------------------------------------------------- exact


def exact_dedup(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact duplicate groups: (keep_id, n_copies) — keep the smallest
    doc_id per identical text.  One hash shuffle; the content itself is
    reduced to xxhash64 pre-shuffle so wide text never moves."""
    h = docs.select(
        F.col("doc_id"), F.xxhash64(text_col).alias("h"), F.col(text_col)
    )
    return (
        h.groupBy("h")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies"))
        .select("keep_id", "n_copies")
    )


# -------------------------------------------------- n-gram Jaccard (exact)


def gram_expr(text_col: str, n: int):
    """Array column of token n-grams over whitespace tokens, JVM-side.
    Docs with fewer than ``n`` tokens yield an empty array (guarded:
    ``sequence(0, size-n)`` is descending when size < n and ``slice``
    with a descending index throws)."""
    if n == 1:
        return F.split(F.col(text_col), r"\s+")
    # bind the split ONCE per row via a 1-element-array lambda: inlining
    # the split inside the window lambda re-tokenizes the whole text per
    # gram index (O(len^2) per doc); same output byte-for-byte.
    toks = f"split({text_col}, '\\\\s+')"
    return F.expr(
        f"element_at(transform(array({toks}), a -> "
        f"CASE WHEN size(a) >= {n} THEN "
        f"transform(sequence(0, size(a) - {n}), "
        f"i -> concat_ws(' ', slice(a, i + 1, {n}))) "
        f"ELSE array() END), 1)"
    )


def _spread(docs: DataFrame) -> DataFrame:
    """Repartition a narrow input up to defaultParallelism when it
    arrives as fewer splits.  A small corpus lands in one parquet split
    and would pin a compute-heavy scan stage (gram explode, md5 per
    shingle) to one core — the reason exact_substring_pairs ran 12.5x
    on 10x data in the sf1 soak.  At scale the file splits already
    provide the parallelism and this is a no-op."""
    spark = docs.sparkSession
    if docs.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    return docs


def token_sets(docs: DataFrame, text_col: str = "text", n: int = 1) -> DataFrame:
    """(doc_id, tok) distinct token n-grams, built JVM-side: split +
    transform/slice for n>1 (no UDF)."""
    docs = _spread(docs)
    return (
        docs.select("doc_id", F.explode(gram_expr(text_col, n)).alias("tok"))
        .filter(F.col("tok") != "")
        .distinct()
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    n: int = 1,
    threshold: float = 0.8,
    text_col: str = "text",
) -> DataFrame:
    """Near-dup pairs by exact n-gram Jaccard >= threshold, with
    prefix-filtered candidate generation (Bayardo et al. WWW'07
    AllPairs / Chaudhuri et al. ICDE'06 SSJoin).

    Candidate pairs come from an inverted index over each document's
    *prefix* tokens only: order every doc's tokens by ascending global
    document frequency (rarest first, ties by token), keep the first
    ``sz - ceil(t*sz) + 1``; any pair with Jaccard >= t provably shares
    a prefix token, so recall is 1.0 by the prefix-filter theorem while
    hot (stopword-grade) tokens — the quadratic fan-out at web scale —
    land in suffixes and never generate candidates.  A size filter
    (``t * max(|x|,|y|) <= min``) prunes further.  The float ceil uses a
    1e-6 slack so prefixes only ever err longer (never missing pairs).
    Exact Jaccard is then computed on candidates only.  Output
    (doc_a, doc_b, jaccard) with doc_a < doc_b, jaccard rounded to 6.
    """
    classes, cls_pairs = _ngram_jaccard_class_pairs(
        docs, n=n, threshold=threshold, text_col=text_col
    )

    # --- expand class pairs back to doc pairs ---------------------------
    m = classes.select("doc_id", "cls")
    inter_docs = (
        cls_pairs.join(
            m.select(F.col("cls").alias("ca"), F.col("doc_id").alias("da")), "ca"
        )
        .join(m.select(F.col("cls").alias("cb"), F.col("doc_id").alias("db")), "cb")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "jaccard",
        )
    )
    m1 = m.alias("m1")
    m2 = m.alias("m2")
    intra_docs = (
        m1.join(
            m2,
            (F.col("m1.cls") == F.col("m2.cls"))
            & (F.col("m1.doc_id") < F.col("m2.doc_id")),
        )
        .select(
            F.col("m1.doc_id").alias("doc_a"),
            F.col("m2.doc_id").alias("doc_b"),
            F.lit(1.0).alias("jaccard"),
        )
    )
    return inter_docs.unionByName(intra_docs)


# Dense-vocabulary regime bound for the bitset Jaccard path: V <= 256
# token types = at most 4 words (32 bytes) per class bitset, so a block
# pair's popcount work stays a few single-digit GB of word ops and the
# per-class state is negligible.  Above this, the AllPairs/PPJoin
# prefix-filtered path wins (and actually prunes).
_BITSET_VOCAB_MAX = 256

# byte -> popcount lookup (numpy 1.26 has no bitwise_count)
_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.uint8)


def _bitset_cls_pairs(
    rtoks: DataFrame,
    reps: DataFrame,
    vocab: int,
    threshold: float,
    new_cls: DataFrame | None = None,
) -> DataFrame:
    """Exact Jaccard over ALL distinct class pairs for dense (small)
    vocabularies: each class's token set becomes a W-word bitset
    (W = ceil(V/64), global token ids assigned by sorted token order),
    classes are hashed into blocks, and every block pair is one
    cogrouped-Arrow task computing intersection = popcount(AND) over a
    strip-chunked numpy outer product — the bitset analogue of
    :func:`embedding_near_dups`' block GEMM.  No candidate relation is
    ever materialized; per-task memory is bounded by the strip size.
    Emits integer intersections; the final Jaccard and threshold are
    evaluated JVM-side on exact (i, sza, szb) ints, so values are
    byte-identical to the exploded-count path and to any SQL oracle.

    ``new_cls`` (delta-ingest mode): a (cls) relation restricting the
    output to pairs with at least one side in it.  The block scheme
    then pits the new classes (one side, replicated to every block)
    against all classes — quadratic work is |new| x |all| instead of
    |all|^2/2; same exact values.
    """
    n_words = (vocab + 63) // 64
    from pyspark.sql import Window

    tok_ids = (
        rtoks.select("tok")
        .distinct()
        .withColumn(
            "tid", F.row_number().over(Window.orderBy(F.asc("tok"))) - 1
        )
    )
    words = (
        rtoks.join(F.broadcast(tok_ids), "tok")
        .select(
            "cls",
            (F.col("tid") / 64).cast("int").alias("wi"),
            F.expr("shiftleft(1L, CAST(tid % 64 AS INT))").alias("wv"),
        )
        .groupBy("cls", "wi")
        .agg(F.expr("bit_or(wv)").alias("w"))
    )
    masks = (
        words.groupBy("cls")
        .agg(
            F.map_from_entries(F.collect_list(F.struct("wi", "w"))).alias("wm")
        )
        .join(reps.select("cls", "sz"), "cls")
        .select(
            "cls",
            "sz",
            F.transform(
                F.sequence(F.lit(0), F.lit(n_words - 1)),
                lambda i: F.coalesce(
                    F.element_at("wm", i.cast("int")), F.lit(0).cast("long")
                ),
            ).alias("mask"),
        )
        .localCheckpoint(eager=True)
    )
    n_cls = masks.count()
    block_rows = 8192
    n_blocks = max(1, -(-n_cls // block_rows))
    blocked = masks.withColumn(
        "blk", F.pmod(F.xxhash64("cls"), F.lit(n_blocks)).cast("int")
    )
    if new_cls is None:
        # symmetric: triangular block-pair coverage
        a_rep = blocked.select(
            "cls", "sz", "mask", F.col("blk").alias("bi"),
            F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
        )
        b_rep = blocked.select(
            "cls", "sz", "mask",
            F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
            F.col("blk").alias("bj"),
        )
    else:
        # delta: the new classes (a side) are replicated to every block
        # of the full corpus (b side) — |new| x |all| coverage; a
        # new-new pair is evaluated in both orders (two tasks), deduped
        # after min/max normalization below.  The checkpoint both breaks
        # the blocked-vs-blocked self-join lineage (cogroup rejects the
        # ambiguity) and materializes the batch-sized side once.
        new_masks = blocked.join(new_cls, "cls").localCheckpoint(eager=True)
        a_rep = new_masks.select(
            "cls", "sz", "mask", F.lit(0).alias("bi"),
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("bj"),
        )
        b_rep = blocked.select(
            "cls", "sz", "mask",
            F.lit(0).alias("bi"), F.col("blk").alias("bj"),
        )
    symmetric = new_cls is None
    # in-task prefilter with slack covering the final 6-decimal rounding:
    # round(i/u, 6) >= t can hold when i/u is up to 5e-7 below t
    t_eps = threshold - 1e-6

    def _popjoin(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame):
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({"ca": [], "cb": [], "i": []})
        A = np.stack(a_pdf["mask"].to_numpy()).astype(np.uint64)
        B = np.stack(b_pdf["mask"].to_numpy()).astype(np.uint64)
        sa = a_pdf["sz"].to_numpy().astype(np.int64)
        sb = b_pdf["sz"].to_numpy().astype(np.int64)
        ids_a = a_pdf["cls"].to_numpy()
        ids_b = b_pdf["cls"].to_numpy()
        m, w = B.shape
        strip = max(1, (1 << 22) // max(1, m * w))
        out_a, out_b, out_i = [], [], []
        for s in range(0, len(A), strip):
            e = min(s + strip, len(A))
            inter = (
                _POP8[(A[s:e, None, :] & B[None, :, :]).view(np.uint8)]
                .reshape(e - s, m, -1)
                .sum(axis=2, dtype=np.int64)
            )
            # J = i/(sa+sb-i) >= t_eps  <=>  i*(1+t_eps) >= t_eps*(sa+sb)
            ok = inter * (1.0 + t_eps) >= t_eps * (sa[s:e, None] + sb[None, :])
            ia, ib = np.nonzero(ok)
            out_a.append(ids_a[s + ia])
            out_b.append(ids_b[ib])
            out_i.append(inter[ia, ib])
        ca = np.concatenate(out_a)
        cb = np.concatenate(out_b)
        ii = np.concatenate(out_i)
        if symmetric and key[0] == key[1]:
            # diagonal block: every distinct pair appears in both orders
            keep = ca < cb
            ca, cb, ii = ca[keep], cb[keep], ii[keep]
        else:
            drop = ca == cb
            if drop.any():
                ca, cb, ii = ca[~drop], cb[~drop], ii[~drop]
        return pd.DataFrame(
            {"ca": np.minimum(ca, cb), "cb": np.maximum(ca, cb), "i": ii}
        )

    pairs = (
        a_rep.groupby("bi", "bj")
        .cogroup(b_rep.groupby("bi", "bj"))
        .applyInPandas(_popjoin, schema="ca bigint, cb bigint, i bigint")
    )
    if not symmetric:
        pairs = pairs.dropDuplicates(["ca", "cb"])
    s1 = reps.select(F.col("cls").alias("ca"), F.col("sz").alias("sza"))
    s2 = reps.select(F.col("cls").alias("cb"), F.col("sz").alias("szb"))
    return (
        pairs.join(s1, "ca")
        .join(s2, "cb")
        .select(
            "ca",
            "cb",
            F.round(
                F.col("i") / (F.col("sza") + F.col("szb") - F.col("i")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _class_structures(
    docs: DataFrame, *, n: int, text_col: str
) -> tuple[DataFrame, DataFrame, DataFrame, DataFrame]:
    """Shared exact-dup class collapse: (classes, reps, rtoks, dfreq).

    Near-dup corpora are dominated by exact-dup classes; every member
    of a class has identical Jaccard to everything else, so similarity
    runs once per class (representative) and expands back to member
    pairs by joins — the candidate join shrinks from (class size)^2 to
    1 per class pair.  Class key = hash of the sorted token set, so
    identical sets ingested at different times land in the SAME class
    (what makes delta ingest exact).  Eager checkpoints: toks feeds 4
    consumers and classes/rtoks feed 2-3 each — leaving them lazy
    replicates the whole upstream chain into one giant plan (measured
    3x slower from planning + recompute)."""
    toks = token_sets(docs, text_col, n).localCheckpoint(eager=True)
    classes = (
        toks.groupBy("doc_id")
        .agg(
            F.xxhash64(
                F.concat_ws("\x1f", F.sort_array(F.collect_list("tok")))
            ).alias("cls"),
            F.count(F.lit(1)).alias("sz"),
        )
        .localCheckpoint(eager=True)
    )
    reps = classes.groupBy("cls").agg(
        F.min("doc_id").alias("rep"), F.first("sz").alias("sz")
    )
    rtoks = (
        toks.join(reps.select(F.col("rep").alias("doc_id"), "cls"), "doc_id")
        .select("cls", "tok")
        .localCheckpoint(eager=True)
    )
    dfreq = rtoks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    return classes, reps, rtoks, dfreq


def _jaccard_cls_pairs(
    reps: DataFrame,
    rtoks: DataFrame,
    dfreq: DataFrame,
    threshold: float,
    new_cls: DataFrame | None = None,
) -> DataFrame:
    """Qualifying distinct-class pairs ``(ca, cb, jaccard)`` with
    ``ca < cb`` over the class structures — or, with ``new_cls``
    (delta-ingest mode), only the pairs touching a new class.

    Regime switch: prefix filtering is powerless on a dense (tiny)
    vocabulary — with V token types shared by most documents, even the
    rarest prefix token appears in a large fraction of all classes and
    the candidate join degenerates toward all-pairs (measured at sf1:
    V=40, 127.5M candidates from 35k classes, 560s in the join +
    verify; 2-prefix pair keys are no better, 2.1B evaluations).  When
    V is small enough that a class's whole token set fits a fixed
    W-word bitset, exact Jaccard over ALL class pairs by blocked
    popcount-AND is cheaper than any filter: O(C^2/2) single-word AND+
    popcounts, embarrassingly parallel, no candidate relation at all.
    Web-scale vocabularies (V in the millions) take the sparse path
    below, where prefix selectivity is real."""
    vocab = dfreq.count()
    if vocab > 0 and vocab <= _BITSET_VOCAB_MAX:
        return _bitset_cls_pairs(rtoks, reps, vocab, threshold, new_cls=new_cls)

    from pyspark.sql import Window

    w = Window.partitionBy("cls").orderBy(F.asc("df"), F.asc("tok"))
    prefix = (
        rtoks.join(dfreq, "tok")
        .join(reps.select("cls", "sz"), "cls")
        .withColumn("pos", F.row_number().over(w))
        .filter(
            F.col("pos")
            <= F.col("sz") - F.ceil(F.col("sz") * threshold - 1e-6) + 1
        )
        .select("cls", "tok", "sz", "pos")
    )
    # delta mode: one side restricted to the new classes; a qualifying
    # (new, old) or (new, new) pair still shares a token of BOTH
    # prefixes (the symmetric prefix theorem), so joining the new-side
    # prefix against the full prefix index keeps recall exactly 1.0
    p1_src = prefix.join(new_cls, "cls") if new_cls is not None else prefix
    p1 = p1_src.alias("p1")
    p2 = prefix.alias("p2")
    # positional filter (PPJoin, Xiao et al. WWW'08): a shared prefix
    # token at positions (pa, pb) bounds the overlap by
    # 1 + min(|x|-pa, |y|-pb); J >= t forces overlap >=
    # t/(1+t) * (|x|+|y|), so pairs whose bound falls short are pruned
    # at generation — exact (upper bound), with the same 1e-6 float
    # slack direction as the prefix length (only ever keeps more).
    overlap_need = (
        (F.col("p1.sz") + F.col("p2.sz")) * (threshold / (1.0 + threshold))
        - 1e-6
    )
    overlap_bound = 1 + F.least(
        F.col("p1.sz") - F.col("p1.pos"), F.col("p2.sz") - F.col("p2.pos")
    )
    pair_cond = (
        F.col("p1.cls") < F.col("p2.cls")
        if new_cls is None
        else F.col("p1.cls") != F.col("p2.cls")
    )
    cand = (
        p1.join(
            p2,
            (F.col("p1.tok") == F.col("p2.tok"))
            & pair_cond
            # size filter: J >= t implies min >= t * max
            & (
                F.least("p1.sz", "p2.sz")
                >= F.greatest("p1.sz", "p2.sz") * threshold - 1e-6
            )
            & (overlap_bound >= overlap_need),
        )
        .select(
            F.least(F.col("p1.cls"), F.col("p2.cls")).alias("ca"),
            F.greatest(F.col("p1.cls"), F.col("p2.cls")).alias("cb"),
        )
        .distinct()
    )

    # --- exact Jaccard on candidate class pairs -------------------------
    t1 = rtoks.select(F.col("cls").alias("ca"), "tok")
    t2 = rtoks.select(F.col("cls").alias("cb"), "tok")
    inter = (
        cand.join(t1, "ca")
        .join(t2, ["cb", "tok"])
        .groupBy("ca", "cb")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    s1 = reps.select(F.col("cls").alias("ca"), F.col("sz").alias("sza"))
    s2 = reps.select(F.col("cls").alias("cb"), F.col("sz").alias("szb"))
    return (
        inter.join(s1, "ca")
        .join(s2, "cb")
        .select(
            "ca",
            "cb",
            F.round(
                F.col("inter") / (F.col("sza") + F.col("szb") - F.col("inter")), 6
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def _ngram_jaccard_class_pairs(
    docs: DataFrame,
    *,
    n: int,
    threshold: float,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Class-level core of :func:`ngram_jaccard_pairs`: collapse
    exact-duplicate token sets into classes, then exact Jaccard over
    class representatives only (bitset or prefix regime — see
    :func:`_jaccard_cls_pairs`).

    Returns ``(classes, cls_pairs)``: per-doc class membership
    ``(doc_id, cls, sz)`` and qualifying distinct-class pairs
    ``(ca, cb, jaccard)`` with ``ca < cb`` — everything BEFORE the
    quadratic member-pair expansion, so consumers that only need
    connectivity (:func:`dedup_keep_list`) can stay linear in corpus
    size while :func:`ngram_jaccard_pairs` keeps its all-pairs output
    contract."""
    classes, reps, rtoks, dfreq = _class_structures(docs, n=n, text_col=text_col)
    return classes, _jaccard_cls_pairs(reps, rtoks, dfreq, threshold)


# ----------------------------------------------------------- MinHash + LSH

# 31-bit Mersenne prime: keeps a*x + b inside int64 (a, x < 2^31), so
# the permutation hashes are exact modular arithmetic, no wraparound —
# in Spark longs AND DuckDB BIGINTs, which is what makes the signatures
# cross-engine oracle-able.
_MERSENNE = (1 << 31) - 1


def _hash_params(num_hashes: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.default_rng(seed)
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.uint64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.uint64)
    return a, b


def _hash60(col):
    """60-bit engine-independent string hash: the first 15 hex chars of
    md5, parsed as an integer.  Identical in Spark
    (``conv(substr(md5(s),1,15),16,10)``) and DuckDB
    (``('0x'||substr(md5(s),1,15))::BIGINT``), so MinHash/SimHash
    outputs are value-checkable across engines — unlike xxhash64 /
    pd.util.hash_array, which are engine-private."""
    return md5_prefix_bigint(col)


def shingle_hashes(
    docs: DataFrame, *, n: int, text_col: str = "text", mod: int | None = None
) -> DataFrame:
    """(doc_id, h array<bigint>): 60-bit hashes of the distinct word
    n-grams built over the *non-empty* whitespace tokens — all JVM
    column expressions, no Python kernel.  ``mod`` optionally reduces
    each hash mod a prime (MinHash wants values < 2^31)."""
    docs = _spread(docs)
    w = F.filter(F.split(F.col(text_col), r"\s+"), lambda t: t != "")
    staged = docs.select("doc_id", w.alias("w"))
    if n == 1:
        grams = F.col("w")
    else:
        grams = F.expr(
            f"CASE WHEN size(w) >= {n} THEN "
            f"transform(sequence(0, size(w) - {n}), "
            f"i -> concat_ws(' ', slice(w, i + 1, {n}))) "
            f"ELSE array() END"
        )
    h = F.transform(F.array_distinct(grams), _hash60)
    if mod is not None:
        h = F.transform(h, lambda x: x % F.lit(mod))
    # docs with no n-grams (shorter than n tokens, or empty) are
    # EXCLUDED: they carry no shingle evidence at this n, and keeping
    # them (e.g. with a sentinel signature) would declare every short
    # doc a near-dup of every other short doc
    return staged.select("doc_id", h.alias("h")).filter(F.size("h") > 0)


def minhash_signatures(
    docs: DataFrame,
    *,
    num_hashes: int = 128,
    shingle_n: int = 3,
    seed: int = 42,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, sig array<bigint>) MinHash signatures.

    Shingle hashes are JVM column expressions (cross-engine md5-prefix
    ints, :func:`shingle_hashes`); the 128 permutation minima run as ONE
    flat-batch numpy kernel over Arrow: concatenate every doc's hashes,
    then per hash function one vectorized ``(a*x+b) % p`` pass +
    ``minimum.reduceat`` over the doc offsets.  The loop is over the
    128 hash functions — never over rows.  Exact int64 arithmetic
    (a, x < 2^31 keeps products < 2^62), so values are identical to the
    DuckDB oracle's list-lambda evaluation; measured ~10x faster than
    both the nested-transform (interpreted higher-order lambdas) and
    explode+128-min-aggregate (128-column hash-agg update per shingle)
    JVM formulations.  Docs with no shingles are excluded upstream
    (shingle_hashes)."""
    a, b = _hash_params(num_hashes, seed)
    a64 = a.astype(np.int64)
    b64 = b.astype(np.int64)
    hs = shingle_hashes(docs, n=shingle_n, text_col=text_col, mod=_MERSENNE)

    def _sig(batches):
        for pdf in batches:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            arrs = [np.asarray(h, dtype=np.int64) for h in pdf["h"]]
            lens = np.array([len(x) for x in arrs], dtype=np.int64)
            sig = np.full((n_docs, len(a64)), _MERSENNE, dtype=np.int64)
            nonempty = lens > 0
            if nonempty.any():
                flat = np.concatenate([x for x in arrs if len(x)])
                offsets = np.zeros(int(nonempty.sum()), dtype=np.int64)
                np.cumsum(lens[nonempty][:-1], out=offsets[1:])
                for i in range(len(a64)):
                    vals = (a64[i] * flat + b64[i]) % _MERSENNE
                    sig[nonempty, i] = np.minimum.reduceat(vals, offsets)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "sig": list(sig)})

    return hs.mapInPandas(_sig, schema="doc_id bigint, sig array<bigint>")


def minhash_lsh_candidates(
    signatures: DataFrame, *, bands: int = 32, rows_per_band: int = 4
) -> DataFrame:
    """LSH banding: docs sharing any band bucket become candidate pairs.

    The band bucket key is (band_idx, the band's signature slice as a
    string) — a plain shuffle key, so candidate generation is a groupBy,
    never an all-pairs product; the verbatim slice (vs hashing it) keeps
    the candidate set collision-free and thus exactly reproducible by
    the DuckDB oracle's band-equality predicate.  Output (doc_a, doc_b)
    distinct, doc_a < doc_b.
    """
    banded = signatures.select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(0, {bands - 1}), "
                f"b -> struct(b AS band, concat_ws(',', transform(slice(sig, b * {rows_per_band} + 1, {rows_per_band}), x -> cast(x AS string))) AS bucket))"
            )
        ).alias("bb"),
    ).select("doc_id", "bb.band", "bb.bucket")
    g1 = banded.alias("g1")
    g2 = banded.alias("g2")
    return (
        g1.join(
            g2,
            (F.col("g1.band") == F.col("g2.band"))
            & (F.col("g1.bucket") == F.col("g2.bucket"))
            & (F.col("g1.doc_id") < F.col("g2.doc_id")),
        )
        .select(
            F.col("g1.doc_id").alias("doc_a"), F.col("g2.doc_id").alias("doc_b")
        )
        .distinct()
    )


def minhash_dedup(
    docs: DataFrame,
    *,
    num_hashes: int = 128,
    shingle_n: int = 3,
    bands: int = 32,
    threshold: float = 0.8,
    seed: int = 42,
) -> DataFrame:
    """MinHash near-dup pairs: LSH candidates verified by estimated
    Jaccard (signature agreement) >= threshold.  Output
    (doc_a, doc_b, est_jaccard)."""
    rows_per_band = num_hashes // bands
    # lazy localCheckpoint (not persist): referenced 3x in the plan with
    # no safe unpersist point in a lazy API — checkpointing avoids
    # leaking cache registrations across long-lived sessions
    sigs = minhash_signatures(
        docs, num_hashes=num_hashes, shingle_n=shingle_n, seed=seed
    ).localCheckpoint(eager=False)
    cands = minhash_lsh_candidates(sigs, bands=bands, rows_per_band=rows_per_band)
    s1 = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    s2 = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        cands.join(s1, "doc_a")
        .join(s2, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(
                    F.filter(
                        F.zip_with("sig_a", "sig_b", lambda x, y: x == y),
                        lambda m: m,
                    )
                )
                / F.lit(float(num_hashes))
            ).alias("est_jaccard"),
        )
        .filter(F.col("est_jaccard") >= threshold)
    )
    return est


# ------------------------------------------------------------------ SimHash


_SIMHASH_BITS = 60  # md5-prefix hashes carry 60 bits (15 hex chars)


def simhash_fingerprints(
    docs: DataFrame, *, shingle_n: int = 2, text_col: str = "text"
) -> DataFrame:
    """(doc_id, simhash bigint): 60-bit SimHash over token n-gram
    hashes — per bit, the sign of the +1/-1 vote sum across shingles —
    built as 60 JVM ``aggregate`` expressions over the shingle-hash
    array (whole-stage codegen, no Python kernel, cross-engine
    reproducible via :func:`_hash60`)."""
    hs = shingle_hashes(docs, n=shingle_n, text_col=text_col)

    def _vote(b: int):
        return lambda acc, x: acc + (
            F.shiftright(x, b).bitwiseAND(F.lit(1)) * 2 - 1
        )

    fp = None
    for b in range(_SIMHASH_BITS):
        vote = F.aggregate("h", F.lit(0).cast("long"), _vote(b))
        term = F.when(vote > 0, F.lit(1 << b)).otherwise(F.lit(0))
        fp = term if fp is None else fp + term
    return hs.select("doc_id", fp.cast("long").alias("simhash"))


def simhash_near_dups(
    docs: DataFrame, *, max_hamming: int = 3, shingle_n: int = 2
) -> DataFrame:
    """Near-dup pairs with hamming(simhash) <= max_hamming.

    Prefilter: split the 60-bit fingerprint into max_hamming+1 bands —
    any pair within the distance budget must agree exactly on >= 1 band
    (pigeonhole), so candidates come from band-bucket joins, not
    all-pairs.  Output (doc_a, doc_b, hamming).
    """
    n_bands = max_hamming + 1
    width = _SIMHASH_BITS // n_bands
    fps = simhash_fingerprints(docs, shingle_n=shingle_n).localCheckpoint(
        eager=False
    )
    banded = fps.select(
        "doc_id",
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {n_bands - 1}), "
                f"b -> struct(b AS band, shiftright(simhash, b * {width}) & {(1 << width) - 1} AS key))"
            )
        ).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.key")
    b1 = banded.alias("b1")
    b2 = banded.alias("b2")
    return (
        b1.join(
            b2,
            (F.col("b1.band") == F.col("b2.band"))
            & (F.col("b1.key") == F.col("b2.key"))
            & (F.col("b1.doc_id") < F.col("b2.doc_id")),
        )
        .select(
            F.col("b1.doc_id").alias("doc_a"),
            F.col("b2.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("b1.simhash").bitwiseXOR(F.col("b2.simhash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------------ dedup keep-list


def dedup_keep_list(
    docs: DataFrame,
    *,
    n: int = 1,
    threshold: float = 0.9,
    text_col: str = "text",
) -> DataFrame:
    """End-to-end dedup pipeline: near-dup pairs -> connected components
    over the pair graph -> one canonical keeper per cluster (the
    CCNet/RefinedWeb keep-list shape).

    Returns (doc_id, keep_id): keep_id = min doc id of the doc's
    near-dup cluster (docs in no pair keep themselves).  A downstream
    pipeline keeps rows where doc_id == keep_id.

    The log-round large-star/small-star contraction runs to convergence
    and never materializes the quadratic all-pairs dup graph: CC only
    needs connectivity, so it runs over the compact
    connectivity-equivalent graph — a star from each exact-dup class
    member to its class-min plus ONE rep-rep edge per qualifying class
    pair.  Components (and hence keep_id = component min) are identical
    to CC over the expanded member-pair clique graph, but the edge
    count is O(docs + class pairs) instead of O(sum class_size^2) —
    the expanded graph at sf1 is 93.5M edges for 50k docs and OOMs the
    no-op gate budget long before 100x.
    """
    from graphjet_spark.plans.components import connected_components_star

    classes, cls_pairs = _ngram_jaccard_class_pairs(
        docs, n=n, threshold=threshold, text_col=text_col
    )
    roots = classes.groupBy("cls").agg(F.min("doc_id").alias("root"))
    star = (
        classes.join(roots, "cls")
        .filter(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("src"), F.col("doc_id").alias("dst"))
    )
    cross = (
        cls_pairs.join(
            roots.select(F.col("cls").alias("ca"), F.col("root").alias("src")),
            "ca",
        )
        .join(
            roots.select(F.col("cls").alias("cb"), F.col("root").alias("dst")),
            "cb",
        )
        .select("src", "dst")
    )
    comp = connected_components_star(docs.sparkSession, star.unionByName(cross))
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.id, "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("keep_id")
        )
    )


def dedup_keep_list_delta(
    docs: DataFrame,
    new_ids: DataFrame,
    old_keeps: DataFrame,
    *,
    n: int = 1,
    threshold: float = 0.9,
    text_col: str = "text",
) -> DataFrame:
    """Incremental keep-list maintenance — the continuous-crawl shape:
    given the full corpus ``docs``, the newly ingested batch
    ``new_ids`` (a (doc_id) relation) and the maintained keep-list
    ``old_keeps`` (= :func:`dedup_keep_list` over docs minus the
    batch), produce the keep-list of the FULL corpus while restricting
    all quadratic pair work to pairs touching a new class.

    Exactness argument: union components are the transitive closure of
    (old qualifying pairs) ∪ (qualifying pairs touching a new doc).
    ``old_keeps`` star edges (keep_id -> doc_id) encode the first set's
    closure exactly; membership stars over the UNION classes cover
    same-token-set pairs (a new exact dup joins its class by hash
    equality, whatever batch it arrived in); delta class pairs
    (:func:`_jaccard_cls_pairs` with ``new_cls``) cover every
    cross-class pair with a new side — recall 1.0 in both regimes
    (bitset: new x all blocks; prefix: symmetric prefix theorem).
    keep_id = component min is unchanged, so the output is
    row-identical to a full recompute (the gate oracles it against the
    batch SQL twin).

    Linear passes (tokenize/class-collapse) are recomputed over the
    union here; a production deployment persists the class and gram
    tables between batches (the `_KEEP_LIST_CACHE`/GraphTables
    pattern) — the point of this operator is that the O(n^2) candidate
    work, the part that matters at 100 TB, is |new| x |all|.
    """
    spark = docs.sparkSession
    from graphjet_spark.plans.components import connected_components_star

    classes, reps, rtoks, dfreq = _class_structures(docs, n=n, text_col=text_col)
    new_cls = (
        classes.join(new_ids.select("doc_id"), "doc_id")
        .select("cls")
        .distinct()
    )
    cls_pairs = _jaccard_cls_pairs(reps, rtoks, dfreq, threshold, new_cls=new_cls)

    roots = classes.groupBy("cls").agg(F.min("doc_id").alias("root"))
    star = (
        classes.join(roots, "cls")
        .filter(F.col("doc_id") != F.col("root"))
        .select(F.col("root").alias("src"), F.col("doc_id").alias("dst"))
    )
    cross = (
        cls_pairs.join(
            roots.select(F.col("cls").alias("ca"), F.col("root").alias("src")), "ca"
        )
        .join(
            roots.select(F.col("cls").alias("cb"), F.col("root").alias("dst")), "cb"
        )
        .select("src", "dst")
    )
    old_edges = old_keeps.filter(F.col("doc_id") != F.col("keep_id")).select(
        F.col("keep_id").alias("src"), F.col("doc_id").alias("dst")
    )
    comp = connected_components_star(
        spark, star.unionByName(cross).unionByName(old_edges)
    )
    return (
        docs.select("doc_id")
        .join(comp, docs.doc_id == comp.id, "left")
        .select(
            "doc_id", F.coalesce("component", F.col("doc_id")).alias("keep_id")
        )
    )


# ------------------------------------------------------- embedding cosine


def embedding_near_dups(
    embeddings: DataFrame,
    *,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
) -> DataFrame:
    """Exact cosine near-dup pairs (a < b, round(cos, 6) >= threshold).

    Two stages, never a row-level cartesian product:

    1. candidate generation by **block-GEMM join**: vectors are hashed
       into B = ceil(n / block_rows) blocks; each of the B*(B+1)/2 block
       pairs becomes one cogrouped-Arrow task that runs a float64 numpy
       matrix product over its two bounded blocks and emits only pairs
       with cosine >= threshold - 1e-6 (slack covers GEMM-vs-sequential
       summation and the final 6-decimal rounding).  Per-task memory is
       2 * block_rows * dim floats; each vector is shuffled B times —
       the standard blocked formulation of an all-pairs similarity join,
       with no n^2-row intermediate ever materialized.  (Low-threshold
       similarity on unstructured vectors is inherently quadratic in
       *compute*.)
    2. exact rescore: candidates are re-scored with the same sequential
       float64 JVM expressions (aggregate/zip_with) as before, so output
       values are byte-identical to a naive all-pairs evaluation and
       reproducible against any float64 oracle.
    """
    n = embeddings.count()
    n_blocks = max(1, -(-n // block_rows))
    v = embeddings.select(
        F.col(id_col).alias("id"),
        F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )
    # replicate: a-side covers block pairs (blk, j >= blk), b-side (i <= blk)
    a_rep = v.select(
        "id", "v", F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
    )
    b_rep = v.select(
        "id", "v",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
    )
    margin = 1e-6

    def _gemm(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame):
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        A = np.stack(a_pdf["v"].to_numpy()).astype(np.float64)
        B = np.stack(b_pdf["v"].to_numpy()).astype(np.float64)
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(B, axis=1)
        na[na == 0] = np.inf  # zero vectors can never clear the threshold
        nb[nb == 0] = np.inf
        S = (A / na[:, None]) @ (B / nb[:, None]).T
        ia, ib = np.nonzero(S >= threshold - margin)
        id_a = a_pdf["id"].to_numpy()[ia]
        id_b = b_pdf["id"].to_numpy()[ib]
        if key[0] == key[1]:
            # diagonal block: both sides are the same set, every pair
            # appears twice — keep one order
            keep = id_a < id_b
            id_a, id_b = id_a[keep], id_b[keep]
        # off-diagonal: each unordered pair appears exactly once; ids are
        # not block-ordered, so normalize to (lo, hi)
        return pd.DataFrame(
            {"id_a": np.minimum(id_a, id_b), "id_b": np.maximum(id_a, id_b)}
        )

    cand = (
        a_rep.groupby("bi", "bj")
        .cogroup(b_rep.groupby("bi", "bj"))
        .applyInPandas(_gemm, schema="id_a bigint, id_b bigint")
    )

    # exact float64 rescore with sequential JVM summation
    norm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    va = v.select(F.col("id").alias("id_a"), F.col("v").alias("va"), norm.alias("na"))
    vb = v.select(F.col("id").alias("id_b"), F.col("v").alias("vb"), norm.alias("nb"))
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def decontamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, shared_grams) — training documents sharing at least one
    token n-gram with the benchmark set (the standard eval-set
    decontamination sweep: flag, then drop or audit).

    ``benchmark`` is a (doc_id) DataFrame naming the held-out docs.
    Plan shape: distinct benchmark grams (small side, broadcastable at
    real benchmark sizes) equi-joined against training grams — never
    doc x doc, so it scales with corpus gram volume, not pairs."""
    grams = token_sets(docs, text_col, n)
    bgrams = (
        grams.join(benchmark.select("doc_id"), "doc_id", "left_semi")
        .select("tok")
        .distinct()
    )
    return (
        grams.join(benchmark.select("doc_id"), "doc_id", "left_anti")
        .join(bgrams, "tok")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("shared_grams"))
    )


def tfidf_cosine_pairs(
    docs: DataFrame,
    *,
    threshold: float = 0.5,
    max_df_frac: float = 0.2,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """(doc_a, doc_b, cosine) — document pairs with TF-IDF cosine >=
    threshold over whitespace tokens, doc_a < doc_b.

    The weighted companion of ngram_jaccard_pairs: per-(doc, term)
    weights tf * ln(N/df), L2-normalized per document, paired through a
    term inverted index restricted to terms with df <= max_df_frac*N
    (a corpus FRACTION, so the semantics are scale-invariant — a fixed
    absolute cap would silently stop-list the whole vocabulary as the
    corpus grows).
    The df-cap IS the operator's semantics (cosine over non-ubiquitous
    terms), not an approximation bolted on: ubiquitous terms carry
    ln(N/df) ~ 0 weight anyway, and capping them bounds the inverted
    index fan-out at max_df² per term — the same principle as the
    Adamic-Adar center cap and the AllPairs prefix filter."""
    words = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    tok = docs.select("doc_id", F.explode(words).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.count()
    max_df = int(max_df_frac * n_docs)
    wts = (
        tf.join(df_tbl.where(F.col("df") <= max_df), "term")
        .select(
            "doc_id",
            "term",
            (
                F.col("tf").cast("double")
                * F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))
            ).alias("w"),
        )
    )
    norms = wts.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("w") * F.col("w"))).alias("nrm")
    )
    unit = wts.join(norms, "doc_id").select(
        "term", "doc_id", (F.col("w") / F.col("nrm")).alias("u")
    )
    a = unit.select("term", F.col("doc_id").alias("doc_a"), F.col("u").alias("ua"))
    b = unit.select(
        F.col("term").alias("term2"),
        F.col("doc_id").alias("doc_b"),
        F.col("u").alias("ub"),
    )
    return (
        a.join(
            b,
            (F.col("term") == F.col("term2"))
            & (F.col("doc_a") < F.col("doc_b")),
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.round(F.sum(F.col("ua") * F.col("ub")), round_to).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def exact_substring_pairs(
    docs: DataFrame,
    *,
    window: int = 8,
    df_cap: int = 50,
    min_shared: int = 1,
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring duplicate pairs (Lee et al. ACL'22,
    "Deduplicating Training Data Makes Language Models Better"): two
    documents are flagged when they share at least ``min_shared``
    verbatim runs of ``window`` whitespace tokens.  The suffix-array of
    the paper is replaced by its distributed equivalent — every
    length-``window`` token window is hashed (cross-engine md5-prefix,
    see ``_hash60``) and duplicate spans fall out of an equi-join on
    the window hash; a window appearing in more than ``df_cap``
    documents is dropped as boilerplate (same df-capping rationale as
    ``ngram_jaccard_pairs``: hot spans are the quadratic fan-out at
    web scale, and mass-repeated boilerplate is exactly what the
    training-data curator wants excluded from the pair evidence).

    Output ``(doc_a, doc_b, shared_windows)`` with doc_a < doc_b —
    pure integers, fully cross-engine oracle-able.
    """
    # bind filter(split(...)) ONCE per row (see gram_expr): the inlined
    # form re-tokenized the doc per window index — O(len^2) per doc, the
    # reason this query ran 12.5x on 10x data in the sf1 soak.
    toks = f"filter(split({text_col}, '\\\\s+'), t -> t != '')"
    wins_arr = F.expr(
        f"element_at(transform(array({toks}), a -> "
        f"CASE WHEN size(a) >= {window} THEN "
        f"transform(sequence(0, size(a) - {window}), "
        f"i -> concat_ws(' ', slice(a, i + 1, {window}))) "
        f"ELSE array() END), 1)"
    )
    wins = (
        _spread(docs).select("doc_id", F.explode(wins_arr).alias("s"))
        .select("doc_id", _hash60(F.col("s")).alias("h"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # keep only windows seen in >= 2 docs (pair evidence) and <= df_cap
    # docs (boilerplate guard) — the join fan-out is bounded by df_cap.
    keep = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("df"))
        .where((F.col("df") >= 2) & (F.col("df") <= df_cap))
        .select("h")
    )
    fw = wins.join(keep, "h")
    a = fw.select("h", F.col("doc_id").alias("doc_a"))
    b = fw.select(F.col("h").alias("h2"), F.col("doc_id").alias("doc_b"))
    return (
        a.join(b, (F.col("h") == F.col("h2")) & (F.col("doc_a") < F.col("doc_b")))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("shared_windows"))
        .where(F.col("shared_windows") >= min_shared)
    )


def substring_dedup_rewrite(
    docs: DataFrame,
    *,
    window: int = 8,
    text_col: str = "text",
) -> DataFrame:
    """Exact-substring corpus REWRITE (Lee et al. ACL'22 §4 — the
    deliverable their suffix-array tool actually emits, not just the
    pair evidence of :func:`exact_substring_pairs`): every verbatim run
    of ``window`` whitespace tokens keeps exactly its globally-first
    occurrence (lexicographic min over (doc_id, start position), so the
    rule is a total order and the output is ingest-order deterministic);
    every later occurrence — in another document OR later in the same
    document — has all of its covered token positions dropped, and each
    document is re-assembled from its surviving tokens.

    A fully-duplicated document therefore rewrites to the empty string
    (its every window is a later occurrence), the first copy survives
    verbatim, and in-document repetition collapses to its first span —
    the MassiveText in-doc dedupe for free.

    Output ``(doc_id, kept_text, n_tokens, n_dropped)``, one row per
    input document (short docs with < ``window`` tokens pass through
    unchanged).

    Scale shape (100-TB audit): windows are one posexplode (linear in
    token volume); the first-occurrence table is one map-side-combined
    ``min`` groupBy on the 60-bit window hash; later-occurrence
    detection is a linear equi-join back on the hash (each window row
    meets exactly one ``firsts`` row — NO pair fan-out, so unlike the
    pair query there is no df-cap and boilerplate spans are handled at
    full df); coverage expansion is a bounded ``sequence`` explode
    (``window`` rows per dup instance); the rewrite joins one
    doc-id-keyed dropped-positions array per document and filters
    row-locally (shuffle volume is document-count-, not token-, sized).
    First-occurrence keys pack as ``doc_id * 2^20 + pos`` (documents up
    to 1M tokens; a corpus with longer docs or >2^43 doc ids would
    switch the min to a struct ordering).
    """
    w = int(window)
    pos_pack = 1 << 20
    toks = f"filter(split({text_col}, '\\\\s+'), t -> t != '')"
    base = (
        _spread(docs)
        .select("doc_id", F.expr(toks).alias("toks"))
        # consumed twice (window scan + final rewrite join): checkpoint
        # so the tokenizing scan runs once
        .localCheckpoint(eager=True)
    )
    wins = base.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(toks) >= {w} THEN "
                f"transform(sequence(1, size(toks) - {w} + 1), "
                f"i -> concat_ws(' ', slice(toks, i, {w}))) "
                f"ELSE array() END"
            )
        ).alias("i0", "s"),
    ).select(
        "doc_id",
        (F.col("i0") + 1).cast("bigint").alias("pos"),
        _hash60(F.col("s")).alias("h"),
    )
    firsts = wins.groupBy("h").agg(
        F.min(F.col("doc_id") * pos_pack + F.col("pos")).alias("first_key")
    )
    dup_instances = (
        wins.join(firsts, "h")
        .where(F.col("doc_id") * pos_pack + F.col("pos") > F.col("first_key"))
        .select("doc_id", "pos")
    )
    dropped = (
        dup_instances.select(
            "doc_id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(w - 1))
            ).alias("p"),
        )
        .groupBy("doc_id")
        .agg(F.collect_set("p").alias("dropped"))
    )
    return base.join(dropped, "doc_id", "left").select(
        "doc_id",
        F.expr(
            "array_join(filter(transform(toks, (t, i) -> "
            "IF(array_contains(coalesce(dropped, array()), "
            "CAST(i + 1 AS BIGINT)), NULL, t)), t -> t IS NOT NULL), ' ')"
        ).alias("kept_text"),
        F.expr("size(toks)").cast("bigint").alias("n_tokens"),
        F.coalesce(F.expr("size(dropped)"), F.lit(0))
        .cast("bigint")
        .alias("n_dropped"),
    )


def crossdoc_dup_fraction(
    docs: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """(doc_id, n_grams, dup_grams, dup_fraction) — for each document,
    the fraction of its DISTINCT token n-grams that also occur in at
    least one other document (the inter-document duplication profile
    behind Gopher/RefinedWeb-style corpus audits: a high fraction marks
    boilerplate or templated scrapes that exact/near dedup missed at
    the whole-document grain).

    Plan shape is linear in gram volume at any corpus size: one
    distinct over (doc_id, gram), one groupBy gram for document
    frequency, one equi-join back, one groupBy doc_id — no doc x doc
    pairing anywhere.  Docs with fewer than ``n`` tokens report zero
    grams and 0.0 fraction (kept: absence of evidence is a value)."""
    grams = token_sets(docs, text_col, n)
    df = grams.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    per_doc = (
        grams.join(df, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("df") >= 2).cast("bigint"))
            .cast("bigint")
            .alias("dup_grams"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("dup_grams", F.lit(0)).cast("bigint").alias("dup_grams"),
            F.when(
                F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0)
            )
            .otherwise(
                F.round(
                    F.col("dup_grams").cast("double")
                    / F.col("n_grams").cast("double"),
                    round_to,
                )
            )
            .alias("dup_fraction"),
        )
    )


def gram_novelty(
    docs: DataFrame,
    *,
    n: int = 3,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """(doc_id, n_grams, novel_grams, novelty) — for each document, the
    fraction of its DISTINCT token n-grams whose FIRST corpus occurrence
    (minimum doc_id over the ingest order) is this document.  The
    arrival-order twin of :func:`crossdoc_dup_fraction`: where that op
    asks "how much of this doc exists elsewhere", novelty asks "how much
    did this doc add when it arrived" — the per-document marginal-
    contribution signal behind dedup-aware crawl scheduling and the
    memorization audits of Lee et al. ACL'22 §5 (later copies of a
    duplicated span contribute ~0 novel grams).

    Plan shape is linear in gram volume at any corpus size: one distinct
    over (doc_id, gram), one map-side-combined min(doc_id) per gram, one
    equi-join back, one per-doc fold — no doc x doc pairing and no
    global ordering (min over a BIGINT id is order-free).  Docs with
    fewer than ``n`` tokens report zero grams and 0.0 novelty (kept:
    absence of evidence is a value)."""
    grams = token_sets(docs, text_col, n)
    first = grams.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        grams.join(first, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum((F.col("first_doc") == F.col("doc_id")).cast("bigint"))
            .cast("bigint")
            .alias("novel_grams"),
        )
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce("novel_grams", F.lit(0))
            .cast("bigint")
            .alias("novel_grams"),
            F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0))
            .otherwise(
                F.round(
                    F.col("novel_grams").cast("double")
                    / F.col("n_grams").cast("double"),
                    round_to,
                )
            )
            .alias("novelty"),
        )
    )


# Vocabulary bound for the blocked-intersection containment path: with
# V distinct grams at most this, gram df is high enough that prefix
# filtering degenerates toward all-pairs (measured: the sf10 dense-vocab
# census spilled 127.5M+ candidates past a 78 GB disk), while per-class
# posting arrays stay small enough that every block pair is one
# in-task numpy intersection with NO materialized candidate relation.
# Above it, real-web sparse vocabularies make the AllPairs/PPJoin
# prefix filter actually prune, and the inverted-index path wins.
_CONTAIN_BLOCK_VOCAB_MAX = 1 << 17


def _gather_ragged(
    vals: np.ndarray, starts: np.ndarray, counts: np.ndarray
) -> np.ndarray:
    """Concatenate vals[starts[r] : starts[r]+counts[r]] over all r
    without a Python loop (exclusive-cumsum index arithmetic)."""
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=vals.dtype)
    excl = np.concatenate(([0], np.cumsum(counts)[:-1]))
    idx = np.arange(total, dtype=np.int64) + np.repeat(starts - excl, counts)
    return vals[idx]


def _containment_cls_pairs_blocked(
    cids: DataFrame,
    reps: DataFrame,
    threshold: float,
    *,
    k: int | None = None,
    block_rows: int = 4096,
    round_to: int = 6,
) -> DataFrame:
    """Ordered qualifying class pairs ``(ca, cb, containment)`` —
    ``ca`` contained in ``cb`` with round(|A n B| / |A|) >= threshold —
    for the dense-vocabulary regime where prefix filtering is powerless
    (every gram's df is a large fraction of all classes, so the
    candidate join degenerates to ~all-pairs and its materialization is
    the scale killer, not the arithmetic).

    Classes are hashed into ceil(n_cls / block_rows) blocks; every
    unordered block pair is ONE cogrouped-Arrow task that computes
    exact intersection counts with a vectorized inverted-index run
    match (sort both sides' gram postings, cartesian-expand matching
    gram runs in bounded chunks, ``bincount`` into a dense
    nA x nB int32 matrix) — the set analogue of
    :func:`embedding_near_dups`' blocked GEMM.  NO candidate relation
    is ever shuffled or spilled; per-task memory is bounded by
    block_rows^2 cells + the two blocks' postings.  Both containment
    directions are read off the one matrix (rows/sza and cols/szb).

    ``k``: per-CONTAINED-class in-task top-k retention (containment
    descending, with a 10^-round_to slack so candidates tied at the
    k-th value after the final round_to-decimal ROUND are never dropped
    before the exact JVM ranking) — the bounded-output regime that keeps the
    emitted stream ~n_cls * n_blocks * k instead of the full census.
    With ``k=None`` every qualifying pair is emitted (exact census,
    same values as the prefix path — intersections are exact ints and
    the threshold is re-applied JVM-side on ROUND'ed doubles).

    Gram identity in-task is xxhash64 of the gram string (no global id
    assignment, no single-partition window); a 64-bit collision between
    distinct grams of one corpus is ~V^2 / 2^65 and would only ever
    INFLATE one intersection count by 1."""
    cids = cids.localCheckpoint(eager=True)
    n_cls = cids.count()
    n_blocks = max(1, -(-n_cls // block_rows))
    blocked = cids.withColumn(
        "blk", F.pmod(F.xxhash64(F.col("cls").cast("string")), F.lit(n_blocks)).cast("int")
    )
    a_rep = blocked.select(
        "cls", "sz", "gids", F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(n_blocks - 1))).alias("bj"),
    )
    b_rep = blocked.select(
        "cls", "sz", "gids",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
    )
    # Both epsilons are DERIVED from round_to (r4 advisory: hardcoded
    # 1e-6 values were calibrated to round_to=6 and silently dropped
    # qualifying pairs at coarser rounding).  The final JVM filter is
    # round(i/sza, round_to) >= threshold, so a raw value as low as
    # threshold - 0.5*10^-round_to can still qualify; the in-task
    # prefilter must keep at least that (plus a float guard).
    t_eps = threshold - (0.5 * 10.0 ** -round_to + 1e-9)
    # Top-k tie slack: two raw values rounding to the same round_to
    # decimals differ by < 10^-round_to, so retaining everything within
    # that of the k-th unrounded value covers every post-ROUND tie.
    k_slack = 10.0 ** -round_to + 1e-9
    kk = k

    def _postings(pdf: pd.DataFrame):
        counts = np.fromiter(
            (len(x) for x in pdf["gids"]), dtype=np.int64, count=len(pdf)
        )
        if counts.sum() == 0:
            return (
                np.empty(0, np.int64),
                np.empty(0, np.int64),
            )
        grams = np.concatenate(
            [np.asarray(x, dtype=np.int64) for x in pdf["gids"]]
        )
        rows = np.repeat(np.arange(len(pdf), dtype=np.int64), counts)
        order = np.argsort(grams, kind="stable")
        return grams[order], rows[order]

    def _task(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame) -> pd.DataFrame:
        empty = pd.DataFrame(
            {
                "ca": np.empty(0, np.int64),
                "cb": np.empty(0, np.int64),
                "i": np.empty(0, np.int64),
            }
        )
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return empty
        ids_a = a_pdf["cls"].to_numpy()
        ids_b = b_pdf["cls"].to_numpy()
        sa = a_pdf["sz"].to_numpy().astype(np.int64)
        sb = b_pdf["sz"].to_numpy().astype(np.int64)
        nA, nB = len(a_pdf), len(b_pdf)
        ga, ra = _postings(a_pdf)
        gb, rb = _postings(b_pdf)
        if len(ga) == 0 or len(gb) == 0:
            return empty
        ua, a_st, a_ct = np.unique(ga, return_index=True, return_counts=True)
        ub, b_st, b_ct = np.unique(gb, return_index=True, return_counts=True)
        common, ia, ib = np.intersect1d(
            ua, ub, assume_unique=True, return_indices=True
        )
        if len(common) == 0:
            return empty
        a_st, a_ct = a_st[ia], a_ct[ia]
        b_st, b_ct = b_st[ib], b_ct[ib]
        # int32 accumulator (counts are bounded by gram-set sizes);
        # bincount's int64 chunk result is folded in with a same-kind
        # in-place cast, halving the persistent per-task matrix
        M = np.zeros(nA * nB, dtype=np.int32)
        pair_cnt = a_ct * b_ct
        csum = np.cumsum(pair_cnt)
        chunk = 1 << 22
        lo = 0
        while lo < len(common):
            hi = int(np.searchsorted(csum, (csum[lo - 1] if lo else 0) + chunk)) + 1
            hi = min(max(hi, lo + 1), len(common))
            act, bst, bct = a_ct[lo:hi], b_st[lo:hi], b_ct[lo:hi]
            # A elems of these runs, each repeated its run's b-count
            a_elems = _gather_ragged(ra, a_st[lo:hi], act)
            A_idx = np.repeat(a_elems, np.repeat(bct, act))
            # B slices per (run, a-elem): same order as A expansion
            B_idx = _gather_ragged(rb, np.repeat(bst, act), np.repeat(bct, act))
            M += np.bincount(A_idx * nB + B_idx, minlength=nA * nB)
            lo = hi
        M = M.reshape(nA, nB)
        diag = key[0] == key[1]

        def _emit(Mm, ids_r, ids_c, s_r):
            cont = Mm / s_r[:, None]
            ok = (cont >= t_eps) & (ids_r[:, None] != ids_c[None, :])
            if kk is not None and ok.any():
                contm = np.where(ok, cont, -1.0)
                take = min(kk, contm.shape[1])
                kth = np.partition(contm, contm.shape[1] - take, axis=1)[
                    :, contm.shape[1] - take
                ]
                ok &= cont >= np.maximum(kth[:, None] - k_slack, t_eps)
            rr, cc = np.nonzero(ok)
            return ids_r[rr], ids_c[cc], Mm[rr, cc]
        outs = [_emit(M, ids_a, ids_b, sa)]
        if not diag:
            # the transpose is the other containment direction; on the
            # diagonal block A==B so M already holds every ordered pair
            outs.append(_emit(M.T, ids_b, ids_a, sb))
        ca = np.concatenate([o[0] for o in outs])
        cb = np.concatenate([o[1] for o in outs])
        ii = np.concatenate([o[2] for o in outs])
        return pd.DataFrame(
            {"ca": ca, "cb": cb, "i": ii.astype(np.int64)}
        )

    pairs = (
        a_rep.groupby("bi", "bj")
        .cogroup(b_rep.groupby("bi", "bj"))
        .applyInPandas(_task, schema="ca bigint, cb bigint, i bigint")
    )
    s1 = reps.select(F.col("cls").alias("ca"), F.col("sz").alias("sza"))
    return (
        pairs.join(s1, "ca")
        .select(
            "ca",
            "cb",
            F.round(
                F.col("i").cast("double") / F.col("sza").cast("double"),
                round_to,
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
    )


def containment_pairs(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.6,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """(doc_a, doc_b, containment) — asymmetric near-dup pairs by
    n-gram set containment C(a in b) = |A n B| / |A| >= threshold, the
    quote/subset detector Jaccard structurally misses: a short doc
    fully embedded in a long one has tiny Jaccard (union is the long
    doc) but containment 1.0.  Standard corpus-dedup companion to the
    symmetric ngram_jaccard_pairs (RefinedWeb/Dolma-style sub-document
    leak audits).

    Candidate generation is prefix-filtered on the CONTAINED side only
    (the side the threshold bounds): order each doc's grams by
    ascending global document frequency (rarest first, ties by gram),
    keep the first sz - ceil(t*sz) + 1.  If C(a in b) >= t then
    |A n B| >= ceil(t*|A|), so b must share one of a's prefix grams —
    recall is exactly 1.0 (the ceil carries a 1e-6 slack so prefixes
    only ever err longer).  Hot (boilerplate-grade) grams land in
    suffixes and never fan out, which is the whole scale control: the
    candidate join is prefix x inverted-index, never doc x doc.
    Exact intersections are then counted on candidates only.

    Like :func:`ngram_jaccard_pairs`, exact-duplicate token SETS are
    collapsed into classes first — near-dup corpora are dominated by
    exact-dup clusters, and every member of a class has identical
    containment against everything else, so the candidate join and the
    intersection count run once per (contained-class, container-class)
    ordered pair and expand back to member doc pairs by joins.  Without
    the collapse the intersection fan-out is quadratic in class size
    (measured: AGGREGATE_OUT_OF_MEMORY at sf1, where dup classes hold
    hundreds of docs).  Candidates are pruned by a size filter
    (|B| >= t*|A|, since the overlap can't exceed |B|) and a
    containment-adapted PPJoin positional filter: with BOTH sides'
    grams in the same global (df, tok) order, a shared gram at
    positions (pa, pb) bounds the overlap by 1 + min(|A|-pa, |B|-pb),
    which must reach ceil(t*|A|).  Intra-class ordered pairs are
    emitted directly with containment exactly 1.0.

    Verification is a row-local JVM ``array_intersect`` over the two
    classes' sorted gram arrays — never an exploded gram join + wide
    aggregate (a containment prefix at t=0.6 is ~40% of each doc's
    grams vs ~10% for Jaccard at t=0.9, so the exploded-intersection
    shape that works there generates OOM-grade aggregate input here).
    """
    classes, _, cls_pairs = _containment_cls_pairs(
        docs, n=n, threshold=threshold, text_col=text_col, round_to=round_to
    )
    return _containment_expand_census(cls_pairs, classes)


def _containment_cls_pairs(
    docs: DataFrame,
    *,
    n: int,
    threshold: float,
    text_col: str,
    round_to: int,
    k: int | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Exact-dup class collapse plus the qualifying ordered class pairs
    of the containment family: ``(classes, reps, cls_pairs)``.  Grams
    are carried as the sorted array: the class key hashes it AND the
    sparse-path verifier intersects it row-locally.  A vocabulary of at
    most ``_CONTAIN_BLOCK_VOCAB_MAX`` grams takes the dense blocked path
    (with per-contained top-``k`` retention when ``k`` is given), a
    larger one the prefix-filtered census path."""
    toks = token_sets(docs, text_col, n).localCheckpoint(eager=True)
    classes = (
        toks.groupBy("doc_id")
        .agg(F.sort_array(F.collect_list("tok")).alias("grams"))
        .select(
            "doc_id",
            F.xxhash64(F.concat_ws("\x1f", "grams")).alias("cls"),
            F.size("grams").alias("sz"),
            "grams",
        )
        .localCheckpoint(eager=True)
    )
    reps = classes.groupBy("cls").agg(
        F.min("doc_id").alias("rep"), F.first("sz").alias("sz")
    )
    cgrams = (
        classes.join(reps.select(F.col("rep").alias("doc_id"), "cls"), ["cls", "doc_id"])
        .select("cls", "sz", "grams")
        .localCheckpoint(eager=True)
    )
    rtoks = cgrams.select("cls", F.explode("grams").alias("tok"))
    dfreq = rtoks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    vocab = dfreq.count()
    if 0 < vocab <= _CONTAIN_BLOCK_VOCAB_MAX:
        cids = cgrams.select(
            "cls", "sz",
            F.expr("transform(grams, g -> xxhash64(g))").alias("gids"),
        )
        cls_pairs = _containment_cls_pairs_blocked(
            cids, reps, threshold, k=k, round_to=round_to
        )
    else:
        cls_pairs = _containment_cls_pairs_prefix(
            cgrams, reps, rtoks, dfreq, threshold, round_to=round_to
        )
    return classes, reps, cls_pairs


def _containment_cls_pairs_prefix(
    cgrams: DataFrame,
    reps: DataFrame,
    rtoks: DataFrame,
    dfreq: DataFrame,
    threshold: float,
    *,
    round_to: int = 6,
) -> DataFrame:
    """Sparse-vocabulary census path: AllPairs/SSJoin prefix-filtered
    candidates (recall exactly 1.0 on the contained side) + row-local
    ``array_intersect`` verification over the classes' sorted gram
    arrays.  See :func:`containment_pairs` for the full argument."""
    from pyspark.sql import Window

    w = Window.partitionBy("cls").orderBy(F.asc("df"), F.asc("tok"))
    need = F.ceil(F.lit(float(threshold)) * F.col("sz") - F.lit(1e-6))
    # eager checkpoint, same rationale as ngram_jaccard_pairs above:
    # leaving posed lazy folds the df-order window and the inverted-index
    # join into one giant downstream plan
    posed = (
        rtoks.join(dfreq, "tok")
        .join(reps.select("cls", "sz"), "cls")
        .withColumn("pos", F.row_number().over(w))
        .localCheckpoint(eager=True)
    )
    prefix = posed.filter(F.col("pos") <= F.col("sz") - need + 1).select(
        F.col("cls").alias("ca"),
        F.col("sz").alias("sza"),
        F.col("pos").alias("pa"),
        "tok",
    )
    index_b = posed.select(
        F.col("cls").alias("cb"),
        F.col("sz").alias("szb"),
        F.col("pos").alias("pb"),
        "tok",
    )
    need_a = F.ceil(F.lit(float(threshold)) * F.col("sza") - F.lit(1e-6))
    cands = (
        prefix.join(index_b, "tok")
        .filter(
            (F.col("ca") != F.col("cb"))
            # overlap <= |B|, so C(a in b) >= t forces |B| >= t*|A|
            & (F.col("szb") >= F.lit(float(threshold)) * F.col("sza") - 1e-6)
            # positional: overlap <= 1 + min(|A|-pa, |B|-pb) must reach
            # ceil(t*|A|) for SOME shared gram; any candidate pair's
            # rarest shared prefix gram gives the tightest such bound,
            # and a pair qualifying on overlap always has a generating
            # (pa, pb) satisfying it (the PPJoin argument, one-sided)
            & (
                1 + F.least(F.col("sza") - F.col("pa"), F.col("szb") - F.col("pb"))
                >= need_a
            )
        )
        .select("ca", "cb")
        .distinct()
        .localCheckpoint(eager=True)
    )
    # --- row-local exact verification over sorted gram arrays -----------
    ga = cgrams.select(
        F.col("cls").alias("ca"), F.col("sz").alias("sza"), F.col("grams").alias("ga")
    )
    gb = cgrams.select(F.col("cls").alias("cb"), F.col("grams").alias("gb"))
    contain = F.round(
        F.size(F.array_intersect("ga", "gb")).cast("double")
        / F.col("sza").cast("double"),
        round_to,
    )
    return (
        cands.join(ga, "ca")
        .join(gb, "cb")
        .select("ca", "cb", contain.alias("containment"))
        .filter(F.col("containment") >= threshold)
    )


def _containment_expand_census(
    cls_pairs: DataFrame, classes: DataFrame
) -> DataFrame:
    """Expand qualifying ordered class pairs back to ordered doc pairs
    (full census): cross-class pairs by member joins, intra-class
    ordered pairs at containment exactly 1.0."""
    m = classes.select("doc_id", "cls")
    cross_docs = (
        cls_pairs.join(
            m.select(F.col("cls").alias("ca"), F.col("doc_id").alias("doc_a")),
            "ca",
        )
        .join(
            m.select(F.col("cls").alias("cb"), F.col("doc_id").alias("doc_b")),
            "cb",
        )
        .select("doc_a", "doc_b", "containment")
    )
    m1 = m.alias("m1")
    m2 = m.alias("m2")
    intra_docs = (
        m1.join(
            m2,
            (F.col("m1.cls") == F.col("m2.cls"))
            & (F.col("m1.doc_id") != F.col("m2.doc_id")),
        )
        .select(
            F.col("m1.doc_id").alias("doc_a"),
            F.col("m2.doc_id").alias("doc_b"),
            F.lit(1.0).alias("containment"),
        )
    )
    return cross_docs.unionByName(intra_docs)


def containment_topk(
    docs: DataFrame,
    *,
    n: int = 3,
    threshold: float = 0.6,
    k: int = 10,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """``(doc_a, doc_b, containment, rank)`` — for each document, its
    top-``k`` containers among the qualifying census pairs of
    :func:`containment_pairs`, ranked by (rounded containment DESC,
    doc_b ASC); ``rank`` is 1-based.  EXACTLY equal to the full census
    ranked and sliced per doc — but with a bounded execution footprint,
    so it completes on dense-vocabulary corpora where the census output
    itself is quadratic by construction (the r3 sf10 casualty: the
    census spilled its candidate relation past the 78 GB disk).

    Boundedness, stage by stage:

    1. Class pairs come from :func:`_containment_cls_pairs_blocked`
       with in-task per-contained top-k retention — the emitted stream
       is ~n_cls * n_blocks * k rows, never the quadratic census.
       (Sparse-vocab corpora take the prefix-filtered census path,
       which prunes by assumption there.)
    2. Per contained class, the top-k container CLASSES by (containment
       DESC, rep ASC) — rep = the class's minimum member doc_id.
    3. Expansion emits only each selected class's k smallest members
       (cross) and each doc's k+1 smallest class-mates (intra, all at
       containment exactly 1.0), then one final per-doc window takes k.

    Exactness of the class-level cut (stage 2+3 vs the doc-level
    definition): docs of one class share one containment value, and a
    class's members are all >= its rep.  For any tie group of classes
    at containment c, keeping the k classes with smallest reps keeps k
    member docs smaller than every member of any dropped class, so no
    dropped class can reach the per-doc top-k under (containment DESC,
    doc_b ASC); classes with strictly smaller containment than k kept
    classes are likewise unreachable.  Within a kept class only the k
    smallest members can place.  The in-task retention of stage 1
    carries a 10^-round_to slack past the k-th unrounded value,
    covering every candidate that could tie after the final
    round_to-decimal ROUND.
    The oracle twin is therefore just the census SQL + one QUALIFY
    row_number() — no engine trick leaks into the semantics."""
    from pyspark.sql import Window

    classes, reps, cls_pairs = _containment_cls_pairs(
        docs, n=n, threshold=threshold, text_col=text_col, round_to=round_to, k=k
    )
    # stage 2: top-k container classes per contained class
    repb = reps.select(F.col("cls").alias("cb"), F.col("rep").alias("rep_b"))
    w1 = Window.partitionBy("ca").orderBy(
        F.desc("containment"), F.asc("rep_b")
    )
    top_cls = (
        cls_pairs.join(repb, "cb")
        .withColumn("_rn", F.row_number().over(w1))
        .filter(F.col("_rn") <= k)
        .select("ca", "cb", "containment")
    )
    # stage 3: k-sliced member expansion + final per-doc window
    wm = Window.partitionBy("cls").orderBy("doc_id")
    memk = (
        classes.select("cls", "doc_id")
        .withColumn("_mrn", F.row_number().over(wm))
        .filter(F.col("_mrn") <= k + 1)
    )
    m = classes.select("doc_id", "cls")
    cross = (
        top_cls.join(
            m.select(F.col("cls").alias("ca"), F.col("doc_id").alias("doc_a")),
            "ca",
        )
        .join(
            memk.filter(F.col("_mrn") <= k).select(
                F.col("cls").alias("cb"), F.col("doc_id").alias("doc_b")
            ),
            "cb",
        )
        .select("doc_a", "doc_b", "containment")
    )
    intra = (
        m.select("cls", F.col("doc_id").alias("doc_a"))
        .join(memk.select("cls", F.col("doc_id").alias("doc_b")), "cls")
        .filter(F.col("doc_b") != F.col("doc_a"))
        .select("doc_a", "doc_b", F.lit(1.0).alias("containment"))
    )
    w2 = Window.partitionBy("doc_a").orderBy(
        F.desc("containment"), F.asc("doc_b")
    )
    return (
        cross.unionByName(intra)
        .withColumn("rank", F.row_number().over(w2))
        .filter(F.col("rank") <= k)
        .select("doc_a", "doc_b", "containment", "rank")
    )


# ------------------------------------------------------- semantic dedup


def semdedup_keep_list(
    embeddings: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    threshold: float = 0.5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    block_rows: int = 4096,
    round_to: int = 6,
) -> DataFrame:
    """SemDeDup (Abbas et al., arXiv:2303.09540): semantic dedup of an
    embedding corpus — k-means clusters, then within-cluster cosine
    pruning.  The public reference implementation drops a point when its
    cosine to any LOWER-INDEX member of the same cluster exceeds the
    threshold (facebookresearch/SemDeDup keeps the first-seen
    representative of each semantic-duplicate neighborhood); with the
    repo's deterministic hash-init k-means (:func:`~graphjet_spark.
    operators.ann.kmeans_assign`) the whole pass is a pure function of
    the table and value-oracles against DuckDB.

    Output, one row per vector: ``(vec_id, cluster, max_cos_smaller,
    keep)`` where ``max_cos_smaller`` is the max round-6 cosine to any
    smaller-id cluster-mate (sentinel ``-2.0`` when none — cluster
    minimum or singleton) and ``keep = max_cos_smaller < threshold``.

    Scale shape (the SemDeDup premise is k grows with the corpus so
    cluster sizes stay bounded):

    - per-cluster **blocked GEMM** candidate generation, sized by a
      k-row cluster-size map (k rows to the driver, never data rows):
      cluster c with n_c members gets ceil(n_c / block_rows) blocks, so
      a skewed mega-cluster fans out into more block-pair tasks instead
      of one oversized task; per-task memory is 2 * block_rows * dim
      floats and no quadratic row intermediate is materialized — each
      task emits only the block-local near-max (within 1e-5) smaller-id
      candidates per row;
    - exact float64 rescore of candidates with sequential JVM
      aggregate/zip_with folds (byte-identical to a naive evaluation,
      reproducible against the DuckDB twin), round-6, then a map-side-
      combined max per vector;
    - the keep flag is a row-local comparison; the final left join is
      hash-partitioned on vec_id.
    """
    from graphjet_spark.operators.ann import kmeans_assign

    clusters = kmeans_assign(
        embeddings, k=k, iters=iters, id_col=id_col, vec_col=vec_col
    ).localCheckpoint(eager=True)

    nb_rows = [
        (int(r["cluster"]), max(1, -(-int(r["n"]) // block_rows)))
        for r in clusters.groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    nb_map = embeddings.sparkSession.createDataFrame(
        nb_rows, "cluster int, nb int"
    )

    v = (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.transform(vec_col, lambda x: x.cast("double")).alias("v"),
        )
        .join(clusters.withColumnRenamed("vec_id", "id"), "id")
        .join(F.broadcast(nb_map), "cluster")
        # materialized once: three consumers (both cogroup sides + the
        # rescore), and the join-bearing lineage would otherwise trip
        # Spark's ambiguous-self-join detection at the cogroup
        .localCheckpoint(eager=True)
    )
    a_rep = v.select(
        "id",
        "v",
        "cluster",
        F.pmod(F.xxhash64("id"), F.col("nb")).cast("int").alias("bi"),
        F.explode(F.sequence(F.lit(0), F.col("nb") - 1)).alias("bj"),
    )
    b_rep = v.select(
        "id",
        "v",
        "cluster",
        F.explode(F.sequence(F.lit(0), F.col("nb") - 1)).alias("bi"),
        F.pmod(F.xxhash64("id"), F.col("nb")).cast("int").alias("bj"),
    )
    eps = 1e-5

    def _block_smax(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame):
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({"id": [], "id_s": []})
        A = np.stack(a_pdf["v"].to_numpy()).astype(np.float64)
        B = np.stack(b_pdf["v"].to_numpy()).astype(np.float64)
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(B, axis=1)
        na[na == 0] = np.inf  # zero vectors never produce a candidate
        nb[nb == 0] = np.inf
        S = (A / na[:, None]) @ (B / nb[:, None]).T
        ida = a_pdf["id"].to_numpy()
        idb = b_pdf["id"].to_numpy()
        # only smaller-id cluster-mates count (the SemDeDup keep rule)
        S = np.where(idb[None, :] < ida[:, None], S, -np.inf)
        rowmax = S.max(axis=1, keepdims=True)
        # near-max per row; isfinite() drops the masked -inf cells of
        # rows whose every candidate is masked (rowmax = -inf)
        ia, ib = np.nonzero((S >= rowmax - eps) & np.isfinite(S))
        return pd.DataFrame({"id": ida[ia], "id_s": idb[ib]})

    cand = (
        a_rep.groupby("cluster", "bi", "bj")
        .cogroup(b_rep.groupby("cluster", "bi", "bj"))
        .applyInPandas(_block_smax, schema="id bigint, id_s bigint")
    )

    # exact float64 rescore: sequential JVM folds, byte-identical to a
    # naive all-pairs evaluation (same discipline as embedding_near_dups)
    norm = F.sqrt(
        F.aggregate(
            F.transform("v", lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
        )
    )
    va = v.select(F.col("id"), F.col("v").alias("va"), norm.alias("na"))
    vb = v.select(
        F.col("id").alias("id_s"), F.col("v").alias("vb"), norm.alias("nb2")
    )
    dot = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    mx = (
        cand.join(va, "id")
        .join(vb, "id_s")
        .select(
            "id",
            F.round(dot / (F.col("na") * F.col("nb2")), round_to).alias("cos"),
        )
        .groupBy("id")
        .agg(F.max("cos").alias("mcs"))
    )
    out = clusters.join(
        mx.withColumnRenamed("id", "vec_id"), "vec_id", "left"
    )
    mcs = F.coalesce(F.col("mcs"), F.lit(-2.0))
    return out.select(
        "vec_id",
        "cluster",
        mcs.alias("max_cos_smaller"),
        (mcs < F.lit(threshold)).alias("keep"),
    )


def bloom_decontamination_flags(
    docs: DataFrame,
    benchmark: DataFrame,
    *,
    n: int = 3,
    m_bits: int = 1 << 16,
    k: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, bloom_grams)`` — the Bloom-filter form of
    :func:`decontamination_flags`: training documents whose token
    n-grams test positive against a Bloom filter built from the
    benchmark set's grams.  ``bloom_grams`` counts the doc's distinct
    grams passing the filter — a SUPERSET of the exact ``shared_grams``
    (no false negatives; overcount ~ fill_ratio**k per clean gram,
    property-tested against the exact join).

    This is the decontamination shape that survives 100 TB: the exact
    version ships every distinct benchmark gram into an equi-join
    against the full training gram volume; here the benchmark collapses
    to a <= m_bits-row bit set (``sketches.bloom_bits``) that BROADCASTS,
    so the training side streams at scan rate with no gram-key shuffle
    at all — the standard first-pass filter before an exact confirm on
    the (tiny) flagged remainder.  Deterministic md5-prefix probes keep
    it value-oracle-able against a DuckDB twin computing the identical
    bit set."""
    from graphjet_spark.operators.sketches import bloom_bits, bloom_member_flags

    grams = token_sets(docs, text_col, n)
    bench_ids = benchmark.select("doc_id")
    bits = bloom_bits(
        grams.join(bench_ids, "doc_id", "left_semi").select("tok").distinct(),
        "tok",
        m_bits=m_bits,
        k=k,
    )
    train = grams.join(bench_ids, "doc_id", "left_anti")
    passing = bloom_member_flags(train, bits, "tok", m_bits=m_bits, k=k)
    return passing.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("bloom_grams")
    )


def paragraph_dedup_rewrite(
    docs: DataFrame,
    *,
    para_tokens: int = 16,
    text_col: str = "text",
) -> DataFrame:
    """``(doc_id, n_paras, kept_paras, text)`` — paragraph-level exact
    dedup with corpus rewrite (the Dolma / RefinedWeb paragraph pass):
    each document splits into fixed-``para_tokens`` non-overlapping
    token windows ("paragraphs" — the synthetic corpus carries no
    newline structure, so the window IS the paragraph unit), every
    paragraph whose content already appeared at a smaller
    (doc_id, para_idx) is DROPPED, and the survivors reassemble in
    order into the rewritten text.  First occurrence wins globally —
    an order-free min, no window function.

    Scale shape: paragraphs are a narrow JVM projection (split +
    sequence + slice, scan rate); ownership is ONE map-side-combined
    min-groupBy on the 60-bit paragraph hash plus one equi-join back —
    linear in paragraph volume, never doc x doc.  Reassembly groups by
    doc_id with a sort_array over (para_idx, text) structs, the same
    bounded-state shape as chunk/pack.  All doc_ids survive (empty or
    fully-dropped docs emit text '')."""
    docs = _spread(docs)
    toks = (
        f"CASE WHEN trim({text_col}) = '' THEN array() "
        f"ELSE split(trim({text_col}), '\\\\s+') END"
    )
    starts = (
        f"CASE WHEN size({toks}) = 0 THEN array() "
        f"ELSE sequence(0, size({toks}) - 1, {para_tokens}) END"
    )
    paras = (
        docs.select(
            "doc_id",
            F.expr(toks).alias("_w"),
            F.posexplode_outer(F.expr(starts)).alias("para_idx", "_s"),
        )
        .where(F.col("_s").isNotNull())
        .select(
            "doc_id",
            F.col("para_idx").cast("bigint").alias("para_idx"),
            F.concat_ws(
                " ", F.expr(f"slice(_w, _s + 1, {para_tokens})")
            ).alias("ptext"),
        )
    )
    # first occurrence = lexicographic min over (doc_id, para_idx) as a
    # struct — overflow-free at any doc_id/para_idx (no packed-key
    # arithmetic).  Ownership groups on (h, ptext), not the hash alone,
    # so a 60-bit birthday collision between DISTINCT paragraph texts
    # can never drop a paragraph — h only narrows the shuffle key.
    hashed = paras.select(
        "doc_id", "para_idx", "ptext", _hash60(F.col("ptext")).alias("h")
    )
    owner = hashed.groupBy("h", "ptext").agg(
        F.min(F.struct("doc_id", "para_idx")).alias("_first")
    )
    kept = hashed.join(owner, ["h", "ptext"]).where(
        (F.col("doc_id") == F.col("_first.doc_id"))
        & (F.col("para_idx") == F.col("_first.para_idx"))
    )
    agg = kept.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_paras"),
        F.concat_ws(
            " ",
            F.expr("transform(sort_array(collect_list(struct(para_idx, ptext))), x -> x.ptext)"),
        ).alias("new_text"),
    )
    n_paras = F.expr(
        f"CAST(CEIL(size({toks}) / CAST({para_tokens} AS DOUBLE)) AS BIGINT)"
    )
    return (
        docs.select("doc_id", n_paras.alias("n_paras"))
        .join(agg, "doc_id", "left")
        .select(
            "doc_id",
            "n_paras",
            F.coalesce("kept_paras", F.lit(0)).cast("bigint").alias(
                "kept_paras"
            ),
            F.coalesce("new_text", F.lit("")).alias("text"),
        )
    )
