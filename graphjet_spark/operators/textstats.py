"""Text-analysis operators for training-data pipelines: token counting,
quality scoring, language ID, document fingerprinting.

Everything on the hot path is JVM-side column expressions (whole-stage
codegen); the language-ID profile scoring is the one Arrow/pandas stage
(vector math over trigram profiles).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --------------------------------------------------------------- counting

# BPE-ish tokenization: words, numbers, or single non-space symbols —
# approximates subword pre-tokenization (the GPT-2 pre-tokenizer shape).
BPE_ISH_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_count(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, ws_tokens, bpe_ish_tokens) — whitespace vs regex counts,
    both pure column expressions."""
    ws = F.size(F.split(F.trim(F.col(text_col)), r"\s+"))
    bpe = F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_ISH_RE), F.lit(0)))
    return docs.select(
        "doc_id",
        F.when(F.trim(F.col(text_col)) == "", 0).otherwise(ws).alias("ws_tokens"),
        bpe.alias("bpe_ish_tokens"),
    )


# ---------------------------------------------------------------- quality

_STOPWORDS = (
    "the of and a to in is it you that he was for on are as with his they i".split()
)


def quality_columns(text: Column) -> dict[str, Column]:
    """Quality signals as named column expressions (reusable)."""
    n_chars = F.length(text)
    words = F.split(F.trim(text), r"\s+")
    n_words = F.when(F.trim(text) == "", 0).otherwise(F.size(words))
    mean_word_len = F.when(n_words > 0, n_chars / n_words).otherwise(F.lit(0.0))
    punct = F.length(F.regexp_replace(text, r"[^.,;:!?]", ""))
    punct_ratio = F.when(n_chars > 0, punct / n_chars).otherwise(F.lit(0.0))
    sw_arr = F.array(*[F.lit(w) for w in _STOPWORDS])
    n_stop = F.size(
        F.filter(words, lambda w: F.array_contains(sw_arr, F.lower(w)))
    )
    stop_ratio = F.when(n_words > 0, n_stop / n_words).otherwise(F.lit(0.0))
    return {
        "n_chars": n_chars,
        "n_words": n_words,
        "mean_word_len": mean_word_len,
        "punct_ratio": punct_ratio,
        "stopword_ratio": stop_ratio,
    }


def quality_score(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_words, quality) — quality in [0, 1]: a deterministic
    blend of length band, mean word length band, and stopword presence
    (Gopher-rules-style heuristics, simplified)."""
    q = quality_columns(F.col(text_col))
    length_ok = (q["n_words"] >= 5) & (q["n_words"] <= 100_000)
    mwl_ok = (q["mean_word_len"] >= 2.0) & (q["mean_word_len"] <= 12.0)
    score = (
        length_ok.cast("double") * 0.4
        + mwl_ok.cast("double") * 0.3
        + F.least(q["stopword_ratio"] * F.lit(4.0), F.lit(1.0)) * 0.3
    )
    return docs.select(
        "doc_id",
        q["n_words"].alias("n_words"),
        F.round(score, 6).alias("quality"),
    )


# ------------------------------------------------------------ language ID

# Tiny marker-word profiles (deterministic, self-contained). Real
# deployments would load fastText/CLD3 profiles through the same
# operator shape.
_LANG_MARKERS: dict[str, list[str]] = {
    "en": "the and is of to you that it with for".split(),
    "de": "der die das und ist nicht ich du mit für".split(),
    "fr": "le la les et est une pour que vous dans".split(),
    "es": "el la los y es una para que usted en".split(),
    "pt": "o a os e é uma para que você em".split(),
    "it": "il la gli e è una per che lei in".split(),
}


def language_id(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, pred_lang, lang_score) — argmax marker-word hit rate,
    ties broken by language code order; 'und' when nothing matches.

    One Arrow stage (the operator shape a real fastText/CLD3 profile
    would plug into), fully vectorized: explode tokens once, then per
    language a C-level isin + groupby-sum — no per-row Python.  The
    score is the raw hits/tokens float64 ratio (no rounding: identical
    integer division in any IEEE engine, so the DuckDB oracle matches
    bit-for-bit)."""
    langs = sorted(_LANG_MARKERS)
    markers = {l: frozenset(_LANG_MARKERS[l]) for l in langs}

    def _lid(batches):
        for pdf in batches:
            pdf = pdf.reset_index(drop=True)
            toks = pdf[text_col].str.lower().str.split()
            n_tok = toks.str.len().fillna(0).to_numpy(dtype=np.float64)
            ex = toks.explode().dropna()
            scores = np.zeros((len(pdf), len(langs)))
            safe_n = np.where(n_tok > 0, n_tok, 1.0)
            for j, l in enumerate(langs):
                hits = (
                    ex.isin(markers[l])
                    .groupby(level=0)
                    .sum()
                    .reindex(pdf.index, fill_value=0)
                    .to_numpy(dtype=np.float64)
                )
                scores[:, j] = np.where(n_tok > 0, hits / safe_n, 0.0)
            best = scores.argmax(axis=1)
            best_score = scores.max(axis=1) if len(pdf) else np.zeros(0)
            pred = np.where(
                best_score > 0.0, np.asarray(langs, dtype=object)[best], "und"
            )
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "pred_lang": pred,
                    "lang_score": best_score,
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(
        _lid, schema="doc_id bigint, pred_lang string, lang_score double"
    )


# ---------------------------------------------------------- fingerprinting


def content_fingerprint(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, md5, h64) — exact-content fingerprints, JVM-side."""
    return docs.select(
        "doc_id",
        F.md5(F.col(text_col)).alias("md5"),
        F.xxhash64(F.col(text_col)).alias("h64"),
    )


def winnowing_fingerprints(
    docs: DataFrame,
    *,
    k: int = 5,
    window: int = 4,
    text_col: str = "text",
) -> DataFrame:
    """(doc_id, fingerprints array<bigint>) — winnowing (Schleimer et al.
    SIGMOD'03): rolling hashes of k-grams, keep the min hash of each
    sliding window (rightmost min), dedup.  Local-algorithm guarantee:
    any shared substring >= window+k-1 chars yields a shared
    fingerprint.  The k-gram polynomial hash is evaluated by Horner's
    rule over a (n-k+1, k) sliding-window view — k vectorized numpy
    steps per doc, no per-character Python (31-bit modulus keeps every
    product inside uint64)."""

    def _fp(batches):
        base = np.uint64(257)
        mod = np.uint64((1 << 31) - 1)
        for pdf in batches:
            n_docs = len(pdf)
            if n_docs == 0:
                continue
            # flat-batch kernel (same shape as dedup.minhash_signatures):
            # one concatenated byte buffer + per-doc offsets; every
            # O(total-chars) step is a whole-buffer numpy op — the only
            # Python loops are the k Horner steps and O(n_docs)
            # bookkeeping (encode/split), never per character.
            enc = pdf[text_col].str.encode("utf-8")
            lens = enc.str.len().to_numpy(dtype=np.int64)
            buf = np.frombuffer(b"".join(enc.tolist()), dtype=np.uint8).astype(
                np.uint64
            )
            starts = np.zeros(n_docs, dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            nk = np.maximum(lens - k + 1, 0)  # k-grams per doc
            # Horner over the WHOLE buffer: kh[p] hashes buf[p:p+k];
            # positions spanning doc boundaries exist but are never
            # selected below (kh index == flat byte position)
            if len(buf) >= k:
                win_n = len(buf) - k + 1
                kh = np.zeros(win_n, dtype=np.uint64)
                for j in range(k):
                    kh = (kh * base + buf[j : j + win_n]) % mod
            else:
                kh = np.zeros(0, dtype=np.uint64)
            doc_parts, val_parts = [], []
            big = nk >= window  # full winnowing windows exist
            if big.any():
                swm = np.lib.stride_tricks.sliding_window_view(
                    kh, window
                ).min(axis=1)
                cnt = nk[big] - window + 1  # window starts per big doc
                csum = np.cumsum(cnt)
                ragged = np.arange(csum[-1]) - np.repeat(csum - cnt, cnt)
                pos = np.repeat(starts[big], cnt) + ragged
                doc_parts.append(np.repeat(np.flatnonzero(big), cnt))
                val_parts.append(swm[pos])
            small = (nk > 0) & ~big  # fewer k-grams than the window
            if small.any():
                s = starts[small]
                seg = np.stack([s, s + nk[small]], axis=1).ravel()
                if seg[-1] == len(kh):  # reduceat indices must be < len
                    seg = seg[:-1]
                doc_parts.append(np.flatnonzero(small))
                val_parts.append(np.minimum.reduceat(kh, seg)[0::2])
            if doc_parts:
                # distinct (doc, fingerprint) + per-doc ascending sort in
                # one np.unique over packed keys (values < 2^31)
                key = (
                    np.concatenate(doc_parts).astype(np.uint64) << np.uint64(31)
                ) | np.concatenate(val_parts)
                u = np.unique(key)
                u_doc = (u >> np.uint64(31)).astype(np.int64)
                u_val = (u & mod).astype(np.int64)
            else:
                u_doc = np.zeros(0, dtype=np.int64)
                u_val = np.zeros(0, dtype=np.int64)
            bounds = np.searchsorted(u_doc, np.arange(n_docs + 1))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].to_numpy(),
                    "fingerprints": [
                        u_val[bounds[i] : bounds[i + 1]].tolist()
                        for i in range(n_docs)
                    ],
                }
            )

    return docs.select("doc_id", text_col).mapInPandas(
        _fp, schema="doc_id bigint, fingerprints array<bigint>"
    )


# ---------------------------------------------------------- repetition

def repetition_stats(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(doc_id, n_tokens, distinct_token_frac, top_token_frac,
    distinct_bigram_frac, top_bigram_frac) — Gopher-style repetition
    signals (Rae et al. 2021 §A1.1: fraction of tokens in the most
    common n-gram, duplicate-n-gram fractions) over whitespace tokens.

    Plan: posexplode the token array (JVM codegen), per-(doc, gram)
    counts via groupBy with map-side partial aggregation, then one
    narrow per-doc rollup — no window over full documents, no Python.
    Bigrams come from a lead() over (doc, pos), partitioned by doc_id
    (one shuffle, bounded by document length, never by corpus size)."""
    from pyspark.sql import Window

    words = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    base = docs.select("doc_id", words.alias("w"))

    tok = base.select("doc_id", F.posexplode("w").alias("pos", "t"))
    win = Window.partitionBy("doc_id").orderBy("pos")
    tok2 = tok.withColumn("nxt", F.lead("t").over(win))

    def gram_stats(grams: DataFrame, col: str, prefix: str) -> DataFrame:
        counts = grams.groupBy("doc_id", col).agg(
            F.count(F.lit(1)).alias("c")
        )
        return counts.groupBy("doc_id").agg(
            F.sum("c").cast("bigint").alias(f"{prefix}_n"),
            F.count(F.lit(1)).cast("bigint").alias(f"{prefix}_distinct"),
            F.max("c").cast("bigint").alias(f"{prefix}_top"),
        )

    uni = gram_stats(tok, "t", "u")
    bi = gram_stats(
        tok2.where(F.col("nxt").isNotNull()).select(
            "doc_id", F.concat_ws(" ", "t", "nxt").alias("b")
        ),
        "b",
        "b",
    )

    frac = lambda num, den: F.round(  # noqa: E731
        F.when(
            F.col(den) > 0, F.col(num).cast("double") / F.col(den).cast("double")
        ).otherwise(F.lit(0.0)),
        6,
    )
    return (
        docs.select("doc_id")
        .join(uni, "doc_id", "left")
        .join(bi, "doc_id", "left")
        .na.fill(0, ["u_n", "u_distinct", "u_top", "b_n", "b_distinct", "b_top"])
        .select(
            "doc_id",
            F.col("u_n").alias("n_tokens"),
            frac("u_distinct", "u_n").alias("distinct_token_frac"),
            frac("u_top", "u_n").alias("top_token_frac"),
            frac("b_distinct", "b_n").alias("distinct_bigram_frac"),
            frac("b_top", "b_n").alias("top_bigram_frac"),
        )
    )


# ------------------------------------------------------------- tf-idf

def tfidf_top_terms(
    docs: DataFrame,
    *,
    k: int = 5,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """(doc_id, term, tfidf, rank) — top-k terms per document by
    tf * ln(N/df) over whitespace tokens, rank ties broken by term.

    Ordering uses the ROUNDED score so the top-k boundary is
    cross-engine stable (the repo-wide rule for LIMIT-bounded outputs).
    Plan: one explode + two aggregations (map-side combined) + one
    per-doc window — df is a corpus-wide table a real pipeline would
    materialize alongside the vocabulary (vocab_stats)."""
    from pyspark.sql import Window

    words = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    tok = docs.select("doc_id", F.explode(words).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df_tbl = tf.groupBy("term").agg(
        F.count(F.lit(1)).cast("double").alias("df")
    )
    n_docs = docs.count()
    scored = tf.join(df_tbl, "term").select(
        "doc_id",
        "term",
        F.round(
            F.col("tf").cast("double")
            * F.log(F.lit(float(n_docs)) / F.col("df")),
            round_to,
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("tfidf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("doc_id", "term", "tfidf", F.col("rank").cast("int").alias("rank"))
    )


# --------------------------------------------------------- collocations

def collocations_pmi(
    docs: DataFrame,
    *,
    min_count: int = 5,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """(w1, w2, pair_count, pmi) — corpus-level collocation extraction:
    pointwise mutual information of adjacent token pairs,
    PMI = ln( (c_xy / N_bi) / ((c_x / N_uni) * (c_y / N_uni)) ),
    for pairs with count >= min_count (phrase-mining input for
    tokenizer/vocabulary construction).

    Same adjacency construction as repetition_stats (posexplode +
    lead); counts are corpus-wide aggregates with map-side combine, the
    PMI fold is a row-local float64 expression over exact counts."""
    from pyspark.sql import Window

    words = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    tok = docs.select("doc_id", F.posexplode(words).alias("pos", "t"))
    uni = tok.groupBy("t").agg(F.count(F.lit(1)).alias("c"))
    n_uni = tok.count()
    w = Window.partitionBy("doc_id").orderBy("pos")
    bi = (
        tok.withColumn("nxt", F.lead("t").over(w))
        .where(F.col("nxt").isNotNull())
        .groupBy(F.col("t").alias("w1"), F.col("nxt").alias("w2"))
        .agg(F.count(F.lit(1)).alias("c_xy"))
    )
    n_bi = bi.agg(F.sum("c_xy")).collect()[0][0]
    u1 = uni.select(F.col("t").alias("w1"), F.col("c").alias("c_x"))
    u2 = uni.select(F.col("t").alias("w2"), F.col("c").alias("c_y"))
    return (
        bi.where(F.col("c_xy") >= min_count)
        .join(u1, "w1")
        .join(u2, "w2")
        .select(
            "w1",
            "w2",
            F.col("c_xy").cast("bigint").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c_xy").cast("double") / F.lit(float(n_bi)))
                    / (
                        (F.col("c_x").cast("double") / F.lit(float(n_uni)))
                        * (F.col("c_y").cast("double") / F.lit(float(n_uni)))
                    )
                ),
                round_to,
            ).alias("pmi"),
        )
    )


def unigram_logprob(
    docs: DataFrame, *, text_col: str = "text", round_to: int = 6
) -> DataFrame:
    """(doc_id, n_tokens, avg_logprob) — mean natural-log likelihood of
    each document's tokens under the corpus's own unigram distribution
    (p(tok) = corpus count / corpus total).  The cheap stand-in for the
    KenLM-perplexity filter in CCNet-style pipelines: documents far
    below the corpus mode (gibberish, wrong-language, encoding damage)
    score sharply lower without any trained model.

    Two linear passes over the token stream: one groupBy tok for the
    corpus counts (map-side combined), one equi-join of the exploded
    tokens back to those counts folded per doc.  Zero-token docs are
    dropped (no likelihood is defined for them)."""
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = counts.agg(F.sum("cnt").alias("tot"))
    return (
        toks.join(counts, "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.avg(
                    F.log(
                        F.col("cnt").cast("double")
                        / F.col("tot").cast("double")
                    )
                ),
                round_to,
            ).alias("avg_logprob"),
        )
    )


def zipf_alpha(
    docs: DataFrame, *, cmin: int = 3, text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """One row (n_types, n_tail, alpha) — maximum-likelihood Zipf/
    power-law exponent of the corpus token-frequency distribution
    (same CSN'09 continuous MLE as the degree-side powerlaw_alpha,
    applied to token counts >= cmin).  The vocabulary-health audit: a
    natural-language corpus sits near alpha ~ 2 (Zipf); templated or
    machine-generated text drifts sharply.  One token count pass + one
    filtered scalar fold."""
    toks = docs.select(
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok")
    ).filter(F.col("tok") != "")
    counts = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    stats = counts.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
        F.sum((F.col("c") >= cmin).cast("bigint")).alias("n_tail"),
        F.sum(
            F.when(
                F.col("c") >= cmin,
                F.log(F.col("c").cast("double") / F.lit(cmin - 0.5)),
            ).otherwise(F.lit(0.0))
        ).alias("slog"),
    )
    alpha = F.when(
        F.col("n_tail") > 0,
        F.lit(1.0) + F.col("n_tail").cast("double") / F.col("slog"),
    ).otherwise(F.lit(None).cast("double"))
    return stats.select(
        "n_types",
        F.col("n_tail").cast("bigint").alias("n_tail"),
        F.round(alpha, round_to).alias("alpha"),
    )


def source_token_kl(
    docs: DataFrame, *, text_col: str = "text", round_to: int = 6
) -> DataFrame:
    """(source, n_tokens, n_distinct, kl_divergence) — KL(P_source ||
    P_corpus) of each provenance's unigram distribution against the
    whole corpus: the distribution-drift audit that catches a feed
    going templated/machine-generated/wrong-language before any
    per-document filter does (0 = indistinguishable from the corpus).

    All counts are exact BIGINTs from two map-side-combined groupBys;
    the float enters only in the per-row p*ln(p/q) term (identical
    IEEE expression on both engines) and the final per-source fold,
    rounded to ``round_to``.  Every token in a source also occurs in
    the corpus (superset), so no zero-denominator terms exist."""
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    st = toks.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("cst"))
    st = st.localCheckpoint(eager=True)
    ns = st.groupBy("source").agg(F.sum("cst").alias("ns"))
    ct = st.groupBy("tok").agg(F.sum("cst").alias("ct"))
    tot = ns.agg(F.sum("ns").alias("tot"))
    term = (
        F.col("cst").cast("double") / F.col("ns").cast("double")
    ) * F.log(
        (F.col("cst").cast("double") * F.col("tot").cast("double"))
        / (F.col("ns").cast("double") * F.col("ct").cast("double"))
    )
    return (
        st.join(ct, "tok")
        .join(F.broadcast(ns), "source")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(
            F.first("ns").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
            F.round(F.sum(term), round_to).alias("kl_divergence"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    query_terms: tuple[str, ...],
    *,
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
    k: int = 20,
    round_to: int = 6,
) -> DataFrame:
    """(doc_id, n_terms, bm25) — Okapi BM25 top-k retrieval for a fixed
    bag of query terms, the classic full-text relevance score
    (Robertson & Zaragoza, FnTIR'09; the Lucene +1-inside-the-log IDF
    variant, which is always positive).

    Scale shape: term frequencies are aggregated only for tokens in
    the (tiny, broadcast) query set — the isin filter runs before the
    shuffle, so the groupBy state is bounded by |Q| x n_docs, not by
    corpus token volume.  Document lengths and the corpus stats
    (n_docs, total length) are one map-side-combined pass each; df and
    the corpus stats join back as broadcasts.  All counts are exact
    BIGINTs; floats enter only in the final per-(doc,term) expression,
    summed per doc and rounded.  Top-k orders by the ROUNDED score
    (then doc_id) so the cut boundary is cross-engine stable.
    """
    terms = sorted(set(query_terms))
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    dl = toks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("dl").alias("tot")
    )
    tf = (
        toks.filter(F.col("tok").isin(list(terms)))
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "tok")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
    )
    nd = F.col("n_docs").cast("double")
    idf = F.log(
        F.lit(1.0)
        + (nd - F.col("df").cast("double") + F.lit(0.5))
        / (F.col("df").cast("double") + F.lit(0.5))
    )
    avgdl = F.col("tot").cast("double") / nd
    tfd = F.col("tf").cast("double")
    term_score = idf * (
        (tfd * F.lit(k1 + 1.0))
        / (
            tfd
            + F.lit(k1)
            * (F.lit(1.0 - b) + F.lit(b) * F.col("dl").cast("double") / avgdl)
        )
    )
    out = scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.round(F.sum(term_score), round_to).alias("bm25"),
    )
    return out.orderBy(F.desc("bm25"), F.asc("doc_id")).limit(k)


def bpe_merge_stats(
    docs: DataFrame,
    *,
    k: int = 50,
    text_col: str = "text",
) -> DataFrame:
    """``(pair, pair_count)`` — the top-k symbol-pair counts of the
    FIRST byte-pair-encoding merge round (Sennrich et al. ACL'16):
    adjacent character pairs inside each word-type (with the classic
    ``</w>`` end-of-word marker), weighted by corpus word frequency.
    The argmax row IS BPE's first merge; the table is the tokenizer-
    construction statistic a vocab builder consumes each round.

    Scale shape: word frequencies reduce the corpus to its (far
    smaller) word-type table BEFORE any character work — pair explosion
    is per distinct word-type (bounded by type length), never per
    token occurrence; the pair count is one map-side-combined
    aggregation weighted by the type frequency.  Top-k on the exact
    BIGINT count with pair tie-break (cross-engine-stable boundary)."""
    words = F.when(
        F.trim(F.col(text_col)) == "", F.array().cast("array<string>")
    ).otherwise(F.split(F.trim(F.col(text_col)), r"\s+"))
    wfreq = (
        docs.select(F.explode(words).alias("w"))
        .where(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("freq"))
    )
    # adjacent symbol pairs of each word-type: (c_i, c_i+1) for
    # i < len, plus (c_len, '</w>'); all JVM-side string slicing
    pairs = F.concat(
        F.expr(
            # sequence(1, 0) is DESCENDING in Spark: guard 1-char words
            "CASE WHEN length(w) >= 2 THEN "
            "transform(sequence(1, length(w) - 1), "
            "i -> concat(substring(w, i, 1), ' ', substring(w, i + 1, 1))) "
            "ELSE array() END"
        ),
        F.array(F.concat(F.expr("substring(w, length(w), 1)"), F.lit(" </w>"))),
    )
    return (
        wfreq.select(F.explode(pairs).alias("pair"), "freq")
        .groupBy("pair")
        .agg(F.sum("freq").cast("bigint").alias("pair_count"))
        .orderBy(F.desc("pair_count"), F.asc("pair"))
        .limit(k)
    )


def curriculum_buckets(
    docs: DataFrame, *, text_col: str = "text", round_to: int = 6
) -> DataFrame:
    """``(bucket, n_docs, mean_logprob, mean_tokens)`` — quartile
    curriculum bins over the per-doc unigram log-likelihood (the
    easy->hard ordering signal curriculum/annealing schedules consume:
    bucket 1 = most-typical quartile, 4 = hardest).

    Skew-free at scale: NO global NTILE window — the three quartile
    thresholds come from one exact `percentile` aggregate (the proven
    cross-engine quantile), and bucket assignment is a row-local
    comparison against the broadcast threshold row.  Boundary rows
    compare on the ROUNDED score both sides, so the bin edges are
    cross-engine stable."""
    lp = unigram_logprob(docs, text_col=text_col, round_to=round_to)
    th = lp.agg(
        F.expr("percentile(avg_logprob, 0.25)").alias("q1"),
        F.expr("percentile(avg_logprob, 0.50)").alias("q2"),
        F.expr("percentile(avg_logprob, 0.75)").alias("q3"),
    )
    scored = lp.crossJoin(F.broadcast(th)).select(
        F.when(F.col("avg_logprob") >= F.col("q3"), F.lit(1))
        .when(F.col("avg_logprob") >= F.col("q2"), F.lit(2))
        .when(F.col("avg_logprob") >= F.col("q1"), F.lit(3))
        .otherwise(F.lit(4))
        .alias("bucket"),
        "avg_logprob",
        "n_tokens",
    )
    return scored.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.round(F.avg("avg_logprob"), round_to).alias("mean_logprob"),
        F.round(F.avg("n_tokens"), round_to).alias("mean_tokens"),
    )


def dsir_logratio(
    docs: DataFrame,
    *,
    target_lang: str = "en",
    select_quantile: float = 0.75,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """``(doc_id, n_tokens, log_ratio, selected)`` — Data Selection via
    Importance Resampling (Xie et al., NeurIPS'23) with the corpus's own
    ``lang == target_lang`` slice as the target distribution: each
    document scores its mean per-token log importance ratio
    ln(p_target(tok) / p_raw(tok)) under two add-1-smoothed unigram
    models sharing the corpus vocabulary, and the top
    ``1 - select_quantile`` fraction by rounded score is marked
    ``selected = 1`` (the importance-resampled training subset; we use
    the deterministic top-quantile variant of DSIR's Gumbel resampling
    so the gate is seed-free).  Length-normalized (mean, not sum) so
    long documents don't dominate the ranking.

    Scale shape: two map-side-combined token-count groupBys (corpus and
    target slice) build a vocab-sized ratio relation; the smoothing
    scalars (vocab size, both token totals) and the selection threshold
    (one exact `percentile` aggregate — the proven cross-engine
    quantile) join as broadcast single-row relations; the per-doc score
    is one equi-join of the token stream against the ratio relation plus
    one fold.  No global sort, no window — selection is a row-local
    comparison against the broadcast threshold, on ROUNDED scores both
    sides so the boundary is cross-engine stable.  All counts are exact
    BIGINTs; float enters only the final ln() expression (identical
    operand order on both engines).  Zero-token docs are dropped
    (no likelihood is defined for them)."""
    toks = docs.select(
        "doc_id",
        "lang",
        F.explode(F.split(F.trim(F.col(text_col)), r"\s+")).alias("tok"),
    ).filter(F.col("tok") != "")
    cr = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("cr"))
    ct = (
        toks.where(F.col("lang") == target_lang)
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("ct"))
    )
    scal = cr.agg(
        F.count(F.lit(1)).alias("v"), F.sum("cr").alias("nr")
    ).crossJoin(
        F.broadcast(
            ct.agg(F.coalesce(F.sum("ct"), F.lit(0)).alias("nt"))
        )
    )
    ratio = (
        cr.join(ct, "tok", "left")
        .crossJoin(F.broadcast(scal))
        .select(
            "tok",
            F.log(
                (
                    (F.coalesce(F.col("ct"), F.lit(0)) + F.lit(1)).cast(
                        "double"
                    )
                    * (F.col("nr") + F.col("v")).cast("double")
                )
                / (
                    (F.col("cr") + F.lit(1)).cast("double")
                    * (F.col("nt") + F.col("v")).cast("double")
                )
            ).alias("lterm"),
        )
    )
    per_doc = (
        toks.join(ratio, "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(F.avg("lterm"), round_to).alias("log_ratio"),
        )
    )
    th = per_doc.agg(
        F.expr(f"percentile(log_ratio, {select_quantile!r})").alias("thr")
    )
    return per_doc.crossJoin(F.broadcast(th)).select(
        "doc_id",
        "n_tokens",
        "log_ratio",
        (F.col("log_ratio") >= F.col("thr")).cast("int").alias("selected"),
    )


# ----------------------------------------------------------------- PII

# The C4/CCNet/Dolma-style scrub patterns: conservative, line-rate
# JVM regexes (Java regex syntax — the hot path stays in codegen).
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "ipv4": r"\b(?:\d{1,3}\.){3}\d{1,3}\b",
    "phone": r"(?<![\d.])\+?\d[\d().\- ]{7,}\d(?![\d.])",
}


def plant_pii(docs: DataFrame, *, text_col: str = "text") -> DataFrame:
    """Deterministic PII-injection fixture: appends a closed-form email
    (doc_id % 7 == 0), IPv4 (% 11) and phone (% 13) to the document
    text, all derived from ``doc_id`` alone so any engine reconstructs
    the exact ground truth (the synthetic corpus itself is PII-free —
    digit-free, even — so the scrub gate would otherwise compare
    zeros).  The corpus being digit-free also means every planted match
    sits in a fully controlled context, which is what lets the DuckDB
    oracle mirror the Java-regex lookarounds with RE2-safe patterns."""
    d = F.col("doc_id")
    email = F.concat(
        F.lit(" contact user"),
        d.cast("string"),
        F.lit("@mail"),
        (d % 5).cast("string"),
        F.lit(".example.com"),
    )
    ipv4 = F.concat(
        F.lit(" from 10."),
        (d % 200).cast("string"),
        F.lit("."),
        (d % 193).cast("string"),
        F.lit("."),
        (d % 250).cast("string"),
    )
    phone = F.concat(
        F.lit(" call +1 555-01"),
        F.lpad((d % 100).cast("string"), 2, "0"),
        F.lit(" ok"),
    )
    return docs.withColumn(
        text_col,
        F.concat(
            F.col(text_col),
            F.when(d % 7 == 0, email).otherwise(F.lit("")),
            F.when(d % 11 == 0, ipv4).otherwise(F.lit("")),
            F.when(d % 13 == 0, phone).otherwise(F.lit("")),
        ),
    )


def pii_scrub(
    docs: DataFrame, *, text_col: str = "text"
) -> DataFrame:
    """``(doc_id, text_scrubbed, n_email, n_ipv4, n_phone)`` — the
    standard pre-training PII pass (C4 / CCNet / Dolma ship the same
    stage): each pattern family is counted and replaced with a typed
    placeholder token.  Pure JVM regexp expressions — one narrow
    projection, no Python, no shuffle; at 100 TB this runs at scan
    rate.  Patterns apply in the fixed dict order so counts are
    deterministic even when families overlap (an email's host never
    double-counts as a phone: earlier replacements consume the text
    the later patterns see)."""
    out = docs.select("doc_id", F.col(text_col).alias("_t"))
    counts = []
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}",
            F.size(F.regexp_extract_all("_t", F.lit(pat), F.lit(0))),
        ).withColumn(
            "_t", F.regexp_replace("_t", pat, f"<{name.upper()}>")
        )
        counts.append(f"n_{name}")
    return out.select(
        "doc_id", F.col("_t").alias("text_scrubbed"), *counts
    )


def source_boilerplate(
    docs: DataFrame,
    *,
    n: int = 3,
    frac: float = 0.5,
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """(doc_id, source, n_grams, boiler_grams, boiler_fraction) — for
    each document, the fraction of its distinct token n-grams that are
    *source boilerplate*: grams appearing in >= ceil(frac * n_docs) of
    the SAME source's documents (and in >= 2 of them).  The host-scoped
    twin of :func:`graphjet_spark.operators.dedup.crossdoc_dup_fraction`
    — C4/CCNet drop repeated lines per site for exactly this signal:
    navigation chrome, cookie banners, and footer text repeat across one
    host's pages but are invisible to corpus-global document frequency
    (a 50-page host's template grams are rare globally, ubiquitous
    locally).

    Plan shape is linear in gram volume: distinct (doc, gram) -> join
    the source -> groupBy (source, gram) for per-source document
    frequency -> threshold against the broadcast per-source doc counts
    -> one equi-join back -> per-doc fold.  The flagged-gram relation is
    bounded by grams crossing a within-source frequency floor (the
    template vocabulary), never by the corpus.  No doc x doc pairing,
    no windows."""
    from graphjet_spark.operators.dedup import token_sets

    src = docs.select("doc_id", "source")
    grams = token_sets(docs, text_col, n).join(src, "doc_id")
    sdocs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("sdocs")
    )
    sdf = grams.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("sdf")
    )
    flagged = (
        sdf.join(F.broadcast(sdocs), "source")
        .where(
            (F.col("sdf") >= 2)
            & (F.col("sdf") >= F.ceil(F.lit(frac) * F.col("sdocs")))
        )
        .select("source", "tok", F.lit(1).alias("_b"))
    )
    per_doc = (
        grams.join(flagged, ["source", "tok"], "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_grams"),
            F.sum(F.col("_b").isNotNull().cast("bigint"))
            .cast("bigint")
            .alias("boiler_grams"),
        )
    )
    return src.join(per_doc, "doc_id", "left").select(
        "doc_id",
        "source",
        F.coalesce("n_grams", F.lit(0)).cast("bigint").alias("n_grams"),
        F.coalesce("boiler_grams", F.lit(0))
        .cast("bigint")
        .alias("boiler_grams"),
        F.when(F.coalesce("n_grams", F.lit(0)) == 0, F.lit(0.0))
        .otherwise(
            F.round(
                F.col("boiler_grams").cast("double")
                / F.col("n_grams").cast("double"),
                round_to,
            )
        )
        .alias("boiler_fraction"),
    )


# ------------------------------------------------------------ Gopher rules

_GOPHER_STOPS = ("the", "be", "to", "of", "and", "that", "have", "with")


def gopher_quality_flags(
    docs: DataFrame, text_col: str = "text", round_to: int = 6
) -> DataFrame:
    """Per-document Gopher quality rules (Rae et al., "Scaling Language
    Models: ... Gopher", arXiv:2112.11446 Appendix A1) as one JVM-only
    projection — the full-rule sibling of :func:`quality_score`'s
    blended heuristic, and with :func:`graphjet_spark.operators.lm.
    kn_doc_perplexity` the second canonical pretraining filter
    (MassiveWeb/RedPajama/FineWeb all apply this rule set).

    One row per doc: ``n_words``, one 0/1 flag per rule, and ``keep`` =
    AND of all seven —

    - ``r_wordcount``: 50 <= words <= 100,000;
    - ``r_meanlen``: mean word length in [3, 10];
    - ``r_symbol``: (# or ellipsis) / words <= 0.1;
    - ``r_bullet``: <= 90% of lines start with a bullet;
    - ``r_ellipsis``: <= 30% of lines end with an ellipsis;
    - ``r_alpha``: >= 80% of words contain an alphabetic character;
    - ``r_stop``: >= 2 distinct Gopher stop words present.

    Scale shape: pure column expressions (split / regexp_count / array
    folds), whole-stage-codegen scan rate, no shuffle at all.
    """
    words = F.split(F.trim(F.col(text_col)), r"\s+")
    n_words = F.size(words)
    # total word chars == text with all whitespace removed
    chars = F.length(F.regexp_replace(F.trim(F.col(text_col)), r"\s+", ""))
    mean_len = chars / n_words
    n_sym = F.regexp_count(F.col(text_col), F.lit(r"#|\.\.\.|…"))
    lines = F.split(F.col(text_col), r"\n")
    n_lines = F.size(lines)
    n_bullet = F.regexp_count(F.col(text_col), F.lit(r"(^|\n)\s*[-•*]"))
    n_ell = F.regexp_count(F.col(text_col), F.lit(r"(\.\.\.|…)(\n|$)"))
    n_alpha = F.size(F.filter(words, lambda w: w.rlike("[A-Za-z]")))
    lowered = F.transform(words, F.lower)
    n_stop = sum(
        F.array_contains(lowered, s).cast("int") for s in _GOPHER_STOPS
    )
    r_wordcount = (n_words >= 50) & (n_words <= 100_000)
    r_meanlen = (mean_len >= 3.0) & (mean_len <= 10.0)
    r_symbol = (n_sym / n_words) <= 0.1
    r_bullet = (n_bullet / n_lines) <= 0.9
    r_ellipsis = (n_ell / n_lines) <= 0.3
    r_alpha = (n_alpha / n_words) >= 0.8
    r_stop = n_stop >= 2
    keep = (
        r_wordcount
        & r_meanlen
        & r_symbol
        & r_bullet
        & r_ellipsis
        & r_alpha
        & r_stop
    )
    return docs.select(
        "doc_id",
        n_words.cast("bigint").alias("n_words"),
        r_wordcount.cast("int").alias("r_wordcount"),
        r_meanlen.cast("int").alias("r_meanlen"),
        r_symbol.cast("int").alias("r_symbol"),
        r_bullet.cast("int").alias("r_bullet"),
        r_ellipsis.cast("int").alias("r_ellipsis"),
        r_alpha.cast("int").alias("r_alpha"),
        r_stop.cast("int").alias("r_stop"),
        keep.cast("int").alias("keep"),
    )
