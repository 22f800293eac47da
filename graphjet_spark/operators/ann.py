"""Similarity search over embedding columns: brute-force cosine top-k
(correctness baseline) and LSH / IVF bucketed variants (scale path).

Scale design: brute-force is a broadcast of the (small) query set
against the full embedding table — one narrow pass, no shuffle, exact.
The bucketed variants cut the candidate set per query to one bucket
(+probes): random-hyperplane LSH needs no training; IVF picks coarse
centroids from a seeded sample (k-means one pass) and probes the
``n_probe`` nearest cells — both turn top-k search into a bucket-key
equi-join, the same shape as the dedup LSH joins.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import broadcast


def _as_double(vec_col: str):
    return F.transform(vec_col, lambda x: x.cast("double"))


def brute_force_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    *,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact cosine top-k neighbors for each query id (queries drawn from
    the same table). Output (query_id, neighbor_id, cosine) with
    cosine rounded to 6 and the top-k boundary taken on the rounded
    value (ties -> smaller neighbor_id) so results are reproducible
    across engines.  All float64 JVM-side arithmetic."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    v = embeddings.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v"), norm.alias("nrm")
    )
    q = broadcast(
        v.join(
            broadcast(
                v.sparkSession.createDataFrame(
                    [(int(i),) for i in query_ids], "id bigint"
                )
            ),
            "id",
        ).select(
            F.col("id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        v.crossJoin(q)
        .filter(F.col("id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("id").alias("neighbor_id"),
            F.round(dot / (F.col("nrm") * F.col("qnrm")), 6).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def ivf_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    *,
    k: int = 10,
    n_cells: int = 16,
    n_probe: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k via an IVF (inverted-file) coarse index.

    Centroids: a seeded deterministic sample of ``n_cells`` vectors,
    refined by one Lloyd step (assign + mean) — training is one cheap
    pass, no iterative k-means needed for a coarse quantizer.  Every
    vector is assigned to its nearest centroid cell (one narrow Arrow
    pass); a query scores only vectors in its ``n_probe`` nearest cells.
    At 100 TB: the table is written bucketed by ``cell`` so a probe is a
    partition-pruned scan; the centroid matrix is a broadcast.
    Output schema matches brute_force_topk.
    """
    spark = embeddings.sparkSession
    # --- train: seeded sample + one Lloyd refinement (driver-side numpy,
    # on a bounded sample — never the full table) -----------------------
    sample = (
        embeddings.select(id_col, vec_col)
        .orderBy(F.pmod(F.xxhash64(F.col(id_col) + seed), F.lit(997)), F.col(id_col))
        .limit(max(n_cells * 32, 256))
        .toPandas()
    )
    X = np.stack(sample[vec_col].to_numpy()).astype(np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)
    cent = Xn[:n_cells].copy()
    assign = np.argmax(Xn @ cent.T, axis=1)
    for c in range(n_cells):
        members = Xn[assign == c]
        if len(members):
            m = members.mean(axis=0)
            cent[c] = m / np.linalg.norm(m)
    cent_b = spark.sparkContext.broadcast(cent)

    def _assign(batches):
        C = cent_b.value
        for pdf in batches:
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            vecs = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
            cells = np.argmax(vecs @ C.T, axis=1)
            yield pd.DataFrame({"id": pdf[id_col], "cell": cells.astype(np.int32)})

    cells = embeddings.select(id_col, vec_col).mapInPandas(
        _assign, schema="id bigint, cell int"
    )
    # query -> its n_probe nearest cells (tiny, driver-side)
    qrows = (
        embeddings.join(
            broadcast(
                spark.createDataFrame([(int(i),) for i in query_ids], "id bigint")
            ),
            F.col(id_col) == F.col("id"),
        )
        .select(F.col(id_col).alias("qid"), vec_col)
        .toPandas()
    )
    Q = np.stack(qrows[vec_col].to_numpy()).astype(np.float64)
    Q = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    probe_rows = [
        (int(qid), int(c))
        for qid, sims in zip(qrows["qid"], Q @ cent.T)
        for c in np.argsort(-sims)[:n_probe]
    ]
    probes = broadcast(
        spark.createDataFrame(probe_rows, "query_id bigint, cell int")
    )
    cand = (
        cells.join(probes, "cell")
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
    )
    return _score_candidates(embeddings, cand, query_ids, k, id_col, vec_col)


def _score_candidates(
    embeddings: DataFrame,
    cand: DataFrame,
    query_ids: list[int],
    k: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Exact float64 cosine on a candidate set + per-query top-k."""
    spark = embeddings.sparkSession
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    v = embeddings.select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v"), norm.alias("nrm")
    )
    qv = broadcast(
        v.join(
            broadcast(
                spark.createDataFrame([(int(i),) for i in query_ids], "id bigint")
            ),
            "id",
        ).select(
            F.col("id").alias("query_id"),
            F.col("v").alias("qv"),
            F.col("nrm").alias("qnrm"),
        )
    )
    dot = F.aggregate(
        F.zip_with(F.col("qv"), F.col("v"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        cand.join(v, cand.neighbor_id == v.id)
        .join(qv, "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(dot / (F.col("nrm") * F.col("qnrm")), 6).alias("cosine"),
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def _lsh_buckets(
    embeddings: DataFrame,
    *,
    n_planes: int,
    n_tables: int,
    seed: int,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """(id, tbl, bucket) random-hyperplane LSH bucket assignments — one
    numpy Arrow pass; the bucket key is the sign pattern of ``n_planes``
    projections per table."""
    spark = embeddings.sparkSession
    first = embeddings.select(vec_col).first()
    dim = len(first[vec_col])
    rng = np.random.default_rng(seed)
    planes = rng.standard_normal((n_tables, n_planes, dim))
    planes_b = spark.sparkContext.broadcast(planes)

    def _bucketize(batches):
        P = planes_b.value
        for pdf in batches:
            vecs = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            ids = pdf[id_col].to_numpy()
            frames = []
            for t in range(P.shape[0]):
                signs = (vecs @ P[t].T) > 0  # (n, n_planes)
                bucket = (signs * (1 << np.arange(P.shape[1]))).sum(axis=1)
                frames.append(
                    pd.DataFrame(
                        {"id": ids, "tbl": t, "bucket": bucket.astype(np.int64)}
                    )
                )
            yield pd.concat(frames, ignore_index=True)

    return embeddings.select(id_col, vec_col).mapInPandas(
        _bucketize, schema="id bigint, tbl int, bucket bigint"
    )


def lsh_bucketed_topk(
    embeddings: DataFrame,
    query_ids: list[int],
    *,
    k: int = 10,
    n_planes: int = 8,
    n_tables: int = 4,
    seed: int = 42,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane LSH.

    Each of ``n_tables`` hash tables buckets vectors by the sign pattern
    of ``n_planes`` random projections; a query only scores vectors
    sharing a bucket in >= 1 table.  Candidate generation is an
    equi-join on (table, bucket) — at 100 TB the embedding table is
    hash-partitioned by the bucket key and the probe side is broadcast.
    Output schema matches brute_force_topk.
    """
    spark = embeddings.sparkSession
    # lazy localCheckpoint: the bucket table feeds both the (tiny) query
    # side and the candidate join — computed once, not twice
    buckets = _lsh_buckets(
        embeddings,
        n_planes=n_planes,
        n_tables=n_tables,
        seed=seed,
        id_col=id_col,
        vec_col=vec_col,
    ).localCheckpoint(eager=False)
    qb = broadcast(
        buckets.join(
            broadcast(
                spark.createDataFrame([(int(i),) for i in query_ids], "id bigint")
            ),
            "id",
        ).select(
            F.col("id").alias("query_id"), "tbl", "bucket"
        )
    )
    cand = (
        buckets.join(qb, ["tbl", "bucket"])
        .filter(F.col("id") != F.col("query_id"))
        .select("query_id", F.col("id").alias("neighbor_id"))
        .distinct()
    )
    # exact cosine on the reduced candidate set only
    return _score_candidates(embeddings, cand, query_ids, k, id_col, vec_col)


def embedding_cluster_stats(
    embs: DataFrame,
    *,
    vec_col: str = "embedding",
    label_col: str = "label",
    round_to: int = 6,
) -> DataFrame:
    """(label, n_vectors, cohesion) — per-label centroid cohesion: the
    mean cosine of each member vector to its label centroid (the
    standard cluster-quality readout for an embedding corpus).

    Plan: posexplode to (vec, dim) rows, centroid = per-(label, dim)
    mean (map-side combined), then one join back for the dot/norm
    reductions — all JVM-side column arithmetic, no Python, and every
    stage keyed by (label, dim) or vec so it distributes at any corpus
    size."""
    dims = embs.select(
        "vec_id",
        F.col(label_col).alias("label"),
        F.posexplode(vec_col).alias("pos", "x"),
    ).select(
        "vec_id", "label", (F.col("pos") + 1).alias("i"),
        F.col("x").cast("double").alias("x"),
    )
    centroid = dims.groupBy("label", "i").agg(F.avg("x").alias("c"))
    per_vec = (
        dims.join(centroid, ["label", "i"])
        .groupBy("vec_id", "label")
        .agg(
            F.sum(F.col("x") * F.col("c")).alias("dot"),
            F.sqrt(F.sum(F.col("x") * F.col("x"))).alias("nv"),
            F.sqrt(F.sum(F.col("c") * F.col("c"))).alias("nc"),
        )
        .select(
            "label",
            # zero-norm vectors have undefined cosine: NULL (skipped by
            # the cohesion AVG on both engines)
            F.when(
                F.col("nv") * F.col("nc") > 0,
                F.col("dot") / (F.col("nv") * F.col("nc")),
            ).otherwise(F.lit(None).cast("double")).alias("cos"),
        )
    )
    return per_vec.groupBy("label").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vectors"),
        F.round(F.avg("cos"), round_to).alias("cohesion"),
    )


def kmeans_assign(
    embeddings: DataFrame,
    *,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, cluster) — Lloyd k-means assignments after ``iters``
    update steps from a **deterministic hash init**: the k seed
    centroids are the vectors with the smallest cross-engine md5-prefix
    hash of their id (rank order = cluster id), so the whole algorithm
    is a pure function of the table and VALUE-oracles against DuckDB —
    unlike seeded-RNG k-means implementations.

    Cross-engine float discipline: centroids are ROUNDed to 12 after
    every averaging step and squared distances to 9 before the argmin
    (ties break to the smaller cluster id), so engine-side summation
    order (~1e-15 relative) can never flip a decision boundary.

    Plan shape: the (vec, dim) exploded table joins the k*dim centroid
    table on dim — a broadcast join; distance and update steps are
    map-side-combined aggregates, everything whole-stage codegen (the
    numpy mapInPandas path in :func:`ivf_topk` is the same math when
    Python-side batching wins at very high dims)."""
    from pyspark.sql import Window

    dims = embeddings.select(
        F.col(id_col).alias("vec_id"),
        F.posexplode(_as_double(vec_col)).alias("i", "x"),
    ).localCheckpoint(eager=True)

    from graphjet_spark.functions.hashing import md5_prefix_bigint

    h = md5_prefix_bigint(
        F.concat(F.lit("km:"), F.col("vec_id").cast("string"))
    )
    # orderBy+limit compiles to TakeOrderedAndProject (distributed
    # per-partition top-k + driver merge of k*P rows) — never a global
    # single-partition window sort
    seed_rows = (
        embeddings.select(F.col(id_col).alias("vec_id"), h.alias("h"))
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    seeds = embeddings.sparkSession.createDataFrame(
        [(int(r["vec_id"]), c) for c, r in enumerate(seed_rows)],
        "vec_id bigint, cluster int",
    )
    cent = (
        dims.join(F.broadcast(seeds), "vec_id")
        .select("cluster", "i", F.col("x").alias("c"))
        .localCheckpoint(eager=True)
    )

    assign = None
    aw = Window.partitionBy("vec_id").orderBy("d2", "cluster")
    for _t in range(iters):
        d2 = (
            dims.join(F.broadcast(cent), "i")
            .groupBy("vec_id", "cluster")
            .agg(
                F.round(
                    F.sum((F.col("x") - F.col("c")) * (F.col("x") - F.col("c"))),
                    9,
                ).alias("d2")
            )
        )
        assign = (
            d2.withColumn("rn", F.row_number().over(aw))
            .where(F.col("rn") == 1)
            .select("vec_id", "cluster")
            .localCheckpoint(eager=True)
        )
        cent = (
            assign.join(dims, "vec_id")
            .groupBy("cluster", "i")
            .agg(F.round(F.avg("x"), 12).alias("c"))
            .localCheckpoint(eager=True)
        )

    return assign.select("vec_id", F.col("cluster").cast("int").alias("cluster"))


def _mutual_from_candidates(
    v: DataFrame, cand: DataFrame
) -> DataFrame:
    """Shared tail of the mutual-NN plans: exact float64 rescore of the
    candidate pairs (sequential JVM fold — byte-identical to a naive
    all-pairs evaluation, reproducible against any float64 oracle),
    round(cos, 6), then top-1-per-side windows on the ROUNDED value with
    id tie-breaks (the repo's cross-engine boundary rule) and the
    mutuality semi-join.  ``v`` carries (id, v, nrm); ``cand`` carries
    (id_a, id_b)."""
    va = v.select(
        F.col("id").alias("id_a"), F.col("v").alias("va"), F.col("nrm").alias("na")
    )
    vb = v.select(
        F.col("id").alias("id_b"), F.col("v").alias("vb"), F.col("nrm").alias("nb")
    )
    dot = F.aggregate(
        F.zip_with(F.col("va"), F.col("vb"), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    scored = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select(
            "id_a",
            "id_b",
            F.round(dot / (F.col("na") * F.col("nb")), 6).alias("cosine"),
        )
        # both top-1 windows consume this; materialize once so the
        # candidate rescore runs once, not twice
        .localCheckpoint(eager=True)
    )
    from pyspark.sql import Window

    wa = Window.partitionBy("id_a").orderBy(F.desc("cosine"), F.asc("id_b"))
    wb = Window.partitionBy("id_b").orderBy(F.desc("cosine"), F.asc("id_a"))
    best_b = (
        scored.withColumn("rn", F.row_number().over(wa))
        .where(F.col("rn") == 1)
        .select("id_a", "id_b", "cosine")
    )
    best_a = (
        scored.withColumn("rn", F.row_number().over(wb))
        .where(F.col("rn") == 1)
        .select("id_a", "id_b")
    )
    return best_b.join(best_a, ["id_a", "id_b"], "semi")


def _mnn_sides(
    embeddings: DataFrame,
    split_label: int,
    id_col: str,
    vec_col: str,
    label_col: str,
) -> DataFrame:
    """(id, v, nrm, lbl) projection shared by the mutual-NN plans."""
    norm = F.sqrt(
        F.aggregate(
            F.transform(vec_col, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )
    return embeddings.select(
        F.col(id_col).alias("id"),
        _as_double(vec_col).alias("v"),
        norm.alias("nrm"),
        (F.col(label_col) < split_label).alias("is_a"),
    )


def mutual_nn_pairs(
    embeddings: DataFrame,
    *,
    split_label: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    block_rows: int = 4096,
) -> DataFrame:
    """Mutual nearest neighbors ACROSS two corpora — the bitext /
    aligned-pair mining shape (Artetxe & Schwenk ACL'19 margin mining,
    CCMatrix): corpus A = rows with ``label < split_label``, corpus B =
    the rest; a pair (a, b) survives iff b is a's top-1 cosine neighbor
    in B AND a is b's top-1 in A.  Mutuality is the classic precision
    filter for cross-corpus alignment (translation pairs, near-dup
    bridging, query-doc matching).

    Output ``(id_a, id_b, cosine)``, cosine rounded to 6 with id
    tie-breaks — the repo's cross-engine top-1 boundary rules.

    Scale shape (exact, never a row-level cross join): the same blocked
    formulation as :func:`dedup.embedding_near_dups` — A is hashed into
    ``ceil(|A|/block_rows)`` blocks, B likewise; every (i, j) block pair
    is one cogrouped-Arrow task running a float64 numpy GEMM over its
    two bounded blocks, emitting only each a-row's (and b-column's)
    block-local near-top candidates (within 1e-5 of the block max —
    covers GEMM-vs-sequential float drift plus 6-decimal rounding ties).
    The global top-1 is then a per-id window over ~n_blocks candidate
    rows per id, exact-rescored JVM-side.  Per-task memory is
    2*block_rows*dim floats and no |A|x|B|-row intermediate is ever
    materialized (exact mutual-NN compute is inherently quadratic)."""
    v = _mnn_sides(embeddings, split_label, id_col, vec_col, label_col)
    na_cnt, nb_cnt = v.agg(
        F.sum(F.col("is_a").cast("long")),
        F.sum((~F.col("is_a")).cast("long")),
    ).first()
    nba = max(1, -(-int(na_cnt or 0) // block_rows))
    nbb = max(1, -(-int(nb_cnt or 0) // block_rows))
    a_rep = v.where("is_a").select(
        "id",
        "v",
        F.pmod(F.xxhash64("id"), F.lit(nba)).cast("int").alias("bi"),
        F.explode(F.sequence(F.lit(0), F.lit(nbb - 1))).alias("bj"),
    )
    b_rep = v.where(~F.col("is_a")).select(
        "id",
        "v",
        F.explode(F.sequence(F.lit(0), F.lit(nba - 1))).alias("bi"),
        F.pmod(F.xxhash64("id"), F.lit(nbb)).cast("int").alias("bj"),
    )
    eps = 1e-5

    def _block_top(key, a_pdf: pd.DataFrame, b_pdf: pd.DataFrame):
        if len(a_pdf) == 0 or len(b_pdf) == 0:
            return pd.DataFrame({"id_a": [], "id_b": []})
        A = np.stack(a_pdf["v"].to_numpy()).astype(np.float64)
        B = np.stack(b_pdf["v"].to_numpy()).astype(np.float64)
        na = np.linalg.norm(A, axis=1)
        nb = np.linalg.norm(B, axis=1)
        na[na == 0] = np.inf  # zero vectors never win a top-1
        nb[nb == 0] = np.inf
        S = (A / na[:, None]) @ (B / nb[:, None]).T
        # block-local near-max per a-row and per b-column: the global
        # (rounded, id-tiebreak) top-1 is always within eps of some
        # block's max, so the union of block candidates contains it
        ia_r, ib_r = np.nonzero(S >= (S.max(axis=1, keepdims=True) - eps))
        ia_c, ib_c = np.nonzero(S >= (S.max(axis=0, keepdims=True) - eps))
        ia = np.concatenate([ia_r, ia_c])
        ib = np.concatenate([ib_r, ib_c])
        out = pd.DataFrame(
            {
                "id_a": a_pdf["id"].to_numpy()[ia],
                "id_b": b_pdf["id"].to_numpy()[ib],
            }
        )
        return out.drop_duplicates()

    cand = (
        a_rep.groupby("bi", "bj")
        .cogroup(b_rep.groupby("bi", "bj"))
        .applyInPandas(_block_top, schema="id_a bigint, id_b bigint")
        .distinct()
    )
    return _mutual_from_candidates(v, cand)
