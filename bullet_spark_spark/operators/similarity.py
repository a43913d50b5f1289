"""Similarity search over embedding columns (north-star M5).

- ``cosine``: pure column expression (zip_with + ordered fold) — JVM-side,
  deterministic accumulation order (important: makes results reproducible
  and oracle-comparable bit-for-bit).
- ``brute_force_topk``: exact k-NN baseline. The query side is broadcast
  (queries ≪ corpus), the corpus side streams — no shuffle of the corpus;
  per-query top-k via window rank over (query_id) partitions.
- ``lsh_ann``: the scale path — random-hyperplane signatures bucket the
  corpus; candidates come only from matching buckets, then exact re-rank.
  Hyperplanes are seeded-deterministic and broadcast as literals.

At 100 TB the brute-force path is a full corpus scan per query batch (fine
for offline eval); LSH turns it into a bucket-local join. An IVF variant
(k-means coarse quantizer) would slot in the same candidate-then-rerank
shape; LSH is implemented here because it needs no training pass.
"""

from __future__ import annotations

import math

import pandas as pd  # module-level: pandas_udf resolves postponed type hints here
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window as W

# Hard cap on the n²-row crossJoin differential path (exact=True in
# cosine_near_dup_pairs): 100k rows → ≤5e9 candidate pairs is already
# test-only territory; anything larger must go through the blocked path.
EXACT_CROSSJOIN_MAX_ROWS = 100_000


def dot(a: Column, b: Column) -> Column:
    """Ordered left-fold dot product — deterministic fp accumulation."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def safe_cos(d: Column, na: Column, nb: Column, decimals: int = 6) -> Column:
    """Rounded cosine from a precomputed dot and two norms, zero-norm-safe:
    a zero vector scores 0.0 against everything (matching the blocked-GEMM
    path's ``X / max(‖x‖, 1e-300)`` convention) instead of raising
    ANSI DIVIDE_BY_ZERO — Spark 4 runs ANSI-on by default, so a single
    all-zero embedding row would otherwise kill the whole job (found by
    the blocked≡exact property test)."""
    prod = na * nb
    return F.when(prod > 0, F.round(d / prod, decimals)).otherwise(F.lit(0.0))


def brute_force_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Exact cosine top-k: every (query, corpus) pair scored, ranked per
    query. Queries are broadcast; ties broken by corpus id for determinism.

    Norms are precomputed once per vector BEFORE the pair join — per pair
    only the dot product remains (cuts the fold work ~3×; at scale the corpus
    norm column is one extra double riding the scan)."""
    c = corpus.withColumn("__cn", norm(F.col(vec_col)))
    q = queries.withColumn("__qn", norm(F.col(query_vec_col)))
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col(id_col) != F.col(query_id_col))
    scored = pairs.select(
        F.col(query_id_col),
        F.col(id_col),
        safe_cos(
            dot(F.col(query_vec_col), F.col(vec_col)), F.col("__qn"), F.col("__cn")
        ).alias("sim"),
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def maxsim_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_subvectors: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = False,
    candidates: DataFrame | None = None,
) -> DataFrame:
    """ColBERT-style MaxSim LATE-INTERACTION retrieval (Khattab & Zaharia
    2020, public knowledge) → (query_id, id, score, rank): each side is a
    BAG of sub-vectors and score(q, d) = Σ_i max_j cos(q_i, d_j) — every
    query sub-vector finds its best-matching doc sub-vector, so partial /
    multi-aspect matches score where single-vector cosine averages them
    away. Here the m sub-vectors are EQUAL SLICES of one embedding column
    (any true token-vector layout flattens to the same shape); m² cosines
    per pair, all pure Catalyst expressions (slice → ordered-fold dot →
    greatest → sum), no UDF.

    Plan: per-slice norms precomputed ONCE per side before the pair join
    (the brute_force_topk discipline — per pair only m² dots remain);
    queries broadcast; per-query top-k via row_number with id tiebreak.
    Each cosine is the established engine-portable expression
    (ordered-fold dot / (sqrt·sqrt), zero-norm-safe → 0.0), summed in
    fixed slice order and rounded 6 dp — hash-matchable against a DuckDB
    list-slice oracle. Scale: exact baseline is |Q|·|C|·m² dots with Q
    broadcast — the rerank stage over an ANN candidate set; don't run it
    corpus × corpus. Pass ``candidates`` — a (query_id, id) frame from
    any ANN stage (IVF/LSH/PQ) — and the pair space becomes EXACTLY the
    candidate set (an equi-join on the id, no crossJoin at all): the
    100 TB posture."""
    dim_probe = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim_probe is None:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long, score double, rank int"
        )
    d = int(dim_probe["d"])
    m = int(n_subvectors)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by n_subvectors {m}")
    sub = d // m

    def slices(col):
        return [F.slice(col, i * sub + 1, sub) for i in range(m)]

    c = corpus.select(
        F.col(id_col),
        F.col(vec_col),
        *[norm(s).alias(f"__cn{j}") for j, s in enumerate(slices(F.col(vec_col)))],
    )
    q = queries.select(
        F.col(query_id_col),
        F.col(query_vec_col),
        *[
            norm(s).alias(f"__qn{i}")
            for i, s in enumerate(slices(F.col(query_vec_col)))
        ],
    )
    if candidates is not None:
        # ANN-pruned pair space: (query_id, id) equi-join — no crossJoin
        pairs = (
            candidates.select(query_id_col, id_col)
            .join(c, id_col)
            .join(F.broadcast(q), query_id_col)
        )
    else:
        pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col(id_col) != F.col(query_id_col))
    qs = slices(F.col(query_vec_col))
    cs = slices(F.col(vec_col))

    def cos_ij(i: int, j: int):
        prod = F.col(f"__qn{i}") * F.col(f"__cn{j}")
        return F.when(prod > 0, dot(qs[i], cs[j]) / prod).otherwise(F.lit(0.0))

    per_query_best = [
        F.greatest(*[cos_ij(i, j) for j in range(m)]) for i in range(m)
    ]
    score = per_query_best[0]
    for b in per_query_best[1:]:  # fixed slice order — oracle-identical sum
        score = score + b
    scored = pairs.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(score, 6).alias("score"),
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.col("score").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "score", "rank")
    )


def maxsim_slice_candidates(
    corpus: DataFrame,
    queries: DataFrame,
    k_per_slice: int = 20,
    n_subvectors: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    num_planes: int = 4,
    num_tables: int = 8,
    seed: int = 42,
) -> DataFrame:
    """ColBERT's RETRIEVAL stage (Khattab & Zaharia 2020): every QUERY
    sub-vector retrieves its cosine top-``k_per_slice`` among ALL
    document sub-vectors — multi-table hyperplane LSH over the
    slice-exploded frames, sub-quadratic — and the UNION of retrieved
    doc ids per query is the candidate frame ``maxsim_topk``'s
    ``candidates`` path reranks. This is the right candidate generator
    for MaxSim where single-vector ANN is not: the MaxSim score is
    driven by best PER-SLICE matches, so any high-scoring doc has at
    least one slice pair that per-slice retrieval finds (a single
    whole-vector cosine averages exactly that signal away — measured
    mean recall@5 vs the exact MaxSim twin: 0.4 for IVF whole-vector
    candidates, 0.76-1.0 here across the fixtures at comparable
    budgets). Returns (query_id, id) distinct."""
    dim_probe = corpus.select(F.size(F.col(vec_col)).alias("d")).first()
    if dim_probe is None:
        return corpus.sparkSession.createDataFrame(
            [], f"{query_id_col} long, {id_col} long"
        )
    d = int(dim_probe["d"])
    m = int(n_subvectors)
    if d % m != 0:
        raise ValueError(f"dim {d} not divisible by n_subvectors {m}")
    sub = d // m

    def slice_rows(df, key, vec, out_key):
        arr = F.array(
            *[F.slice(F.col(vec), i * sub + 1, sub) for i in range(m)]
        )
        return df.select(
            F.col(key).alias(out_key), F.posexplode(arr).alias("__i", "__sv")
        )

    # BOTH sides get slice-unique composite ids (id·m + slice): the LSH
    # stage dedups candidates per (query id, doc id) BEFORE the exact
    # rerank, so a repeated doc id would keep an arbitrary slice row and
    # can drop exactly the matching slice. Numeric ids required.
    c_slices = slice_rows(corpus, id_col, vec_col, "__cid").select(
        (F.col("__cid") * m + F.col("__i")).alias("__csid"),
        F.col("__sv"),
    )
    q_slices = slice_rows(queries, query_id_col, query_vec_col, "__qid").select(
        (F.col("__qid") * m + F.col("__i")).alias("__qsid"),
        F.col("__sv").alias("__qv"),
    )
    hits = lsh_ann_topk(
        c_slices,
        q_slices,
        k=k_per_slice,
        num_planes=num_planes,
        num_tables=num_tables,
        id_col="__csid",
        vec_col="__sv",
        query_id_col="__qsid",
        query_vec_col="__qv",
        seed=seed,
    )
    return (
        hits.select(
            F.floor(F.col("__qsid") / m).cast("long").alias(query_id_col),
            F.floor(F.col("__csid") / m).cast("long").alias(id_col),
        )
        .distinct()
    )


def _hyperplanes(num_planes: int, dim: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (LCG-based; no numpy
    needed at plan-build time, stable across runs)."""
    state = seed
    planes = []
    for _ in range(num_planes):
        row = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            # map to (-1, 1)
            row.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        n = math.sqrt(sum(x * x for x in row)) or 1.0
        planes.append([x / n for x in row])
    return planes


def _bucket_array_udf(tables: list[list[list[float]]]):
    """Vectorized multi-table signature: ONE ``X @ P.T`` per Arrow batch.

    A column-expression form would evaluate tables×planes interpreted
    fold-dots per row (HOF lambdas don't codegen — each 64-dim dot is 64
    interpreted steps; at 8 tables × 8 planes that's 4k steps/row, measured
    as essentially the whole cost of lsh_ann_topk). Each table's signature
    packs ``bit i = sign(plane_i · v)`` in float64. Returns a pandas_udf
    producing ``array<long>`` of per-table signatures."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    P = np.array(
        [plane for table in tables for plane in table], dtype=np.float64
    )  # (T*r, dim)
    n_tables, r = len(tables), len(tables[0])
    weights = (1 << np.arange(r, dtype=np.int64))

    @pandas_udf("array<long>")
    def buckets(col: pd.Series) -> pd.Series:
        X = np.array(col.tolist(), dtype=np.float64)
        if X.size == 0:
            return pd.Series([], dtype=object)
        bits = (X @ P.T) >= 0.0  # (n, T*r)
        sigs = bits.reshape(len(X), n_tables, r).astype(np.int64) @ weights
        return pd.Series(list(sigs.tolist()))

    return buckets


def lsh_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_planes: int = 6,
    num_tables: int = 8,
    dim: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    seed: int = 42,
) -> DataFrame:
    """Approximate cosine top-k with multi-table hyperplane LSH: ``num_tables``
    independent signature tables; a corpus vector is a candidate if it shares
    a bucket with the query in ANY table (the classic E2LSH OR-construction —
    per-table precision from num_planes, recall from num_tables).

    Scale shape: corpus explodes to num_tables rows keyed by (table, bucket)
    — a linear blow-up that buys bucket-local candidate generation instead of
    the O(corpus × queries) brute-force scan; candidates dedup on
    (query, id) before the exact re-rank."""
    if dim is None:
        dim = len(corpus.select(vec_col).first()[0])
    tables = [
        _hyperplanes(num_planes, dim, seed + 1000 * t) for t in range(num_tables)
    ]
    sig = _bucket_array_udf(tables)
    c = corpus.withColumn("__cn", norm(F.col(vec_col))).select(
        F.col(id_col), F.col(vec_col), "__cn",
        F.posexplode(sig(F.col(vec_col))).alias("tbl", "bucket"),
    )
    q = queries.withColumn("__qn", norm(F.col(query_vec_col))).select(
        F.col(query_id_col), F.col(query_vec_col), "__qn",
        F.posexplode(sig(F.col(query_vec_col))).alias("tbl", "bucket"),
    )
    cands = c.join(F.broadcast(q), ["tbl", "bucket"]).select(
        query_id_col, query_vec_col, "__qn", id_col, vec_col, "__cn"
    ).dropDuplicates([query_id_col, id_col])
    scored = cands.select(
        F.col(query_id_col),
        F.col(id_col),
        safe_cos(
            dot(F.col(query_vec_col), F.col(vec_col)), F.col("__qn"), F.col("__cn")
        ).alias("sim"),
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def kmeans_centroids(
    corpus: DataFrame,
    num_centroids: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 5,
    seed: int = 42,
) -> list[list[float]]:
    """Spherical k-means centroids for the IVF coarse quantizer, trained on a
    deterministic hash-ordered sample (the standard IVF training pass — FAISS
    trains on a bounded sample too; the sample is metadata-sized, the corpus
    is never collected).

    Deterministic throughout: hash-ordered sampling, farthest-point
    (k-means++-style) init from the sample, ``iters`` Lloyd iterations with
    cosine assignment and normalized-mean updates; empty cells re-seed from
    the worst-assigned point."""
    import numpy as np

    sample = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(sample_size)
        .collect()
    )
    X = np.array([list(r[1]) for r in sample], dtype=np.float64)
    Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n = len(Xn)
    k = min(num_centroids, n)

    # farthest-point init (deterministic: start from sample row 0)
    cent_idx = [0]
    sims_to_nearest = Xn @ Xn[0]
    for _ in range(1, k):
        nxt = int(np.argmin(sims_to_nearest))
        cent_idx.append(nxt)
        sims_to_nearest = np.maximum(sims_to_nearest, Xn @ Xn[nxt])
    C = Xn[cent_idx].copy()

    for _ in range(iters):
        sims = Xn @ C.T  # (n, k) cosine similarities
        assign = np.argmax(sims, axis=1)
        for c in range(k):
            members = Xn[assign == c]
            if len(members) == 0:
                # re-seed an empty cell from the globally worst-assigned point
                worst = int(np.argmin(sims[np.arange(n), assign]))
                C[c] = Xn[worst]
                continue
            m = members.mean(axis=0)
            C[c] = m / max(float(np.linalg.norm(m)), 1e-12)
    return [[float(x) for x in row] for row in C]


def _nearest_cells_udf(centroids: list[list[float]], nprobe: int):
    """pandas UDF: per vector, the ``nprobe`` nearest centroid ids by
    rounded-6dp cosine, ties to the lowest id — one ``X @ C.T`` + stable
    argsort per Arrow batch (the vectorized form of the old
    crossJoin-then-window assignment)."""
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(centroids, dtype=np.float64)
    Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)

    @pandas_udf("array<int>")
    def cells(col: pd.Series) -> pd.Series:
        X = np.array(col.tolist(), dtype=np.float64)
        if X.size == 0:
            return pd.Series([], dtype=object)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        S = np.round(Xn @ Cn.T, 6)
        idx = np.argsort(-S, axis=1, kind="stable")[:, :nprobe]
        return pd.Series([row.tolist() for row in idx.astype(np.int32)])

    return cells


def ivf_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    num_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """IVF-flat approximate NN: partition the corpus into Voronoi cells of
    ``num_centroids`` k-means centroids (spherical k-means over a
    deterministic sample — ``kmeans_centroids``); a query probes its
    ``nprobe`` nearest cells and exact-ranks only those cells' vectors.

    Plan shape at scale: one broadcast pass assigns corpus vectors to cells,
    the probe join is keyed by cell id, and candidate volume is
    corpus/num_centroids × nprobe. Compare with lsh_ann_topk: IVF cells
    follow data density (better recall per candidate on clustered corpora)
    at the cost of the training pass; LSH is oblivious but training-free.
    Pass precomputed ``centroids`` to skip training (index reuse)."""
    if centroids is None:
        centroids = kmeans_centroids(corpus, num_centroids, id_col, vec_col)
    # cell assignment/probing as ONE vectorized argsort per Arrow batch:
    # the old crossJoin(×num_centroids) + row_number form exploded the
    # corpus 16× and then SHUFFLED it for a window over interpreted
    # fold-cosines (3 folds × dim × centroids interpreted steps per row);
    # this is a narrow projection with no exchange at all. Semantics
    # preserved: sims rounded 6 dp, ties to the lowest cell id (stable
    # argsort = the row_number (sim desc, cid asc) order).
    top_cells = _nearest_cells_udf(centroids, nprobe)
    assigned = corpus.select(
        id_col, vec_col,
        F.element_at(_nearest_cells_udf(centroids, 1)(F.col(vec_col)), 1).alias("cid"),
    )
    probes = queries.select(
        query_id_col, query_vec_col,
        F.explode(top_cells(F.col(query_vec_col))).alias("cid"),
    )
    cands = assigned.join(F.broadcast(probes), "cid")
    scored = cands.select(
        F.col(query_id_col),
        F.col(id_col),
        F.round(cosine(F.col(query_vec_col), F.col(vec_col)), 6).alias("sim"),
    )
    w_rank = W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w_rank))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def cosine_pairs_blocked(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT cosine threshold self-join via a blocked grid of dense GEMMs —
    the scale-structured exact path (no n²-row crossJoin, no n²-row
    shuffle).

    Why: at moderate thresholds (the near-random-similarity regime, e.g.
    0.4 on 64-dim embeddings where passing and failing pairs are 0.004
    apart) NO sublinear candidate scheme can reach recall 1.0 — hyperplane
    LSH's per-plane collision odds for a threshold pair (0.64) barely beat
    a random pair's (0.5). Exact all-pairs is then inherently O(n²) FLOPs;
    the engineering question is only how those FLOPs are laid out. The
    row-explosion crossJoin shuffles O(n²) rows and evaluates a
    per-element fold on each; this operator instead:

    - assigns each vector to one of B deterministic hash blocks,
    - replicates each vector to its B grid groups (shuffle = n×B rows,
      NOT n²; pick B ≈ sqrt(n·dim·8B / executor_target) so a group's two
      blocks fit an Arrow batch),
    - computes each block-pair's similarities as ONE numpy float64 matrix
      multiply inside ``applyInPandas`` (BLAS: ~100× the per-row fold),
    - emits only the pairs ≥ threshold (output is result-sized).

    Each unordered vector pair lands in exactly one grid group, so the
    result is exactly the crossJoin path's, modulo float64 accumulation
    order inside the dot product (identical after the 6-dp round in
    practice). Output: (id_a, id_b, sim) with id_a < id_b, id dtypes
    derived from the input schema."""
    import numpy as np

    id_type = embeddings.schema[id_col].dataType.simpleString()
    out_schema = f"id_a {id_type}, id_b {id_type}, sim double"

    rep = (
        embeddings.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).alias("v"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
        )
        .select(
            "id", "v", "blk",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("c"),
        )
        .select(
            F.least("blk", "c").alias("gi"),
            F.greatest("blk", "c").alias("gj"),
            "id", "v", "blk",
        )
    )

    def gemm(key, pdf):
        gi, gj = int(key[0]), int(key[1])
        left = pdf[pdf.blk == gi]
        X = np.array(left.v.tolist(), dtype=np.float64)
        if X.size == 0:
            return pd.DataFrame(columns=["id_a", "id_b", "sim"])
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        ids_x = left.id.to_numpy()
        if gi == gj:
            S = np.round(Xn @ Xn.T, 6)
            ii, jj = np.nonzero(np.triu(S >= threshold, k=1))
        else:
            right = pdf[pdf.blk == gj]
            Y = np.array(right.v.tolist(), dtype=np.float64)
            if Y.size == 0:
                return pd.DataFrame(columns=["id_a", "id_b", "sim"])
            Yn = Y / np.maximum(np.linalg.norm(Y, axis=1, keepdims=True), 1e-300)
            S = np.round(Xn @ Yn.T, 6)
            ii, jj = np.nonzero(S >= threshold)
        if len(ii) == 0:
            return pd.DataFrame(columns=["id_a", "id_b", "sim"])
        ida = ids_x[ii]
        idb = (ids_x if gi == gj else right.id.to_numpy())[jj]
        lo, hi = np.minimum(ida, idb), np.maximum(ida, idb)
        return pd.DataFrame({"id_a": lo, "id_b": hi, "sim": S[ii, jj]})

    return rep.groupBy("gi", "gj").applyInPandas(gemm, out_schema)


def cosine_join_blocked(
    left: DataFrame,
    right: DataFrame,
    threshold: float,
    left_id: str = "vec_id",
    left_vec: str = "embedding",
    right_id: str = "eval_id",
    right_vec: str = "eval_vec",
    n_blocks: int = 8,
) -> DataFrame:
    """EXACT cosine threshold JOIN between two corpora via the same grid-
    GEMM layout as :func:`cosine_pairs_blocked` — the scale path for
    cross-corpus work (semantic decontamination, dataset-overlap audits)
    when the right side is too large to broadcast.

    Each left vector hashes to one of B left blocks and replicates to the
    B grid groups (i, 0..B-1); each right vector symmetrically to
    (0..B-1, j) — shuffle = (n_l + n_r)×B rows, never n_l×n_r. Every
    (left, right) pair lands in exactly one (i, j) group, where ONE
    float64 GEMM scores it. Output: (left_id, right_id, sim ≥ threshold),
    id dtypes from the input schemas. For eval sets that DO fit a
    broadcast, ``semantic_decontaminate``'s broadcast crossJoin is the
    cheaper plan (no replication at all)."""
    import numpy as np

    lt = left.schema[left_id].dataType.simpleString()
    rt = right.schema[right_id].dataType.simpleString()
    out_schema = f"{left_id} {lt}, {right_id} {rt}, sim double"

    l_rep = (
        left.select(
            F.col(left_id).alias("id"),
            F.col(left_vec).alias("v"),
            F.pmod(F.xxhash64(F.col(left_id)), F.lit(n_blocks)).alias("gi"),
            F.lit(0).alias("side"),
        )
        .select(
            "id", "v", "gi", "side",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("gj"),
        )
    )
    r_rep = (
        right.select(
            F.col(right_id).alias("id"),
            F.col(right_vec).alias("v"),
            F.pmod(F.xxhash64(F.col(right_id)), F.lit(n_blocks)).alias("gj"),
            F.lit(1).alias("side"),
        )
        .select(
            "id", "v",
            F.explode(F.sequence(F.lit(0), F.lit(n_blocks - 1))).alias("gi"),
            "side", "gj",
        )
        .select("id", "v", "gi", "side", "gj")
    )
    rep = l_rep.unionByName(r_rep)

    def gemm(key, pdf):
        lrows = pdf[pdf.side == 0]
        rrows = pdf[pdf.side == 1]
        if len(lrows) == 0 or len(rrows) == 0:
            return pd.DataFrame(columns=[left_id, right_id, "sim"])
        X = np.array(lrows.v.tolist(), dtype=np.float64)
        Y = np.array(rrows.v.tolist(), dtype=np.float64)
        Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-300)
        Yn = Y / np.maximum(np.linalg.norm(Y, axis=1, keepdims=True), 1e-300)
        S = np.round(Xn @ Yn.T, 6)
        ii, jj = np.nonzero(S >= threshold)
        if len(ii) == 0:
            return pd.DataFrame(columns=[left_id, right_id, "sim"])
        return pd.DataFrame(
            {
                left_id: lrows.id.to_numpy()[ii],
                right_id: rrows.id.to_numpy()[jj],
                "sim": S[ii, jj],
            }
        )

    return rep.groupBy("gi", "gj").applyInPandas(gemm, out_schema)


def cosine_pairs_lsh_banded(
    embeddings: DataFrame,
    threshold: float = 0.9,
    bands: int = 24,
    rows_per_band: int = 12,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
    seed: int = 42,
) -> DataFrame:
    """APPROXIMATE cosine threshold self-join for the HIGH-threshold regime:
    banded random-hyperplane LSH candidates + exact re-rank.

    A pair at similarity s collides on one plane with p = 1 − arccos(s)/π;
    a band of r planes matches with p^r; any of L bands → recall
    1 − (1 − p^r)^L. Defaults r = 12, L = 24: at s = 0.9 (p = 0.856)
    recall ≈ 0.98 and ≈ 1.0 at s = 0.95, while a random pair (p = 0.5)
    becomes a candidate with probability ≈ 0.006 — candidate volume stays
    ≪ n². Below s ≈ 0.7 the p-gap collapses (recall and candidate rate
    converge) and this path is the WRONG tool — use
    ``cosine_pairs_blocked`` (exact, grid-GEMM) instead; the two are the
    high/low-threshold halves of one design.

    Candidates are (band, band-signature) bucket joins (shuffle = n×L
    signature rows); sims are re-ranked with the deterministic ordered-fold
    ``dot`` so emitted values are bit-identical to the exact path — only
    recall, never precision, is approximate."""
    if dim is None:
        dim = len(embeddings.select(vec_col).first()[0])
    planes = _hyperplanes(bands * rows_per_band, dim, seed=seed)
    # vectorized signatures (one GEMM per Arrow batch) — the expression
    # form is bands×rows interpreted fold-dots per row (see _bucket_array_udf)
    band_tables = [
        planes[b * rows_per_band : (b + 1) * rows_per_band] for b in range(bands)
    ]
    band_sigs = _bucket_array_udf(band_tables)(F.col(vec_col))
    sig = embeddings.select(
        F.col(id_col).alias("id"), F.col(vec_col).alias("v"), band_sigs.alias("sigs")
    )
    keyed = sig.select(
        "id", "v", F.posexplode("sigs").alias("band", "bsig")
    )
    a = keyed.select(F.col("id").alias("id_a"), F.col("v").alias("v_a"), "band", "bsig")
    b = keyed.select(F.col("id").alias("id_b"), F.col("v").alias("v_b"), "band", "bsig")
    cands = (
        a.join(b, ["band", "bsig"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "v_a", "v_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    sims = cands.select(
        "id_a", "id_b",
        F.round(
            dot(F.col("v_a"), F.col("v_b"))
            / (norm(F.col("v_a")) * norm(F.col("v_b"))),
            6,
        ).alias("sim"),
    )
    return sims.filter(F.col("sim") >= threshold)


def cosine_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.95,
    num_planes: int = 8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    exact: bool = False,
    dim: int | None = None,
    n_blocks: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs → (id_a, id_b, sim).

    ``exact=True`` keeps the n²-row crossJoin with the deterministic
    ordered-fold dot — the reference/differential path, small-sf only.
    The DEFAULT now routes to ``cosine_pairs_blocked``: the SAME exact
    result set, but grid-GEMM-blocked so no n²-row shuffle ever
    materializes (the pre-r6 default was a single 8-plane LSH bucket,
    which at moderate thresholds had ~3% recall — silently wrong as a
    default). For high thresholds (≥ ~0.8) where sub-quadratic candidate
    generation is sound, call ``cosine_pairs_lsh_banded`` explicitly.

    ``exact=True`` is CAPPED at ``EXACT_CROSSJOIN_MAX_ROWS`` input rows
    (one bounded count): it exists only as the differential reference for
    the blocked path's tests, and an uncapped n²-row crossJoin is one
    keyword away from a production scale-killer. Use the default (same
    result set, blocked) for anything real."""
    if exact:
        n_in = embeddings.count()  # bounded: one scalar, guard only
        if n_in > EXACT_CROSSJOIN_MAX_ROWS:
            raise ValueError(
                f"cosine_near_dup_pairs(exact=True) is the n² differential "
                f"reference path, capped at {EXACT_CROSSJOIN_MAX_ROWS} rows "
                f"(got {n_in}); the default blocked path returns the same "
                f"pair set without the n²-row shuffle"
            )
        normed = embeddings.withColumn("__n", norm(F.col(vec_col)))
        a = normed.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"), F.col("__n").alias("n_a"))
        b = normed.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"), F.col("__n").alias("n_b"))
        pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
        sims = pairs.select(
            "id_a", "id_b",
            safe_cos(dot(F.col("v_a"), F.col("v_b")), F.col("n_a"), F.col("n_b")).alias("sim"),
        )
        return sims.filter(F.col("sim") >= threshold)
    return cosine_pairs_blocked(
        embeddings, threshold, id_col=id_col, vec_col=vec_col, n_blocks=n_blocks
    )


def kmeans_fit_assign(
    corpus: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 5,
    seed: int = 42,
) -> tuple[DataFrame, list[list[float]]]:
    """Distributed spherical k-means over the FULL corpus (semantic
    clustering for corpus curation — cluster-then-dedup, topic slicing,
    stratified eval splits). ``kmeans_centroids`` trains a coarse quantizer
    on a driver-side sample; this runs Lloyd iterations over every row:

    - assignment: centroids broadcast inside an Arrow-batched pandas UDF —
      one ``X @ C.T`` argmax per batch, the vectorized path (a per-centroid
      column-expression fold would be k×dim interpreted ops per row);
    - update: per-cluster mean via ``dim`` codegen ``sum()`` columns + a
      count — ONE small shuffle of k×(dim+1) partials per iteration, the
      driver only ever sees k centroids (metadata, never data).

    Deterministic: sample-trained init, fixed iteration count, argmax ties
    break to the lowest centroid id. Returns (assignments, centroids) where
    assignments = (id_col, cluster, sim).
    """
    import numpy as np
    from pyspark.sql.functions import pandas_udf

    C = np.array(
        kmeans_centroids(corpus, k, id_col, vec_col, seed=seed), dtype=np.float64
    )
    # dim comes free from the trained centroids — no plan-build-time action
    dim = C.shape[1]

    # spherical k-means updates average UNIT vectors (mean direction), so
    # precompute 1/||x|| once: summing raw components instead would weight
    # each member by its norm and let large-norm outliers drag the centroid
    nrm = norm(F.col(vec_col))
    vecs = corpus.select(
        id_col,
        vec_col,
        F.when(nrm > 1e-12, F.lit(1.0) / nrm).otherwise(F.lit(0.0)).alias("__inv"),
    )

    def assigner(cent: np.ndarray):
        @pandas_udf("struct<cluster:int, sim:double>")
        def assign(col: pd.Series) -> pd.DataFrame:
            X = np.array(col.tolist(), dtype=np.float64)
            Xn = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            sims = Xn @ cent.T
            best = np.argmax(sims, axis=1)  # first max = lowest cid (ties)
            return pd.DataFrame(
                {"cluster": best.astype("int32"), "sim": sims[np.arange(len(X)), best]}
            )

        return assign

    for _ in range(iters):
        assigned = vecs.withColumn("__a", assigner(C)(F.col(vec_col)))
        sums = (
            assigned.groupBy(F.col("__a.cluster").alias("cluster"))
            .agg(
                F.count(F.lit(1)).alias("n"),
                *[
                    F.sum(F.col(vec_col)[i].cast("double") * F.col("__inv")).alias(f"s{i}")
                    for i in range(dim)
                ],
            )
            .collect()
        )
        newC = C.copy()
        for r in sums:
            m = np.array([r[f"s{i}"] for i in range(dim)], dtype=np.float64) / r["n"]
            nrm = float(np.linalg.norm(m))
            if nrm > 1e-12:
                newC[r["cluster"]] = m / nrm
        C = newC

    final = vecs.withColumn("__a", assigner(C)(F.col(vec_col))).select(
        id_col,
        F.col("__a.cluster").alias("cluster"),
        F.round(F.col("__a.sim"), 6).alias("sim"),
    )
    return final, [[float(x) for x in row] for row in C]


def cluster_near_dup_pairs(
    embeddings: DataFrame,
    threshold: float = 0.9,
    k: int = 16,
    probes: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    iters: int = 3,
) -> DataFrame:
    """Embedding near-dup pairs blocked by k-means cluster (semantic
    dedup's standard shape: cluster-then-compare). The alternative blocking
    strategy to the LSH buckets of ``cosine_near_dup_pairs``: clusters
    adapt to data density (LSH planes are data-oblivious), so near-dup
    pairs co-locate even when the corpus occupies a thin manifold.

    Each vector joins its ``probes`` nearest cells (multi-probe — a pair is
    a candidate if ANY cell is shared), which recovers pairs straddling a
    cluster boundary; candidates dedup on (id_a, id_b) before the exact
    cosine re-check, so precision stays 1. Expected candidate volume is
    ~probes²·|corpus|²/k; recall/cost dials are (k, probes), exactly
    nprobe's role in IVF search.
    """
    _, cents = kmeans_fit_assign(
        embeddings, k=k, id_col=id_col, vec_col=vec_col, iters=iters
    )
    # multi-probe assignment via the vectorized argsort UDF — the old
    # crossJoin(×k) + row_number form exploded the corpus k× and shuffled
    # it for the per-id window (see ivf_ann_topk's identical fix)
    probed = embeddings.withColumn("__n", norm(F.col(vec_col))).select(
        id_col, vec_col, "__n",
        F.explode(
            _nearest_cells_udf(cents, probes)(F.col(vec_col))
        ).alias("cluster"),
    )
    a = probed.select(
        F.col(id_col).alias("id_a"), F.col(vec_col).alias("v_a"),
        F.col("__n").alias("n_a"), "cluster",
    )
    b = probed.select(
        F.col(id_col).alias("id_b"), F.col(vec_col).alias("v_b"),
        F.col("__n").alias("n_b"), "cluster",
    )
    pairs = (
        a.join(b, "cluster")
        .filter(F.col("id_a") < F.col("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sims = pairs.select(
        "id_a", "id_b",
        safe_cos(dot(F.col("v_a"), F.col("v_b")), F.col("n_a"), F.col("n_b")).alias("sim"),
    )
    return sims.filter(F.col("sim") >= threshold)


def semantic_decontaminate(
    corpus: DataFrame,
    eval_df: DataFrame,
    threshold: float = 0.9,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    eval_id_col: str = "eval_id",
    eval_vec_col: str = "eval_vec",
    blocked: bool = False,
) -> DataFrame:
    """EMBEDDING-space cross-corpus decontamination — the semantic
    counterpart of text.ngram_contamination / dedup.cross_corpus_minhash:
    flags corpus rows whose embedding is ≥ ``threshold`` cosine to ANY
    eval vector, catching paraphrases and translations that share no
    lexical surface (n-grams and minhash shingles both miss them).

    Plan shape: the eval side (norms precomputed) BROADCASTS — eval sets
    are result-sized; the corpus streams through ONE scan and never
    self-joins (same posture as cross_corpus_minhash); the pair loop runs
    in codegen (ordered-fold dot product). Returns (id, eval_id, sim) per
    contaminated pair, sim rounded to 6 dp for cross-engine determinism.
    For eval sets too large to broadcast, pass ``blocked=True`` — the
    grid-GEMM cross join (:func:`cosine_join_blocked`): (n_c + n_e)×B
    shuffle, one float64 GEMM per grid cell, same exact result set."""
    if blocked:
        return cosine_join_blocked(
            corpus, eval_df, threshold,
            left_id=id_col, left_vec=vec_col,
            right_id=eval_id_col, right_vec=eval_vec_col,
        )
    c = corpus.select(
        F.col(id_col),
        F.col(vec_col).alias("__v"),
        norm(F.col(vec_col)).alias("__cn"),
    )
    e = eval_df.select(
        F.col(eval_id_col),
        F.col(eval_vec_col).alias("__ev"),
        norm(F.col(eval_vec_col)).alias("__en"),
    )
    pairs = c.crossJoin(F.broadcast(e))
    sim = safe_cos(dot(F.col("__v"), F.col("__ev")), F.col("__cn"), F.col("__en"))
    return (
        pairs.select(F.col(id_col), F.col(eval_id_col), sim.alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


# ----------------------- int8 embedding quantization -----------------------


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", out_col: str = "q8"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: each embedding becomes
    ``array<tinyint>`` plus one float ``{out_col}_scale`` (=max|x|/127),
    x ≈ q · scale. 4× less memory/IO than float32 (8× vs Spark's double
    arrays) — at 100 TB of embeddings the quantized table is what you keep
    hot; the float originals stay in cold storage for exact re-scoring.

    Pure column expressions (transform + floor), no UDF. Zero vectors get
    scale 1.0 (a 0 scale would divide by zero in the code expression) and
    all-zero codes; their quantized cosine is 0/0 = NULL downstream, so
    :func:`brute_force_topk_int8` excludes them from rankings — same
    posture as exact cosine, where a zero vector has no direction.

    Rounding is ``floor(x/scale + 0.5)`` — round-half-toward-+inf — NOT
    the engine round(): Spark rounds half up (away from zero), DuckDB/C
    half to even, so engine round() makes codes differ at exact .5
    boundaries; the floor form is pure IEEE arithmetic and bit-identical
    everywhere, which is what lets the int8 top-k be ORACLE-exact (codes,
    integer dots, and IEEE sqrt norms are all engine-independent).

    For COSINE, per-vector symmetric scaling is exact in direction: the
    scale cancels in q·q'/(|q||q'|) up to rounding, so ranking degrades
    only by the int8 rounding error (~0.3% on random vectors, tested)."""
    amax = F.array_max(F.transform(F.col(vec_col), lambda x: F.abs(x)))
    scale = F.when(amax > 0, amax / F.lit(127.0)).otherwise(F.lit(1.0))
    codes = F.transform(
        F.col(vec_col), lambda x: F.floor(x / scale + 0.5).cast("tinyint")
    )
    return df.withColumn(out_col, codes).withColumn(f"{out_col}_scale", scale.cast("float"))


def brute_force_topk_int8(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
    exclude_self: bool = False,
) -> DataFrame:
    """Cosine top-k over int8-quantized vectors — the memory-bound scale
    variant of :func:`brute_force_topk`: the pair scan streams tinyint
    arrays (4-8× less data through the shuffle/scan than floats), the
    integer dot product runs in codegen, and the per-vector scales
    multiply back in once per pair. Same output contract (query_id, id,
    sim, rank); sim is the quantized approximation of cosine."""
    cq = quantize_int8(corpus, vec_col, "q8")
    qq = quantize_int8(queries, query_vec_col, "qq8")
    c = cq.select(
        F.col(id_col),
        F.col("q8"),
        (norm(F.col("q8")) ).alias("__cn"),
    )
    q = qq.select(
        F.col(query_id_col),
        F.col("qq8"),
        (norm(F.col("qq8"))).alias("__qn"),
    )
    pairs = c.crossJoin(F.broadcast(q))
    if exclude_self:
        pairs = pairs.filter(F.col(id_col) != F.col(query_id_col))
    # scales cancel in cosine: (s·q)·(s'·q') / (s|q| · s'|q'|) = q·q'/(|q||q'|)
    scored = pairs.select(
        F.col(query_id_col),
        F.col(id_col),
        safe_cos(
            dot(F.col("qq8"), F.col("q8")), F.col("__qn"), F.col("__cn")
        ).alias("sim"),
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def pq_train(
    corpus: DataFrame,
    m: int = 8,
    k: int = 256,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 4096,
    iters: int = 10,
    seed: int = 42,
) -> list:
    """Product-quantization codebooks (Jégou et al. 2011, the FAISS PQ
    index): split the (L2-normalized) vector into ``m`` contiguous
    subspaces and train an independent ``k``-centroid L2 k-means per
    subspace on a deterministic hash-ordered sample — the same bounded
    training pass the IVF coarse quantizer uses (the sample is metadata;
    the corpus is never collected). Returns ``codebooks``:
    m × k × (dim/m) nested lists (≤ m·k·dim/m = k·dim floats — e.g.
    256×64 dims = 64 Ki floats, trivially broadcastable).

    PQ is the missing rung between int8 (4-8×) and binary sketches on the
    compression ladder: a dim-d float corpus (8d bytes/vector as Spark
    doubles) becomes ``m`` SMALL INTS per vector — 64-dim embeddings at
    m=8 compress ~64×, so a billion-vector index is ~10s of GB and lives
    in executor memory while the float originals stay cold. Vectors are
    normalized first, so ADC L2 distance ranks identically to cosine
    (||a−b||² = 2 − 2·cos on unit vectors) and ``pq_topk`` can report the
    familiar sim surface.

    Deterministic: hash-ordered sample, farthest-point init from sample
    row 0 per subspace, ``iters`` Lloyd rounds, empty cells re-seed from
    the worst-assigned point, ties break to the lowest centroid index."""
    import numpy as np

    sample = (
        corpus.select(id_col, vec_col)
        .orderBy(F.xxhash64(F.col(id_col).cast("string"), F.lit(seed)), F.col(id_col))
        .limit(sample_size)
        .collect()  # bounded: the training sample, like kmeans_centroids
    )
    X = np.array([list(r[1]) for r in sample], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    n, dim = X.shape
    if dim % m != 0:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    dsub = dim // m
    kk = min(k, n)
    codebooks = []
    for s in range(m):
        Xs = X[:, s * dsub : (s + 1) * dsub]
        # farthest-point init (L2), deterministic from sample row 0
        idx = [0]
        d2 = ((Xs - Xs[0]) ** 2).sum(axis=1)
        for _ in range(1, kk):
            nxt = int(np.argmax(d2))
            idx.append(nxt)
            d2 = np.minimum(d2, ((Xs - Xs[nxt]) ** 2).sum(axis=1))
        C = Xs[idx].copy()
        for _ in range(iters):
            # assignment: argmin over k centroids (ties -> lowest index)
            dists = ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
            assign = dists.argmin(axis=1)
            for c in range(kk):
                mask = assign == c
                if mask.any():
                    C[c] = Xs[mask].mean(axis=0)
                else:  # empty cell: re-seed from the worst-assigned point
                    C[c] = Xs[int(dists.min(axis=1).argmax())]
        codebooks.append(C.tolist())
    return codebooks


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "pq_codes",
) -> DataFrame:
    """Encode every vector to its PQ codes → (id_col, out_col:
    array<smallint> of length m) — the compact corpus representation.
    One Arrow-batched map with the codebooks broadcast in the closure
    (k·dim floats): per batch, each subspace is one ‖x‖²−2xCᵀ argmin GEMM
    over the whole batch — vectorized, no per-row Python. No shuffle; at
    100 TB this is the embarrassingly-parallel index build, and the codes
    frame (m small ints + id per vector) is what every later query
    touches."""
    import numpy as np

    from pyspark.sql.types import ArrayType, ShortType, StructField, StructType

    C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(C)
    dsub = C[0].shape[1]
    id_field = df.schema[id_col]
    out_schema = StructType(
        [
            StructField(id_col, id_field.dataType, True),
            StructField(out_col, ArrayType(ShortType()), True),
        ]
    )

    def encode(batches):
        for pdf in batches:
            X = np.array(pdf[vec_col].tolist(), dtype=np.float64)
            X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
            codes = np.empty((len(pdf), m), dtype=np.int16)
            for s in range(m):
                Xs = X[:, s * dsub : (s + 1) * dsub]
                # ||x-c||² = ||x||² - 2xc + ||c||²; ||x||² constant per row
                d = -2.0 * (Xs @ C[s].T) + (C[s] ** 2).sum(axis=1)[None, :]
                codes[:, s] = d.argmin(axis=1)
            yield pd.DataFrame({id_col: pdf[id_col], out_col: list(codes)})

    return df.select(id_col, vec_col).mapInPandas(encode, out_schema)


def pq_topk(
    codes_df: DataFrame,
    codebooks: list,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    codes_col: str = "pq_codes",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k over a PQ-encoded corpus →
    (query_id, id, sim, rank): per query, the m×k lookup table
    T[s][c] = ‖q_s − C_s[c]‖² is precomputed once (queries are bounded —
    collected like every query panel here), each code vector scores as
    Σ_s T[s][codes_s] (pure numpy fancy-indexing per Arrow batch), and
    ``sim = 1 − dist/2`` converts unit-vector L2 back to the cosine
    surface the exact rankings report.

    Scale shape: ONE pass over the codes frame; each partition emits only
    its per-query top-k partials (k rows × #queries per batch, never the
    n×q score matrix), and a final window over ≤ k·#batches·#queries rows
    picks the global top-k — the same partial-top-k-then-merge shape the
    salted aggregations use. Approximation error is the PQ quantization
    error; recall is tested against brute force."""
    import numpy as np

    from pyspark.sql.types import DoubleType, StructField, StructType

    C = [np.asarray(cb, dtype=np.float64) for cb in codebooks]
    m = len(C)
    dsub = C[0].shape[1]
    qrows = queries.select(query_id_col, query_vec_col).collect()  # bounded: query panel
    qids = [r[0] for r in qrows]
    Q = np.array([list(r[1]) for r in qrows], dtype=np.float64)
    Q = Q / np.maximum(np.linalg.norm(Q, axis=1, keepdims=True), 1e-12)
    # tables[qi][s][c] — #queries × m × k, broadcast via closure
    tables = np.stack(
        [
            np.stack(
                [
                    ((Q[qi, s * dsub : (s + 1) * dsub][None, :] - C[s]) ** 2).sum(axis=1)
                    for s in range(m)
                ]
            )
            for qi in range(len(qids))
        ]
    )
    id_field = codes_df.schema[id_col]
    q_field = queries.schema[query_id_col]
    out_schema = StructType(
        [
            StructField(query_id_col, q_field.dataType, True),
            StructField(id_col, id_field.dataType, True),
            StructField("dist", DoubleType(), True),
        ]
    )

    def score(batches):
        for pdf in batches:
            codes = np.array(pdf[codes_col].tolist(), dtype=np.int64)  # b × m
            ids = pdf[id_col].to_numpy()
            order = np.arange(m)
            for qi, qid in enumerate(qids):
                d = tables[qi][order, codes].sum(axis=1)  # b
                take = min(k, len(d))
                part = np.argpartition(d, take - 1)[:take]
                # deterministic partial order: (dist, id)
                part = part[np.lexsort((ids[part], d[part]))]
                yield pd.DataFrame(
                    {
                        query_id_col: [qid] * take,
                        id_col: ids[part],
                        "dist": d[part],
                    }
                )

    partials = codes_df.select(id_col, codes_col).mapInPandas(score, out_schema)
    w = W.partitionBy(query_id_col).orderBy(F.col("dist").asc(), F.col(id_col).asc())
    return (
        partials.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            query_id_col,
            id_col,
            F.round(F.lit(1.0) - F.col("dist") / 2.0, 6).alias("sim"),
            "rank",
        )
    )


def pca_components(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
) -> tuple[list[float], list[list[float]], list[float]]:
    """Fit distributed PCA over an ``array<float>`` column → (mean,
    components[k][dim], explained_variance[k]) — the embedding
    compression/whitening step before ANN indexing or clustering
    (k floats per row instead of dim).

    Shape at 100 TB: one mapInPandas pass computes per-Arrow-batch
    moment partials (count, Σx, flattened Σxᵀx — (1 + dim + dim²)
    numbers per batch, numpy BLAS inside); partials are reduced
    ENGINE-side with exact decimal sums keyed by position (a
    posexplode + groupBy(pos) — associative, order-independent), so the
    driver sees exactly dim² + dim + 1 scalars regardless of corpus
    size. Eigendecomposition of the dim×dim covariance runs on the
    driver (dim ≲ few thousand — numpy eigh on a 4096² matrix is
    seconds); eigenvector SIGN is normalized (largest-|coord| positive)
    so the fit is deterministic up to eigenvalue ties."""
    import numpy as np
    import pandas as pd

    dim = len(df.select(vec_col).first()[0])

    def partials(batches):
        for pdf in batches:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            if len(X) == 0:
                continue
            yield pd.DataFrame(
                {
                    "n": [float(len(X))],
                    "s": [X.sum(axis=0).tolist()],
                    "xtx": [(X.T @ X).ravel().tolist()],
                }
            )

    part = df.select(vec_col).mapInPandas(
        partials, schema="n double, s array<double>, xtx array<double>"
    )
    # engine-side exact reduce: decimal sums per position over the tiny
    # partial frame; n rides as position 0 so ONE pass covers everything
    moments = (
        part.select(
            F.posexplode(
                F.concat(F.array(F.col("n")), F.col("s"), F.col("xtx"))
            )
        )
        .groupBy("pos")
        .agg(F.sum(F.col("col").cast("decimal(38,12)")).cast("double").alias("v"))
        .collect()
    )  # bounded: 1 + dim + dim^2 rows
    vals = {r["pos"]: r["v"] for r in moments}
    n_total = vals[0]
    if not n_total:
        raise ValueError("pca_components: empty input")
    s = np.array([vals[1 + i] for i in range(dim)])
    xtx = np.array(
        [vals[1 + dim + i] for i in range(dim * dim)]
    ).reshape(dim, dim)
    mean = s / n_total
    cov = xtx / n_total - np.outer(mean, mean)
    eigval, eigvec = np.linalg.eigh(cov)
    order = np.argsort(eigval)[::-1][:k]
    comps = []
    variances = []
    for idx in order:
        v = eigvec[:, idx]
        if v[np.argmax(np.abs(v))] < 0:  # deterministic sign
            v = -v
        comps.append(v.tolist())
        variances.append(float(max(eigval[idx], 0.0)))
    return mean.tolist(), comps, variances


def pca_project(
    df: DataFrame,
    vec_col: str = "embedding",
    k: int = 8,
    out_col: str = "pca",
    fitted: tuple | None = None,
) -> DataFrame:
    """Project embeddings onto their top-k principal components →
    ``out_col`` (array<double>, length k). ``fitted`` re-uses a
    (mean, components, variances) fit from :func:`pca_components`
    (train-once / apply-everywhere); otherwise fits on ``df``. The
    projection is one Arrow-batched matmul per batch — no shuffle, no
    per-row Python."""
    import numpy as np
    import pandas as pd

    mean, comps, _ = fitted or pca_components(df, vec_col, k)
    M = np.asarray(comps)  # k x dim
    mu = np.asarray(mean)

    def project(batches):
        for pdf in batches:
            X = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
            )
            out = pdf.copy()
            out[out_col] = ((X - mu) @ M.T).tolist() if len(X) else []
            yield out

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    # StructType.add MUTATES in place — never call it on df.schema
    schema = StructType(
        list(df.schema.fields)
        + [StructField(out_col, ArrayType(DoubleType()))]
    )
    return df.mapInPandas(project, schema=schema)


def pca_ann_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    pca_k: int = 8,
    rerank_factor: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    query_vec_col: str = "query_vec",
) -> DataFrame:
    """Approximate cosine top-k through PCA compression: coarse-rank by
    EUCLIDEAN distance in the top-``pca_k`` component space (distances
    are preserved best-in-class under a linear projection; cosine is not,
    since projection does not commute with normalization), keep
    ``k × rerank_factor`` candidates per query, then re-rank those by
    exact full-dimension cosine. The third ANN family next to LSH
    (random hyperplanes) and IVF (trained centroids): best when the
    spectrum decays fast — pca_k of 8-32 captures most variance of
    typical text embeddings, an 8-32× cheaper coarse pass.

    Scale shape: the fit is pca_components (one corpus pass, bounded
    reduce); both sides project via Arrow matmul; the coarse pass is a
    crossJoin against BROADCAST projected queries scoring pca_k-dim
    distances (cheap row-local arithmetic), pruned per query by a
    window; only candidate rows join back (by id) for exact scoring —
    the full-dim vectors never pairwise-join."""
    fit = pca_components(corpus, vec_col, pca_k)
    pc = pca_project(corpus, vec_col, pca_k, out_col="__p", fitted=fit).select(
        id_col, "__p"
    )
    pq = pca_project(
        queries.withColumnRenamed(query_vec_col, vec_col),
        vec_col,
        pca_k,
        out_col="__q",
        fitted=fit,
    ).select(query_id_col, "__q")
    d2 = F.aggregate(
        F.zip_with(F.col("__p"), F.col("__q"), lambda a, b: (a - b) * (a - b)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    coarse = (
        pc.crossJoin(F.broadcast(pq))
        .select(query_id_col, id_col, d2.alias("__d2"))
    )
    wc = W.partitionBy(query_id_col).orderBy(F.col("__d2").asc(), F.col(id_col).asc())
    cands = (
        coarse.withColumn("__r", F.row_number().over(wc))
        .filter(F.col("__r") <= k * rerank_factor)
        .select(query_id_col, id_col)
    )
    # exact re-rank on the candidate set only
    cand_vecs = cands.join(corpus.select(id_col, vec_col), id_col)
    q_full = queries.select(query_id_col, query_vec_col).withColumn(
        "__qn", norm(F.col(query_vec_col))
    )
    scored = (
        cand_vecs.join(F.broadcast(q_full), query_id_col)
        .select(
            query_id_col,
            id_col,
            F.round(
                dot(F.col(query_vec_col), F.col(vec_col))
                / (F.col("__qn") * norm(F.col(vec_col))),
                6,
            ).alias("sim"),
        )
    )
    w = W.partitionBy(query_id_col).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id_col, id_col, "sim", "rank")
    )


def group_centroids(
    df: DataFrame,
    label_col: str = "label",
    vec_col: str = "embedding",
    round_dp: int = 6,
) -> DataFrame:
    """Per-label mean vectors → (label, centroid, n) — prototype
    embeddings (nearest-centroid classification seeds, cluster summaries,
    per-source semantic profiles). Exact decimal per-dimension sums
    divided by exact counts, each coordinate rounded ``round_dp`` — the
    centroid is engine-portable.

    Shape: posexplode → ONE groupBy (label, pos) with map-side partials
    (state = |labels| × dim) → per-label array_sort reassembly. No
    driver collect."""
    per_dim = (
        df.select(F.col(label_col), F.posexplode(F.col(vec_col)))
        .groupBy(label_col, "pos")
        .agg(
            F.round(
                F.sum(F.col("col").cast("decimal(28,9)")).cast("double")
                / F.count(F.lit(1)),
                round_dp,
            ).alias("m"),
            F.count(F.lit(1)).alias("n"),
        )
    )
    return per_dim.groupBy(label_col).agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "m"))),
            lambda x: x["m"],
        ).alias("centroid"),
        F.max("n").alias("n"),
    )


def centroid_distances(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroid_col: str = "centroid",
) -> DataFrame:
    """Exact squared-L2 of every vector to every centroid → (id, cand,
    d2 DECIMAL) — the shared scoring frame behind nearest-centroid
    assignment and silhouette evaluation. Per-dimension IEEE terms
    rounded 9 dp, order-independent decimal sums (engine-exact);
    centroids broadcast, scoring row-local."""
    d2 = F.aggregate(
        F.zip_with(
            F.col(vec_col),
            F.col(centroid_col),
            lambda a, b: F.round((a - b) * (a - b), 9).cast("decimal(28,9)"),
        ),
        F.lit(0).cast("decimal(28,9)"),
        lambda acc, x: (acc + x).cast("decimal(28,9)"),
    )
    cands = centroids.select(
        F.col(label_col).alias("cand"), F.col(centroid_col)
    )
    return df.crossJoin(F.broadcast(cands)).select(
        F.col(id_col), F.col("cand"), d2.alias("d2")
    )


def nearest_centroid_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    centroid_col: str = "centroid",
) -> DataFrame:
    """Assign every vector to its nearest centroid by squared L2 →
    (id, assigned, d2): nearest-prototype classification / cluster
    assignment. Distances are EXACT decimal sums of per-dimension terms
    rounded 9 dp (a single IEEE subtract-square each — identical in any
    engine; the decimal sum is order-independent, so the argmin is too);
    ties break by label ASC. Centroids broadcast (|labels| rows); the
    scoring is row-local — no shuffle of the vector side.

    The argmin is ``min(struct(d2, cand))`` — struct ordering is
    lexicographic, so the minimum is (smallest d2, then smallest label):
    the SAME deterministic total order the original rank window gave,
    but as a map-side-combinable hash aggregate. The row_number window
    shuffled AND sorted the full n×k scored frame by id (k× data
    amplification through a sort exchange at 100 TB); the aggregate
    combines each partition down to its distinct ids BEFORE the
    exchange — measured 4× faster at sf0.1, values bit-identical (r7).

    The fold accumulates EXACT LONG numerators, not decimals (r11,
    guide §2.3 narrower types / §1.2 per-task work): each per-dimension
    term ``round((a−b)², 9)`` is by construction an exact multiple of
    10⁻⁹ whose integer numerator n ≤ 4·10⁹ is recovered EXACTLY by
    ``floor(d·10⁹ + 0.5)`` (the rounded double sits within ~10⁻⁶ of
    n/10⁹, and 0.5 ± 10⁻⁶ never crosses an integer), so the long sum N
    equals the decimal sum's numerator digit-for-digit — same argmin
    order, and ``N/10⁹`` as a double division is the correctly-rounded
    value the decimal→double cast produced. Replacing the per-term
    decimal cast + decimal add of the interpreted HOF fold with long
    arithmetic measured 1.2 s → 0.88 s per scoring pass at sf0.1
    (values verified bit-identical). Domain: Σ(a−b)² ≤ 9.2·10⁹ per pair
    (long numerator range) vs the decimal(28,9) form's 10¹⁰ —
    materially the same cap, far above any normalized-embedding
    geometry. :func:`centroid_distances` keeps the decimal surface for
    callers that consume d2 itself (silhouette's top-2 panel)."""
    term = lambda a, b: (  # noqa: E731 — same widened IEEE term as
        # centroid_distances; only the ACCUMULATION representation changes
        F.round((a - b) * (a - b), 9) * F.lit(1e9) + F.lit(0.5)
    ).cast("long")
    dl = F.aggregate(
        F.zip_with(F.col(vec_col), F.col(centroid_col), term),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )
    cands = centroids.select(
        F.col(label_col).alias("cand"), F.col(centroid_col)
    )
    scored = df.crossJoin(F.broadcast(cands)).select(
        F.col(id_col), F.col("cand"), dl.alias("__dl")
    )
    best = scored.groupBy(id_col).agg(
        F.min(F.struct("__dl", "cand")).alias("__b")
    )
    return best.select(
        id_col,
        F.col("__b.cand").alias("assigned"),
        (F.col("__b.__dl").cast("double") / F.lit(1e9)).alias("d2"),
    )


def mmr_rerank(
    candidates: DataFrame,
    k: int = 10,
    lam: float = 0.7,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    rel_col: str = "sim",
) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein 1998)
    → (query_id, rank, id, relevance, mmr_score): greedily pick the
    candidate maximizing ``λ·rel(d) − (1−λ)·max_{s∈S} cos(d, s)`` — the
    diversity-aware top-k every retrieval/RAG stack runs AFTER ANN, and
    the anti-redundancy selector a curation pipeline uses to sample
    training examples that aren't near-copies of each other.

    Scale shape: MMR is inherently sequential in k, so it runs AFTER the
    distributed candidate generation (brute_force_topk / lsh / ivf — a
    bounded N candidates per query), as an ``applyInPandas`` per
    query-id group: numpy pairwise cosines over N×N within the group,
    greedy loop of k steps, queries parallel across the cluster. Ties
    break by candidate id (deterministic)."""
    import numpy as np
    import pandas as pd

    # id dtypes come from the candidates schema (string doc ids etc. pass
    # through untouched) — hardcoding long would miscast them at runtime
    qid_type = candidates.schema[query_id_col].dataType.simpleString()
    id_type = candidates.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{query_id_col} {qid_type}, rank int, {id_col} {id_type}, "
        "relevance double, mmr_score double"
    )

    def rerank(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = pdf[query_id_col].iloc[0]
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        vecs = np.array(pdf[vec_col].tolist(), dtype=np.float64)
        norms = np.linalg.norm(vecs, axis=1)
        norms[norms == 0] = 1.0
        unit = vecs / norms[:, None]
        sims = unit @ unit.T  # N×N candidate-candidate cosines
        rel = pdf[rel_col].to_numpy(dtype=np.float64)
        ids = pdf[id_col].to_numpy()
        n = len(pdf)
        selected: list[int] = []
        remaining = list(range(n))
        rows = []
        for rank in range(min(k, n)):
            best_i, best_score = None, None
            for i in remaining:
                diversity = max((sims[i, j] for j in selected), default=0.0)
                score = lam * rel[i] - (1.0 - lam) * diversity
                # strict > with id-ascending iteration order = deterministic
                if best_score is None or score > best_score:
                    best_i, best_score = i, score
            selected.append(best_i)
            remaining.remove(best_i)
            rows.append((qid, rank + 1, ids[best_i], rel[best_i], best_score))
        return pd.DataFrame(
            rows,
            columns=[query_id_col, "rank", id_col, "relevance", "mmr_score"],
        )

    return candidates.groupBy(query_id_col).applyInPandas(rerank, out_schema)


def retrieval_metrics(
    results: DataFrame,
    truth: DataFrame,
    k: int = 10,
    query_id_col: str = "query_id",
    id_col: str = "vec_id",
    rank_col: str = "rank",
) -> DataFrame:
    """Per-query retrieval quality → (query_id, n_rel, n_hit, recall_at_k,
    precision_at_k, mrr, ndcg_at_k): the standard eval panel for any
    ranked retrieval (the four ANN variants here, BM25, a re-ranker) —
    ``results`` is a ranked frame (query_id, id, rank), ``truth`` the
    binary relevance set (query_id, id). Queries present in ``truth``
    but absent from ``results`` score 0 across the board (a retriever
    that returns nothing must not be rewarded by dropping the query).

    One join + one aggregation: results cut to rank ≤ k, left-joined to
    truth per (query, id); per-query conditional aggregates give hits,
    first-hit rank (MRR) and the DCG sum; the ideal DCG is a closed
    lookup — element min(n_rel, k) of a k-long literal cumulative
    1/log2(i+1) array (the literal-array trick the Bloom masks use) —
    so nDCG needs no second ranking pass. Metrics rounded to 6 dp."""
    # cumulative ideal-DCG table: idcg[m] = sum_{i=1..m} 1/log2(i+1)
    acc, idcg = 0.0, []
    for i in range(1, k + 1):
        acc += 1.0 / math.log2(i + 1)
        idcg.append(acc)
    idcg_lit = F.lit(idcg)
    t = truth.select(
        F.col(query_id_col), F.col(id_col), F.lit(1).alias("__rel")
    ).distinct()
    n_rel = t.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_rel"))
    cut = results.filter(F.col(rank_col) <= k).select(
        F.col(query_id_col), F.col(id_col), F.col(rank_col)
    )
    joined = cut.join(t, [query_id_col, id_col], "left")
    rel = F.col("__rel").isNotNull()
    per_q = joined.groupBy(query_id_col).agg(
        F.sum(F.when(rel, 1).otherwise(0)).alias("n_hit"),
        F.min(F.when(rel, F.col(rank_col))).alias("__first"),
        F.round(
            F.sum(
                F.when(rel, F.lit(1.0) / F.log2(F.col(rank_col) + 1)).otherwise(
                    F.lit(0.0)
                )
            ),
            9,
        ).alias("__dcg"),
    )
    # n_rel is the spine: truth-only queries surface with zero metrics
    out = n_rel.join(per_q, query_id_col, "left")
    n_hit = F.coalesce(F.col("n_hit"), F.lit(0))
    ideal = F.element_at(idcg_lit, F.least(F.col("n_rel"), F.lit(k)).cast("int"))
    return out.select(
        query_id_col,
        "n_rel",
        n_hit.alias("n_hit"),
        F.round(n_hit / F.col("n_rel"), 6).alias("recall_at_k"),
        F.round(n_hit / F.lit(float(k)), 6).alias("precision_at_k"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("__first"), F.lit(0.0)), 6
        ).alias("mrr"),
        F.round(
            F.coalesce(F.col("__dcg"), F.lit(0.0)) / ideal, 6
        ).alias("ndcg_at_k"),
    )


def hard_negatives(
    corpus: DataFrame,
    positives: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    anchor_col: str = "anchor_id",
    positive_col: str = "positive_id",
    candidate_fn=None,
) -> DataFrame:
    """Hard-negative mining for contrastive/embedding training →
    (anchor_id, vec_id, sim, rank): per anchor, the ``k`` corpus vectors
    MOST similar to it that are neither the anchor itself nor one of its
    labeled positives — the standard negative-selection step between
    retrieval and training (random negatives are too easy; the hardest
    non-positives carry the gradient signal).

    Plan: anchors = corpus semi-joined to the distinct anchor ids; the
    over-fetch margin is k + (max positives per anchor) + 1 — one bounded
    scalar over the positives frame — so the top-k survives the
    exclusion anti-join in the worst case. Candidate generation defaults
    to ``brute_force_topk`` (exact; the sf-test baseline); at scale pass
    ``candidate_fn=lambda c, q, fk: lsh_ann_topk(c, q, k=fk, ...)`` (or
    the IVF/PCA variants) — any callable returning
    (query_id, id_col, sim[, ...]). Exclusion is a per-(anchor, id)
    left_anti; final rank is a per-anchor window with (sim desc, id)
    total order — deterministic across engines and partitionings."""
    n_margin_row = (
        positives.groupBy(anchor_col)
        .agg(F.count(F.lit(1)).alias("__n"))
        .agg(F.max("__n").alias("__m"))
        .collect()  # bounded: one scalar
    )
    n_margin = int(n_margin_row[0]["__m"] or 0)
    fetch_k = k + n_margin + 1
    anchors = (
        corpus.join(
            positives.select(F.col(anchor_col).alias(id_col)).distinct(),
            id_col,
            "left_semi",
        )
        .select(
            F.col(id_col).alias("query_id"), F.col(vec_col).alias("query_vec")
        )
    )
    if candidate_fn is None:
        cands = brute_force_topk(
            corpus, anchors, k=fetch_k, id_col=id_col, vec_col=vec_col
        )
    else:
        cands = candidate_fn(corpus, anchors, fetch_k)
    banned = (
        positives.select(
            F.col(anchor_col).alias("query_id"),
            F.col(positive_col).alias(id_col),
        )
        .unionByName(
            positives.select(
                F.col(anchor_col).alias("query_id"),
                F.col(anchor_col).alias(id_col),
            )
        )
        .distinct()
    )
    out = cands.join(banned, ["query_id", id_col], "left_anti")
    w = W.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col(id_col).asc()
    )
    return (
        out.withColumn("__r", F.row_number().over(w))
        .filter(F.col("__r") <= k)
        .select(
            F.col("query_id").alias(anchor_col),
            id_col,
            "sim",
            F.col("__r").alias("rank"),
        )
    )


def kmeans_lloyd(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
    iterations: int = 3,
    round_dp: int = 6,
    init_centroids: DataFrame | None = None,
) -> DataFrame:
    """Lloyd's k-means over an embedding column → (cluster, centroid, n)
    after a FIXED number of iterations — the distributed clustering loop
    a curation pipeline runs to group a corpus into topical shards
    (cluster-balanced sampling, per-cluster quality review, dedup within
    topic). The reference has no iterative surface at all; this extends
    the engine the way :mod:`graph` does: a deterministic fixed-point
    made ENGINE-EXACT so a DuckDB oracle can replay it digit-for-digit
    (oracle_kmeans_sql unrolls the same chain of CTEs).

    Determinism/exactness contract (the pagerank conventions):

    * init: centroids = the vectors of the ``k`` smallest ids, cluster
      labels 0..k-1 in id order — no RNG, identical in any engine; the
      float32 inputs are widened to double ONCE up front (exact).
    * assign: exact decimal squared-L2 via :func:`centroid_distances`
      (per-dimension IEEE terms rounded 9 dp, order-independent decimal
      sums — the driver-certified sim_nearest_centroid convention);
      ties break toward the smaller cluster label.
    * update: per-dimension mean = FLOOR-quantized
      ``floor(double(decimal_sum) / n * 10^dp) / 10^dp`` — floor of an
      IEEE quotient is bit-identical everywhere, avoiding the round()
      shortest-repr tie flips pagerank documented.
    * empty clusters DROP (both engines lose them from the same groupBy)
      — callers needing exactly k clusters re-seed; documented, not hidden.

    Scale shape: per iteration, ONE broadcast crossJoin of the k-row
    centroid frame against the vectors (row-local scoring, no shuffle of
    the vector side), the argmin as a ``min(struct(d2, cand))`` hash
    aggregate keyed by id — map-side combinable, so each partition
    reduces its n×k scored rows down to its distinct ids BEFORE the
    exchange (see :func:`nearest_centroid_assign`; this replaced the
    earlier row_number window, which sorted the full scored frame) —
    and one (cluster, pos) aggregate with map-side partials
    (state = k × dim). The centroid frame is eagerly localCheckpoint'ed
    each round — k rows, so the materialization is free and the plan
    stays constant-depth (the HITS lineage lesson). The only driver-side
    values are none at all: even the init is a LIMIT, not a collect.
    At 100 TB of vectors each iteration costs one scan + one id-keyed
    combinable aggregate exchange — the canonical distributed-Lloyd shape.
    """
    base = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).persist()
    if init_centroids is not None:
        # caller-provided seeding, e.g. kmeans_init_farthest — must carry
        # (cluster, centroid[, n]); widened/quantized by the caller
        init = init_centroids.select(
            F.col("cluster").cast("long"),
            "centroid",
            F.lit(0).cast("long").alias("n"),
        )
    else:
        # unpartitioned by design: frame is limit(k) — k rows, bounded
        init = (
            base.orderBy("__id")
            .limit(k)
            .withColumn(
                "cluster",
                (F.row_number().over(W.orderBy("__id")) - 1).cast("long"),
            )
            .select("cluster", F.col("__v").alias("centroid"), F.lit(0).cast("long").alias("n"))
        )
    cents = init.localCheckpoint(eager=True)
    scale = float(10 ** round_dp)
    for _ in range(iterations):
        # Assignment stays the broadcast-scored min(struct) aggregate +
        # a base re-join. Two rewrites REJECTED by measurement (r8, sf0.1
        # 50k × dim-64, k=8, 3 iters, baseline ~6.0 s):
        #  * literal-array row-local scorer (nearest_centroid_scorer,
        #    no shuffle at all): ~204 s — k separate zip_with/aggregate
        #    HOFs per row run INTERPRETED (the r6 lesson); the crossJoin
        #    keeps one codegen'd HOF per scored pair.
        #  * carrying __v through the argmin agg (first(__v), skip the
        #    re-join): 6.4–15 s — the 64-dim array rides the ×k
        #    crossJoin through the exchange (k× array duplication),
        #    costing more than the join it saves.
        assigned = nearest_centroid_assign(
            base, cents, "__id", "__v", "cluster", "centroid"
        ).select("__id", "assigned")
        per_dim = (
            base.join(assigned, "__id")
            .select("assigned", F.posexplode("__v"))
            .groupBy("assigned", "pos")
            .agg(
                (
                    F.floor(
                        F.sum(F.col("col").cast("decimal(28,9)")).cast("double")
                        / F.count(F.lit(1))
                        * F.lit(scale)
                    )
                    / F.lit(scale)
                ).alias("m"),
                F.count(F.lit(1)).alias("n"),
            )
        )
        cents = (
            per_dim.groupBy("assigned")
            .agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "m"))),
                    lambda x: x["m"],
                ).alias("centroid"),
                F.max("n").alias("n"),
            )
            .select(F.col("assigned").alias("cluster"), "centroid", "n")
            .localCheckpoint(eager=True)
        )
    base.unpersist()
    return cents


def oracle_kmeans_sql(
    vectors_cte: str,
    k: int = 8,
    iterations: int = 3,
    round_dp: int = 6,
    select: str = "SELECT cluster, n, centroid FROM {last}",
) -> str:
    """DuckDB oracle for :func:`kmeans_lloyd`: the same fixed point
    unrolled as chained CTEs (the oracle_pagerank_sql pattern).
    ``vectors_cte`` must define ``vecs(id, v)`` with ``v`` a DOUBLE
    list; ``select`` is the final projection with ``{last}``
    substituted by the last centroid CTE (columns cluster, centroid, n).
    """
    sc = float(10 ** round_dp)
    parts = [
        f"WITH {vectors_cte}",
        f"""c0 AS MATERIALIZED (
          SELECT row_number() OVER (ORDER BY id) - 1 AS cluster,
                 v AS centroid, CAST(0 AS BIGINT) AS n
          FROM (SELECT id, v FROM vecs ORDER BY id LIMIT {k}))""",
    ]
    for i in range(1, iterations + 1):
        p = i - 1
        parts.append(
            f"""a{i} AS MATERIALIZED (
              SELECT id, cand AS assigned FROM (
                SELECT d.id, d.cand,
                       row_number() OVER (PARTITION BY d.id
                                          ORDER BY d.d2, d.cand) AS r
                FROM (SELECT t.id, t.cand, sum(t.t) AS d2 FROM (
                    SELECT x.id, c.cluster AS cand,
                           unnest([CAST(round((x.v[j] - c.centroid[j])
                                              * (x.v[j] - c.centroid[j]), 9)
                                        AS DECIMAL(28,9))
                                   FOR j IN range(1, len(x.v) + 1)]) AS t
                    FROM vecs x, c{p} c) t GROUP BY 1, 2) d)
              WHERE r = 1)"""
        )
        parts.append(
            f"""c{i} AS MATERIALIZED (
              SELECT cluster, list(m ORDER BY p) AS centroid, max(n) AS n
              FROM (
                SELECT a.assigned AS cluster, u.p AS p,
                       floor(CAST(sum(CAST(u.v AS DECIMAL(28,9))) AS DOUBLE)
                             / count(*) * {sc}) / {sc} AS m,
                       count(*) AS n
                FROM vecs x JOIN a{i} a ON a.id = x.id,
                     LATERAL (SELECT unnest([{{'p': j - 1, 'v': x.v[j]}}
                                     FOR j IN range(1, len(x.v) + 1)]) AS u)
                GROUP BY 1, 2)
              GROUP BY cluster)"""
        )
    return ",\n".join(parts) + "\n" + select.format(last=f"c{iterations}")


def rrf_fuse(
    rankings: list[tuple[str, DataFrame]],
    k: int = 10,
    rrf_k: int = 60,
    query_col: str = "query_id",
    id_col: str = "doc_id",
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of N rankers →
    (query, id, rrf, fused rank, per-ranker ranks) — the standard hybrid-
    retrieval combiner (BM25 ∪ dense ∪ …): score = Σ_r 1/(rrf_k + rank_r),
    items missing from a ranker contribute 0. This is how a curation /
    RAG pipeline merges lexical and semantic evidence without score
    calibration — only ranks cross the boundary, so the rankers'
    incomparable score scales never meet.

    ``rankings`` is [(name, df)] where each df carries (query_col,
    id_col, rank); output column ``rank_<name>`` preserves each input
    rank (NULL where the ranker missed the item).

    Engine-exactness: each contribution is round(1/(rrf_k+rank), 9) cast
    DECIMAL(18,9) — division of exact integers is a single IEEE op, the
    decimal add is order-independent, so the fused ORDER is identical in
    any engine for ANY number of rankers (a raw double Σ would be
    order-dependent at 3+). Ties break by id ASC.

    Scale shape: candidate lists are top-K per query (bounded), so the
    full-outer merge is a small keyed join per ranker pair; the final
    per-query top-k is one row_number window over ≤ N·K candidates per
    query. Nothing here touches the corpus — fusion runs on ranker
    OUTPUT, which is what makes RRF free at 100 TB."""
    if not rankings:
        raise ValueError("rrf_fuse needs at least one ranking")
    fused = None
    for name, df in rankings:
        part = df.select(
            F.col(query_col),
            F.col(id_col),
            F.col("rank").cast("long").alias(f"rank_{name}"),
        )
        fused = part if fused is None else fused.join(
            part, [query_col, id_col], "full_outer"
        )
    contribs = [
        F.coalesce(
            F.round(
                F.lit(1.0) / (F.lit(rrf_k) + F.col(f"rank_{name}")), 9
            ).cast("decimal(18,9)"),
            F.lit(0).cast("decimal(18,9)"),
        )
        for name, _ in rankings
    ]
    total = contribs[0]
    for c in contribs[1:]:
        total = (total + c).cast("decimal(18,9)")
    scored = fused.withColumn("__rrf", total)
    w = W.partitionBy(query_col).orderBy(
        F.col("__rrf").desc(), F.col(id_col).asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select(
            query_col,
            id_col,
            F.round(F.col("__rrf").cast("double"), 6).alias("rrf"),
            "rank",
            *[F.col(f"rank_{name}") for name, _ in rankings],
        )
    )


def nearest_centroid_scorer(
    centroids: list[tuple[int, list[float]]],
    vec_col: str = "embedding",
) -> tuple[Column, Column]:
    """STREAMING-SERVABLE nearest-centroid assignment: the batch path
    (:func:`nearest_centroid_assign`) aggregates min(struct(d2, label))
    over the broadcast-scored pairs — fine in batch, but on a stream the
    scored crossJoin + aggregate would be a stateful shape; this variant
    takes the FROZEN
    centroids as driver-side literals (k × dim doubles — the trained
    model, exactly like quality_model's broadcast coefficients) and
    compiles assignment into a single stateless projection: a k-element
    distance array + first-position argmin. Returns (assigned, d2)
    Columns usable on a batch OR streaming frame.

    Distance arithmetic is the driver-certified convention verbatim
    (per-dimension IEEE terms rounded 9 dp, order-independent decimal
    sums), and ``array_position`` takes the FIRST minimum, so with
    ``centroids`` sorted by label the tie break (smaller label wins)
    matches the batch path exactly — pinned by the drip≡batch parity
    test."""
    cents = sorted(centroids, key=lambda c: c[0])
    labels = F.array(*[F.lit(int(lab)).cast("long") for lab, _ in cents])

    def d2(cvec):
        return F.aggregate(
            F.zip_with(
                F.col(vec_col),
                F.array(*[F.lit(float(x)).cast("double") for x in cvec]),
                lambda a, b: F.round((a - b) * (a - b), 9).cast("decimal(28,9)"),
            ),
            F.lit(0).cast("decimal(28,9)"),
            lambda acc, x: (acc + x).cast("decimal(28,9)"),
        )

    dists = F.array(*[d2(cvec) for _, cvec in cents])
    idx = F.array_position(dists, F.array_min(dists))
    assigned = F.element_at(labels, idx.cast("int"))
    best = F.element_at(dists, idx.cast("int")).cast("double")
    return assigned, best


def kmeans_init_farthest(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 8,
) -> DataFrame:
    """Deterministic farthest-point (Gonzalez 1985 k-center) seeding →
    (cluster, centroid, n=0): start from the smallest id, then greedily
    take the vector FARTHEST from every centroid chosen so far (exact
    decimal distances, ties to the smaller id) — the quality upgrade
    over naive smallest-k-ids seeding that k-means++ randomizes, made
    RNG-free so any engine replays it. Plug the result into
    :func:`kmeans_lloyd` via ``init_centroids``.

    Scale shape: k-1 rounds, each ONE pass over the cached vectors —
    update the running min-distance column against the single new
    centroid (1-row broadcast), take the argmax as a
    ``max(struct(d2, -id))`` aggregate (map-side combinable, no sort).
    The running state (id, vec, mind2) is eagerly localCheckpoint'ed per
    round — inherent to ANY k-center traversal (the algorithm is
    sequential in k); k passes over 100 TB is the honest cost and the
    reason k stays small at init time.

    Fewer-than-k-distinct-vectors behavior (r7 advisory): each chosen id
    is removed from the running state, and the traversal STOPS EARLY when
    the max remaining min-distance is exactly 0 — every remaining point
    duplicates an already-chosen centroid, so emitting more rows would
    produce duplicate centroid vectors under distinct cluster labels.
    The result then has fewer than k rows (one per distinct vector).
    The per-round argmax is a 1-row bounded collect (the traversal is
    already driver-sequenced per round)."""
    base = df.select(
        F.col(id_col).alias("__id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    ).persist()

    first = (
        base.orderBy("__id")
        .limit(1)
        .select(
            F.lit(0).cast("long").alias("cluster"),
            F.col("__v").alias("centroid"),
        )
    )
    chosen = first.localCheckpoint(eager=True)

    def d2_to(cent_col):
        return F.aggregate(
            F.zip_with(
                F.col("__v"),
                cent_col,
                lambda a, b: F.round((a - b) * (a - b), 9).cast("decimal(28,9)"),
            ),
            F.lit(0).cast("decimal(28,9)"),
            lambda acc, x: (acc + x).cast("decimal(28,9)"),
        )

    state = (
        base.crossJoin(F.broadcast(chosen.select("centroid")))
        .select("__id", "__v", d2_to(F.col("centroid")).alias("__mind2"))
        .localCheckpoint(eager=True)
    )
    # Remove the seed row from the running state so no chosen id can ever
    # be re-selected (r7 advisory: with <k distinct vectors, all remaining
    # __mind2 hit 0 and max(struct) would re-pick the globally smallest id).
    state = state.join(
        F.broadcast(base.orderBy("__id").limit(1).select("__id")),
        "__id",
        "left_anti",
    ).localCheckpoint(eager=True)
    for j in range(1, k):
        # 1-row bounded collect: the round's argmax (d2 desc, id asc). The
        # traversal is already sequential in k, so this adds no extra jobs.
        top = (
            state.agg(
                F.max(
                    F.struct(F.col("__mind2"), (-F.col("__id")).alias("__nid"))
                ).alias("__m")
            )
            .select(
                F.col("__m.__mind2").cast("double").alias("__d2"),
                (-F.col("__m.__nid")).alias("__fid"),
            )
            .collect()
        )
        if not top or top[0]["__d2"] is None or top[0]["__d2"] <= 0.0:
            # Fewer than k distinct vectors: every remaining point
            # duplicates a chosen centroid — stop early (documented).
            break
        fid = int(top[0]["__fid"])
        nxt = (
            state.where(F.col("__id") == F.lit(fid))
            .select(
                F.lit(j).cast("long").alias("cluster"),
                F.col("__v").alias("centroid"),
            )
            .localCheckpoint(eager=True)
        )
        chosen = chosen.unionByName(nxt).localCheckpoint(eager=True)
        state = (
            state.where(F.col("__id") != F.lit(fid))
            .crossJoin(F.broadcast(nxt.select("centroid")))
            .select(
                "__id",
                "__v",
                F.least(F.col("__mind2"), d2_to(F.col("centroid"))).alias("__mind2"),
            )
            .localCheckpoint(eager=True)
        )
    base.unpersist()
    return chosen.withColumn("n", F.lit(0).cast("long"))
