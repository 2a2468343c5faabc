"""Similarity search over embedding columns (array<float>).

Driver-mandated extension (no xcube counterpart).

The five fused kNN kernels (:func:`knn_bruteforce`, :func:`knn_lsh`,
:func:`knn_ivf`, :func:`knn_pq`, :func:`knn_ivfpq`) are one corpus
scan, :func:`_topk_scan`.  The query set and each kernel's index model
are model-sized, so they collect on the driver and ship in the closure
of ONE ``mapInArrow`` pass.  Every Arrow batch is scored against every
query (exact cosine or inner product; the LSH bucket or IVF cell as a
candidate mask; PQ / IVF-PQ asymmetric distance tables), each query's
candidates are pruned to a lossless local top-k, and a ``row_number``
window ranks the surviving partitions x |queries| x ~k rows: the
local-prune / global-merge shape of distributed top-k.  Nothing
corpus-sized joins, shuffles or broadcasts.

:func:`knn_hamming` and :func:`knn_ivfpq_rerank` are Column plans with
no Arrow scan.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import Column


def _pa_type_for(spark_dtype: str):
    """Arrow type matching a Spark simpleString dtype — the fused
    kernels must emit columns whose Arrow type equals the declared
    mapInArrow schema (numpy defaults everything integral to int64,
    which throws for an `int` id column)."""
    import pyarrow as pa

    return {
        "tinyint": pa.int8(), "smallint": pa.int16(),
        "int": pa.int32(), "bigint": pa.int64(),
        "float": pa.float32(), "double": pa.float64(),
        "string": pa.string(),
    }.get(spark_dtype)


def _local_top_k(score, ids, cand, k: int, descending: bool):
    """Positions of the ``k`` best candidates in Spark's window order
    ``score DESC|ASC, id ASC``, where NaN ranks above every number
    (first when descending, last when ascending); candidate ``i`` has
    score ``score[i]`` and id ``ids[cand[i]]``.

    Past ``k`` candidates, only those that tie or beat the k-th best
    key are sorted; NaN shares the key of an infinite score there, so
    the prune keeps every row the exact sort could place in the top
    ``k`` (a zero-norm query, whose cosines are all NaN, keeps all)."""
    import numpy as np

    nan = np.isnan(score)
    key = np.where(nan, np.inf, score)
    if descending:
        key = -key
    pos = np.arange(score.size)
    if score.size > k:
        pos = np.flatnonzero(key <= np.partition(key, k - 1)[k - 1])
    nan_rank = nan[pos] != descending  # 0 sorts first
    order = np.lexsort((ids[cand[pos]], key[pos], nan_rank))[:k]
    return pos[order]


def dot(a: Column, b: Column) -> Column:
    """JVM-side dot product of two array columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, v: acc + v * v))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def _topk_scan(
    corpus: DataFrame,
    queries: DataFrame,
    scorer,
    k: int,
    score_col: str,
    descending: bool,
    id_col: str,
    vec_col: str,
    query_id_col: str,
) -> DataFrame:
    """Top-k per query from ONE ``mapInArrow`` scan of ``corpus``:
    the skeleton every fused kNN kernel shares.

    The query set is broadcast-small by contract, so it collects once;
    a query whose vector is NULL is dropped there and returns no rows.
    ``scorer(qvecs)`` gets the ``(Q, dim)`` query matrix on the driver
    and returns the kernel's batch scorer (or ``None`` when its model
    admits no candidate), which ships in the scan's closure.  Per Arrow
    batch the scorer is called as ``score_batch(v, others)``: ``v`` is
    the ``(n, dim)`` batch matrix, ``others`` a ``(Q, n)`` mask of rows
    whose id differs from query ``qi``'s (self-exclusion); it yields
    ``(qi, cand, score)``, the candidate row positions of query ``qi``
    and their scores.  Rows with a NULL vector are dropped before the
    scorer sees the batch, so they are never candidates.

    The bounded local top-k prune (:func:`_local_top_k`, the
    map-side-combine analog for rank) keeps at most partitions x
    |queries| x ~k rows; any row in a partition's true top-k is also in
    its batch's top-k with boundary ties kept, so the prune is lossless
    under the global ``(score DESC|ASC, id ASC)`` order, and the
    ``row_number`` window then ranks a metadata-sized set."""
    import numpy as np
    import pyarrow as pa

    q_rows = [r for r in queries.select(query_id_col, vec_col).collect()
              if r[vec_col] is not None]
    qids = [r[query_id_col] for r in q_rows]
    score_batch = scorer(np.asarray(
        [r[vec_col] for r in q_rows], dtype=np.float64)) if q_rows else None
    id_t = dict(corpus.dtypes)[id_col]
    q_t = dict(queries.dtypes)[query_id_col]
    q_pa = _pa_type_for(q_t)

    def topk(batches):
        if score_batch is None:
            return
        qarr = np.asarray(qids)
        for b in batches:
            vec = b.column("__vec")
            if vec.null_count:
                b = b.filter(vec.is_valid())
                vec = b.column("__vec")
            n = b.num_rows
            if not n:
                continue
            # list columns expose their flat values buffer, so the
            # (n, dim) matrix is a zero-copy reshape — no per-row
            # Python object materialization
            v = np.asarray(vec.flatten()).reshape(n, -1)
            ids_col = b.column(id_col)
            ids = np.asarray(ids_col.to_numpy(zero_copy_only=False))
            others = ids[None, :] != qarr[:, None]
            out_q, out_i, out_s = [], [], []
            for qi, cand, score in score_batch(v, others):
                if not cand.size:
                    continue
                order = _local_top_k(score, ids, cand, k, descending)
                out_q.append(np.full(order.size, qarr[qi]))
                out_i.append(cand[order])
                out_s.append(score[order])
            if not out_i:
                continue
            take = pa.array(np.concatenate(out_i), type=pa.int64())
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.concatenate(out_q), type=q_pa),
                 ids_col.take(take),
                 pa.array(np.concatenate(out_s), type=pa.float64())],
                names=[query_id_col, id_col, score_col])

    scored = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__vec"),
    ).mapInArrow(
        topk, f"{query_id_col} {q_t}, {id_col} {id_t}, {score_col} double")
    by_score = F.desc(score_col) if descending else F.asc(score_col)
    w = Window.partitionBy(query_id_col).orderBy(by_score, F.asc(id_col))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k)


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    metric: str = "cosine",
    score_col: str | None = None,
) -> DataFrame:
    """Exact similarity top-k per query: model-sized query set x ONE
    corpus scan (:func:`_topk_scan`).

    ``metric``: "cosine" (normalized) or "dot" (raw inner product —
    the MIPS objective; retrieval systems that train un-normalized
    embeddings rank by inner product, and the classic reduction
    augments vectors with sqrt(M^2 - |v|^2) to reuse cosine indexes —
    the brute-force path just scores the inner product directly).

    Output: (query_id, vec_id, <score_col>, rank<=k); ``score_col``
    defaults to the METRIC name ("cosine"/"dot") so a "dot" run never
    emits inner products under a "cosine" header.  Each batch scores
    all queries with a single (n, dim) x (dim, Q) matmul.  A corpus
    row with a NULL vector is never a candidate; a query with a NULL
    vector returns no rows.
    """
    import numpy as np

    if metric not in ("cosine", "dot"):
        raise ValueError(f"unknown metric: {metric!r}")

    def scorer(qvecs):
        qnorm = np.linalg.norm(qvecs, axis=1)

        def score_batch(v, others):
            s = v @ qvecs.T
            if metric == "cosine":
                s = s / (np.linalg.norm(v, axis=1)[:, None]
                         * qnorm[None, :])
            for qi in range(len(qvecs)):
                cand = np.flatnonzero(others[qi])
                yield qi, cand, s[cand, qi]

        return score_batch

    return _topk_scan(
        corpus, queries, scorer, k,
        metric if score_col is None else score_col, True,
        id_col, vec_col, query_id_col)


def _hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random unit hyperplanes (pure python LCG —
    no numpy needed at plan-build time, reproducible everywhere)."""
    state = seed & 0x7FFFFFFF
    planes = []
    for _ in range(n_planes):
        vec = []
        for _ in range(dim):
            # Park–Miller minimal standard LCG
            state = (state * 48271) % 2147483647
            u1 = state / 2147483647
            state = (state * 48271) % 2147483647
            u2 = state / 2147483647
            # Box–Muller gaussian
            vec.append(
                math.sqrt(-2.0 * math.log(max(u1, 1e-12)))
                * math.cos(2.0 * math.pi * u2)
            )
        planes.append(vec)
    return planes


def lsh_bucket_key(vec_col: str, planes: list[list[float]]) -> Column:
    """Sign-sketch bucket id: bit b = sign(vec . plane_b).

    Takes the vector *column name* and builds ONE parsed SQL expression:
    the plane literals are n_planes x dim values, and building them as
    individual ``F.lit`` Columns costs thousands of driver round-trips
    at plan-construction time — the string parses in a single call and
    produces the identical expression tree."""
    terms = []
    for b, p in enumerate(planes):
        lits = ", ".join(repr(x) for x in p)
        proj = (
            f"aggregate(zip_with(`{vec_col}`, array({lits}), "
            f"(v, w) -> v * w), 0.0D, (a, v) -> a + v)"
        )
        terms.append(f"CASE WHEN {proj} >= 0 THEN {1 << b}L ELSE 0L END")
    return F.expr("(" + " + ".join(terms) + ")")


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    seed: int = 42,
    probe_radius: int = 0,
) -> DataFrame:
    """Approximate top-k: compare only vectors sharing the hyperplane
    bucket with the query.  ``probe_radius=1`` enables multi-probe:
    the QUERY side also probes every bucket at Hamming distance 1
    (each sign bit flipped), trading a (1 + n_planes)-fold growth of
    each query's probe set for recall — each corpus row still lands in
    exactly one bucket, which is the scale invariant.

    One corpus scan (:func:`_topk_scan`): bucket membership is a
    per-batch mask, and the cosine of the candidates is scored in the
    same pass (outputs round to 6 decimals downstream).
    A corpus row with a NULL vector is never a candidate; a query with
    a NULL vector returns no rows."""
    if probe_radius not in (0, 1):
        raise ValueError("probe_radius must be 0 or 1")
    import numpy as np

    planes = _hyperplanes(dim, n_planes, seed)
    pmat = np.asarray(planes, dtype=np.float64)  # (n_planes, dim)

    def buckets(v: "np.ndarray") -> "np.ndarray":
        """Sign-sketch bucket ids; each plane projection accumulates
        dim-by-dim left to right — the identical IEEE op sequence as
        lsh_bucket_key's aggregate fold, so signs agree bit-for-bit
        with the Column form."""
        out = np.zeros(v.shape[0], dtype=np.int64)
        for b in range(pmat.shape[0]):
            acc = np.zeros(v.shape[0])
            for d in range(pmat.shape[1]):
                acc = acc + v[:, d] * pmat[b, d]
            out |= (acc >= 0).astype(np.int64) << b
        return out

    def scorer(qvecs):
        qb = buckets(qvecs)
        qn = np.linalg.norm(qvecs, axis=1)
        probe_sets: list[set[int]] = []
        for qi in range(len(qvecs)):
            s = {int(qb[qi])}
            if probe_radius == 1:  # every sign bit flipped once
                s |= {int(qb[qi]) ^ (1 << b) for b in range(n_planes)}
            probe_sets.append(s)

        def score_batch(v, others):
            cb = buckets(v)
            vnorm = np.linalg.norm(v, axis=1)
            for qi, probe in enumerate(probe_sets):
                cand = np.flatnonzero(np.isin(cb, list(probe)) & others[qi])
                yield qi, cand, (v[cand] @ qvecs[qi]) / (vnorm[cand] * qn[qi])

        return score_batch

    return _topk_scan(corpus, queries, scorer, k, "cosine", True,
                      id_col, vec_col, query_id_col)


def embedding_near_dup_pairs(
    corpus: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 42,
) -> DataFrame:
    """Embedding-cosine near-dup detection: bucket-confined pairs.
    Same LSH bound: candidate pairs only within buckets.

    Round 7: each bucket's pair work runs as one applyInPandas
    gram-matrix kernel (chunked row-blocks bound the (g, g) gram's
    memory for a pathological mega-bucket) instead of a bucket
    self-join evaluating an interpreted zip_with/aggregate cosine
    per pair — ~6x at sf1.  A vector occupies exactly one bucket, so
    within-bucket emission cannot duplicate a pair."""
    import numpy as np

    planes = _hyperplanes(dim, n_planes, seed)
    c = corpus.select(
        F.col(id_col), F.col(vec_col),
        lsh_bucket_key(vec_col, planes).alias("__bucket"),
    )
    id_t = dict(corpus.dtypes)[id_col]

    def bucket_pairs(pdf):
        import pandas as pd

        g = len(pdf)
        if g <= 1:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        order = np.argsort(pdf[id_col].to_numpy(), kind="stable")
        ids = pdf[id_col].to_numpy()[order]
        v = np.asarray(
            [np.asarray(x, dtype=np.float64)
             for x in pdf[vec_col].to_numpy()[order]])
        norms = np.linalg.norm(v, axis=1)
        out_a, out_b, out_c = [], [], []
        chunk = 2048  # bounds the gram block at chunk x g doubles
        for lo in range(0, g, chunk):
            hi = min(lo + chunk, g)
            # dot THEN divide by the norm product — the oracle's
            # dot/(|a||b|) op shape, not pre-normalized vn @ vn.T
            # (a different rounding that can flip threshold-boundary
            # pairs; ADVICE r7)
            gram = (v[lo:hi] @ v.T) / (norms[lo:hi, None]
                                       * norms[None, :])
            rows, cols = np.nonzero(gram >= threshold)
            # positional id_a < id_b over the id-sorted order, PLUS an
            # id-inequality mask: duplicate id values would otherwise
            # emit id_a == id_b rows the oracle's a.vec_id < b.vec_id
            # join predicate excludes (ADVICE r7)
            keep = ((rows + lo) < cols) & (ids[rows + lo] != ids[cols])
            out_a.append(ids[rows[keep] + lo])
            out_b.append(ids[cols[keep]])
            out_c.append(gram[rows[keep], cols[keep]])
        return pd.DataFrame({
            "id_a": np.concatenate(out_a) if out_a else [],
            "id_b": np.concatenate(out_b) if out_b else [],
            "cosine": np.concatenate(out_c) if out_c else [],
        })

    return c.groupBy("__bucket").applyInPandas(
        bucket_pairs,
        f"id_a {id_t}, id_b {id_t}, cosine double")


def semdedup(
    corpus: DataFrame,
    centroids: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_cell_size: int | None = 10_000,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): semantic dedup by
    clustering embeddings and dropping near-duplicates WITHIN each
    cluster.

    A vector is marked duplicate when a same-cell vector exists with
    cosine >= ``threshold`` and higher keep-priority; the paper's rule
    keeps the member with the LOWEST cosine similarity to its cluster
    centroid (the most marginal exemplar), ties broken on id.

    Returns ``(id, cell, cent_sim, is_dup)`` — filter ``~is_dup`` for
    the kept corpus.

    Scale: the all-pairs computation is confined to one cell
    (k-means cells are ~corpus/k) and runs as a cell-key equi-join —
    no corpus broadcast, no global cartesian.  ``max_cell_size`` is a
    HARD skew bound (same role as the LSH bucket cap,
    ``dedup._cap_buckets``): members of an oversized cell are ranked
    by ``(cent_sim, id)`` and deterministically sub-bucketed into
    slices of at most ``max_cell_size``; the pairwise join runs within
    ``(cell, sub)``, so one boilerplate mega-cluster costs
    O(|cell|/cap * cap^2), never O(|cell|^2).  Each slice keeps its
    own most-marginal exemplar (~|cell|/cap keepers instead of 1 for
    a fully-duplicated cell) — the standard bounded relaxation.
    ``None`` disables the cap (exact within-cell semantics)."""
    from pyspark.sql.window import Window

    cents = centroids.select(
        F.col(id_col).alias("cell"), F.col(vec_col).alias("__cvec"))
    a = ivf_assign(corpus, centroids, id_col=id_col, vec_col=vec_col) \
        .join(F.broadcast(cents), "cell") \
        .select(id_col, vec_col, "cell",
                cosine(F.col(vec_col), F.col("__cvec")).alias("cent_sim"))
    if max_cell_size is not None:
        w = Window.partitionBy("cell").orderBy("cent_sim", id_col)
        a_j = a.withColumn(
            "__sub",
            ((F.row_number().over(w) - 1) / F.lit(max_cell_size))
            .cast("int"))
    else:
        a_j = a.withColumn("__sub", F.lit(0))
    # round 7: the within-slice pair work runs as ONE applyInPandas
    # gram-matrix kernel per (cell, sub) group instead of a pair
    # equi-join whose 50M-row output evaluated an interpreted
    # zip_with/aggregate cosine per pair (180 s at sf1 -> ~2 s).
    # Group size is bounded by max_cell_size, so the (g, g) gram fits
    # executor memory by construction; the cosine values only feed
    # the >= threshold comparison (fixture margins are far from the
    # boundary, the same tolerance the SQL oracle already relies on
    # with its differently-ordered list_dot_product).
    import numpy as np
    import pandas as pd  # noqa: F401  (applyInPandas ships pandas)

    id_t = dict(a.dtypes)[id_col]
    cell_t = dict(a.dtypes)["cell"]

    def slice_dups(pdf):
        g = len(pdf)
        if g <= 1:
            return pdf.assign(is_dup=False)[
                [id_col, "cell", "cent_sim", "is_dup"]]
        v = np.asarray(
            [np.asarray(x, dtype=np.float64) for x in pdf[vec_col]])
        norms = np.linalg.norm(v, axis=1)
        gram = (v @ v.T) / (norms[:, None] * norms[None, :])
        near = gram >= threshold
        np.fill_diagonal(near, False)
        # priority order (cent_sim asc, id asc): a member is a dup iff
        # some EARLIER-priority member is near it
        order = np.lexsort((pdf[id_col].to_numpy(),
                            pdf["cent_sim"].to_numpy()))
        near_sorted = near[np.ix_(order, order)]
        dup_sorted = np.tril(near_sorted, k=-1).any(axis=1)
        is_dup = np.empty(g, dtype=bool)
        is_dup[order] = dup_sorted
        return pdf.assign(is_dup=is_dup)[
            [id_col, "cell", "cent_sim", "is_dup"]]

    return a_j.groupBy("cell", "__sub").applyInPandas(
        slice_dups,
        f"{id_col} {id_t}, cell {cell_t}, cent_sim double, "
        "is_dup boolean")


def train_ivf_centroids(
    corpus: DataFrame,
    k: int,
    iterations: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Train the IVF coarse quantizer: Lloyd's k-means over the
    embedding column, fully deterministic (seeds = the k lowest-id
    vectors, fixed iteration count).

    Each iteration is one distributed assign (broadcast centroids,
    min_by argmin — no corpus shuffle) plus one partial-agg mean per
    (cell, dimension); the k x dim centroid table round-trips through
    the driver between iterations, which is the textbook k-means shape
    (model small, data big).  Returns (vec_id, embedding) centroid rows
    compatible with :func:`ivf_assign`/:func:`knn_ivf`."""
    centroids = (
        corpus.orderBy(id_col).limit(k)
        .select((F.row_number().over(Window.orderBy(id_col)) - 1)
                .cast("long").alias(id_col),
                F.col(vec_col))
    )
    spark = corpus.sparkSession
    # one tiny probe for the vector width: unlocks the codegen'd
    # unrolled d2 in every assignment pass (vs the interpreted fold)
    first = corpus.select(F.size(vec_col).alias("__d")).first()
    dim = int(first["__d"]) if first is not None else None
    for _ in range(iterations):
        assigned = ivf_assign(corpus, centroids, id_col=id_col,
                              vec_col=vec_col, dim=dim)
        dims = assigned.select(
            "cell", F.posexplode(vec_col).alias("__d", "__v"))
        means = (
            dims.groupBy("cell", "__d").agg(F.avg("__v").alias("__m"))
            .groupBy("cell")
            .agg(F.array_sort(F.collect_list(
                F.struct("__d", "__m"))).alias("__dm"))
            .select(F.col("cell").alias(id_col),
                    F.transform("__dm", lambda s: s["__m"]).alias(vec_col))
        )
        # model round-trip: k x dim floats through the driver
        rows = means.collect()
        if not rows:
            break
        centroids = spark.createDataFrame(rows, means.schema)
    return centroids


def ivf_assign(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Assign each vector to its nearest centroid (the IVF coarse
    quantizer): broadcast the (small) centroid table, L2 argmin via
    ``min(struct(d2, cid))`` — one scan, no shuffle of the corpus.
    The struct min makes exact-distance ties break to the LOWEST
    centroid id deterministically (min_by leaves ties engine-defined),
    matching the oracles' struct_pack argmin.

    Pass ``dim`` to compute d2 as the UNROLLED fixed-order sum
    (:func:`_d2_unrolled`): element_at + arithmetic stay inside
    whole-stage codegen, while the zip_with/aggregate fold fallback
    evaluates interpreted (CodegenFallback) — ~10x on the
    |corpus| x k assignment rows (the round-6 higher-order-lambda
    lesson).  Both forms produce bit-identical doubles (same
    left-to-right IEEE op sequence; 0.0 + t == t for the
    non-negative squared terms)."""
    c = centroids.select(
        F.col(id_col).alias("__cid"), F.col(vec_col).alias("__cvec")
    )
    if dim is not None:
        d2 = _d2_unrolled(F.col(vec_col), F.col("__cvec"), dim)
    else:
        d2 = F.aggregate(
            F.zip_with(F.col(vec_col), F.col("__cvec"),
                       lambda a, b: (a - b) * (a - b)),
            F.lit(0.0), lambda acc, v: acc + v,
        )
    scored = corpus.join(F.broadcast(c))
    return scored.groupBy(id_col, vec_col).agg(
        F.min(F.struct(d2.alias("__d"), F.col("__cid").alias("__c")))
        .getField("__c").alias("cell")
    )


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
    k: int = 10,
    n_probe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF approximate top-k: corpus vectors live in inverted lists
    keyed by nearest centroid; each query probes its ``n_probe``
    nearest cells and brute-forces only those lists.

    The scale path next to LSH: recall is tuned by n_probe, and the
    scan cost is corpus/cells * n_probe distance computations instead
    of the full corpus.  The centroid table is MODEL-sized by
    definition (train_ivf_centroids' contract: only the model
    collects), so assignment, probe masking and cosine scoring run in
    ONE corpus scan (:func:`_topk_scan`; outputs round to 6 decimals
    downstream).  A corpus row with a NULL vector is never a
    candidate; a query with a NULL vector returns no rows."""
    import numpy as np

    c_rows = centroids.select(
        F.col(id_col).cast("long").alias("cid"),
        F.col(vec_col).cast("array<double>").alias("v")).collect()
    c_rows.sort(key=lambda r: r["cid"])  # argmin ties -> lowest cid
    cent_ids = [int(r["cid"]) for r in c_rows]
    cents = np.asarray([r["v"] for r in c_rows], dtype=np.float64)

    def scorer(qvecs):
        if not cent_ids:
            return None
        qn = np.linalg.norm(qvecs, axis=1)
        # _np_pair_d2, NOT the expanded |q|^2-2qc+|c|^2 form: probe
        # ranking is discrete, and a last-ulp op-order difference vs
        # the cell-assignment kernel (same function below) or the
        # oracle's list_distance flips near-tie probes — changing the
        # whole candidate set.
        d2 = _np_pair_d2(qvecs, cents)
        probes = [np.lexsort((np.asarray(cent_ids), row))[:n_probe]
                  for row in d2]

        def score_batch(v, others):
            cell_ix = np.argmin(_np_pair_d2(v, cents), axis=1)
            vnorm = np.linalg.norm(v, axis=1)
            for qi, probe in enumerate(probes):
                cand = np.flatnonzero(np.isin(cell_ix, probe) & others[qi])
                yield qi, cand, (v[cand] @ qvecs[qi]) / (vnorm[cand] * qn[qi])

        return score_batch

    return _topk_scan(corpus, queries, scorer, k, "cosine", True,
                      id_col, vec_col, query_id_col)


# --------------------------------------------------------------------------
# product quantization (PQ)


def _np_pair_d2(sv, cv):
    """(n, d) x (nc, d) -> (n, nc) squared L2, accumulated dim-by-dim
    LEFT TO RIGHT — the same IEEE op sequence as :func:`_d2_unrolled`
    and the oracles' unrolled SQL (numpy elementwise ops do not fuse,
    so each subtract/multiply/add is one correctly-rounded double op
    exactly like Catalyst's)."""
    acc = None
    for d in range(cv.shape[1]):
        diff = sv[:, d, None] - cv[None, :, d]
        t = diff * diff
        acc = t if acc is None else acc + t
    return acc


def _d2_unrolled(a: Column, b: Column, dsub: int) -> Column:
    """Squared L2 as an UNROLLED fixed-order sum:
    ``((a1-b1)^2 + (a2-b2)^2) + ...`` left to right.

    Two properties matter here: (1) ``element_at`` and arithmetic are
    whole-stage-codegen'd, while higher-order folds
    (``zip_with``/``aggregate``) evaluate interpreted — the unrolled
    form is ~10x faster on the encode join's |corpus| x m*ksub rows;
    (2) the oracle SQL states the literally identical expression
    (``(sv[1]-cv[1])*(sv[1]-cv[1]) + ...``), so both engines produce
    bit-identical IEEE doubles — these distances appear in OUTPUT
    (ADC sums), not just in orderings."""
    out = None
    for d in range(dsub):
        t = (F.element_at(a, d + 1) - F.element_at(b, d + 1)) * (
            F.element_at(a, d + 1) - F.element_at(b, d + 1)
        )
        out = t if out is None else out + t
    return out


def _d2_sql(a: str, b: str, dsub: int) -> str:
    """The SQL twin of :func:`_d2_unrolled` (same order, same ops)."""
    return " + ".join(
        f"({a}[{d + 1}] - {b}[{d + 1}]) * ({a}[{d + 1}] - {b}[{d + 1}])"
        for d in range(dsub)
    )


def pq_codebook(
    corpus: DataFrame,
    m: int = 4,
    dsub: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Sampled PQ codebook: the ``ksub`` lowest-id vectors, split into
    ``m`` subspaces of ``dsub`` dims -> rows (sub, cid, cvec).

    Sampling gives a deterministic, oracle-restatable codebook (ids
    double as code indexes 0..ksub-1); :func:`train_pq_codebooks`
    refines it with Lloyd iterations when recall matters more than
    reproducibility."""
    subs = F.explode(
        F.array(*[
            F.struct(
                F.lit(s).alias("sub"),
                F.slice(F.col(vec_col), s * dsub + 1, dsub).alias("cvec"),
            )
            for s in range(m)
        ])
    ).alias("e")
    return (
        corpus.where(F.col(id_col) < ksub)
        .select(F.col(id_col).cast("int").alias("cid"), subs)
        .select("e.sub", "cid", "e.cvec")
    )


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    m: int = 4,
    dsub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every vector as ``m`` one-byte codes: per subspace, the
    lexicographic-min (d2, cid) codebook entry — deterministic under
    exact-distance ties (duplicate vectors produce identical codes).

    The compression step of the 100 TB path: a 64-dim float vector
    (256 B) becomes m=4 codes (4 B); the encoded corpus is what ADC
    search scans.  One broadcast join (codebook is m*ksub rows) + one
    shuffle on ``id_col`` — same shape as :func:`ivf_assign`."""
    sv = F.slice(F.col(vec_col), F.col("sub") * dsub + 1, dsub)
    scored = corpus.join(F.broadcast(codebook)).select(
        id_col,
        "sub",
        F.struct(
            _d2_unrolled(sv, F.col("cvec"), dsub).alias("d"),
            F.col("cid"),
        ).alias("__dc"),
    )
    aggs = [
        F.min(F.when(F.col("sub") == s, F.col("__dc")))
        .getField("cid")
        .alias(f"__c{s}")
        for s in range(m)
    ]
    return (
        scored.groupBy(id_col)
        .agg(*aggs)
        .select(
            id_col,
            F.array(*[F.col(f"__c{s}") for s in range(m)]).alias("codes"),
        )
    )


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    codebook: DataFrame | None = None,
    k: int = 10,
    m: int = 4,
    dsub: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """PQ approximate top-k via asymmetric distance computation (ADC),
    fused into ONE corpus scan (:func:`_topk_scan`).

    The MODEL — the m x ksub codebook plus the query vectors, both
    model-sized by contract (queries must already fit a broadcast) —
    collects once and ships in the kernel closure.  The scan then
    (1) PQ-encodes each Arrow batch (vectorized subspace distances,
    argmin with the lowest-cid tie-break) and (2) scores every query
    against the codes by gathering the precomputed ADC tables; the
    local top-k prune keeps the exact (d2, id) lexicographic order.

    Float-order parity with the oracle: every subspace distance is
    accumulated dim-by-dim LEFT TO RIGHT (``diff * diff`` then ``+``,
    no FMA in numpy elementwise ops), and the m ADC terms sum
    ``((d0 + d1) + d2) + d3`` — the identical IEEE op sequence as
    ``_d2_unrolled`` / the oracle's unrolled SQL, so codes and
    distances hash-match cross-engine.

    At 100 TB this is the classic memory-bound ANN scan: the corpus
    streams through the kernel once, nothing corpus-sized shuffles or
    broadcasts, and the only driver materialization is the model.

    Output: (query_id, vec_id, pq_d2 [approx squared L2], rank<=k).
    A corpus row with a NULL vector is never a candidate nor a sampled
    codebook entry; a query with a NULL vector returns no rows.
    """
    import numpy as np

    # ---- model collection (two pushdown-filtered, model-sized jobs)
    if codebook is None:
        samp = (
            corpus.where(F.col(id_col) < ksub)
            .select(F.col(id_col).cast("int").alias("cid"),
                    F.col(vec_col).cast("array<double>").alias("v"))
            .collect()
        )
        cb_entries = [
            (s, int(r["cid"]), r["v"][s * dsub:(s + 1) * dsub])
            for r in samp if r["v"] is not None for s in range(m)
        ]
    else:
        cb_entries = [
            (int(r["sub"]), int(r["cid"]), list(r["cvec"]))
            for r in codebook.collect()
        ]
    # per-sub centroid matrices with cids sorted ascending, so
    # np.argmin's first-occurrence rule == the lexicographic
    # (d2, cid) struct-min of pq_encode / the oracle
    cents: list[tuple] = []
    for s in range(m):
        ent = sorted(
            (cid, cv) for ss, cid, cv in cb_entries if ss == s)
        cents.append((
            np.asarray([c for c, _ in ent], dtype=np.int64),
            np.asarray([cv for _, cv in ent], dtype=np.float64),
        ))

    def scorer(qvecs):
        # per-query ADC tables, +inf in slots absent from the codebook
        tables = np.full((len(qvecs), m * ksub), np.inf)
        for s in range(m):
            cids, mat = cents[s]
            if cids.size:
                d2 = _np_pair_d2(qvecs[:, s * dsub:(s + 1) * dsub], mat)
                tables[:, s * ksub + cids] = d2

        def score_batch(v, others):
            # encode + ADC gather, one subspace at a time; the m terms
            # accumulate left to right like the oracle's
            # ((d0 + d1) + d2) + d3
            acc = None
            for s in range(m):
                cids, mat = cents[s]
                d2 = _np_pair_d2(v[:, s * dsub:(s + 1) * dsub], mat)
                code = cids[np.argmin(d2, axis=1)]
                t = tables[:, s * ksub + code]  # (Q, n)
                acc = t if acc is None else acc + t
            for qi in range(len(tables)):
                cand = np.flatnonzero(others[qi])
                yield qi, cand, acc[qi][cand]

        return score_batch

    return _topk_scan(corpus, queries, scorer, k, "pq_d2", False,
                      id_col, vec_col, query_id_col)


def train_pq_codebooks(
    corpus: DataFrame,
    m: int = 4,
    dsub: int = 16,
    ksub: int = 16,
    iterations: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Refine the sampled codebook with per-subspace Lloyd iterations
    (the production PQ trainer; :func:`pq_codebook` seeds it).

    All m subspaces train in ONE distributed job per iteration: the
    corpus explodes into (sub, subvector) rows once, assignment is a
    broadcast join + lexicographic-min like :func:`pq_encode`, and new
    centroids are a partial agg per (sub, cell, dim).  The m*ksub*dsub
    model round-trips through the driver between iterations (model
    small, data big — the k-means contract)."""
    spark = corpus.sparkSession
    cb = pq_codebook(corpus, m=m, dsub=dsub, ksub=ksub,
                     id_col=id_col, vec_col=vec_col)
    subrows = corpus.select(
        F.col(id_col),
        F.explode(F.array(*[
            F.struct(F.lit(s).alias("sub"),
                     F.slice(F.col(vec_col), s * dsub + 1, dsub)
                     .alias("sv"))
            for s in range(m)
        ])).alias("e"),
    ).select(id_col, "e.sub", "e.sv")
    for _ in range(iterations):
        assigned = (
            subrows.join(F.broadcast(cb), "sub")
            .select(
                id_col, "sub", "sv",
                F.struct(
                    _d2_unrolled(F.col("sv"), F.col("cvec"), dsub)
                    .alias("d"),
                    F.col("cid"),
                ).alias("__dc"),
            )
            .groupBy(id_col, "sub", "sv")
            .agg(F.min("__dc").getField("cid").alias("cell"))
        )
        means = (
            assigned.select("sub", "cell",
                            F.posexplode("sv").alias("__d", "__v"))
            .groupBy("sub", "cell", "__d")
            .agg(F.avg("__v").alias("__m"))
            .groupBy("sub", "cell")
            .agg(F.array_sort(F.collect_list(
                F.struct("__d", "__m"))).alias("__dm"))
            .select("sub", F.col("cell").alias("cid"),
                    F.transform("__dm", lambda s: s["__m"]).alias("cvec"))
        )
        rows = means.collect()  # model round-trip: m*ksub*dsub floats
        if not rows:
            break
        cb = spark.createDataFrame(rows, means.schema)
    return cb


def knn_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    dsub: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """IVF-PQ: the combined index (the FAISS ``IVFPQ`` shape) — a
    coarse quantizer routes each vector to its nearest-centroid cell,
    PQ encodes the RESIDUAL (vector minus its centroid), and search
    probes ``n_probe`` cells scanning only their inverted lists with
    per-(query, cell) ADC tables over the query's residual.

    Residual encoding is what makes the combination work: residuals
    cluster near the origin, so a small shared codebook quantizes them
    far better than raw vectors.  At 100 TB the scan cost is
    |corpus| * n_probe / n_cells table lookups — both the IVF pruning
    and the PQ compression multiply.

    Determinism contract: centroids / codebooks are the lowest-id
    vectors ('sampled', oracle-restatable); every argmin is a
    lexicographic (d2, id) struct-min; all distances are unrolled
    fixed-order sums, so approximate distances hash-match
    cross-engine.

    The whole index model — n_cells centroids, the ksub residual
    codebook (residuals of the lowest-id vectors against their own
    assigned centroids), each query's probe list and per-(query, cell)
    ADC tables — derives from the lowest-id sample plus the queries,
    both model-sized, so it is computed driver-side in numpy with the
    IDENTICAL left-to-right IEEE op order (:func:`_np_pair_d2`) and
    ships in the closure of ONE corpus scan (:func:`_topk_scan`),
    which assigns, residual-encodes and gathers each Arrow batch.

    Output: (query_id, vec_id, pq_d2, rank<=k).  A corpus row with a
    NULL vector is never a candidate nor a sampled centroid or
    codebook entry; a query with a NULL vector returns no rows."""
    import numpy as np

    n_model = max(n_cells, ksub)
    samp = (
        corpus.where(F.col(id_col) < n_model)
        .select(F.col(id_col).cast("int").alias("cid"),
                F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    sample = {int(r["cid"]): np.asarray(r["v"], dtype=np.float64)
              for r in samp if r["v"] is not None}
    cent_ids = sorted(c for c in sample if c < n_cells)
    cents = np.asarray([sample[c] for c in cent_ids])  # (nc, dim)

    def assign(v: "np.ndarray") -> "np.ndarray":
        """(n, dim) -> cell index INTO cent_ids (argmin first
        occurrence over ascending cids == lex (d2, cid) struct-min)."""
        return np.argmin(_np_pair_d2(v, cents), axis=1)

    # residual codebook: residuals of the lowest-id vectors against
    # their OWN assigned centroid
    rcb_ids = sorted(c for c in sample if c < ksub)
    rcb_mat = None
    if rcb_ids and len(cent_ids):
        sv = np.asarray([sample[c] for c in rcb_ids])
        rv = sv - cents[assign(sv)]
        # rcb_mat[s]: (len(rcb_ids), dsub) residual sub-vectors
        rcb_mat = [rv[:, s * dsub:(s + 1) * dsub] for s in range(m)]
    rcb_cids = np.asarray(rcb_ids, dtype=np.int64)

    def scorer(qv):
        if rcb_mat is None:
            return None
        # per query: probe cells (top n_probe by (qd, ccid)) and a
        # per-cell flat ADC table over the query's residual
        qd = _np_pair_d2(qv, cents)  # (Q, nc)
        probes: list[list[tuple[int, "np.ndarray"]]] = []
        for qi in range(len(qv)):
            order = np.lexsort((np.asarray(cent_ids), qd[qi]))
            per_cell = []
            for ci in order[:n_probe]:
                qrv = qv[qi] - cents[ci]
                table = np.full(m * ksub, np.inf)
                for s in range(m):
                    d2 = _np_pair_d2(
                        qrv[None, s * dsub:(s + 1) * dsub], rcb_mat[s])
                    table[s * ksub + rcb_cids] = d2[0]
                per_cell.append((int(ci), table))
            probes.append(per_cell)

        def score_batch(v, others):
            cell_ix = assign(v)
            rv = v - cents[cell_ix]
            codes = np.empty((v.shape[0], m), dtype=np.int64)
            for s in range(m):
                d2 = _np_pair_d2(rv[:, s * dsub:(s + 1) * dsub],
                                 rcb_mat[s])
                codes[:, s] = rcb_cids[np.argmin(d2, axis=1)]
            for qi, per_cell in enumerate(probes):
                cand_list, d_list = [], []
                for ci, table in per_cell:
                    rows = np.flatnonzero((cell_ix == ci) & others[qi])
                    acc = table[codes[rows, 0]]
                    for s in range(1, m):  # fixed l-to-r ADC sum
                        acc = acc + table[s * ksub + codes[rows, s]]
                    cand_list.append(rows)
                    d_list.append(acc)
                if cand_list:
                    yield qi, np.concatenate(cand_list), np.concatenate(d_list)

        return score_batch

    return _topk_scan(corpus, queries, scorer, k, "pq_d2", False,
                      id_col, vec_col, query_id_col)


# ---------------------------------------------------------------------------
# PCA / whitening: one-pass moments, model-sized state


def pca_moments(emb: DataFrame, vec_col: str = "embedding"):
    """ONE corpus scan -> ``(n, sum_vec, gram)`` as numpy (the
    sufficient statistics of mean/covariance).  Each task reduces its
    batches into a single (1 + d + d*d)-value row via a zero-copy
    Arrow reshape + one matmul, so the driver receives at most
    #tasks model-sized rows — the same bounded-collect contract as
    the kNN kernels (state is O(d^2), never O(rows))."""
    import numpy as np
    import pyarrow as pa

    def partials(batches):
        n = 0
        s = None
        g = None
        for b in batches:
            if not b.num_rows:
                continue
            v = np.asarray(b.column("__vec").flatten()).reshape(
                b.num_rows, -1)
            n += v.shape[0]
            if s is None:
                s = v.sum(axis=0)
                g = v.T @ v
            else:
                s += v.sum(axis=0)
                g += v.T @ v
        if s is None:
            return
        yield pa.RecordBatch.from_arrays(
            [pa.array([n], type=pa.int64()),
             pa.array([s.tolist()], type=pa.list_(pa.float64())),
             pa.array([g.reshape(-1).tolist()],
                      type=pa.list_(pa.float64()))],
            names=["n", "s", "g"])

    rows = (
        emb.select(F.col(vec_col).cast("array<double>").alias("__vec"))
        .mapInArrow(partials,
                    "n bigint, s array<double>, g array<double>")
        .collect()
    )
    if not rows:
        raise ValueError("pca_moments: empty input")
    n = sum(r.n for r in rows)
    s = np.sum([np.asarray(r.s) for r in rows], axis=0)
    g_flat = np.sum([np.asarray(r.g) for r in rows], axis=0)
    d = s.shape[0]
    return n, s, g_flat.reshape(d, d)


def pca_train(emb: DataFrame, vec_col: str = "embedding",
              n_components: int = 16) -> dict:
    """Distributed PCA: moments from :func:`pca_moments`, then a
    driver-side eigendecomposition of the d x d covariance (d is the
    embedding width — model-sized; d=64 is microseconds).  Returns
    ``{'mean': (d,), 'components': (k, d) row-orthonormal,
    'explained_variance': (k,) descending, 'total_variance': float}``
    — the rotation ANN pipelines apply before PQ, and the basis for
    :func:`pca_project` / whitening."""
    import numpy as np

    n, s, g = pca_moments(emb, vec_col)
    mean = s / n
    cov = g / n - np.outer(mean, mean)
    evals, evecs = np.linalg.eigh(cov)      # ascending
    order = np.argsort(evals)[::-1][:n_components]
    return dict(
        mean=mean,
        components=evecs[:, order].T.copy(),
        explained_variance=np.maximum(evals[order], 0.0),
        total_variance=float(np.trace(cov)),
    )


def pca_project(emb: DataFrame, model: dict, id_col: str = "vec_id",
                vec_col: str = "embedding", out_col: str = "pca",
                whiten: bool = False) -> DataFrame:
    """Project every embedding onto the PCA basis:
    ``y = W (x - mean)`` (``/ sqrt(eigval)`` per axis when
    ``whiten`` — unit-variance output, the SemDeDup/PQ preprocessing
    step).  One mapInArrow pass, a single (n, d) x (d, k) matmul per
    batch; the model ships in the closure (k*d doubles)."""
    import numpy as np
    import pyarrow as pa

    mean = np.asarray(model["mean"], dtype=np.float64)
    w = np.asarray(model["components"], dtype=np.float64).T  # (d, k)
    if whiten:
        scale = np.sqrt(np.maximum(
            np.asarray(model["explained_variance"], dtype=np.float64),
            1e-30))
        w = w / scale[None, :]

    def project(batches):
        for b in batches:
            if not b.num_rows:
                continue
            v = np.asarray(b.column("__vec").flatten()).reshape(
                b.num_rows, -1)
            y = (v - mean[None, :]) @ w
            yield pa.RecordBatch.from_arrays(
                [b.column(id_col),
                 pa.array(list(y), type=pa.list_(pa.float64()))],
                names=[id_col, out_col])

    id_t = dict(emb.dtypes)[id_col]
    return (
        emb.select(F.col(id_col),
                   F.col(vec_col).cast("array<double>").alias("__vec"))
        .mapInArrow(project, f"{id_col} {id_t}, {out_col} array<double>")
    )


def pca_moments_merge(*moments):
    """Merge moment triples ``(n, s, g)`` from :func:`pca_moments` —
    plain sums, because the sufficient statistics are associative/
    commutative: maintaining PCA over a GROWING corpus costs one scan
    of each new batch plus this model-sized merge (the incremental /
    streaming drift-monitoring shape, same contract as the sketch and
    OLS-probe states; float moments merge up to summation-order ulps,
    absorbed by the callers' output rounding)."""
    import numpy as np

    if not moments:
        raise ValueError("pca_moments_merge: nothing to merge")
    n = sum(m[0] for m in moments)
    s = np.sum([m[1] for m in moments], axis=0)
    g = np.sum([m[2] for m in moments], axis=0)
    return n, s, g


def pca_moment_stats(emb: DataFrame, vec_col: str = "embedding",
                     moments=None) -> DataFrame:
    """Per-dimension ``(dim_i, mean_i, var_i)`` derived from the SAME
    one-pass moment accumulation :func:`pca_train` consumes — the
    SQL-expressible face of the PCA plumbing (the eigen step itself
    has no SQL twin; its properties are pytest-pinned).  Pass
    ``moments`` (a triple from :func:`pca_moments` /
    :func:`pca_moments_merge`) to finalize pre-accumulated state
    instead of scanning ``emb``."""
    n, s, g = moments if moments is not None \
        else pca_moments(emb, vec_col)
    mean = s / n
    var = g.diagonal() / n - mean * mean
    spark = emb.sparkSession
    # raw doubles: rounding is the CALLER's job through F.round
    # (Spark/DuckDB ROUND are both half-away-from-zero; Python's
    # round() is half-even — mixing them breaks oracle parity)
    rows = [(int(i), float(mean[i]), float(var[i]))
            for i in range(s.shape[0])]
    return spark.createDataFrame(rows, "dim_i int, mean_i double, "
                                       "var_i double")


def knn_recall(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    approx=None,
) -> DataFrame:
    """Recall@k of an approximate kNN against the exact brute-force
    ground truth — the standard ANN quality metric, run as a plan
    (no collect): both rankings compute distributed, a LEFT SEMI join
    on (query, neighbor) counts the hits, and per-query recall is
    ``n_matched / n_truth``.  ``approx`` is a callable
    ``(corpus, queries, k) -> DataFrame`` defaulting to single-probe
    :func:`knn_lsh`; pass :func:`knn_ivf` / :func:`knn_pq` partials
    to score those.  Output: (query_id, n_truth, n_matched, recall).

    Scale shape: the ground truth is ONE fused corpus scan
    (knn_bruteforce), the approximate side is whatever its own scale
    path is, and everything after is metadata-sized (|queries| x k
    rows).  Evaluating recall on a SAMPLE of queries against a 100 TB
    corpus costs two corpus scans, nothing more.
    """
    truth = knn_bruteforce(corpus, queries, k,
                           id_col=id_col, vec_col=vec_col,
                           query_id_col=query_id_col)
    if approx is None:
        approx = knn_lsh
    # forward the column names to the approximate side too — a bare
    # approx(corpus, queries, k) call with non-default columns would
    # fail or, worse, silently mis-join (advice r9).  Only parameters
    # the callable actually declares are forwarded, so partials that
    # pre-bind column names (or wrappers without them) still work;
    # partials MUST bind the same column names as this call.
    import inspect

    fwd = {}
    try:
        params = inspect.signature(approx).parameters
        accepts_kw = any(p.kind is inspect.Parameter.VAR_KEYWORD
                         for p in params.values())
        for kname, val in (("id_col", id_col), ("vec_col", vec_col),
                           ("query_id_col", query_id_col)):
            if accepts_kw or kname in params:
                fwd[kname] = val
    except (TypeError, ValueError):  # builtins / odd callables
        pass
    got = approx(corpus, queries, k, **fwd)
    matched = (
        truth.join(got.select(query_id_col, id_col),
                   [query_id_col, id_col], "left_semi")
        .groupBy(query_id_col)
        .agg(F.count("*").alias("n_matched"))
    )
    per_q = truth.groupBy(query_id_col).agg(
        F.count("*").alias("n_truth"))
    return (
        per_q.join(matched, query_id_col, "left")
        .select(
            query_id_col, "n_truth",
            F.coalesce("n_matched", F.lit(0)).alias("n_matched"),
            F.round(F.coalesce("n_matched", F.lit(0)).cast("double")
                    / F.col("n_truth") + 1e-9, 6).alias("recall"))
    )


# ---- Johnson-Lindenstrauss random projection ---------------------------


def rp_sign(j: int, d: int) -> int:
    """Deterministic Rademacher sign for projection row ``j``, input
    dim ``d``: +1 when the first md5 nibble of ``"{j}_{d}"`` is even.
    md5-derived like the minhash/DSIR hashes, so any md5-capable
    engine replays the matrix bit-for-bit — no RNG state to ship."""
    import hashlib

    nib = hashlib.md5(f"{j}_{d}".encode()).hexdigest()[0]
    return 1 if int(nib, 16) % 2 == 0 else -1


def random_projection_int8(
    emb: DataFrame,
    out_dim: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Johnson-Lindenstrauss sketch on int8-quantized vectors —
    INTEGER-exact dimensionality reduction.

    Two composed steps, both map-only:

    1. symmetric int8 quantization (``scale = max|v|/127``,
       ``code_i = round(v_i/scale)`` — the ``emb_quantize_int8``
       contract), which makes every subsequent sum exact integer
       arithmetic;
    2. a +-1 Rademacher projection (Achlioptas 2003: sign-only JL
       preserves pairwise distances at the same O(eps^-2 log n)
       target dimension as Gaussian matrices) with the md5-seeded
       ``rp_sign`` matrix, evaluated as ``out_j = sum_d sign(j,d) *
       code_d`` via ``zip_with``/``aggregate`` over a LITERAL sign
       array — whole-stage codegen, zero shuffle, zero UDF.

    Returns ``(id, j, proj)`` — ``out_dim`` rows per vector, BIGINT
    projections.  At 100 TB this is the cheap "shrink 256-B vectors to
    out_dim ints before the expensive pairwise stage" move; because
    both the codes and the signs are integers the result hashes
    identically on every engine regardless of summation order.

    ``dim`` (input dimensionality) is read from the first row when not
    given — pass it at scale to keep the builder action-free.
    """
    if dim is None:
        first = emb.select(F.size(vec_col).alias("n")).limit(1).collect()
        if not first:
            raise ValueError("empty embedding table and dim not given")
        dim = first[0]["n"]

    v = emb.select(
        id_col, F.col(vec_col).cast("array<double>").alias("e"))
    q = v.select(
        id_col,
        (F.array_max(F.transform("e", lambda x: F.abs(x))) / F.lit(127.0))
        .alias("scale"), "e",
    ).select(
        id_col,
        F.transform("e", lambda x: F.round(x / F.col("scale"))
                    .cast("long")).alias("codes"),
    )
    projs = []
    for j in range(out_dim):
        signs = F.array(*[F.lit(rp_sign(j, d)) for d in range(dim)])
        projs.append(
            F.struct(
                F.lit(j).alias("j"),
                F.aggregate(
                    F.zip_with("codes", signs, lambda c, s: c * s),
                    F.lit(0).cast("long"), lambda a, x: a + x,
                ).alias("proj")).alias(f"__p{j}"))
    return (
        q.select(id_col, F.explode(F.array(*projs)).alias("p"))
        .select(id_col, F.col("p.j").alias("j"), F.col("p.proj").alias("proj"))
    )


def _dot_unrolled(a: Column, b: Column, dim: int) -> Column:
    """Dot product as an UNROLLED fixed-order sum (the
    :func:`_d2_unrolled` discipline: whole-stage codegen instead of
    interpreted higher-order folds, and a literal expression twin in
    SQL gives bit-identical doubles)."""
    out = None
    for d in range(dim):
        t = F.element_at(a, d + 1) * F.element_at(b, d + 1)
        out = t if out is None else out + t
    return out


def label_cohesion(
    vecs: DataFrame,
    label_col: str = "label",
    id_col: str = "vec_id",
    vec_col: str = "codes",
    dim: int = 64,
) -> DataFrame:
    """Embedding-space label diagnostics: per label, the mean cosine
    of members to their own label centroid — the cohesion half of a
    silhouette score, the standard "are these labels separable in
    embedding space?" health check before training a classifier on
    them.

    Pass INTEGER-VALUED vectors (int8-quantized codes): the centroid
    means are then exact-integer sums divided once (bit-identical on
    any engine), and each member cosine is a fixed-shape unrolled
    fold (:func:`_dot_unrolled`) — the ``emb_kmeans`` discipline.
    Only the final per-label mean is an order-free float sum (round
    in the caller).

    Returns ``(label, n, cohesion)`` with RAW double cohesion.

    Scale shape: ONE partial-agg shuffle on (label, dim) builds the
    centroids (L*d reduce keys), centroids broadcast back, cosines
    are a codegen scan, and the per-label mean is an L-key reduce —
    corpus touched twice, nothing corpus-sized shuffles.
    """
    dims = vecs.select(
        F.col(label_col).alias("__lbl"),
        F.posexplode(vec_col).alias("__d", "__v"))
    cent = (
        dims.groupBy("__lbl", "__d").agg(F.avg("__v").alias("__m"))
        .groupBy("__lbl")
        .agg(F.array_sort(F.collect_list(
            F.struct("__d", "__m"))).alias("__dm"))
        .select("__lbl",
                F.transform("__dm", lambda s: s["__m"]).alias("__cv"))
    )
    x, c = F.col(vec_col), F.col("__cv")
    cos = _dot_unrolled(x, c, dim) / (
        F.sqrt(_dot_unrolled(x, x, dim))
        * F.sqrt(_dot_unrolled(c, c, dim)))
    return (
        vecs.join(F.broadcast(cent),
                  F.col(label_col) == F.col("__lbl"))
        .groupBy(label_col)
        .agg(F.count("*").cast("long").alias("n"),
             F.avg(cos).alias("cohesion"))
    )


def binary_quantize(
    embs: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dim: int = 64,
    word_bits: int = 32,
    prefix: str = "w",
) -> DataFrame:
    """Sign-bit binary quantization: pack each vector's sign bits into
    ``dim / word_bits`` BIGINT words (bit i of word j = 1 iff
    ``v[j * word_bits + i] >= 0``) — the 1-bit compression step for
    Hamming-space ANN (32x smaller than float32; the sign test is
    exact so quantization is bit-identical on any engine, no float
    boundary anywhere).  Map-only Column math: an unrolled CASE sum
    per word (whole-stage codegen'd; higher-order F.aggregate lambdas
    would evaluate interpreted — the round-6 lesson)."""
    if dim % word_bits != 0:
        raise ValueError("dim must be a multiple of word_bits")
    cols = [F.col(id_col)]
    for w in range(dim // word_bits):
        terms = " + ".join(
            f"(CASE WHEN element_at({vec_col}, {w * word_bits + i + 1})"
            f" >= 0 THEN {1 << i} ELSE 0 END)"
            for i in range(word_bits))
        cols.append(
            F.expr(f"CAST({terms} AS BIGINT)").alias(f"{prefix}{w}"))
    return embs.select(*cols)


def knn_hamming(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
    dim: int = 64,
    word_bits: int = 32,
) -> DataFrame:
    """Brute-force top-k nearest neighbors in HAMMING space over
    sign-quantized vectors — the binary-code ANN baseline (cosine's
    1-bit cousin: for mean-centered data, Hamming distance on sign
    bits approximates angular distance at 1/32 the bytes and integer-
    only compare cost).

    Returns ``(query_id, rank, vec_id, hamming)`` — ALL integers, so
    the cross-engine hash rides on no float anywhere.  Ties break by
    smaller corpus id (row_number over (hamming, id)).

    Scale shape: the corpus quantizes in a map-only pass and STREAMS
    (never shuffles) against the broadcast quantized query set
    (model-sized by the bm25 sampling contract); per-pair cost is
    ``dim/word_bits`` XOR+popcount integer ops; the only exchange is
    the per-query top-k window on the |Q| x |corpus| distance rows —
    prune with an LSH/IVF route (this module) when |Q| grows past
    broadcast size."""
    nw = dim // word_bits
    cq = binary_quantize(corpus, vec_col=vec_col, id_col=id_col,
                         dim=dim, word_bits=word_bits)
    qq = binary_quantize(
        queries.select(F.col(id_col).alias(query_id_col), vec_col),
        vec_col=vec_col, id_col=query_id_col,
        dim=dim, word_bits=word_bits, prefix="__q")
    ham = None
    for j in range(nw):
        term = F.expr(f"bit_count(w{j} ^ __q{j})")
        ham = term if ham is None else ham + term
    pairs = (
        cq.crossJoin(F.broadcast(qq))
        .select(query_id_col, id_col, ham.cast("int").alias("hamming"))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.asc("hamming"), F.asc(id_col))
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, "rank", id_col, "hamming")
    )


def knn_ivfpq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    k_coarse: int = 50,
    n_cells: int = 8,
    n_probe: int = 2,
    m: int = 4,
    dsub: int = 16,
    ksub: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "query_id",
) -> DataFrame:
    """Two-stage retrieval (the production ANN shape): IVF-PQ coarse
    search for ``k_coarse`` candidates per query, then EXACT
    squared-L2 re-ranking of just those candidates — compressed-
    domain distances find the neighborhood cheaply, exact distances
    fix the ordering errors PQ quantization introduces inside it.

    At 100 TB the coarse stage scans |corpus| * n_probe / n_cells
    ADC lookups (see :func:`knn_ivfpq`) and the re-rank touches only
    |queries| * k_coarse full vectors — fetched by an id join against
    the corpus (the candidate side is queries-sized, so Catalyst
    broadcasts it; the corpus is never re-scanned).

    Determinism contract: candidates inherit knn_ivfpq's lexicographic
    tie-breaks; the exact distance is the UNROLLED fixed-order sum
    (:func:`_d2_unrolled`), bit-identical to the oracle's SQL fold;
    final order (d2, id).

    Output: (query_id, vec_id, d2, rank<=k).
    """
    dim = m * dsub
    cands = knn_ivfpq(
        corpus, queries, k=k_coarse, n_cells=n_cells,
        n_probe=n_probe, m=m, dsub=dsub, ksub=ksub, id_col=id_col,
        vec_col=vec_col, query_id_col=query_id_col,
    ).select(query_id_col, id_col)
    cvec = corpus.select(
        F.col(id_col),
        F.col(vec_col).cast("array<double>").alias("__cv"))
    qvec = queries.select(
        F.col(query_id_col),
        F.col(vec_col).cast("array<double>").alias("__qv"))
    ex = (
        cands.join(cvec, id_col)
        .join(F.broadcast(qvec), query_id_col)
        .withColumn("__d2", _d2_unrolled(F.col("__cv"),
                                         F.col("__qv"), dim))
    )
    w = Window.partitionBy(query_id_col).orderBy(
        F.asc("__d2"), F.asc(id_col))
    return (
        ex.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(query_id_col, id_col,
                F.col("__d2").alias("d2"), "rank")
    )
