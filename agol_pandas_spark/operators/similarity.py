"""Similarity search over embedding columns (north-star ops, SURVEY §2b ★).

Two tiers:

- :func:`brute_force_topk` — exact cosine top-k of a (small) query set
  against the full corpus. The query side is broadcast, so the corpus
  streams through one map stage + per-query top-k (``row_number`` window
  partitioned by query id). Exact baseline; cost O(|Q|·|corpus|).
- :func:`ivf_topk` — the scale path: corpus is assigned once to its
  nearest pivot (inverted-file cell); a query probes only its own cell.
  Recall < 1 by construction (tested against the brute-force baseline in
  ``tests/``); cost O(|Q|·|corpus|/cells·probes).

Determinism: per-element products quantize to integers of 10^-9 units
(``round(x·y·10^9)`` — identical IEEE doubles and identical ties-away
rounding in both engines) and accumulate exactly as BIGINT; norms go
through IEEE-exact ``sqrt``; the final divisions are single IEEE ops.
That makes cosine scores bit-identical between Spark and the DuckDB
oracle, so even top-k *scores* are value-checked, not just ids. (Plain
double accumulation is NOT portable: summation order varies, and
double→decimal casts disagree across engines within one ulp of rounding
boundaries.) Swap ``exact=False`` for raw-double cosine when chasing
throughput over checkability.

Cache lifecycle: :func:`rp_lsh_topk` persists its signature table (the
bucket self-join scans it twice) and the returned plan references it
lazily, so the function cannot unpersist before the caller materializes.
CALLERS OWN THE CACHE: call ``spark.catalog.clearCache()`` (or unpersist
the plan's cached leaf) after consuming the result when invoking these
repeatedly in one session — ``bench.py`` does exactly that between runs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from agol_pandas_spark.errors import TableNotFoundError, VectorIndexParamError
from agol_pandas_spark.functions.vectors import cosine_similarity

VSCALE = 1_000_000_000  # 10^-9 quantization of per-element products


# -- Arrow/numpy kernels, bit-identical to the scaled-integer HOFs ------------
#
# The interpreted HOF lambdas below (`_dot_scaled`, `_l2_scaled`) don't
# codegen and dominate index-BUILD cost; the hot build stages
# (:func:`assign_to_pivots` n_cells=1, :func:`pq_encode`) therefore default
# to an Arrow-batched numpy path computing the SAME scaled-integer
# arithmetic: elementwise double products (deterministic IEEE), ties-away
# rounding reproduced exactly (see :func:`_np_round_away`), int64 sums
# (order-independent by construction — the whole point of the integer
# fixed-point design), and the same final float divisions. Results are
# bit-identical to the HOF path and to the DuckDB oracle; the SQL path
# stays available via ``method="sql"`` for environments without Python
# workers.


def _np_round_away(a: "np.ndarray") -> "np.ndarray":
    """Elementwise round-half-away-from-zero, bit-identical to Spark's
    ``ROUND(double)`` and DuckDB's ``round()`` for ``|x| < 2^52``.

    Computed via an EXACT fractional part (``|x| - floor(|x|)`` is exact
    in IEEE754 — the difference's significand is a sub-range of x's), not
    ``floor(x + 0.5)``, whose FP addition can cross the boundary near
    binade edges and diverge from both engines' rounding."""
    ax = np.abs(a)
    fl = np.floor(ax)
    r = fl + (ax - fl >= 0.5)
    return np.copysign(r, a)


def _np_scaled_dots(V: "np.ndarray", P: "np.ndarray") -> "np.ndarray":
    """(n,dim) × (p,dim) → (n,p) int64 dot products in 10^-9 units —
    same per-element op order as ``_dot_scaled``: (x*y)*VSCALE.

    Evaluated in ROW CHUNKS: the naive one-shot broadcast builds an
    (n, p, dim) float64 tensor and ~6 equally-sized temporaries through
    the rounding — at 20k vectors × 200 pivots × 64 dims that is ~1 GB
    per temp and the kernel goes memory-bandwidth-bound (measured 84 s
    in the r7 sf1 soak; ~3 s chunked). Chunk rows so the working set
    stays ~tens of MB; per-element op ORDER is untouched, so results
    remain bit-identical to the HOF path."""
    n = V.shape[0]
    p, dim = P.shape
    out = np.empty((n, p), dtype=np.int64)
    # ~2M float64 elements per (chunk, p, dim) temp ≈ 16 MB
    chunk = max(1, 2_000_000 // max(1, p * dim))
    Pb = P[None, :, :]
    for i in range(0, n, chunk):
        prods = V[i : i + chunk, None, :] * Pb
        prods *= np.float64(VSCALE)
        out[i : i + chunk] = (
            _np_round_away(prods).astype(np.int64).sum(axis=2)
        )
    return out


def _np_scaled_norms(V: "np.ndarray") -> "np.ndarray":
    """(n,dim) → (n,) norms: sqrt(int64 Σ round((x*x)*VSCALE) / VSCALE),
    the exact float op sequence of ``_norm_exact``."""
    sq = _np_round_away((V * V) * np.float64(VSCALE)).astype(np.int64).sum(axis=1)
    return np.sqrt(sq.astype(np.float64) / np.float64(VSCALE))


def _np_scaled_sq_dists(V: "np.ndarray", C: "np.ndarray") -> "np.ndarray":
    """(n,dim) × (k,dim) → (n,k) int64 squared L2 distances in 10^-9
    units — per-element op order of ``_l2_scaled``: round((d*d)*VSCALE)
    then int64 sum. Row-chunked like :func:`_np_scaled_dots` so the
    (chunk, k, dim) temporaries stay cache-resident at any centroid
    count (the one-shot broadcast is the same ~GB-temp failure mode the
    r7 sf1 soak caught in the IVF assignment)."""
    n = V.shape[0]
    k, dim = C.shape
    out = np.empty((n, k), dtype=np.int64)
    chunk = max(1, 2_000_000 // max(1, k * dim))
    Cb = C[None, :, :]
    for i in range(0, n, chunk):
        d = V[i : i + chunk, None, :] - Cb
        d *= d
        d *= np.float64(VSCALE)
        out[i : i + chunk] = _np_round_away(d).astype(np.int64).sum(axis=2)
    return out


def _dot_scaled(a: Column, b: Column) -> Column:
    """Order-independent dot product in 10^-9 integer units (BIGINT)."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.round(x.cast("double") * y.cast("double") * VSCALE).cast(
                "long"
            ),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _norm_exact(a: Column) -> Column:
    sq = F.aggregate(
        a,
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.round(x.cast("double") * x.cast("double") * VSCALE).cast("long"),
    )
    return F.sqrt(sq.cast("double") / F.lit(float(VSCALE)))


def cosine_exact(a: Column, b: Column) -> Column:
    # try_divide: zero-norm vectors yield NULL cosine under any ANSI
    # setting (they sort last / fail thresholds) instead of aborting
    return F.try_divide(
        _dot_scaled(a, b).cast("double") / F.lit(float(VSCALE)),
        _norm_exact(a) * _norm_exact(b),
    ).alias("cosine")


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    k: int = 10,
    exact: bool = True,
) -> DataFrame:
    """Exact cosine top-k per query: broadcast queries × corpus scan.

    Output: (query_id, corpus_id, cosine, rnk) with rnk 1..k, ties broken
    by corpus id for determinism.
    """
    # norms are per-vector, so hoist them out of the pair stage: without
    # this every joined pair recomputes both norms (|Q|·|C| extra array
    # passes — the dominant cost at any scale)
    q = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qvec"),
        _norm_exact(F.col(query_vec)).alias("__qnorm"),
    )
    from agol_pandas_spark.operators.chunking import spread_small_scan

    c = spread_small_scan(corpus).select(
        F.col(corpus_id).alias("__cid"),
        F.col(corpus_vec).alias("__cvec"),
        _norm_exact(F.col(corpus_vec)).alias("__cnorm"),
    )
    if exact:
        cos = F.try_divide(
            _dot_scaled(F.col("__qvec"), F.col("__cvec")).cast("double")
            / F.lit(float(VSCALE)),
            F.col("__qnorm") * F.col("__cnorm"),
        )
    else:
        cos = cosine_similarity(F.col("__qvec"), F.col("__cvec"))
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .select(
            F.col("__qid").alias(query_id),
            F.col("__cid").alias(corpus_id),
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
    )


def assign_to_pivots(
    corpus: DataFrame,
    pivots: DataFrame,
    corpus_id: str,
    pivot_id: str,
    corpus_vec: str = "embedding",
    pivot_vec: str = "embedding",
    n_cells: int = 1,
    method: str = "arrow",
) -> DataFrame:
    """IVF assignment: each vector joins its ``n_cells`` nearest pivots
    (max cosine, ties → smallest pivot id). Pivots are broadcast; one
    pass over the corpus. Returns (corpus columns…, cell) — one row per
    (vector, cell); ``n_cells=1`` is the build-side assignment,
    ``n_cells=nprobe`` is the query-side multi-probe expansion.

    ``method="arrow"`` (default, n_cells=1 only): the build-side argmin
    runs as one Arrow-batched numpy kernel — no |corpus|×|pivots| row
    expansion, no shuffle, no interpreted HOF — with bit-identical
    results (see the kernel notes above). ``method="sql"`` keeps the
    pure-JVM aggregation path.

    NULL/NaN ordering contract (all paths): a NaN cosine sorts FIRST
    (wins, as in a descending sort), a NULL cosine — zero-norm vector or
    pivot, Spark's divide-by-zero — sorts LAST (loses); if every cosine
    is NULL the smallest pivot id wins."""
    if method == "arrow":
        if n_cells == 1:
            return _assign_cells_arrow(
                corpus, pivots, corpus_id, pivot_id, corpus_vec, pivot_vec
            )
        return _assign_topn_cells_arrow(
            corpus, pivots, corpus_id, pivot_id, corpus_vec, pivot_vec,
            n_cells,
        )
    p = pivots.select(
        F.col(pivot_id).alias("__pid"),
        F.col(pivot_vec).alias("__pvec"),
        _norm_exact(F.col(pivot_vec)).alias("__pnorm"),
    )
    scored = (
        corpus.withColumn("__vnorm", _norm_exact(F.col(corpus_vec)))
        .crossJoin(F.broadcast(p))
        .withColumn(
            "__pcos",
            # try_divide: a zero-norm vector/pivot yields a NULL cosine
            # (which loses the argmin per the ordering contract) under
            # ANSI mode too, instead of DIVIDE_BY_ZERO aborting the job
            F.try_divide(
                _dot_scaled(F.col(corpus_vec), F.col("__pvec")).cast("double")
                / F.lit(float(VSCALE)),
                F.col("__vnorm") * F.col("__pnorm"),
            ),
        )
    )
    if n_cells == 1:
        # build-side assignment: argmin as ONE hash aggregation with
        # map-side combine — the pre-shuffle |corpus|×|pivots| scored rows
        # collapse to |corpus| per partition before moving, vs the window
        # formulation shuffling every scored row (measured 3.3× on the
        # IVF-PQ bench path). min_by keyed on (sort key, pivot id) keeps
        # payload columns OUT of the ordering (a MapType payload stays
        # legal); the key maps NaN → -inf (wins, like a desc sort) and
        # NULL → +inf (loses, like desc NULLS LAST) so the semantics
        # match the window path below exactly.
        payload = [c for c in corpus.columns if c != corpus_id]
        key = F.struct(
            _null_last_neg(F.col("__pcos")).alias("__nc"),
            F.col("__pid").alias("__kpid"),
        )
        best = scored.groupBy(corpus_id).agg(
            F.min_by(
                F.struct(
                    *[F.col(c).alias(f"__pl_{c}") for c in payload],
                    F.col("__pid").alias("__bpid"),
                ),
                key,
            ).alias("__best")
        )
        return best.select(
            F.col(corpus_id),
            *[F.col(f"__best.__pl_{c}").alias(c) for c in payload],
            F.col("__best.__bpid").alias("cell"),
        )
    w = Window.partitionBy(corpus_id).orderBy(
        F.col("__pcos").desc(), F.col("__pid")
    )
    return (
        scored.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= n_cells)
        .drop("__rn", "__pvec", "__pcos", "__pnorm", "__vnorm")
        .withColumnRenamed("__pid", "cell")
    )


def _null_last_neg(cos: Column) -> Column:
    """Ascending-min sort key equivalent to ``ORDER BY cos DESC`` with
    Spark's default NULLS LAST: −cos, with NaN → −inf (NaN sorts greatest
    in Spark, so it wins a desc sort) and NULL → +inf (loses)."""
    return (
        F.when(F.isnan(cos), F.lit(float("-inf")))
        .otherwise(F.coalesce(-cos, F.lit(float("inf"))))
    )


def _assign_cells_arrow(
    corpus: DataFrame,
    pivots: DataFrame,
    corpus_id: str,
    pivot_id: str,
    corpus_vec: str,
    pivot_vec: str,
) -> DataFrame:
    """Build-side IVF assignment as one Arrow-batched map stage.

    Pivots are MODEL STATE (broadcast-sized by contract): collected once,
    shipped to Python workers inside the UDF closure as a (p, dim) float64
    matrix. Each Arrow batch computes all |batch|×|pivots| scaled-integer
    dots in vectorized C, bit-identical to ``_dot_scaled`` (see
    ``_np_round_away``), and emits the winning pivot INDEX; the index maps
    back to the pivot id JVM-side through an array literal, preserving the
    pivot id's Spark type. No shuffle, no row expansion: at 100 TB this is
    a pure map over the corpus scan with k×dim floats on each executor."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    rows = pivots.select(F.col(pivot_id), F.col(pivot_vec)).collect()
    if not rows:
        raise ValueError("assign_to_pivots: empty pivot set")
    rows.sort(key=lambda r: r[0])  # argmin-first == smallest pivot id
    pids = [r[0] for r in rows]
    P = np.asarray([np.asarray(r[1], dtype=np.float64) for r in rows])
    pnorm = _np_scaled_norms(P)
    dim = P.shape[1]

    @pandas_udf(T.IntegerType())
    def _best_pivot_idx(vecs: pd.Series) -> pd.Series:
        out = np.zeros(len(vecs), dtype=np.int32)
        ok = np.array(
            [v is not None and len(v) == dim for v in vecs], dtype=bool
        )
        if ok.any():
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vecs[ok]]
            )
            dots = _np_scaled_dots(V, P)
            vnorm = _np_scaled_norms(V)
            denom = vnorm[:, None] * pnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (dots.astype(np.float64) / np.float64(VSCALE)) / denom
            key = -cos
            key[np.isnan(key)] = -np.inf  # NaN cosine wins (desc sort order)
            key[denom == 0.0] = np.inf  # Spark x/0 → NULL → loses
            out[ok] = np.argmin(key, axis=1)  # first min → smallest pivot id
        # null/ragged vectors: every cosine is NULL → smallest pivot id,
        # which is index 0 of the sorted pivot list (already zeros)
        return pd.Series(out)

    # Nondeterministic marking (it IS deterministic) stops the optimizer
    # duplicating the kernel: a downstream join on `cell` makes Catalyst
    # infer the probe side's cell predicate onto this side and push it
    # BELOW the projection, yielding TWO ArrowEvalPython nodes that each
    # run the full |corpus|×|pivots| assignment (observed in
    # sim_ivfpq_topk's plan: nodes 38+41, the corpus scored twice). The
    # inferred filter never prunes anything here — every assigned cell is
    # a pivot id by construction — so blocking the copy halves the
    # dominant Python-boundary cost (optimization guide §4.4).
    best_idx = _best_pivot_idx.asNondeterministic()
    cell_lookup = F.array(*[F.lit(p) for p in pids])
    ptype = pivots.schema[pivot_id].dataType
    return corpus.withColumn(
        "cell",
        F.element_at(
            cell_lookup, best_idx(F.col(corpus_vec)) + F.lit(1)
        ).cast(ptype),
    )


def _assign_topn_cells_arrow(
    corpus: DataFrame,
    pivots: DataFrame,
    corpus_id: str,
    pivot_id: str,
    corpus_vec: str,
    pivot_vec: str,
    n_cells: int,
    pivot_rows: list | None = None,
) -> DataFrame:
    """Multi-probe IVF assignment (``n_cells`` nearest pivots per vector)
    as one Arrow map + explode — the query-side twin of
    :func:`_assign_cells_arrow`, replacing the |corpus|×|pivots|
    crossJoin + per-vector window of the SQL path (no row expansion
    before the top-n selection, no window shuffle, and none of the
    interpreted-HOF cosine chains). Bit-identical ordering contract:
    cosine desc with NaN first (wins) and NULL (zero-norm / ragged)
    last, ties → smallest pivot id; a vector whose every cosine is NULL
    gets the ``n_cells`` smallest pivot ids. One row per (vector, cell),
    cells emitted in rank order exactly as the window path does."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    rows = pivot_rows
    if rows is None:
        rows = pivots.select(F.col(pivot_id), F.col(pivot_vec)).collect()
    if not rows:
        raise ValueError("assign_to_pivots: empty pivot set")
    rows = sorted(rows, key=lambda r: r[0])  # tie order == smallest id first
    pids = [r[0] for r in rows]
    P = np.asarray([np.asarray(r[1], dtype=np.float64) for r in rows])
    pnorm = _np_scaled_norms(P)
    dim = P.shape[1]
    top = min(n_cells, len(pids))

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _topn_pivot_idx(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        # null/ragged vectors: every cosine is NULL → the `top` smallest
        # pivot ids, i.e. indices 0..top-1 of the sorted pivot list
        base = np.tile(np.arange(top, dtype=np.int32), (n, 1))
        ok = np.array(
            [v is not None and len(v) == dim for v in vecs], dtype=bool
        )
        if ok.any():
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vecs[ok]]
            )
            dots = _np_scaled_dots(V, P)
            vnorm = _np_scaled_norms(V)
            denom = vnorm[:, None] * pnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (dots.astype(np.float64) / np.float64(VSCALE)) / denom
            key = -cos
            key[np.isnan(key)] = -np.inf  # NaN cosine wins (desc order)
            key[denom == 0.0] = np.inf  # Spark x/0 → NULL → loses
            # stable sort: equal keys keep column order = pivot-id order
            order = np.argsort(key, axis=1, kind="stable")[:, :top]
            base[ok] = order.astype(np.int32)
        return pd.Series(list(base))

    # Same nondeterministic marking as _assign_cells_arrow: stops the
    # optimizer cloning the kernel below an inferred `cell` predicate or
    # into the Generate (guide §4.4); the kernel IS deterministic.
    topn_idx = _topn_pivot_idx.asNondeterministic()
    cell_lookup = F.array(*[F.lit(p) for p in pids])
    ptype = pivots.schema[pivot_id].dataType
    exploded = corpus.withColumn(
        "__cell_idx", topn_idx(F.col(corpus_vec))
    ).select(*corpus.columns, F.explode("__cell_idx").alias("__ci"))
    return exploded.withColumn(
        "cell",
        F.element_at(cell_lookup, F.col("__ci") + F.lit(1)).cast(ptype),
    ).drop("__ci")


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    pivots: DataFrame,
    query_id: str,
    corpus_id: str,
    pivot_id: str,
    vec: str = "embedding",
    k: int = 10,
    nprobe: int = 3,
) -> DataFrame:
    """ANN top-k: each query probes its ``nprobe`` nearest IVF cells.

    Recall/cost dial: cost ≈ nprobe/cells of brute force. At scale the
    assigned corpus is written bucketed by ``cell`` so the probe join is
    shuffle-free on the corpus side; queries (small) shuffle to their
    cells.
    """
    cells = assign_to_pivots(corpus, pivots, corpus_id, pivot_id, vec, vec)
    q_cells = assign_to_pivots(
        queries, pivots, query_id, pivot_id, vec, vec, n_cells=nprobe
    )
    q = q_cells.select(
        F.col(query_id).alias("__qid"),
        F.col(vec).alias("__qvec"),
        F.col("cell"),
    )
    scored = q.join(cells, on="cell").select(
        F.col("__qid").alias(query_id),
        F.col(corpus_id),
        cosine_exact(F.col("__qvec"), F.col(vec)).alias("cosine"),
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def embedding_neardup_pairs(
    corpus: DataFrame,
    corpus_id: str,
    vec: str = "embedding",
    block_col: str | None = None,
    threshold: float = 0.95,
    probe_filter: Column | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs above ``threshold``.

    Blocked self-join (same ``block_col`` value), ``id_a < id_b``.
    ``probe_filter`` optionally restricts the left side (sampled probing).
    An unblocked call is a full cross join — allowed only for small frames.
    """
    a = corpus.select(
        F.col(corpus_id).alias("id_a"),
        F.col(vec).alias("__va"),
        _norm_exact(F.col(vec)).alias("__na"),
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
    )
    if probe_filter is not None:
        a = a.filter(probe_filter)
    b = corpus.select(
        F.col(corpus_id).alias("id_b"),
        F.col(vec).alias("__vb"),
        _norm_exact(F.col(vec)).alias("__nb"),
        *( [F.col(block_col).alias("__blk")] if block_col else [] ),
    )
    joined = a.join(b, on="__blk") if block_col else a.crossJoin(b)
    cos = F.try_divide(
        _dot_scaled(F.col("__va"), F.col("__vb")).cast("double")
        / F.lit(float(VSCALE)),
        F.col("__na") * F.col("__nb"),
    )
    return (
        joined.filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", cos.alias("cosine"))
        .filter(F.col("cosine") >= threshold)
    )


def rp_signature_col(vec: Column | str, planes) -> Column:
    """Signed-random-projection LSH bucket id: bit k = [dot(v, h_k) > 0].

    ``planes`` is a list of integer hyperplanes (generated deterministically
    driver-side so the DuckDB oracle can embed identical constants). Each
    dot product accumulates in scaled int64 — bucket assignment is exact,
    so unlike IVF this ANN variant is fully value-checkable.

    Emitted as one parsed SQL expression: composing ``n_planes × dim``
    literals through per-call Column operators costs hundreds of py4j
    round-trips of driver time (the same overhead class as the SimHash
    bit tree); one ``F.expr`` string parse yields the identical plan.
    ``vec`` must be a column NAME when using the default path.
    """
    vec_sql = vec if isinstance(vec, str) else vec._jc.toString()

    def dot_sql(row) -> str:
        arr = f"array({', '.join(str(int(p)) for p in row)})"
        return (
            f"aggregate(zip_with(`{vec_sql}`, {arr}, (x, p) -> "
            f"CAST(round((CAST(x AS DOUBLE) * CAST(p AS DOUBLE)) * {float(VSCALE)}) AS BIGINT)), "
            f"CAST(0 AS BIGINT), (acc, v) -> acc + v)"
        )

    terms = [
        f"(CASE WHEN {dot_sql(row)} > 0 THEN CAST({2**k} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
        for k, row in enumerate(planes)
    ]
    return F.expr(" + ".join(terms))


def rp_lsh_topk(
    corpus: DataFrame,
    planes,
    corpus_id: str,
    vec: str = "embedding",
    probe_filter: Column | None = None,
    k: int = 5,
    multiprobe_bits: int = 0,
) -> DataFrame:
    """LSH-bucketed ANN: probes score only vectors sharing their bucket.

    Cost ≈ 1/2^planes of brute force per probe (expected); recall depends
    on cluster separation. ``multiprobe_bits=1`` additionally probes every
    bucket at Hamming distance 1 (standard multi-probe LSH: a near
    neighbor differing on one borderline hyperplane lands one bit away) —
    probe cost × (1 + n_planes), recall typically several-fold. At scale
    the bucketed corpus is written partitioned by bucket, making the probe
    join shuffle-free on the corpus side — the same layout trick as IVF
    cells.
    """
    from pyspark.storagelevel import StorageLevel

    from agol_pandas_spark.operators.chunking import spread_small_scan

    if multiprobe_bits not in (0, 1):
        raise ValueError("multiprobe_bits must be 0 or 1 (cost explodes beyond)")
    # persist: the bucket self-join scans signatures twice, and without it
    # each side re-hashes the corpus (same reasoning as minhash_dedup_pairs)
    sig = spread_small_scan(corpus).select(
        F.col(corpus_id),
        F.col(vec),
        rp_signature_col(F.col(vec), planes).alias("bucket"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    probes = sig.filter(probe_filter) if probe_filter is not None else sig
    if multiprobe_bits == 1:
        flips = F.array(
            F.col("bucket"),
            *[F.col("bucket").bitwiseXOR(F.lit(2**b)) for b in range(len(planes))],
        )
        probes = probes.withColumn("bucket", F.explode(flips))
    q = probes.select(
        F.col(corpus_id).alias("query_id"),
        F.col(vec).alias("__qvec"),
        "bucket",
    )
    scored = (
        q.join(sig, on="bucket")
        .filter(F.col("query_id") != F.col(corpus_id))
        .select(
            "query_id",
            F.col(corpus_id),
            cosine_exact(F.col("__qvec"), F.col(vec)).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return scored.withColumn("rnk", F.row_number().over(w)).filter(F.col("rnk") <= k)


def _kmeans_assign_udf(centroids: list[list[float]]):
    """Arrow kernel: argmin over k scaled-integer L2 distances, ties →
    lowest cluster (np.argmin returns the first minimum), bit-identical
    to the ``dists[ci] < best`` chain of the SQL path."""
    from pyspark.sql.functions import pandas_udf

    C = np.asarray(centroids, dtype=np.float64)
    dim = C.shape[1]

    @pandas_udf("cluster int, sq_dist_scaled long")
    def _assign(vecs: pd.Series) -> pd.DataFrame:
        V = np.asarray([np.asarray(v, dtype=np.float64) for v in vecs]).reshape(
            len(vecs), dim
        )
        d2 = _np_scaled_sq_dists(V, C)  # chunked, bit-identical
        cl = np.argmin(d2, axis=1)
        return pd.DataFrame(
            {
                "cluster": cl.astype(np.int32),
                "sq_dist_scaled": d2[np.arange(len(vecs)), cl],
            }
        )

    return _assign


def kmeans_lite(
    corpus: DataFrame,
    id_col: str,
    vec: str = "embedding",
    k: int = 8,
    iters: int = 3,
    method: str = "arrow",
) -> tuple[list[list[float]], DataFrame]:
    """Deterministic Lloyd's k-means for IVF pivot selection.

    Returns ``(centroids, assignments)`` where assignments carries
    ``(id_col, cluster, sq_dist_scaled)``. Engineering choices for scale
    and reproducibility:

    - centroids are MODEL STATE: k×dim doubles, collected to the driver
      each iteration and re-broadcast as literals — the idiomatic Spark
      shape for iterative ML (the data never moves; the tiny model does).
    - per-dimension sums accumulate as scaled int64 (partition-invariant;
      plain double sums would make clustering depend on partitioning).
    - init = the k vectors with smallest ``md5(id)`` (deterministic
      pseudo-random seeding); assignment ties break to the lowest cluster.
    """
    from agol_pandas_spark.functions.text import portable_hash60
    from agol_pandas_spark.operators.chunking import spread_small_scan

    dim = len(
        corpus.select(F.col(vec)).filter(F.col(vec).isNotNull()).first()[0]
    )
    seeds = (
        corpus.select(
            F.col(vec), portable_hash60(F.col(id_col).cast("string")).alias("__h")
        )
        .orderBy("__h")
        .limit(k)
        .collect()
    )
    centroids = [[float(x) for x in r[vec]] for r in seeds]

    data = spread_small_scan(corpus.select(F.col(id_col), F.col(vec))).persist()
    data.count()
    assignments = None
    for _ in range(iters):
        if method == "arrow":
            # one Arrow kernel computes all k scaled-int L2 distances and
            # the argmin per batch — replaces k interpreted HOF exprs AND
            # the k×dim literal arrays those shipped through the plan
            assignments = data.select(
                F.col(id_col),
                F.col(vec),
                _kmeans_assign_udf(centroids)(F.col(vec)).alias("__a"),
            ).select(
                F.col(id_col),
                F.col(vec),
                F.col("__a.cluster").alias("cluster"),
                F.col("__a.sq_dist_scaled").alias("sq_dist_scaled"),
            )
        else:
            # squared L2 to each centroid, scaled-int accumulated per element
            dists = [
                F.aggregate(
                    F.zip_with(
                        F.col(vec),
                        F.array(*[F.lit(c) for c in cent]),
                        lambda x, cx: F.round(
                            (x.cast("double") - cx) * (x.cast("double") - cx)
                            * F.lit(float(VSCALE))
                        ).cast("long"),
                    ),
                    F.lit(0).cast("long"),
                    lambda acc, v: acc + v,
                )
                for cent in centroids
            ]
            cluster = F.lit(0)
            best = dists[0]
            for ci in range(1, k):
                cond = dists[ci] < best
                cluster = F.when(cond, F.lit(ci)).otherwise(cluster)
                best = F.when(cond, dists[ci]).otherwise(best)
            assignments = data.select(
                F.col(id_col),
                F.col(vec),
                cluster.alias("cluster"),
                best.alias("sq_dist_scaled"),
            )
        sums = (
            assignments.select(
                "cluster", F.posexplode(F.col(vec)).alias("pos", "x")
            )
            .groupBy("cluster", "pos")
            .agg(
                F.sum(F.round(F.col("x").cast("double") * VSCALE).cast("long")).alias(
                    "s"
                ),
                F.count(F.lit(1)).alias("n"),
            )
            .collect()
        )
        new_centroids = [list(c) for c in centroids]  # empty clusters keep seed
        by_cluster: dict[int, list[tuple[int, int, int]]] = {}
        for r in sums:
            by_cluster.setdefault(r["cluster"], []).append((r["pos"], r["s"], r["n"]))
        for ci, entries in by_cluster.items():
            vec_out = [0.0] * dim
            for pos, s, n in entries:
                vec_out[pos] = (s / float(VSCALE)) / n
            new_centroids[ci] = vec_out
        centroids = new_centroids
    # every iteration's sums have been collected; releasing the cache here
    # costs the caller at most one re-scan when materializing assignments,
    # instead of leaking a cache entry per kmeans_lite call
    data.unpersist(blocking=False)
    return centroids, assignments.drop(vec)


def _int8_scale_and_codes(v: Column) -> tuple[Column, Column]:
    """(scale, int8-code array) for a float vector column — the shared
    quantization kernel of ``quantize_int8`` and ``int8_rerank_topk``.
    Half-up rounding spelled as ``floor(x/scale + 0.5)`` so Spark and the
    DuckDB oracle share one definition; the scale is let-bound through a
    1-element ``transform`` because interpreted HOFs don't CSE the
    ``array_max`` subtree across lambda boundaries."""
    amax = F.array_max(F.transform(v, lambda x: F.abs(x)))
    scale = amax.cast("double") / F.lit(127.0)

    def qarr(s: Column) -> Column:
        def quant(x: Column) -> Column:
            raw = F.floor(x.cast("double") / s + F.lit(0.5))
            return F.greatest(F.lit(-127), F.least(F.lit(127), raw.cast("int")))

        return F.when(s == 0, F.transform(v, lambda x: F.lit(0))).otherwise(
            F.transform(v, quant)
        )

    return scale, F.flatten(F.transform(F.array(scale), qarr))


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization of a float embedding column:
    ``scale = max(|v|)/127``, ``q_i = clamp(floor(v_i/scale + 0.5), ±127)``.

    The rounding rule is written as ``floor(x + 0.5)`` explicitly (not
    ``round``) so the Spark plan and the DuckDB oracle share one exact
    definition — half-up in both engines regardless of banker's-rounding
    defaults. All-zero vectors quantize to all zeros with scale 0.

    One codegen map stage, no shuffle, no Python: this is the 4× storage /
    bandwidth reduction step before a 100 TB ANN index build, and the
    quantized array stays JVM-side for downstream integer dot products.

    Output keeps the quantized array plus exact integer summaries
    (``q_sum``, ``q_l1``, ``q_sq``) so correctness is hash-checkable on
    scalars while the array column feeds downstream operators.

    The scale is let-bound through a 1-element ``transform`` (the
    ``word_shingles`` trick): referencing the ``array_max`` subtree inside
    the per-element lambda would re-evaluate it once per element —
    interpreted HOFs don't CSE across lambda boundaries.
    """
    v = F.col(vec_col)
    scale, q = _int8_scale_and_codes(v)
    return df.select(
        F.col(id_col),
        F.size(v).alias("n_dims"),
        scale.alias("scale"),
        q.alias("q"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x).alias("q_sum"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + F.abs(x)).alias("q_l1"),
        F.aggregate(q, F.lit(0).cast("long"), lambda a, x: a + x.cast("long") * x).alias("q_sq"),
    )


def int8_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    coarse_c: int = 50,
    k: int = 10,
) -> DataFrame:
    """Two-stage ANN: int8 coarse scan → exact-cosine re-rank (the FAISS
    ``SQ8 flat + refine`` pattern, Spark-first).

    Stage 1 scores every corpus vector against each broadcast query with a
    BIGINT dot product over symmetric int8 codes (``_int8_scale_and_codes``)
    — 4× less scan bandwidth than the float vectors, exact integer
    arithmetic — then de-quantizes to an approximate cosine
    ``((dot*sq)*sc)/(nq*nc)`` and keeps the top ``coarse_c`` candidates per
    query. Stage 2 re-reads ONLY the candidates' float embeddings (a
    broadcast semi-style join against the corpus — never a corpus shuffle)
    and re-ranks them with the exact scaled-integer cosine.

    At 100 TB the corpus is touched twice, both times embarrassingly
    parallel map work: one pruned quantized scan, one pruned 2-column
    fetch filtered by a broadcast candidate list of |Q|·coarse_c ids. The
    only windows run over ≤ |corpus| rows per query (stage 1) and
    |Q|·coarse_c rows (stage 2), both partitioned by query id.

    Float determinism: the approximate score multiplies/divides identical
    IEEE doubles in one fixed association order, mirrored verbatim in the
    DuckDB oracle; ties break on corpus id.
    """
    qscale, qcodes = _int8_scale_and_codes(F.col(query_vec))
    qz = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qvec"),
        qcodes.alias("__qq"),
        qscale.alias("__sq"),
        _norm_exact(F.col(query_vec)).alias("__qnorm"),
    )
    cscale, ccodes = _int8_scale_and_codes(F.col(corpus_vec))
    from agol_pandas_spark.operators.chunking import spread_small_scan

    cz = spread_small_scan(corpus).select(
        F.col(corpus_id).alias("__cid"),
        ccodes.alias("__cq"),
        cscale.alias("__sc"),
        _norm_exact(F.col(corpus_vec)).alias("__cnorm"),
    )
    doti = F.aggregate(
        F.zip_with(F.col("__cq"), F.col("__qq"), lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    approx = F.try_divide(
        (doti.cast("double") * F.col("__sq")) * F.col("__sc"),
        F.col("__qnorm") * F.col("__cnorm"),
    )
    wc = Window.partitionBy("__qid").orderBy(F.col("__approx").desc(), F.col("__cid"))
    cand = (
        cz.crossJoin(F.broadcast(qz.drop("__qvec")))
        .select("__qid", "__cid", approx.alias("__approx"))
        .withColumn("__crnk", F.row_number().over(wc))
        .filter(F.col("__crnk") <= coarse_c)
        .select("__qid", "__cid")
    )
    # re-rank: fetch float embeddings for the small candidate set only
    cvecs = corpus.select(
        F.col(corpus_id).alias("__cid"), F.col(corpus_vec).alias("__cvec")
    ).join(F.broadcast(cand), "__cid")
    rescored = cvecs.join(
        F.broadcast(qz.select("__qid", "__qvec", "__qnorm")), "__qid"
    ).select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias(corpus_id),
        F.try_divide(
            _dot_scaled(F.col("__qvec"), F.col("__cvec")).cast("double")
            / F.lit(float(VSCALE)),
            F.col("__qnorm") * _norm_exact(F.col("__cvec")),
        ).alias("cosine"),
    )
    wk = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return rescored.withColumn("rnk", F.row_number().over(wk)).filter(
        F.col("rnk") <= k
    )


def ivf_int8_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    pivots: DataFrame,
    query_id: str,
    corpus_id: str,
    pivot_id: str,
    vec: str = "embedding",
    nprobe: int = 3,
    coarse_c: int = 50,
    k: int = 10,
) -> DataFrame:
    """IVF-restricted two-stage ANN: int8 coarse scan over the ``nprobe``
    probed cells only → exact-cosine re-rank (the FAISS ``IVF-SQ8 +
    refine`` pattern; VERDICT r5 item 5 — :func:`int8_rerank_topk`'s
    coarse stage was a full |corpus|×|Q| scan by design, this composes
    it with the IVF cell restriction so the coarse scan reads only the
    probed cells).

    Stage 0 (build): one Arrow map pass assigns every corpus vector to
    its nearest pivot cell (:func:`assign_to_pivots` — no shuffle, no
    row expansion) and a codegen map stage int8-quantizes the assigned
    rows. Queries expand to their ``nprobe`` nearest cells.

    Stage 1 (coarse): the quantized corpus EQUI-joins the broadcast
    query-cell table on ``cell`` — never a cartesian — and a BIGINT dot
    over the int8 codes de-quantizes to the approximate cosine exactly
    as :func:`int8_rerank_topk` does; top ``coarse_c`` per query
    survive. (query, corpus) pairs are unique because the build-side
    assignment is single-cell.

    Stage 2 (refine): only the candidates' float embeddings are
    re-fetched (broadcast candidate id list) and re-ranked with the
    exact scaled-integer cosine — bit-identical to the oracle.

    At 100 TB: coarse cost ≈ nprobe/cells of the flat SQ8 scan, refine
    touches |Q|·coarse_c rows; with the corpus written bucketed by
    ``cell`` the coarse join is shuffle-free on the corpus side.
    """
    cells = assign_to_pivots(corpus, pivots, corpus_id, pivot_id, vec, vec)
    cscale, ccodes = _int8_scale_and_codes(F.col(vec))
    cz = cells.select(
        F.col(corpus_id).alias("__cid"),
        F.col("cell"),
        ccodes.alias("__cq"),
        cscale.alias("__sc"),
        _norm_exact(F.col(vec)).alias("__cnorm"),
    )
    q_cells = assign_to_pivots(
        queries, pivots, query_id, pivot_id, vec, vec, n_cells=nprobe
    )
    qscale, qcodes = _int8_scale_and_codes(F.col(vec))
    qz = q_cells.select(
        F.col(query_id).alias("__qid"),
        F.col("cell"),
        qcodes.alias("__qq"),
        qscale.alias("__sq"),
        _norm_exact(F.col(vec)).alias("__qnorm"),
    )
    doti = F.aggregate(
        F.zip_with(F.col("__cq"), F.col("__qq"), lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )
    approx = F.try_divide(
        (doti.cast("double") * F.col("__sq")) * F.col("__sc"),
        F.col("__qnorm") * F.col("__cnorm"),
    )
    wc = Window.partitionBy("__qid").orderBy(
        F.col("__approx").desc(), F.col("__cid")
    )
    cand = (
        cz.join(F.broadcast(qz), "cell")
        .select("__qid", "__cid", approx.alias("__approx"))
        .withColumn("__crnk", F.row_number().over(wc))
        .filter(F.col("__crnk") <= coarse_c)
        .select("__qid", "__cid")
    )
    qv = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(vec).alias("__qvec"),
        _norm_exact(F.col(vec)).alias("__qnorm"),
    )
    cvecs = corpus.select(
        F.col(corpus_id).alias("__cid"), F.col(vec).alias("__cvec")
    ).join(F.broadcast(cand), "__cid")
    rescored = cvecs.join(F.broadcast(qv), "__qid").select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias(corpus_id),
        F.try_divide(
            _dot_scaled(F.col("__qvec"), F.col("__cvec")).cast("double")
            / F.lit(float(VSCALE)),
            F.col("__qnorm") * _norm_exact(F.col("__cvec")),
        ).alias("cosine"),
    )
    wk = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col(corpus_id)
    )
    return rescored.withColumn("rnk", F.row_number().over(wk)).filter(
        F.col("rnk") <= k
    )


# -- Product quantization (IVF-PQ's compression half) ------------------------

def pq_codebook_from_seeds(
    corpus: DataFrame,
    corpus_id: str,
    vec: str = "embedding",
    m_subspaces: int = 4,
    k_codes: int = 8,
    dim: int = 64,
) -> DataFrame:
    """Deterministic PQ codebook: centroid (m, c) = subvector m of the
    corpus row with id ``c`` (ids ``0..k_codes-1``).

    Seeded (not trained) so the whole PQ pipeline is exactly
    value-checkable against a SQL oracle; production builds swap this for
    :func:`kmeans_lite` per subspace over a sample — every downstream op
    (:func:`pq_encode`, :func:`pq_adc_topk`) takes the codebook as a
    DataFrame and is agnostic to how it was trained. M*K rows of dim/M
    floats — broadcast-sized by construction at any corpus scale.
    """
    sub = dim // m_subspaces
    ms = F.explode(F.sequence(F.lit(0), F.lit(m_subspaces - 1))).alias("m")
    return (
        corpus.filter(F.col(corpus_id) < k_codes)
        .select(F.col(corpus_id).cast("int").alias("code"), F.col(vec), ms)
        .select(
            "m",
            "code",
            F.slice(F.col(vec), F.col("m") * sub + 1, sub).alias("cent"),
        )
    )


def _l2_scaled(a: Column, b: Column) -> Column:
    """Order-independent squared L2 distance in 10^-9 integer units."""
    return F.aggregate(
        F.zip_with(
            a,
            b,
            lambda x, y: F.round(
                (x.cast("double") - y.cast("double"))
                * (x.cast("double") - y.cast("double"))
                * VSCALE
            ).cast("long"),
        ),
        F.lit(0).cast("long"),
        lambda acc, v: acc + v,
    )


def _collect_codebook(
    codebook: DataFrame, m_subspaces: int
) -> tuple["np.ndarray", int]:
    """Collect + validate a PQ codebook into a dense (m, k, sub) float64
    array. Fails fast on sparse/offset/ragged codebooks: the flattened-LUT
    indexing in :func:`pq_adc_topk` (``m*k + code``) and the argmin-index
    mapping here both silently produce garbage on a non-dense layout, so
    density is a hard precondition, not a convention."""
    rows = codebook.select("m", "code", "cent").collect()
    return _codebook_matrix_from_rows(rows, m_subspaces)


def _codebook_matrix_from_rows(
    rows, m_subspaces: int
) -> tuple["np.ndarray", int]:
    """:func:`_collect_codebook`'s validation + densification over rows
    already on the driver (Spark ``Row``s or ``{"m","code","cent"}``
    dicts from a pyarrow read) — shared so a probe against a PERSISTED
    index can read its broadcast-sized codebook driver-side (no Spark
    job) with identical validation semantics."""
    if not rows:
        raise ValueError("pq codebook is empty")
    by_m: dict[int, dict[int, list]] = {}
    for r in rows:
        by_m.setdefault(r["m"], {})[r["code"]] = r["cent"]
    if sorted(by_m) != list(range(m_subspaces)):
        raise ValueError(
            f"pq codebook subspaces {sorted(by_m)} != 0..{m_subspaces - 1}"
        )
    k_codes = len(by_m[0])
    sub = len(by_m[0][min(by_m[0])])
    for m, codes in by_m.items():
        if sorted(codes) != list(range(k_codes)):
            raise ValueError(
                f"pq codebook subspace {m} has codes {sorted(codes)}; "
                f"expected dense 0..{k_codes - 1} (sparse/offset codebooks "
                "break flattened-LUT indexing)"
            )
        if any(len(c) != sub for c in codes.values()):
            raise ValueError(f"pq codebook subspace {m} has ragged centroids")
    C = np.asarray(
        [
            [np.asarray(by_m[m][c], dtype=np.float64) for c in range(k_codes)]
            for m in range(m_subspaces)
        ]
    )
    return C, k_codes


def validate_codebook(
    codebook: DataFrame, m_subspaces: int, k_codes: int
) -> "np.ndarray":
    """Assert the codebook is dense: every subspace 0..M-1 present with
    contiguous codes 0..K-1 (see :func:`_collect_codebook`). Returns the
    collected (m, k, sub) centroid matrix so callers that validate can
    reuse the collect (Arrow LUT/encode kernels) instead of paying it
    twice."""
    C, k_found = _collect_codebook(codebook, m_subspaces)
    if k_found != k_codes:
        raise ValueError(
            f"pq codebook has {k_found} codes per subspace, caller assumed "
            f"{k_codes} — the flattened LUT would be mis-indexed"
        )
    return C


def _read_model_rows(catalog, name: str, columns: list[str]) -> list[tuple]:
    """Read a broadcast-sized model table (pivots/codebook) DRIVER-SIDE
    with pyarrow — no Spark job, no py4j plan round-trips. Handles both
    the single-file layout :meth:`Catalog.write_local` produces and
    directory-shaped tables from older builds (pyarrow's dataset reader
    skips the "_"-prefixed manifest/commit metadata). Returns positional
    tuples in ``columns`` order, the shape the Arrow kernels index."""
    if not catalog.exists(name):
        raise TableNotFoundError(
            f"no table {name!r} under {catalog.root}"
        )
    import pyarrow.dataset as ds

    tbl = (
        ds.dataset(catalog.path(name), format="parquet")
        .to_table(columns=columns)
    )
    return list(zip(*(tbl.column(c).to_pylist() for c in columns)))


def _first_codes_width(catalog, name: str) -> int | None:
    """Length of one stored ``codes`` row, from the first fragment's
    first row — the cross-table layout check, as a driver-side footer+
    page read instead of a ``limit(1).collect()`` Spark job. ``None``
    for an empty index (nothing to contradict); a NULL first ``codes``
    value raises :class:`VectorIndexParamError` — no engine write
    produces one, and it would silently skip the check."""
    import pyarrow.dataset as ds

    head = (
        ds.dataset(catalog.path(name), format="parquet")
        .head(1, columns=["codes"])
    )
    if head.num_rows == 0:
        return None
    row = head.column("codes")[0].as_py()
    if row is None:
        raise VectorIndexParamError(
            f"IVF-PQ index {name!r} has a NULL codes row, so its layout "
            "cannot be checked against the meta; rebuild the index."
        )
    return len(row)


def pq_encode(
    corpus: DataFrame,
    codebook: DataFrame,
    corpus_id: str,
    vec: str = "embedding",
    m_subspaces: int = 4,
    dim: int = 64,
    method: str = "arrow",
) -> DataFrame:
    """PQ-encode each vector to ``m_subspaces`` byte-sized codes:
    ``codes[m] = argmin_c ||v_m - cent(m,c)||²`` (ties → smallest code).

    ``method="arrow"`` (default): the codebook (M*K rows — broadcast-sized
    by contract) collects once into a (m, k, sub) matrix shipped in the
    UDF closure; each Arrow batch computes every subspace argmin in
    vectorized C with the exact scaled-integer arithmetic of
    ``_l2_scaled`` — no explode, no join, no shuffle, bit-identical
    codes. The codebook is density-validated on collect (fail-fast on
    sparse/offset layouts). ``method="sql"`` keeps the pure-JVM shape:
    explode to (id, m, subvector) → broadcast-join the M*K-row codebook
    → ONE hash aggregation with an argmin-struct per subspace
    (``min(struct(d2, code))``) assembling the code array in subspace
    order; its only shuffle moves (id, m, d2, code) integers, never
    vectors. Storage either way: dim floats → M small ints (the 64x
    compression that makes a 100 TB corpus index RAM-resident).
    """
    if method == "arrow":
        return _pq_encode_arrow(corpus, codebook, corpus_id, vec, m_subspaces, dim)
    sub = dim // m_subspaces
    ms = F.explode(F.sequence(F.lit(0), F.lit(m_subspaces - 1))).alias("m")
    pieces = corpus.select(F.col(corpus_id), F.col(vec), ms).select(
        F.col(corpus_id),
        "m",
        F.slice(F.col(vec), F.col("m") * sub + 1, sub).alias("__sv"),
    )
    scored = pieces.join(F.broadcast(codebook), on="m").select(
        F.col(corpus_id),
        "m",
        F.struct(
            _l2_scaled(F.col("__sv"), F.col("cent")).alias("d2"),
            F.col("code").alias("code"),
        ).alias("__dc"),
    )
    best = scored.groupBy(corpus_id).agg(
        F.array(
            *[
                F.min(F.when(F.col("m") == j, F.col("__dc"))).getField("code")
                for j in range(m_subspaces)
            ]
        ).alias("codes")
    )
    return best


def _pq_encode_arrow(
    corpus: DataFrame,
    codebook: DataFrame,
    corpus_id: str,
    vec: str,
    m_subspaces: int,
    dim: int,
) -> DataFrame:
    """Arrow-batched PQ encoding: one numpy kernel per batch computes all
    (row, subspace, code) scaled-integer L2 distances and takes the
    per-subspace argmin (ties → smallest code, matching the SQL
    ``min(struct(d2, code))``). Bit-identical to ``_l2_scaled`` — see
    ``_np_round_away``."""
    C, _ = _collect_codebook(codebook, m_subspaces)
    sub = C.shape[2]
    if sub * m_subspaces != dim:
        raise ValueError(
            f"codebook centroids are {sub}-dim; expected {dim}/{m_subspaces}"
        )
    return _pq_encode_from_matrix(corpus, C, corpus_id, vec)


def _pq_encode_from_matrix(
    corpus: DataFrame,
    C: "np.ndarray",
    corpus_id: str,
    vec: str,
    keep_cols: tuple = (),
) -> DataFrame:
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    m_subspaces, _, sub = C.shape
    dim = m_subspaces * sub

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def _codes(vecs: pd.Series) -> pd.Series:
        n = len(vecs)
        out: list = [None] * n
        ok = [i for i, v in enumerate(vecs) if v is not None and len(v) == dim]
        if ok:
            V = np.asarray(
                [np.asarray(vecs.iloc[i], dtype=np.float64) for i in ok]
            ).reshape(len(ok), m_subspaces, sub)
            # per subspace: (n, sub) × (k, sub) → (n, k) chunked exact
            # L2 (same op order as the old (n, m, k, sub) broadcast,
            # without its k×-larger temporaries)
            k_codes = C.shape[1]
            d2 = np.empty((len(ok), m_subspaces, k_codes), dtype=np.int64)
            for m in range(m_subspaces):
                d2[:, m, :] = _np_scaled_sq_dists(V[:, m, :], C[m])
            codes = np.argmin(d2, axis=2).astype(np.int32)  # first min → smallest code
            for j, i in enumerate(ok):
                out[i] = codes[j].tolist()
        return pd.Series(out)

    return corpus.select(
        F.col(corpus_id),
        *[F.col(c) for c in keep_cols],
        _codes(F.col(vec)).alias("codes"),
    )


def _assign_encode_arrow(
    corpus: DataFrame,
    pivots: DataFrame,
    C: "np.ndarray",
    corpus_id: str,
    pivot_id: str,
    vec: str,
    keep_cols: tuple = (),
    pivot_rows: list | None = None,
) -> DataFrame:
    """Fused IVF assignment + PQ encoding: ONE Arrow map stage computes
    both the nearest-pivot index and the subspace codes per batch, so the
    vector column crosses the JVM↔Python boundary exactly once (vs the
    chained ``assign_to_pivots`` → ``_pq_encode_from_matrix`` pair, which
    pays two ArrowEvalPython transfers of the embeddings — guide §4.1).
    Bit-identical to running the two kernels separately; output columns
    ``(corpus_id, cell, *keep_cols, codes)`` match the chained shape.

    The fused UDF is marked nondeterministic (it is not) purely to stop
    Catalyst duplicating it: a downstream equi-join on ``cell`` can infer
    the probe side's cell predicate onto this side and push it below the
    projection, re-evaluating the full kernel once for the filter and
    once for the output (observed as two ArrowEvalPython nodes each
    scoring the whole corpus — guide §4.4)."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    rows = pivot_rows
    if rows is None:
        rows = pivots.select(F.col(pivot_id), F.col(vec)).collect()
    if not rows:
        raise ValueError("assign_to_pivots: empty pivot set")
    rows = sorted(rows, key=lambda r: r[0])  # argmin-first == smallest id
    pids = [r[0] for r in rows]
    P = np.asarray([np.asarray(r[1], dtype=np.float64) for r in rows])
    pnorm = _np_scaled_norms(P)
    m_subspaces, _, sub = C.shape
    dim = m_subspaces * sub
    if P.shape[1] != dim:
        raise ValueError(
            f"pivots are {P.shape[1]}-dim; codebook implies {dim}"
        )

    out_type = T.StructType(
        [
            T.StructField("idx", T.IntegerType()),
            T.StructField("codes", T.ArrayType(T.IntegerType())),
        ]
    )

    @pandas_udf(out_type)
    def _cell_and_codes(vecs: pd.Series) -> pd.DataFrame:
        n = len(vecs)
        idx = np.zeros(n, dtype=np.int32)
        codes_out: list = [None] * n
        ok_mask = np.array(
            [v is not None and len(v) == dim for v in vecs], dtype=bool
        )
        if ok_mask.any():
            V = np.asarray(
                [np.asarray(v, dtype=np.float64) for v in vecs[ok_mask]]
            )
            # assignment (same op order as _assign_cells_arrow)
            dots = _np_scaled_dots(V, P)
            vnorm = _np_scaled_norms(V)
            denom = vnorm[:, None] * pnorm[None, :]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (dots.astype(np.float64) / np.float64(VSCALE)) / denom
            key = -cos
            key[np.isnan(key)] = -np.inf  # NaN cosine wins (desc sort order)
            key[denom == 0.0] = np.inf  # Spark x/0 → NULL → loses
            idx[ok_mask] = np.argmin(key, axis=1)  # first min → smallest id
            # encoding (same op order as _pq_encode_from_matrix)
            Vs = V.reshape(len(V), m_subspaces, sub)
            k_codes = C.shape[1]
            d2 = np.empty((len(V), m_subspaces, k_codes), dtype=np.int64)
            for m in range(m_subspaces):
                d2[:, m, :] = _np_scaled_sq_dists(Vs[:, m, :], C[m])
            codes = np.argmin(d2, axis=2).astype(np.int32)
            for j, i in enumerate(np.flatnonzero(ok_mask)):
                codes_out[i] = codes[j].tolist()
        return pd.DataFrame({"idx": idx, "codes": codes_out})

    fused = _cell_and_codes.asNondeterministic()
    cell_lookup = F.array(*[F.lit(p) for p in pids])
    ptype = pivots.schema[pivot_id].dataType
    s = fused(F.col(vec)).alias("__ac")
    return corpus.select(
        F.col(corpus_id), *[F.col(c) for c in keep_cols], s
    ).select(
        F.col(corpus_id),
        F.element_at(cell_lookup, F.col("__ac.idx") + F.lit(1))
        .cast(ptype)
        .alias("cell"),
        *[F.col(c) for c in keep_cols],
        F.col("__ac.codes").alias("codes"),
    )


def pq_adc_topk(
    queries: DataFrame,
    encoded: DataFrame,
    codebook: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    k: int = 10,
    m_subspaces: int = 4,
    k_codes: int = 8,
) -> DataFrame:
    """Asymmetric-distance (ADC) top-k: approximate ``dot(q, v)`` as
    ``Σ_m dot(q_m, cent(m, codes_v[m]))`` using only the corpus CODES.

    The query side precomputes its lookup table — dot of each query
    subvector with every centroid, M*K integers — flattened to one array
    carried on the (broadcast) query row. Scoring a corpus vector is then
    M array lookups and adds inside codegen: no vector math, no explode,
    no shuffle until the per-query top-k window. This is the IVF-PQ scan
    shape: at 100 TB the corpus side reads only (id, M bytes) columns.

    Output: (query_id, corpus_id, adc_score, rnk), score = scaled
    approximate dot product (NOT cosine — ranking-equivalent for
    fixed-norm corpora; exact re-ranking of the top candidates with
    :func:`brute_force_topk` is the standard refinement).

    The codebook is density-validated up front (one tiny collect): the
    flattened-LUT lookup ``m*k_codes + code + 1`` assumes dense codes
    ``0..k_codes-1`` in every subspace, and a sparse/offset codebook
    would silently score NULLs into garbage ranks.
    """
    C = validate_codebook(codebook, m_subspaces, k_codes)
    lut = _pq_lut_from_matrix(queries, C, query_id, query_vec)
    joined = F.broadcast(lut).crossJoin(encoded)
    return _adc_topk(joined, query_id, corpus_id, m_subspaces, k_codes, k)


def _adc_topk(
    joined: DataFrame,
    query_id: str,
    corpus_id: str,
    m_subspaces: int,
    k_codes: int,
    k: int,
) -> DataFrame:
    """Shared ADC scoring tail: ``joined`` carries (query_id, corpus_id,
    __lut, codes); score = Σ_m lut[m*K + codes[m]], then per-query
    top-k. One implementation for :func:`pq_adc_topk`,
    :func:`ivf_pq_topk`, and :func:`probe_ivfpq_index` — three
    hand-synced copies of the flattened-LUT indexing would drift
    (the same duplicate-drift class the r6 WAP-polarity clash came
    from)."""
    scored = joined.select(
        F.col(query_id),
        F.col(corpus_id),
        F.aggregate(
            F.zip_with(
                F.sequence(F.lit(0), F.lit(m_subspaces - 1)),
                F.col("codes"),
                lambda m, c: F.element_at(F.col("__lut"), m * k_codes + c + 1),
            ),
            F.lit(0).cast("long"),
            lambda acc, v: acc + v,
        ).alias("__s"),
    )
    w = Window.partitionBy(query_id).orderBy(F.col("__s").desc(), F.col(corpus_id))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select(
            query_id,
            corpus_id,
            (F.col("__s").cast("double") / F.lit(float(VSCALE))).alias("adc_score"),
            "rnk",
        )
    )


def _pq_lut(
    queries: DataFrame,
    codebook: DataFrame,
    query_id: str,
    query_vec: str,
    m_subspaces: int,
) -> DataFrame:
    """Per-query flattened ADC lookup table: ``__lut[m*K + code]`` = scaled
    dot of query subvector m with centroid (m, code). The subvector slice
    length comes from the centroid's own size, so callers never re-state
    dim. ``array_sort`` on (m, code) structs orders lexicographically by
    field position — exactly subspace-major order."""
    ms = F.explode(F.sequence(F.lit(0), F.lit(m_subspaces - 1))).alias("m")
    qsub = queries.select(F.col(query_id), F.col(query_vec), ms).select(
        F.col(query_id),
        "m",
        F.col(query_vec).alias("__qv"),
    )
    lut_rows = qsub.join(F.broadcast(codebook), on="m").select(
        F.col(query_id),
        "m",
        "code",
        _dot_scaled(
            F.slice(
                F.col("__qv"),
                F.col("m") * F.size(F.col("cent")) + 1,
                F.size(F.col("cent")),
            ),
            F.col("cent"),
        ).alias("__dot"),
    )
    return lut_rows.groupBy(query_id).agg(
        F.transform(
            F.array_sort(
                F.collect_list(F.struct(F.col("m"), F.col("code"), F.col("__dot")))
            ),
            lambda s: s.getField("__dot"),
        ).alias("__lut")
    )


def _pq_lut_from_matrix(
    queries: DataFrame,
    C: "np.ndarray",
    query_id: str,
    query_vec: str,
) -> DataFrame:
    """:func:`_pq_lut` with the codebook already collected as a
    (m, k, sub) matrix: the per-query flattened ADC LUT computed in ONE
    Arrow map over the query rows — no explode, no codebook join, no
    collect_list aggregation, no exchange (the SQL shape paid two
    ObjectHashAggregate exchanges per plan; guide §2.4/§4.2). Scaled
    dots run through ``_np_scaled_dots`` — bit-identical to
    ``_dot_scaled``. A missing/short subvector yields NULL entries for
    that subspace's codes, matching the HOF path's null propagation."""
    from pyspark.sql import types as T
    from pyspark.sql.functions import pandas_udf

    m_subspaces, k_codes, sub = C.shape

    @pandas_udf(T.ArrayType(T.LongType()))
    def _lut(vecs: pd.Series) -> pd.Series:
        out: list = []
        for v in vecs:
            if v is None:
                out.append([None] * (m_subspaces * k_codes))
                continue
            a = np.asarray(v, dtype=np.float64)
            row: list = []
            for m in range(m_subspaces):
                seg = a[m * sub : (m + 1) * sub]
                if seg.shape[0] == sub:
                    dots = _np_scaled_dots(seg[None, :], C[m])[0]
                    row.extend(int(x) for x in dots)
                else:
                    row.extend([None] * k_codes)
            out.append(row)
        return pd.Series(out)

    return queries.select(
        F.col(query_id), _lut(F.col(query_vec)).alias("__lut")
    )


def ivf_pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    pivots: DataFrame,
    codebook: DataFrame,
    query_id: str,
    corpus_id: str,
    pivot_id: str,
    vec: str = "embedding",
    k: int = 10,
    nprobe: int = 3,
    m_subspaces: int = 4,
    k_codes: int = 8,
) -> DataFrame:
    """Full IVF-PQ: inverted-file cell restriction × product-quantized
    ADC scoring — the composition that makes billion-vector ANN tractable.

    Corpus vectors are assigned once to their nearest pivot cell and
    PQ-encoded (dim floats → M codes); a query carries its flattened ADC
    LUT into only its ``nprobe`` nearest cells. Scan cost per query ≈
    (nprobe/cells) × corpus × M array lookups, reading (id, cell, codes)
    — never raw vectors. At 100 TB the coded corpus is written bucketed
    by ``cell`` so the probe join is shuffle-free on the corpus side.

    Every stage is scaled-integer deterministic, so scores and ranks are
    exactly oracle-checkable (no recall bound needed — the probed-cell
    result is well-defined).
    """
    # one collect validates density AND feeds the Arrow encoder (the
    # m*k_codes+code LUT indexing requires dense contiguous codes)
    C, k_found = _collect_codebook(codebook, m_subspaces)
    if k_found != k_codes:
        raise ValueError(
            f"pq codebook has {k_found} codes per subspace, caller assumed "
            f"{k_codes} — the flattened LUT would be mis-indexed"
        )
    # assignment + encoding FUSE into one map pass over the corpus scan
    # (one Arrow kernel, one boundary crossing of the vector column):
    # zero joins, zero shuffles on the corpus side until the probe
    # equi-join
    # pivots are model state: collect them ONCE and feed both the fused
    # build-side kernel and the probe-side multi-probe kernel (two Spark
    # jobs otherwise — each kernel would re-collect the same tiny table)
    pivot_rows = pivots.select(F.col(pivot_id), F.col(vec)).collect()
    coded = _assign_encode_arrow(
        corpus.select(F.col(corpus_id), F.col(vec)),
        pivots, C, corpus_id, pivot_id, vec, pivot_rows=pivot_rows,
    )
    q_cells = _assign_topn_cells_arrow(
        queries, pivots, query_id, pivot_id, vec, vec, nprobe,
        pivot_rows=pivot_rows,
    ).select(F.col(query_id), "cell")
    lut = _pq_lut_from_matrix(queries, C, query_id, vec)
    # the LUT is |queries| rows (model state by contract): broadcast it so
    # the probes join is a hash join instead of the SortMergeJoin + extra
    # sorts the planner picks from its size estimates (guide §3.1)
    probes = q_cells.join(F.broadcast(lut), query_id)
    joined = F.broadcast(probes).join(coded, on="cell")
    return _adc_topk(joined, query_id, corpus_id, m_subspaces, k_codes, k)


def _ivfpq_meta_name(name: str) -> str:
    return f"{name}__ivfpq_meta"


def _ivfpq_payload_cols(meta: dict) -> tuple:
    """Payload columns recorded in the index meta (pre-payload indexes
    lack the key: empty)."""
    raw = meta.get("payload_cols") or ""
    return tuple(p for p in raw.split(",") if p)


def _ivfpq_pivots_name(name: str) -> str:
    return f"{name}__ivfpq_pivots"


def _ivfpq_codebook_name(name: str) -> str:
    return f"{name}__ivfpq_codebook"


def write_ivfpq_index(
    catalog,
    name: str,
    corpus: DataFrame,
    pivots: DataFrame,
    codebook: DataFrame,
    corpus_id: str,
    pivot_id: str,
    vec: str = "embedding",
    m_subspaces: int = 4,
    k_codes: int = 8,
    payload_cols: tuple = (),
) -> str:
    """Persist an IVF-PQ index as catalog tables (VERDICT r6 item 2):
    build ONCE, probe many — the lifecycle :func:`ivf_pq_topk` lacks
    (it re-assigns and re-encodes the corpus per query batch, fine for
    a benchmark, wrong at 100 TB where encoding IS the expensive
    stage). Mirrors the persisted LSH index
    (``operators/dedup.write_lsh_index``):

    - ``<name>``: the encoded corpus ``(corpus_id, cell, codes)`` —
      M bytes + a cell id per vector, ~dim·4/M× smaller than the raw
      vectors; the only table a probe scans.
    - ``<name>__ivfpq_pivots`` / ``__ivfpq_codebook``: the model state
      (broadcast-sized by construction) a probe needs to route queries.
    - ``<name>__ivfpq_meta``: one row of layout parameters + column
      names, written driver-side with pyarrow (three ints and three
      strings do not justify a Spark job). Probes/appends resolve their
      parameters from it and REFUSE contradictions
      (:class:`~agol_pandas_spark.errors.VectorIndexParamError`) — the
      same stored-params-or-raise discipline as
      ``dedup._resolve_lsh_params``, because a layout drift silently
      mis-indexes the flattened ADC LUT.

    Assignment + encoding fuse into one Arrow map pass over the corpus
    scan (zero corpus-side joins/shuffles), exactly as in
    :func:`ivf_pq_topk`.

    ``payload_cols``: extra corpus columns stored WITH the codes (a
    label, a source tag) so candidate-time predicates — e.g.
    :func:`hard_negative_topk_indexed`'s other-label filter — evaluate
    on the coded scan itself, never via a corpus-sized join. Recorded
    in the meta; appends carry them automatically.

    Crash-consistency: the four tables commit independently (each
    atomically, but not as one transaction). The meta writes LAST, and
    :func:`probe_ivfpq_index` validates the codebook shape and the
    codes width against the meta before scoring — an interrupted or
    concurrent rebuild therefore surfaces as
    :class:`VectorIndexParamError`, never as silently wrong ranks.
    """
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    # The two model inputs are broadcast-sized by contract and BOTH get
    # collected to the driver anyway (the codebook for validation + the
    # LUT matrix, the pivots for the fused assign+encode kernel) — so
    # collect each ONCE, overlapped (guide §2.6), and never re-run their
    # derivation plans for the model-table writes.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as pool:
        f_cb = pool.submit(
            lambda: codebook.select("m", "code", "cent").collect()
        )
        f_piv = pool.submit(
            lambda: pivots.select(F.col(pivot_id), F.col(vec)).collect()
        )
        cb_rows = f_cb.result()
        pivot_rows = f_piv.result()
    C, k_found = _codebook_matrix_from_rows(cb_rows, m_subspaces)
    if k_found != k_codes:
        raise ValueError(
            f"pq codebook has {k_found} codes per subspace, caller assumed "
            f"{k_codes} — the flattened LUT would be mis-indexed"
        )
    # The pivots/codebook model tables are built DRIVER-SIDE from the
    # rows just collected, and BEFORE anything commits: a column type
    # Arrow cannot carry raises here, never after the coded table landed.
    def _model_table(df: DataFrame, cols: tuple, rows: list):
        return pa.table(
            {
                c: pa.array(
                    [r[i] for r in rows], to_arrow_type(df.schema[c].dataType)
                )
                for i, c in enumerate(cols)
            }
        )

    pivots_tbl = _model_table(pivots, (pivot_id, vec), pivot_rows)
    codebook_tbl = _model_table(codebook, ("m", "code", "cent"), cb_rows)
    payload = tuple(payload_cols)
    coded = _assign_encode_arrow(
        corpus.select(F.col(corpus_id), F.col(vec), *payload),
        pivots, C, corpus_id, pivot_id, vec, keep_cols=payload,
        pivot_rows=pivot_rows,
    )
    # ONE Spark write: the corpus-sized coded table. The model tables
    # and the meta go through Catalog.write_local (atomic single-file
    # commit, zero Spark jobs — a Spark write would pay a full job +
    # task-commit latency AND re-run its derivation plan to write a few
    # KB; guide §1.2, §6). The meta writes strictly LAST (the
    # crash-consistency contract above), after all three data/model
    # tables have committed.
    path = catalog.write(coded, name, "overwrite")
    catalog.write_local(pivots_tbl, _ivfpq_pivots_name(name), "overwrite")
    catalog.write_local(codebook_tbl, _ivfpq_codebook_name(name), "overwrite")
    catalog.write_local(
        pa.table(
            {
                "m_subspaces": pa.array([m_subspaces], pa.int32()),
                "k_codes": pa.array([k_codes], pa.int32()),
                "corpus_id": pa.array([corpus_id], pa.string()),
                "pivot_id": pa.array([pivot_id], pa.string()),
                "vec": pa.array([vec], pa.string()),
                "payload_cols": pa.array([",".join(payload)], pa.string()),
            }
        ),
        _ivfpq_meta_name(name),
        "overwrite",
    )
    return path


def _resolve_ivfpq_params(
    catalog,
    name: str,
    m_subspaces: int | None,
    k_codes: int | None,
) -> dict:
    """Stored index parameters win when the caller passed None; explicit
    values that contradict the stored ones raise
    :class:`VectorIndexParamError` (a mismatched probe mis-indexes the
    ADC LUT — silent garbage, never an exception downstream)."""
    if not catalog.exists(_ivfpq_meta_name(name)):
        raise TableNotFoundError(
            f"no IVF-PQ index meta for {name!r} under {catalog.root} — "
            "build it with write_ivfpq_index"
        )
    import pyarrow.parquet as papq

    row = papq.read_table(catalog.path(_ivfpq_meta_name(name))).to_pylist()[0]
    for key, want in (("m_subspaces", m_subspaces), ("k_codes", k_codes)):
        if want is not None and want != row[key]:
            raise VectorIndexParamError(
                f"IVF-PQ index {name!r} was built with {key}={row[key]}, "
                f"but the caller asked for {key}={want}; a mismatched "
                "layout silently mis-indexes the ADC LUT. Use the stored "
                "parameters (or rebuild the index)."
            )
    return row


def probe_ivfpq_index(
    catalog,
    name: str,
    queries: DataFrame,
    query_id: str,
    query_vec: str = "embedding",
    k: int = 10,
    nprobe: int = 3,
    m_subspaces: int | None = None,
    k_codes: int | None = None,
) -> DataFrame:
    """ADC top-k of ``queries`` against a PERSISTED IVF-PQ index —
    touching no corpus vectors: the probe scans only the encoded
    ``(corpus_id, cell, codes)`` table (plan-pinned in
    tests/test_plans.py), routes each query to its ``nprobe`` nearest
    stored pivots, and scores codes through the flattened per-query
    LUT exactly as :func:`ivf_pq_topk` — identical results to the
    build-and-query path by construction, minus the build cost.

    Layout parameters default from the index meta; contradictions
    raise :class:`VectorIndexParamError`.
    """
    meta = _resolve_ivfpq_params(catalog, name, m_subspaces, k_codes)
    m_sub, kc = meta["m_subspaces"], meta["k_codes"]
    corpus_id, pivot_id, vec = meta["corpus_id"], meta["pivot_id"], meta["vec"]
    coded = catalog.table(name)
    pivots = catalog.table(_ivfpq_pivots_name(name))
    # cross-table layout validation: the index is four tables committed
    # independently, so a crashed/concurrent rebuild can leave the meta
    # describing one layout and the codebook/codes another — which the
    # flattened-LUT indexing would score into silent garbage. Validate
    # the codebook shape against the meta and one codes row's length
    # before trusting either. All three reads are broadcast-sized model
    # state: read them DRIVER-SIDE with pyarrow (footer + a few KB of
    # pages) instead of three Spark jobs — r11 overlapped the jobs
    # (§2.6); r12 removes them (§1.2: the cheapest shuffle/job is the
    # one that doesn't run). Every error still surfaces before any
    # scoring plan is built.
    cb_rows = _read_model_rows(
        catalog, _ivfpq_codebook_name(name), ["m", "code", "cent"]
    )
    C, k_found = _codebook_matrix_from_rows(
        [{"m": m, "code": c, "cent": v} for m, c, v in cb_rows], m_sub
    )
    if k_found != kc:
        raise ValueError(
            f"pq codebook has {k_found} codes per subspace, caller "
            f"assumed {kc} — the flattened LUT would be mis-indexed"
        )
    pivot_rows = _read_model_rows(
        catalog, _ivfpq_pivots_name(name), [pivot_id, vec]
    )
    codes_width = _first_codes_width(catalog, name)
    if codes_width is not None and codes_width != m_sub:
        raise VectorIndexParamError(
            f"IVF-PQ index {name!r} codes have {codes_width} "
            f"subspaces but the meta declares {m_sub} — mixed-layout "
            "state (interrupted rebuild?); rebuild the index."
        )
    q_cells = _assign_topn_cells_arrow(
        queries.select(F.col(query_id), F.col(query_vec)),
        pivots, query_id, pivot_id, query_vec, vec, nprobe,
        pivot_rows=pivot_rows,
    ).select(F.col(query_id), "cell")
    lut = _pq_lut_from_matrix(
        queries.select(F.col(query_id), F.col(query_vec)),
        C, query_id, query_vec,
    )
    # the LUT is |queries| rows (model state): broadcast-join it so the
    # planner never picks a SortMergeJoin of two tiny inputs (guide §3.1)
    probes = q_cells.join(F.broadcast(lut), query_id)
    joined = F.broadcast(probes).join(coded, on="cell")
    return _adc_topk(joined, query_id, corpus_id, m_sub, kc, k)


def append_ivfpq_index(
    catalog,
    name: str,
    batch: DataFrame,
) -> str:
    """Append a batch of new vectors to a persisted IVF-PQ index — the
    O(batch) maintenance half (mirror of ``dedup.append_lsh_index``):
    the batch is assigned and PQ-encoded with the index's OWN stored
    pivots/codebook/layout (no way to pass different ones — drift would
    corrupt every later probe) and appended through the ordinary merge
    path (keyed INSERT: only NEW ids land, already-indexed ids pass
    through untouched, so re-sending a batch cannot double-index it;
    the batch itself must be id-unique — ``DuplicateKeyError``
    otherwise). The corpus is never re-encoded.
    """
    from agol_pandas_spark.operators.merge import WriteMode, write_table

    meta = _resolve_ivfpq_params(catalog, name, None, None)
    m_sub = meta["m_subspaces"]
    corpus_id, vec, pivot_id = meta["corpus_id"], meta["vec"], meta["pivot_id"]
    payload = _ivfpq_payload_cols(meta)
    pivots = catalog.table(_ivfpq_pivots_name(name))
    # stored model state reads driver-side (pyarrow) — no Spark jobs
    cb_rows = _read_model_rows(
        catalog, _ivfpq_codebook_name(name), ["m", "code", "cent"]
    )
    C, _ = _codebook_matrix_from_rows(
        [{"m": m, "code": c, "cent": v} for m, c, v in cb_rows], m_sub
    )
    pivot_rows = _read_model_rows(
        catalog, _ivfpq_pivots_name(name), [pivot_id, vec]
    )
    coded = _assign_encode_arrow(
        batch.select(F.col(corpus_id), F.col(vec), *payload),
        pivots, C, corpus_id, pivot_id, vec, keep_cols=payload,
        pivot_rows=pivot_rows,
    )
    return write_table(
        catalog, coded, name, mode=WriteMode.INSERT, key=corpus_id
    )


def cosine_exact_arrow() -> "callable":
    """Pair-scoring twin of :func:`cosine_exact` as an Arrow kernel:
    scaled-integer dot + exact norms + the same final float divisions,
    bit-identical to the HOF (see ``_np_round_away``) but vectorized —
    use in pair stages (joined (va, vb) columns) where the interpreted
    HOF dominates. Zero-norm or null inputs yield NULL, matching
    ``try_divide``. NB: NULL, not NaN — a NaN here would compare
    GREATER than any threshold in Spark and silently pass filters."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("double")
    def _cos(a: pd.Series, b: pd.Series) -> pd.Series:
        n = len(a)
        ok = np.array(
            [
                x is not None and y is not None and len(x) == len(y)
                for x, y in zip(a, b)
            ],
            dtype=bool,
        )
        out = np.full(n, np.nan)
        if ok.any():
            A = np.asarray([np.asarray(x, dtype=np.float64) for x in a[ok]])
            B = np.asarray([np.asarray(y, dtype=np.float64) for y in b[ok]])
            dots = (
                _np_round_away((A * B) * np.float64(VSCALE))
                .astype(np.int64)
                .sum(axis=1)
            )
            denom = _np_scaled_norms(A) * _np_scaled_norms(B)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = (dots.astype(np.float64) / np.float64(VSCALE)) / denom
            cos[denom == 0.0] = np.nan  # → NULL below
            out[ok] = cos
        res = out.astype(object)
        res[np.isnan(out)] = None  # Arrow nulls, never NaN
        return pd.Series(res)

    return _cos


def semantic_dedup_prune(
    corpus: DataFrame,
    pivots: DataFrame,
    corpus_id: str,
    pivot_id: str,
    vec: str = "embedding",
    threshold: float = 0.2,
) -> DataFrame:
    """SemDeDup-style semantic pruning (Abbas et al. 2023 shape): assign
    every vector to its nearest pivot cell, then within each cell drop any
    vector that has a LOWER-id neighbor with cosine >= threshold (greedy
    first-wins — the practical large-scale variant of per-cluster
    near-dup collapse; exact CC inside a cell is
    :func:`~agol_pandas_spark.operators.dedup.connected_components_star`
    over these pairs when group structure is needed).

    Returns (corpus columns…, cell, keep). Scale shape: cell assignment
    is the Arrow map stage of :func:`assign_to_pivots` (no shuffle), the
    candidate join is an equi-join on ``cell`` — never all-pairs across
    cells — and the dropped set is a semi-join. Cosines are the exact
    scaled-integer kind, so keep/drop decisions are engine-portable and
    the whole operator is value-checkable.
    """
    assigned = assign_to_pivots(corpus, pivots, corpus_id, pivot_id, vec, vec)
    a = assigned.select(
        F.col(corpus_id).alias("__ida"),
        F.col(vec).alias("__va"),
        F.col("cell").alias("__cell"),
    )
    b = assigned.select(
        F.col(corpus_id).alias("__idb"),
        F.col(vec).alias("__vb"),
        F.col("cell").alias("__cell"),
    )
    # pair scoring via the Arrow kernel: the in-cell pair count is
    # O(Σ cell²) — with the interpreted HOF this stage dominated the
    # whole operator (measured 2.9 s → 1.2 s at sf0.1)
    cos = cosine_exact_arrow()(F.col("__va"), F.col("__vb"))
    dropped = (
        a.join(b, on="__cell")
        .filter(F.col("__ida") < F.col("__idb"))
        .filter(cos >= F.lit(threshold))
        .select(F.col("__idb").alias(corpus_id))
        .distinct()
    )
    return assigned.join(
        dropped.withColumn("__dropped", F.lit(True)), on=corpus_id, how="left"
    ).select(
        *[F.col(c) for c in assigned.columns],
        F.coalesce(~F.col("__dropped"), F.lit(True)).alias("keep"),
    )


def label_centroids(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    label_col: str,
    scale: int = 1_000_000,
) -> DataFrame:
    """Per-label embedding centroids in exact fixed point: one row per
    (label, dim) with the vector count, the scaled component sum, and the
    truncated mean ``centroid_micro = sum_scaled div n`` (Spark ``div``
    and DuckDB ``//`` both truncate toward zero, so the quotient is
    engine-portable — no derived double is rounded). Class prototypes for
    nearest-centroid classification / domain drift monitoring.

    Scale shape: posexplode to (label, dim, x) then one partially
    aggregated groupBy — the shuffle carries ``labels × dims`` partial
    sums per map task, not the corpus. Output is tiny (``labels × dims``
    rows) and broadcast-joinable downstream.
    """
    e = corpus.select(
        F.col(label_col).alias("label"),
        F.posexplode(F.col(vec_col)).alias("dim", "x"),
    )
    return (
        e.groupBy("label", "dim")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                F.round(F.col("x").cast("double") * scale).cast("long")
            ).alias("sum_scaled"),
        )
        .select(
            "label",
            "dim",
            "n_vectors",
            "sum_scaled",
            F.expr("sum_scaled div n_vectors").alias("centroid_micro"),
        )
    )


def matryoshka_rerank_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    prefix_dim: int = 16,
    coarse_c: int = 50,
    k: int = 10,
) -> DataFrame:
    """Two-stage ANN via Matryoshka prefix dimensions (Kusupati et al.
    2022): coarse-score every corpus vector on the FIRST ``prefix_dim``
    components only, keep ``coarse_c`` candidates per query, then re-rank
    the candidates with the exact full-dimension cosine.

    MRL-trained embeddings concentrate information in the prefix, so the
    truncated scan preserves recall while reading ``prefix_dim/dim`` of
    the vector bytes — the dimension-truncation sibling of the int8 path
    (:func:`int8_rerank_topk` cuts bytes per element; this cuts elements).
    With a column-pruned scan the coarse stage reads a prefix column
    materialized at write time; here the slice is per-row array math.

    Both stages use the exact scaled-integer cosine (`_dot_scaled`), so
    every score is bit-reproducible in the DuckDB oracle — no recall
    bound needed; candidates and final ranks are value-checked. Shuffle
    profile mirrors the int8 path: broadcast queries over a map-only
    corpus scan, per-query windows only.
    """
    if prefix_dim < 1:
        raise ValueError(f"prefix_dim must be >= 1, got {prefix_dim}")
    qpre = F.slice(F.col(query_vec), 1, prefix_dim)
    qz = queries.select(
        F.col(query_id).alias("__qid"),
        F.col(query_vec).alias("__qvec"),
        qpre.alias("__qpre"),
        _norm_exact(qpre).alias("__qpnorm"),
        _norm_exact(F.col(query_vec)).alias("__qnorm"),
    )
    from agol_pandas_spark.operators.chunking import spread_small_scan

    cpre = F.slice(F.col(corpus_vec), 1, prefix_dim)
    cz = spread_small_scan(corpus).select(
        F.col(corpus_id).alias("__cid"),
        cpre.alias("__cpre"),
        _norm_exact(cpre).alias("__cpnorm"),
    )
    approx = F.try_divide(
        _dot_scaled(F.col("__qpre"), F.col("__cpre")).cast("double")
        / F.lit(float(VSCALE)),
        F.col("__qpnorm") * F.col("__cpnorm"),
    )
    wc = Window.partitionBy("__qid").orderBy(F.col("__approx").desc(), F.col("__cid"))
    cand = (
        cz.crossJoin(F.broadcast(qz.select("__qid", "__qpre", "__qpnorm")))
        .select("__qid", "__cid", approx.alias("__approx"))
        .withColumn("__crnk", F.row_number().over(wc))
        .filter(F.col("__crnk") <= coarse_c)
        .select("__qid", "__cid")
    )
    cvecs = corpus.select(
        F.col(corpus_id).alias("__cid"), F.col(corpus_vec).alias("__cvec")
    ).join(F.broadcast(cand), "__cid")
    rescored = cvecs.join(
        F.broadcast(qz.select("__qid", "__qvec", "__qnorm")), "__qid"
    ).select(
        F.col("__qid").alias(query_id),
        F.col("__cid").alias(corpus_id),
        F.try_divide(
            _dot_scaled(F.col("__qvec"), F.col("__cvec")).cast("double")
            / F.lit(float(VSCALE)),
            F.col("__qnorm") * _norm_exact(F.col("__cvec")),
        ).alias("cosine"),
    )
    wk = Window.partitionBy(query_id).orderBy(F.col("cosine").desc(), F.col(corpus_id))
    return rescored.withColumn("rnk", F.row_number().over(wk)).filter(
        F.col("rnk") <= k
    )


def hard_negative_topk(
    emb: DataFrame,
    corpus_id: str,
    label_col: str,
    probe_filter: Column,
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Contrastive-training hard-negative mining: for each probe vector,
    the ``k`` nearest neighbors whose LABEL DIFFERS — the negatives that
    look most like positives are the ones worth training against.

    Same scale shape as :func:`brute_force_topk` (probes broadcast with
    hoisted norms, corpus scanned once, per-partition WindowGroupLimit
    prunes before the per-probe shuffle) plus one pair predicate:
    ``label_q != label_c`` evaluates inside the broadcast join, so
    same-label pairs never reach scoring. Output: (query_id, corpus_id,
    cosine, rnk) with deterministic id tie-break.
    """
    from agol_pandas_spark.operators.chunking import spread_small_scan

    q = emb.filter(probe_filter).select(
        F.col(corpus_id).alias("__qid"),
        F.col(label_col).alias("__qlabel"),
        F.col(vec_col).alias("__qvec"),
        _norm_exact(F.col(vec_col)).alias("__qnorm"),
    )
    c = spread_small_scan(emb).select(
        F.col(corpus_id).alias("__cid"),
        F.col(label_col).alias("__clabel"),
        F.col(vec_col).alias("__cvec"),
        _norm_exact(F.col(vec_col)).alias("__cnorm"),
    )
    cos = F.try_divide(
        _dot_scaled(F.col("__qvec"), F.col("__cvec")).cast("double")
        / F.lit(float(VSCALE)),
        F.col("__qnorm") * F.col("__cnorm"),
    )
    scored = (
        F.broadcast(q)
        .crossJoin(c)
        .filter(F.col("__qlabel") != F.col("__clabel"))
        .select(
            F.col("__qid").alias("query_id"),
            F.col("__cid").alias("neg_id"),
            cos.alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neg_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def hard_negative_topk_indexed(
    catalog,
    name: str,
    probes: DataFrame,
    query_id: str,
    label_col: str = "label",
    k: int = 5,
    pool_k: int = 10,
    nprobe: int = 3,
    rerank_with: DataFrame | None = None,
) -> DataFrame:
    """Probe-budgeted hard-negative mining through a persisted IVF-PQ
    index (VERDICT r9 item 6): :func:`hard_negative_topk` brute-force
    scores every probe against the whole other-label corpus — exact,
    and the right default at small scale, but O(|Q|·|corpus|·dim) (sf1
    exponent 1.36, BASELINE.md). Here each probe's candidates come from
    its ``nprobe`` nearest index cells, scored from 4-byte PQ CODES with
    the other-label filter evaluated ON THE CODED SCAN (the label rides
    the index as a payload column — ``write_ivfpq_index(payload_cols=
    ("label",))`` — so no corpus-sized join either), then the pool_k ADC
    survivors rerank EXACTLY against ``rerank_with`` (the raw vectors,
    read once for the pool-pruned candidate set). Candidate cost per
    probe ≈ (nprobe/cells)·|corpus| code lookups, not |corpus| vector
    dots.

    All stages are scaled-integer deterministic, so the output
    (query_id, neg_id, cosine, rnk) is exactly oracle-checkable — the
    probed-cell pool is well-defined, no recall bound needed. With
    ``rerank_with=None`` the ADC pool itself returns (adc_score ranks).
    Raises :class:`VectorIndexParamError` when the index carries no
    ``label_col`` payload — a silent fallback would quietly lose the
    budget.
    """
    meta = _resolve_ivfpq_params(catalog, name, None, None)
    m_sub, kc = meta["m_subspaces"], meta["k_codes"]
    corpus_id, pivot_id, vec = meta["corpus_id"], meta["pivot_id"], meta["vec"]
    if label_col not in _ivfpq_payload_cols(meta):
        raise VectorIndexParamError(
            f"IVF-PQ index {name!r} does not carry payload column "
            f"{label_col!r} — rebuild with write_ivfpq_index("
            f"payload_cols=({label_col!r},)) so the other-label filter "
            "can run on the coded scan"
        )
    coded = catalog.table(name)
    pivots = catalog.table(_ivfpq_pivots_name(name))
    # model state (codebook, pivot matrix) read DRIVER-SIDE with pyarrow
    # — zero Spark jobs, same validation as probe_ivfpq_index (r11
    # overlapped these collects per §2.6; r12 removes them, §1.2)
    cb_rows = _read_model_rows(
        catalog, _ivfpq_codebook_name(name), ["m", "code", "cent"]
    )
    C, k_found = _codebook_matrix_from_rows(
        [{"m": m, "code": c, "cent": v} for m, c, v in cb_rows], m_sub
    )
    if k_found != kc:
        raise ValueError(
            f"pq codebook has {k_found} codes per subspace, caller "
            f"assumed {kc} — the flattened LUT would be mis-indexed"
        )
    pivot_rows = _read_model_rows(
        catalog, _ivfpq_pivots_name(name), [pivot_id, vec]
    )
    q = probes.select(
        F.col(query_id),
        F.col(label_col).alias("__qlabel"),
        F.col(vec),
    )
    q_cells = _assign_topn_cells_arrow(
        q.select(F.col(query_id), F.col(vec)),
        pivots, query_id, pivot_id, vec, vec, nprobe,
        pivot_rows=pivot_rows,
    ).select(F.col(query_id), "cell")
    lut = _pq_lut_from_matrix(
        q.select(F.col(query_id), F.col(vec)), C, query_id, vec
    )
    # both join inputs are |queries|-sized model state: broadcast them so
    # the planner never sorts/shuffles tiny inputs (guide §3.1)
    qside = q_cells.join(F.broadcast(lut), query_id).join(
        F.broadcast(q.select(F.col(query_id), "__qlabel")), query_id
    )
    joined = (
        F.broadcast(qside)
        .join(coded, on="cell")
        # the budget's point: same-label candidates drop on the coded
        # scan, before any scoring — never a corpus join, never a vector
        .filter(~F.col(label_col).eqNullSafe(F.col("__qlabel")))
    )
    pool = _adc_topk(joined, query_id, corpus_id, m_sub, kc, pool_k)
    if rerank_with is None:
        return pool.filter(F.col("rnk") <= k).withColumnRenamed(
            corpus_id, "neg_id"
        )
    cand = pool.select(
        F.col(query_id), F.col(corpus_id).alias("__cid")
    )
    cvecs = rerank_with.select(
        F.col(corpus_id).alias("__cid"),
        F.col(vec).alias("__cvec"),
        _norm_exact(F.col(vec)).alias("__cnorm"),
    )
    qvecs = probes.select(
        F.col(query_id),
        F.col(vec).alias("__qvec"),
        _norm_exact(F.col(vec)).alias("__qnorm"),
    )
    # exact rerank of the pool only: the |Q|·pool_k candidate set is
    # broadcast, so the corpus-vector side streams map-side (one scan,
    # no shuffle) and only pool rows ever score
    scored = (
        F.broadcast(cand).join(cvecs, "__cid")
        .join(F.broadcast(qvecs), query_id)
        .select(
            F.col(query_id),
            F.col("__cid").alias("neg_id"),
            F.try_divide(
                _dot_scaled(F.col("__qvec"), F.col("__cvec")).cast("double")
                / F.lit(float(VSCALE)),
                F.col("__qnorm") * F.col("__cnorm"),
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy(query_id).orderBy(
        F.col("cosine").desc(), F.col("neg_id")
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def mmr_diversified_topk(
    queries: DataFrame,
    corpus: DataFrame,
    query_id: str,
    corpus_id: str,
    query_vec: str = "embedding",
    corpus_vec: str = "embedding",
    pool_k: int = 20,
    k: int = 5,
    lam: float = 0.5,
) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998): pick
    ``k`` results per query that are relevant AND mutually diverse —
    the re-ranker that stops a retrieval pipeline from returning five
    copies of the same near-dup passage. Greedy selection:
    ``next = argmax λ·rel(q,c) − (1−λ)·max_{s∈selected} sim(c,s)``.

    Two stages, like every rerank operator here: a relevance pool of
    ``pool_k`` candidates per query (exact brute-force cosine; compose
    with the IVF paths when the corpus demands it), then ``k`` greedy
    rounds over the pool. The pool is per-query tiny, so each round is
    one partitioned window over |Q|·pool_k rows and the candidate-pair
    similarity table (|Q|·pool_k² rows) is computed ONCE up front from
    the same exact scaled-integer cosine — the corpus is never touched
    after stage 1, and nothing unbounded reaches the driver.

    Determinism: relevance and pair similarities are the engine's
    bit-reproducible cosines; the greedy score is the same IEEE
    mul-sub in both engines; ties break on candidate id. Returns
    ``(query_id, corpus_id, pick_rank, rel, mmr_score)``.
    """
    pool = brute_force_topk(
        queries, corpus, query_id, corpus_id, query_vec, corpus_vec, k=pool_k
    ).select(query_id, F.col(corpus_id).alias("cid"), F.col("cosine").alias("rel"))
    cvecs = corpus.select(
        F.col(corpus_id).alias("cid"),
        F.col(corpus_vec).alias("__cv"),
        _norm_exact(F.col(corpus_vec)).alias("__cn"),
    )
    cand = pool.join(F.broadcast(cvecs), "cid").select(
        query_id, "cid", "rel", "__cv", "__cn"
    )
    a = cand.select(
        query_id, F.col("cid").alias("cid_a"),
        F.col("__cv").alias("__va"), F.col("__cn").alias("__na"),
    )
    b = cand.select(
        F.col(query_id).alias("__qb"), F.col("cid").alias("cid_b"),
        F.col("__cv").alias("__vb"), F.col("__cn").alias("__nb"),
    )
    pairs = (
        a.join(
            b,
            (a[query_id] == b["__qb"]) & (F.col("cid_a") != F.col("cid_b")),
        )
        .select(
            query_id,
            "cid_a",
            "cid_b",
            F.try_divide(
                _dot_scaled(F.col("__va"), F.col("__vb")).cast("double")
                / F.lit(float(VSCALE)),
                F.col("__na") * F.col("__nb"),
            ).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    slim = cand.select(query_id, "cid", "rel").localCheckpoint(eager=True)

    w = Window.partitionBy(query_id).orderBy(F.col("__score").desc(), "cid")
    first = (
        slim.withColumn("__score", F.lit(float(lam)) * F.col("rel"))
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            query_id, "cid", F.lit(1).alias("pick_rank"), "rel",
            F.col("__score").alias("mmr_score"),
        )
    )
    sel = first.localCheckpoint(eager=True)
    for r in range(2, k + 1):
        msim = (
            pairs.join(
                sel.select(query_id, F.col("cid").alias("cid_b")),
                [query_id, "cid_b"],
                "left_semi",
            )
            .groupBy(query_id, F.col("cid_a").alias("cid"))
            .agg(F.max("sim").alias("__maxsim"))
        )
        remaining = slim.join(sel.select(query_id, "cid"), [query_id, "cid"], "left_anti")
        scored = remaining.join(msim, [query_id, "cid"], "left").withColumn(
            "__score",
            F.lit(float(lam)) * F.col("rel")
            - F.lit(1.0 - float(lam)) * F.coalesce(F.col("__maxsim"), F.lit(0.0)),
        )
        pick = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(
                query_id, "cid", F.lit(r).alias("pick_rank"), "rel",
                F.col("__score").alias("mmr_score"),
            )
        )
        sel = sel.unionByName(pick).localCheckpoint(eager=True)
    return sel.withColumnRenamed("cid", corpus_id)


def rrf_fusion(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    query_col: str,
    id_col: str,
    rank_a: str = "rank_a",
    rank_b: str = "rank_b",
    k0: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal Rank Fusion (Cormack et al. 2009): merge two ranked
    candidate lists per query by ``Σ 1/(k0 + rank)`` — the standard
    hybrid-retrieval combiner (keyword recall ∪ vector recall) that
    needs NO score calibration between the lists, only their ranks.

    Exactness: each list contributes ``10⁹ div (k0 + rank)`` on
    BIGINTs (truncating division, identical in both engines); a
    candidate missing from one list contributes 0 from it. The fuse is
    one full-outer join on (query, id) — both inputs are per-query
    top-k tables, so the join is candidate-sized, never corpus-sized —
    and the final top-k is a partitioned window with id tie-break.

    Returns ``(query, id, in_a, in_b, rrf_score, fused_rank)``.
    """
    a = ranked_a.select(
        F.col(query_col).alias("__q"), F.col(id_col).alias("__id"),
        F.col(rank_a).alias("__ra"),
    )
    b = ranked_b.select(
        F.col(query_col).alias("__q"), F.col(id_col).alias("__id"),
        F.col(rank_b).alias("__rb"),
    )
    fused = (
        a.join(b, ["__q", "__id"], "full_outer")
        .select(
            F.col("__q").alias(query_col),
            F.col("__id").alias(id_col),
            F.col("__ra").isNotNull().alias("in_a"),
            F.col("__rb").isNotNull().alias("in_b"),
            (
                F.coalesce(
                    F.expr(f"1000000000 div ({int(k0)} + __ra)"), F.lit(0)
                )
                + F.coalesce(
                    F.expr(f"1000000000 div ({int(k0)} + __rb)"), F.lit(0)
                )
            ).cast("long").alias("rrf_score"),
        )
    )
    w = Window.partitionBy(query_col).orderBy(
        F.col("rrf_score").desc(), F.col(id_col)
    )
    return fused.withColumn("fused_rank", F.row_number().over(w)).filter(
        F.col("fused_rank") <= int(topk)
    )
