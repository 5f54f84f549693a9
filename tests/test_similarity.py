"""Similarity search: brute-force correctness vs numpy, IVF recall vs the
brute-force baseline."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from agol_pandas_spark.operators.similarity import (
    brute_force_topk,
    embedding_neardup_pairs,
    ivf_topk,
)


@pytest.fixture(scope="module")
def emb(spark, sf_dir):
    from agol_pandas_spark.catalog import Catalog

    return Catalog(spark, sf_dir).table("embeddings")


def _numpy_topk(emb_rows, qid, k=10):
    import numpy as np

    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb_rows}
    q = vecs[qid]
    scored = sorted(
        (
            (-(q @ v) / (math.sqrt(q @ q) * math.sqrt(v @ v)), vid)
            for vid, v in vecs.items()
        ),
    )[:k]
    return [vid for _, vid in scored]


def test_brute_force_matches_numpy(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(queries, emb, "query_id", "vec_id", k=10).collect()
    rows = emb.collect()
    for qid in range(3):
        engine_ids = [r["vec_id"] for r in sorted(
            (r for r in got if r["query_id"] == qid), key=lambda r: r["rnk"]
        )]
        # numpy ranks with raw doubles; quantized scores can swap *adjacent*
        # near-ties, so compare as sets plus the top hit
        assert engine_ids[0] == qid  # self-similarity = 1.0 always first
        assert set(engine_ids) == set(_numpy_topk(rows, qid, 10))


def test_cosine_bounds_and_self_similarity(emb):
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    got = brute_force_topk(queries, emb, "query_id", "vec_id", k=5).collect()
    for r in got:
        assert -1.0001 <= r["cosine"] <= 1.0001
        if r["query_id"] == r["vec_id"]:
            assert r["cosine"] == pytest.approx(1.0, abs=1e-6)


def test_ivf_recall_against_brute_force(emb):
    pivots = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    queries = emb.filter(F.col("vec_id") < 10).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(queries, emb, "query_id", "vec_id", k=10).collect()
    approx = ivf_topk(
        queries, emb, pivots, "query_id", "vec_id", "pivot_id", k=10
    ).collect()
    exact_sets = {}
    for r in exact:
        exact_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    approx_sets = {}
    for r in approx:
        approx_sets.setdefault(r["query_id"], set()).add(r["vec_id"])
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    assert sum(recalls) / len(recalls) >= 0.5  # single-probe IVF floor


def test_neardup_pairs_blocked_by_label(emb):
    pairs = embedding_neardup_pairs(
        emb, "vec_id", block_col="label", threshold=0.8,
        probe_filter=F.col("id_a") % 20 == 0,
    ).collect()
    labels = {r["vec_id"]: r["label"] for r in emb.select("vec_id", "label").collect()}
    for r in pairs:
        assert labels[r["id_a"]] == labels[r["id_b"]]
        assert r["cosine"] >= 0.8
        assert r["id_a"] < r["id_b"]


def test_kmeans_lite_deterministic_and_converging(spark, sf_dir, emb):
    from agol_pandas_spark.operators.similarity import kmeans_lite
    from pyspark.sql import functions as F

    def run(parts):
        orig = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", str(parts))
        try:
            cents, assign = kmeans_lite(emb, "vec_id", k=4, iters=2)
            rows = sorted((r.vec_id, r.cluster) for r in assign.collect())
            inertia = assign.agg(F.sum("sq_dist_scaled")).collect()[0][0]
            return cents, rows, inertia
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", orig)

    c3, r3, i3 = run(3)
    c64, r64, i64 = run(64)
    assert r3 == r64 and c3 == c64 and i3 == i64  # partition-invariant

    # more iterations must not increase inertia (Lloyd monotonicity,
    # measured on the final assignment's own distances)
    _, assign1 = kmeans_lite(emb, "vec_id", k=4, iters=1)
    i1 = assign1.agg(F.sum("sq_dist_scaled")).collect()[0][0]
    assert i3 <= i1


def test_rp_lsh_buckets_concentrate_similarity(emb, spark):
    """The signed-random-projection contract: P(same bucket) grows with
    cosine similarity, so same-bucket pairs must be measurably more
    similar than random pairs. (Top-k recall is corpus-dependent — with
    this corpus's max within-label cosine ~0.4, a 6-bit exact-bucket match
    is a coarse ~6% filter by design; the kmeans/IVF path is the
    higher-recall option.)"""
    import itertools

    import numpy as np

    from agol_pandas_spark.operators.similarity import rp_signature_col
    from agol_pandas_spark.workload.similarity_queries import RP_PLANES

    rows = emb.select(
        "vec_id", "embedding", rp_signature_col(F.col("embedding"), RP_PLANES).alias("b")
    ).collect()
    vecs = {r.vec_id: np.asarray(r.embedding, dtype=np.float64) for r in rows}
    bucket = {r.vec_id: r.b for r in rows}

    def cos(a, b):
        return float(a @ b / (np.linalg.norm(a) * np.linalg.norm(b)))

    ids = sorted(vecs)
    same, diff = [], []
    for x, y in itertools.combinations(ids, 2):
        (same if bucket[x] == bucket[y] else diff).append(cos(vecs[x], vecs[y]))
    assert same, "no same-bucket pairs at all — hashing degenerated"
    assert np.mean(same) > np.mean(diff) + 0.05, (
        f"same-bucket mean {np.mean(same):.3f} not above "
        f"random mean {np.mean(diff):.3f}"
    )


def test_rp_lsh_multiprobe_improves_recall(emb):
    """Hamming-1 multi-probe must strictly widen candidate sets and find
    more of the brute-force top-k than exact-bucket probing."""
    from agol_pandas_spark.operators.similarity import rp_lsh_topk
    from agol_pandas_spark.workload.similarity_queries import RP_PLANES

    queries = emb.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    exact = brute_force_topk(queries, emb, "query_id", "vec_id", k=5).collect()
    truth = {}
    for r in exact:
        if r["query_id"] != r["vec_id"]:
            truth.setdefault(r["query_id"], set()).add(r["vec_id"])

    def hits(bits):
        res = rp_lsh_topk(
            emb, RP_PLANES, corpus_id="vec_id",
            probe_filter=(F.col("vec_id") < 20), k=5, multiprobe_bits=bits,
        ).collect()
        found = {}
        for r in res:
            found.setdefault(r["query_id"], set()).add(r["vec_id"])
        return sum(len(truth[q] & found.get(q, set())) for q in truth)

    single, multi = hits(0), hits(1)
    assert multi > single, f"multiprobe found {multi} <= single-bucket {single}"


def test_quantize_int8_exact_values_and_zero_vector(spark):
    from agol_pandas_spark.operators.similarity import quantize_int8

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5, 0.25, 0.0]),
            (2, [0.0, 0.0, 0.0, 0.0]),
        ],
        "vec_id int, embedding array<float>",
    )
    out = {r["vec_id"]: r for r in quantize_int8(df, "vec_id", "embedding").collect()}
    # scale = 1.0/127; q = floor(v*127 + 0.5) clamped
    assert out[1]["q"] == [127, -63, 32, 0]
    assert out[1]["q_sum"] == 127 - 63 + 32
    assert out[1]["q_l1"] == 127 + 63 + 32
    assert out[1]["q_sq"] == 127 * 127 + 63 * 63 + 32 * 32
    assert out[2]["q"] == [0, 0, 0, 0] and out[2]["scale"] == 0.0


def test_pq_encode_and_adc_contract(emb, spark):
    """PQ codes are valid (M codes in [0, K)); a seed vector's best match
    under ADC is itself (its codes reconstruct its own subvectors
    exactly); ADC top-10 overlaps the exact dot-product top-10."""
    import numpy as np

    from agol_pandas_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook_from_seeds,
        pq_encode,
    )

    cb = pq_codebook_from_seeds(emb, "vec_id")
    assert cb.count() == 4 * 8
    enc = pq_encode(emb, cb, "vec_id")
    codes = {r["vec_id"]: r["codes"] for r in enc.collect()}
    assert all(len(c) == 4 and all(0 <= x < 8 for x in c) for c in codes.values())
    # seed vectors encode to their own id in every subspace
    for seed in range(8):
        assert codes[seed] == [seed] * 4

    # exactness contract: for vectors whose subvectors ARE centroids, the
    # quantization error is zero, so ADC score == exact dot product and
    # ADC ranking == exact ranking
    rng = np.random.default_rng(7)
    seeds = {r["vec_id"]: list(r["embedding"]) for r in emb.filter(F.col("vec_id") < 8).collect()}
    composed = []
    for i in range(20):
        picks = [(i + m * 3) % 8 for m in range(4)]  # varied code patterns
        v = []
        for m, p in enumerate(picks):
            v.extend(seeds[p][m * 16 : (m + 1) * 16])
        composed.append((100 + i, [float(x) for x in v]))
    comp = spark.createDataFrame(composed, "vec_id long, embedding array<float>")
    comp_enc = pq_encode(comp, cb, "vec_id")
    for r in comp_enc.collect():
        i = r["vec_id"] - 100
        assert r["codes"] == [(i + m * 3) % 8 for m in range(4)]

    q_rows = [(0, [float(x) for x in rng.standard_normal(64)])]
    queries = spark.createDataFrame(q_rows, "query_id long, embedding array<float>")
    adc = {
        r["vec_id"]: (r["rnk"], r["adc_score"])
        for r in pq_adc_topk(queries, comp_enc, cb, "query_id", "vec_id", k=20).collect()
    }
    q = np.asarray(q_rows[0][1], dtype=np.float64)
    exact = {vid: float(q @ np.asarray(v, dtype=np.float64)) for vid, v in composed}
    for vid, (rnk, score) in adc.items():
        assert abs(score - exact[vid]) < 1e-5, (vid, score, exact[vid])
    exact_rank = sorted(exact, key=lambda v: (-exact[v], v))
    adc_rank = [vid for vid, _ in sorted(adc.items(), key=lambda kv: kv[1][0])]
    assert adc_rank == exact_rank


def test_pq_with_kmeans_trained_codebook(emb, spark):
    """The production path: per-subspace kmeans_lite codebooks slot into
    pq_encode/pq_adc_topk unchanged (the operators are codebook-source
    agnostic), and the trained codebook reconstructs the corpus at least
    as well as the seeded one (lower total quantization error)."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.operators.similarity import (
        _l2_scaled,
        kmeans_lite,
        pq_adc_topk,
        pq_codebook_from_seeds,
        pq_encode,
    )

    M, K, sub = 4, 8, 16
    parts = []
    for m in range(M):
        sv = emb.select(
            F.col("vec_id"),
            F.slice(F.col("embedding"), m * sub + 1, sub).alias("sv"),
        )
        centroids, _ = kmeans_lite(sv, "vec_id", "sv", k=K, iters=2)
        rows = [(m, c, [float(x) for x in cent]) for c, cent in enumerate(centroids)]
        parts.append(
            spark.createDataFrame(rows, "m int, code int, cent array<double>")
        )
    trained = parts[0]
    for p in parts[1:]:
        trained = trained.unionByName(p)

    enc = pq_encode(emb, trained, "vec_id")
    codes = {r["vec_id"]: r["codes"] for r in enc.collect()}
    assert all(len(c) == 4 and all(0 <= x < K for x in c) for c in codes.values())

    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    adc = pq_adc_topk(queries, enc, trained, "query_id", "vec_id", k=5)
    got = {r["query_id"] for r in adc.collect()}
    assert got == {0, 1}
    assert adc.count() == 10  # 5 per query

    def total_qerror(cb):
        enc_ = pq_encode(emb, cb, "vec_id")
        ms = F.explode(F.sequence(F.lit(0), F.lit(M - 1))).alias("m")
        pieces = emb.select(F.col("vec_id"), F.col("embedding"), ms).select(
            "vec_id", "m",
            F.slice(F.col("embedding"), F.col("m") * sub + 1, sub).alias("sv"),
        )
        joined = (
            pieces.join(enc_, "vec_id")
            .withColumn("code", F.expr("codes[m]"))
            .join(F.broadcast(cb), ["m", "code"])
        )
        return joined.agg(
            F.sum(_l2_scaled(F.col("sv"), F.col("cent"))).alias("e")
        ).collect()[0]["e"]

    seeded = pq_codebook_from_seeds(emb, "vec_id")
    assert total_qerror(trained) <= total_qerror(seeded)

def test_assign_arrow_matches_sql_path(emb, spark):
    """The Arrow build-side assignment is bit-identical to the pure-SQL
    aggregation path — same scaled-integer arithmetic, same tie and
    NULL ordering — including zero-norm (NULL-cosine) corpus vectors."""
    from agol_pandas_spark.operators.similarity import assign_to_pivots

    pivots = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    dim = len(emb.first()["embedding"])
    # add a zero-norm vector: its cosine to EVERY pivot is NULL (x/0),
    # so it must land in the smallest pivot's cell on both paths
    zero = spark.createDataFrame(
        [(99999, [0.0] * dim, 0)], "vec_id long, embedding array<float>, label int"
    )
    corpus = emb.unionByName(zero)
    a = {
        (r["vec_id"], r["cell"])
        for r in assign_to_pivots(
            corpus, pivots, "vec_id", "pivot_id", method="arrow"
        ).collect()
    }
    s = {
        (r["vec_id"], r["cell"])
        for r in assign_to_pivots(
            corpus, pivots, "vec_id", "pivot_id", method="sql"
        ).collect()
    }
    assert a == s
    assert (99999, 0) in a  # NULL cosines lose; smallest pivot id wins


def test_assign_topn_arrow_matches_sql_path(emb, spark):
    """The Arrow multi-probe assignment (n_cells > 1) is bit-identical
    to the crossJoin+window SQL path — same scaled-integer cosine, same
    tie order (smallest pivot id), NaN-first / NULL-last ordering — for
    zero-norm, NULL, and ragged (wrong-dim) vectors, and when n_cells
    exceeds the pivot count (all cells emitted)."""
    from agol_pandas_spark.operators.similarity import assign_to_pivots

    pivots = emb.filter(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    dim = len(emb.first()["embedding"])
    adv = spark.createDataFrame(
        [
            (99999, [0.0] * dim, 0),  # zero-norm: every cosine NULL
            (99998, None, 0),  # NULL vector
            (99997, [1.0] * (dim - 3), 0),  # ragged: wrong dimension
        ],
        "vec_id long, embedding array<float>, label int",
    )
    corpus = emb.unionByName(adv)
    results = {}
    for n in (3, 1000):
        a = {
            (r["vec_id"], r["cell"])
            for r in assign_to_pivots(
                corpus, pivots, "vec_id", "pivot_id",
                n_cells=n, method="arrow",
            ).collect()
        }
        s = {
            (r["vec_id"], r["cell"])
            for r in assign_to_pivots(
                corpus, pivots, "vec_id", "pivot_id",
                n_cells=n, method="sql",
            ).collect()
        }
        assert a == s, f"n_cells={n}"
        results[n] = a
    # NULL-cosine vectors (zero-norm / NULL / ragged) take the n
    # smallest pivot ids
    pid3 = sorted(r["pivot_id"] for r in pivots.collect())[:3]
    for vid in (99999, 99998, 99997):
        assert {(vid, p) for p in pid3} <= results[3]


def test_assign_sql_path_allows_map_payload(emb, spark):
    """min_by keys the argmin on (cosine, pivot id) only, so unorderable
    payload columns (MapType) pass through the SQL path."""
    from agol_pandas_spark.operators.similarity import assign_to_pivots

    pivots = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    corpus = emb.limit(20).withColumn(
        "meta", F.create_map(F.lit("k"), F.col("vec_id").cast("string"))
    )
    got = assign_to_pivots(corpus, pivots, "vec_id", "pivot_id", method="sql")
    rows = got.collect()
    assert len(rows) == 20
    assert all(r["meta"] is not None for r in rows)


def test_pq_encode_arrow_matches_sql(emb):
    from agol_pandas_spark.operators.similarity import (
        pq_codebook_from_seeds,
        pq_encode,
    )

    cb = pq_codebook_from_seeds(emb, "vec_id")
    a = {(r["vec_id"], tuple(r["codes"]))
         for r in pq_encode(emb, cb, "vec_id", method="arrow").collect()}
    s = {(r["vec_id"], tuple(r["codes"]))
         for r in pq_encode(emb, cb, "vec_id", method="sql").collect()}
    assert a == s


def test_sparse_codebook_fails_fast(emb, spark):
    """A codebook with non-contiguous codes must raise, not silently
    mis-index the flattened ADC LUT into NULL scores and garbage ranks."""
    from agol_pandas_spark.operators.similarity import (
        pq_adc_topk,
        pq_codebook_from_seeds,
        pq_encode,
        validate_codebook,
    )

    cb = pq_codebook_from_seeds(emb, "vec_id")
    sparse = cb.filter(F.col("code") != 3)  # hole in every subspace
    offset = cb.withColumn("code", F.col("code") + 1)
    queries = emb.filter(F.col("vec_id") < 2).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    enc = pq_encode(emb.limit(50), cb, "vec_id")
    for bad in (sparse, offset):
        with pytest.raises(ValueError):
            validate_codebook(bad, 4, 8)
        with pytest.raises(ValueError):
            pq_adc_topk(queries, enc, bad, "query_id", "vec_id").collect()
        with pytest.raises(ValueError):
            pq_encode(emb.limit(10), bad, "vec_id").collect()
    # wrong assumed k_codes also fails fast
    with pytest.raises(ValueError):
        pq_adc_topk(queries, enc, cb, "query_id", "vec_id", k_codes=16).collect()


def test_kmeans_arrow_matches_sql(emb):
    """Arrow and SQL Lloyd iterations produce identical centroids and
    assignments (same scaled-int distance arithmetic, same tie rule)."""
    from agol_pandas_spark.operators.similarity import kmeans_lite

    ca, aa = kmeans_lite(emb, "vec_id", k=4, iters=2, method="arrow")
    cs, as_ = kmeans_lite(emb, "vec_id", k=4, iters=2, method="sql")
    assert ca == cs
    rows_a = {(r["vec_id"], r["cluster"], r["sq_dist_scaled"]) for r in aa.collect()}
    rows_s = {(r["vec_id"], r["cluster"], r["sq_dist_scaled"]) for r in as_.collect()}
    assert rows_a == rows_s


def test_round_away_kernel_three_way_agreement(spark):
    """The Arrow kernels' ties-away rounding must agree with BOTH Spark's
    ROUND(double) and DuckDB's round() on adversarial values: exact
    half-integers, one-ulp-off halves, binade edges, negatives, random
    floats — the exactness claim behind the bit-identical build paths."""
    import math

    import duckdb
    import numpy as np

    from agol_pandas_spark.operators.similarity import _np_round_away

    vals = [0.0, 0.5, -0.5, 1.5, -1.5, 2.5, 0.49999999999999994,
            -0.49999999999999994, 1.4999999999999998, 3.4999999999999996,
            1e9 + 0.5, 123456789.5, -123456789.5, 0.1 * 3, 2**40 + 0.5,
            math.nextafter(7.5, 0.0), math.nextafter(7.5, 100.0)]
    # deterministic pseudo-random sample across magnitudes (no global seed)
    rng = np.random.RandomState(1234)
    vals += list((rng.rand(500) - 0.5) * np.logspace(-3, 12, 500))
    arr = np.asarray(vals, dtype=np.float64)

    kernel = _np_round_away(arr).astype(np.int64)
    duck = duckdb.connect().execute(
        "SELECT CAST(round(x) AS BIGINT) FROM (SELECT unnest(?) AS x)", [list(map(float, arr))]
    ).fetchall()
    duck = np.asarray([r[0] for r in duck], dtype=np.int64)
    sdf = spark.createDataFrame([(float(v),) for v in arr], "x double")
    from pyspark.sql import functions as F2

    srows = sdf.select(F2.round("x").cast("long").alias("r")).collect()
    spark_r = np.asarray([r["r"] for r in srows], dtype=np.int64)
    assert (kernel == duck).all(), arr[kernel != duck][:5]
    assert (kernel == spark_r).all(), arr[kernel != spark_r][:5]


def test_label_centroids_exact_values(spark):
    from agol_pandas_spark.operators.similarity import label_centroids

    df = spark.createDataFrame(
        [
            (1, [1.0, -0.5], "a"),
            (2, [0.0, 0.25], "a"),
            (3, [2.0, 2.0], "b"),
        ],
        ["vec_id", "embedding", "label"],
    )
    rows = {(r.label, r.dim): r for r in
            label_centroids(df, "vec_id", "embedding", "label").collect()}
    assert rows[("a", 0)].sum_scaled == 1_000_000
    assert rows[("a", 0)].centroid_micro == 500_000
    # negative sum: truncation toward zero, matching DuckDB //
    assert rows[("a", 1)].sum_scaled == -250_000
    assert rows[("a", 1)].centroid_micro == -125_000
    assert rows[("b", 0)].n_vectors == 1


class TestMatryoshkaRerank:
    def test_full_prefix_equals_brute_force(self, spark, emb):
        """prefix_dim = full dim makes the coarse stage exact, so with
        coarse_c >= k the result must equal brute-force top-k exactly."""
        from agol_pandas_spark.operators.similarity import (
            brute_force_topk,
            matryoshka_rerank_topk,
        )

        dim = len(emb.first()["embedding"])
        queries = emb.filter(F.col("vec_id") < 3).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = matryoshka_rerank_topk(
            queries, emb, "query_id", "vec_id",
            prefix_dim=dim, coarse_c=20, k=5,
        )
        want = brute_force_topk(queries, emb, "query_id", "vec_id", k=5)
        g = {(r["query_id"], r["rnk"]): (r["vec_id"], r["cosine"]) for r in got.collect()}
        w = {(r["query_id"], r["rnk"]): (r["vec_id"], r["cosine"]) for r in want.collect()}
        assert g == w

    def test_prefix_recall_reasonable(self, spark, emb):
        """16/64-dim coarse stage with a generous candidate budget should
        recover most of the exact top-10 on the synthetic embeddings."""
        from agol_pandas_spark.operators.similarity import (
            brute_force_topk,
            matryoshka_rerank_topk,
        )

        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        got = matryoshka_rerank_topk(
            queries, emb, "query_id", "vec_id",
            prefix_dim=16, coarse_c=50, k=10,
        )
        want = brute_force_topk(queries, emb, "query_id", "vec_id", k=10)
        g = {(r["query_id"], r["vec_id"]) for r in got.collect()}
        w = {(r["query_id"], r["vec_id"]) for r in want.collect()}
        assert len(g & w) / len(w) >= 0.5

    def test_validation(self, spark, emb):
        from agol_pandas_spark.operators.similarity import matryoshka_rerank_topk

        with pytest.raises(ValueError, match="prefix_dim"):
            matryoshka_rerank_topk(emb, emb, "vec_id", "vec_id", prefix_dim=0)


def test_mmr_skips_near_duplicate_of_first_pick(spark):
    """With the corpus containing an exact copy of the best hit, plain
    top-k returns both copies back to back; MMR's round 2 must skip the
    copy for the most-relevant DIVERSE candidate, and every pick's score
    must equal the greedy Python recompute."""
    import math

    from agol_pandas_spark.operators.similarity import (
        brute_force_topk,
        mmr_diversified_topk,
    )

    q = [1.0, 0.0, 0.0, 0.0]
    vecs = {
        10: [0.7, 0.7, 0.0, 0.0],   # best hit (rel-tie broken by id)
        11: [0.7, 0.7, 0.0, 0.0],   # its exact copy: sim to 10 is 1.0
        12: [0.7, -0.7, 0.0, 0.0],  # equally relevant, orthogonal to 10
        13: [0.0, 0.0, 1.0, 0.0],   # irrelevant but fully diverse
    }
    corpus = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()], "vec_id long, embedding array<float>"
    )
    queries = spark.createDataFrame(
        [(0, q)], "query_id long, embedding array<float>"
    )
    got = {
        r["pick_rank"]: (r["vec_id"], r["mmr_score"])
        for r in mmr_diversified_topk(
            queries, corpus, "query_id", "vec_id", pool_k=4, k=3, lam=0.5
        ).collect()
    }
    # top-k control: ranks 1-2 are the duplicate pair
    topk = {
        r["rnk"]: r["vec_id"]
        for r in brute_force_topk(
            queries, corpus, "query_id", "vec_id", k=2
        ).collect()
    }
    assert sorted((topk[1], topk[2])) == [10, 11]
    assert got[1][0] == 10        # rel tie among 10/11/12 -> smallest id
    assert got[2][0] == 12        # orthogonal twin beats the exact copy
    assert got[3][0] == 13        # even rel=0 diverse beats the copy

    # greedy reference on exact quantized cosines (embeddings are
    # float32 columns: quantize the float32 representations)
    import numpy as np

    def cos(a, b):
        a = [float(np.float32(x)) for x in a]
        b = [float(np.float32(x)) for x in b]
        dot = sum(round(x * y * 1e9) for x, y in zip(a, b)) / 1e9
        na = math.sqrt(sum(round(x * x * 1e9) for x in a) / 1e9)
        nb = math.sqrt(sum(round(x * x * 1e9) for x in b) / 1e9)
        return dot / (na * nb)

    rel = {i: cos(q, v) for i, v in vecs.items()}
    sel = []
    for r in range(1, 4):
        best = None
        for i in sorted(vecs):
            if i in sel:
                continue
            ms = max((cos(vecs[i], vecs[s]) for s in sel), default=0.0)
            score = 0.5 * rel[i] - 0.5 * ms
            if best is None or score > best[1]:
                best = (i, score)
        sel.append(best[0])
        assert got[r] == best, r


def test_rrf_fusion_semantics(spark):
    """RRF = exact 1e9 div (k0+rank) sums; one-list candidates score
    their single contribution; ties break on id."""
    from agol_pandas_spark.operators.similarity import rrf_fusion

    a = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], "q long, id long, ra int"
    )
    b = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2)], "q long, id long, rb int"
    )
    got = {
        r["id"]: (r["in_a"], r["in_b"], r["rrf_score"], r["fused_rank"])
        for r in rrf_fusion(a, b, "q", "id", "ra", "rb", k0=60, topk=10).collect()
    }
    s = lambda r: 10**9 // (60 + r)
    assert got[11] == (True, True, s(2) + s(1), 1)   # in both lists
    assert got[10] == (True, False, s(1), 2)
    assert got[13] == (False, True, s(2), 3)         # vector-only candidate
    assert got[12] == (True, False, s(3), 4)
    # exact tie (same single-list rank) breaks on smaller id
    a2 = spark.createDataFrame([(0, 20, 1)], "q long, id long, ra int")
    b2 = spark.createDataFrame([(0, 19, 1)], "q long, id long, rb int")
    got2 = [
        (r["id"], r["fused_rank"])
        for r in rrf_fusion(a2, b2, "q", "id", "ra", "rb").collect()
    ]
    assert sorted(got2) == [(19, 1), (20, 2)]


class TestIvfPqIndexLifecycle:
    """Persisted IVF-PQ index (VERDICT r6 item 2): build once, probe
    many, append O(batch); stored-params-or-raise like the LSH index."""

    def _parts(self, spark, sf_dir):
        from agol_pandas_spark.catalog import Catalog
        from agol_pandas_spark.operators.similarity import (
            pq_codebook_from_seeds,
        )

        emb = Catalog(spark, sf_dir).table("embeddings")
        pivots = emb.filter(F.col("vec_id") % 100 == 0).select(
            F.col("vec_id").alias("pivot_id"), "embedding"
        )
        cb = pq_codebook_from_seeds(emb, "vec_id")
        queries = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("query_id"), "embedding"
        )
        return emb, pivots, cb, queries

    def test_probe_matches_build_and_query(self, spark, sf_dir, tmp_path):
        from agol_pandas_spark.catalog import Catalog
        from agol_pandas_spark.operators.similarity import (
            ivf_pq_topk,
            probe_ivfpq_index,
            write_ivfpq_index,
        )

        emb, pivots, cb, queries = self._parts(spark, sf_dir)
        cat = Catalog(spark, str(tmp_path))
        write_ivfpq_index(cat, "idx", emb, pivots, cb,
                          corpus_id="vec_id", pivot_id="pivot_id")
        got = sorted(
            tuple(r) for r in probe_ivfpq_index(
                cat, "idx", queries, query_id="query_id", k=10, nprobe=3
            ).collect()
        )
        want = sorted(
            tuple(r) for r in ivf_pq_topk(
                queries, emb, pivots, cb,
                query_id="query_id", corpus_id="vec_id",
                pivot_id="pivot_id", k=10, nprobe=3,
            ).collect()
        )
        assert got == want  # bit-identical scores AND ranks

    def test_append_is_incremental_and_idempotent(self, spark, sf_dir, tmp_path):
        from agol_pandas_spark.catalog import Catalog
        from agol_pandas_spark.operators.similarity import (
            append_ivfpq_index,
            probe_ivfpq_index,
            write_ivfpq_index,
        )

        emb, pivots, cb, queries = self._parts(spark, sf_dir)
        old = emb.filter(F.col("vec_id") % 10 != 7)
        late = emb.filter(F.col("vec_id") % 10 == 7)
        cat = Catalog(spark, str(tmp_path))
        write_ivfpq_index(cat, "idx", old, pivots, cb,
                          corpus_id="vec_id", pivot_id="pivot_id")
        n_old = cat.table("idx").count()
        before = {
            r.vec_id
            for r in probe_ivfpq_index(
                cat, "idx", queries, query_id="query_id", k=50
            ).collect()
        }
        assert not any(v % 10 == 7 for v in before)
        append_ivfpq_index(cat, "idx", late)
        assert cat.table("idx").count() == n_old + late.count()
        after = {
            r.vec_id
            for r in probe_ivfpq_index(
                cat, "idx", queries, query_id="query_id", k=50
            ).collect()
        }
        assert any(v % 10 == 7 for v in after)
        # re-sending the batch cannot double-index (keyed INSERT)
        append_ivfpq_index(cat, "idx", late)
        assert cat.table("idx").count() == n_old + late.count()

    def test_param_mismatch_and_missing_meta_raise(self, spark, sf_dir, tmp_path):
        import pytest as _pytest

        from agol_pandas_spark.catalog import Catalog
        from agol_pandas_spark.errors import (
            TableNotFoundError,
            VectorIndexParamError,
        )
        from agol_pandas_spark.operators.similarity import (
            probe_ivfpq_index,
            write_ivfpq_index,
        )

        emb, pivots, cb, queries = self._parts(spark, sf_dir)
        cat = Catalog(spark, str(tmp_path))
        with _pytest.raises(TableNotFoundError, match="write_ivfpq_index"):
            probe_ivfpq_index(cat, "ghost", queries, query_id="query_id")
        write_ivfpq_index(cat, "idx", emb, pivots, cb,
                          corpus_id="vec_id", pivot_id="pivot_id",
                          m_subspaces=4, k_codes=8)
        with _pytest.raises(VectorIndexParamError, match="m_subspaces=4"):
            probe_ivfpq_index(cat, "idx", queries, query_id="query_id",
                              m_subspaces=8)
        with _pytest.raises(VectorIndexParamError, match="k_codes=8"):
            probe_ivfpq_index(cat, "idx", queries, query_id="query_id",
                              k_codes=16)
        # matching explicit params are fine
        assert probe_ivfpq_index(
            cat, "idx", queries, query_id="query_id",
            m_subspaces=4, k_codes=8,
        ).count() > 0


def test_ivfpq_probe_rejects_mixed_layout_state(spark, sf_dir, tmp_path):
    """Code-review r7 regression: the index is four independently
    committed tables, so an interrupted rebuild can leave the meta
    describing one layout and the codebook another — the probe must
    raise, never score the flattened LUT into silent garbage."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import VectorIndexParamError
    from agol_pandas_spark.operators.similarity import (
        pq_codebook_from_seeds,
        probe_ivfpq_index,
        write_ivfpq_index,
    )

    emb = Catalog(spark, sf_dir).table("embeddings")
    pivots = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    cat = Catalog(spark, str(tmp_path))
    write_ivfpq_index(cat, "idx", emb, pivots,
                      pq_codebook_from_seeds(emb, "vec_id"),
                      corpus_id="vec_id", pivot_id="pivot_id",
                      m_subspaces=4, k_codes=8)
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    # simulate a crashed rebuild: codebook swapped to an 8-subspace
    # layout while the meta still declares 4
    cat.write(
        pq_codebook_from_seeds(emb, "vec_id", m_subspaces=8, k_codes=8),
        "idx__ivfpq_codebook", mode="overwrite",
    )
    with _pytest.raises((VectorIndexParamError, ValueError)):
        probe_ivfpq_index(cat, "idx", queries, query_id="query_id")


def test_ivfpq_probe_rejects_null_codes_row(spark, sf_dir, tmp_path):
    """A NULL first ``codes`` row cannot be checked against the meta's
    layout: the probe raises instead of skipping the check (``None``
    from the width read means an EMPTY index only)."""
    import pytest as _pytest

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import VectorIndexParamError
    from agol_pandas_spark.operators.similarity import (
        pq_codebook_from_seeds,
        probe_ivfpq_index,
        write_ivfpq_index,
    )

    emb = Catalog(spark, sf_dir).table("embeddings").filter(
        F.col("vec_id") < 400
    )
    pivots = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    cat = Catalog(spark, str(tmp_path))
    write_ivfpq_index(cat, "idx", emb, pivots,
                      pq_codebook_from_seeds(emb, "vec_id"),
                      corpus_id="vec_id", pivot_id="pivot_id",
                      m_subspaces=4, k_codes=8)
    coded = cat.table("idx")
    nulled = coded.withColumn(
        "codes", F.lit(None).cast(coded.schema["codes"].dataType)
    )
    cat.write(nulled.coalesce(1), "idx", mode="overwrite")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    with _pytest.raises(VectorIndexParamError, match="NULL codes"):
        probe_ivfpq_index(cat, "idx", queries, query_id="query_id")


def test_ivfpq_unmappable_model_type_raises_before_commit(
    spark, sf_dir, tmp_path
):
    """The model tables are Arrow-typed from the Spark schema BEFORE any
    index table commits: pivots whose vectors Arrow cannot carry as
    collected (an ML ``VectorUDT``) raise and leave no partial index."""
    import pyarrow as pa
    import pytest as _pytest
    from pyspark.ml.functions import array_to_vector

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.similarity import (
        pq_codebook_from_seeds,
        write_ivfpq_index,
    )

    emb = Catalog(spark, sf_dir).table("embeddings").filter(
        F.col("vec_id") < 400
    )
    pivots = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("pivot_id"),
        array_to_vector("embedding").alias("embedding"),
    )
    cat = Catalog(spark, str(tmp_path))
    with _pytest.raises(pa.ArrowException):
        write_ivfpq_index(cat, "idx", emb, pivots,
                          pq_codebook_from_seeds(emb, "vec_id"),
                          corpus_id="vec_id", pivot_id="pivot_id")
    assert cat.list_tables() == []


def test_arrow_lut_bit_identical_to_sql_lut(emb, spark):
    """r11 optimization guard: the Arrow LUT kernel
    (``_pq_lut_from_matrix``, one map — the path every ADC scorer now
    uses) must be BIT-identical to the relational reference shape
    (``_pq_lut``: explode → codebook join → collect_list), including on
    null and short query vectors."""
    from pyspark.sql import types as T

    from agol_pandas_spark.operators.similarity import (
        _collect_codebook,
        _pq_lut,
        _pq_lut_from_matrix,
        pq_codebook_from_seeds,
    )

    cb = pq_codebook_from_seeds(emb, "vec_id")
    C, _ = _collect_codebook(cb, 4)
    queries = emb.filter(F.col("vec_id") < 7).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    # adversarial rows: null vector, short vector (one valid subspace)
    extra = spark.createDataFrame(
        [(1000, None), (1001, [0.5] * 16)],
        T.StructType(
            [
                T.StructField("qid", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    queries = queries.unionByName(extra)
    sql_rows = {
        r["qid"]: r["__lut"]
        for r in _pq_lut(queries, cb, "qid", "embedding", 4).collect()
    }
    arrow_rows = {
        r["qid"]: r["__lut"]
        for r in _pq_lut_from_matrix(queries, C, "qid", "embedding").collect()
    }
    assert set(sql_rows) == set(arrow_rows)
    for qid, arrow_lut in arrow_rows.items():
        sql_lut = sql_rows[qid]
        assert arrow_lut == sql_lut, f"LUT mismatch for qid={qid}"


def test_fused_assign_encode_matches_chained(emb, spark):
    """r11 optimization guard: the fused assignment+encoding kernel
    (``_assign_encode_arrow``, one boundary crossing) must reproduce the
    chained ``assign_to_pivots`` → ``_pq_encode_from_matrix`` pair
    bit-for-bit, including null/short vectors (idx 0 → smallest pivot
    id; codes NULL)."""
    from pyspark.sql import types as T

    from agol_pandas_spark.operators.similarity import (
        _assign_encode_arrow,
        _collect_codebook,
        _pq_encode_from_matrix,
        assign_to_pivots,
        pq_codebook_from_seeds,
    )

    cb = pq_codebook_from_seeds(emb, "vec_id")
    C, _ = _collect_codebook(cb, 4)
    pivots = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    corpus = emb.filter(F.col("vec_id") < 300).select("vec_id", "embedding")
    extra = spark.createDataFrame(
        [(9000, None), (9001, [0.25] * 16)],
        T.StructType(
            [
                T.StructField("vec_id", T.LongType()),
                T.StructField("embedding", T.ArrayType(T.FloatType())),
            ]
        ),
    )
    corpus = corpus.unionByName(extra)
    chained = _pq_encode_from_matrix(
        assign_to_pivots(
            corpus, pivots, "vec_id", "pivot_id", "embedding", "embedding"
        ),
        C,
        "vec_id",
        "embedding",
        keep_cols=("cell",),
    )
    fused = _assign_encode_arrow(
        corpus, pivots, C, "vec_id", "pivot_id", "embedding"
    )
    assert fused.columns == chained.columns
    c_rows = {r["vec_id"]: (r["cell"], r["codes"]) for r in chained.collect()}
    f_rows = {r["vec_id"]: (r["cell"], r["codes"]) for r in fused.collect()}
    assert c_rows == f_rows


def test_model_tables_driver_write_roundtrip(spark, sf_dir, tmp_path):
    """r12: write_ivfpq_index commits the broadcast-sized pivots/codebook
    model tables DRIVER-SIDE (Catalog.write_local — zero Spark jobs).
    The stored tables must read back bit-identically to the source
    DataFrames through BOTH readers that consume them: Spark
    (catalog.table — append path) and pyarrow (_read_model_rows — probe
    path)."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.similarity import (
        _read_model_rows,
        pq_codebook_from_seeds,
        write_ivfpq_index,
    )

    emb = Catalog(spark, sf_dir).table("embeddings")
    pivots = emb.filter(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("pivot_id"), "embedding"
    )
    cb = pq_codebook_from_seeds(emb, "vec_id")
    cat = Catalog(spark, str(tmp_path))
    write_ivfpq_index(cat, "idx", emb, pivots, cb,
                      corpus_id="vec_id", pivot_id="pivot_id")

    want_piv = sorted((r[0], tuple(r[1])) for r in pivots.collect())
    got_spark = sorted(
        (r[0], tuple(r[1]))
        for r in cat.table("idx__ivfpq_pivots").collect()
    )
    got_pa = sorted(
        (r[0], tuple(r[1]))
        for r in _read_model_rows(
            cat, "idx__ivfpq_pivots", ["pivot_id", "embedding"]
        )
    )
    assert got_spark == want_piv  # exact float64 bits, exact ids
    assert got_pa == want_piv

    want_cb = sorted(
        (r["m"], r["code"], tuple(r["cent"])) for r in cb.collect()
    )
    got_cb = sorted(
        (m, c, tuple(v))
        for m, c, v in _read_model_rows(
            cat, "idx__ivfpq_codebook", ["m", "code", "cent"]
        )
    )
    assert got_cb == want_cb
