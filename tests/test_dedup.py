"""Dedup operators against planted ground truth (FIXTURES.md docs_dupes
strategy: exact copies, near-copies, uniques — built inline)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from agol_pandas_spark.operators.dedup import (
    exact_dedup,
    latest_wins_dedup,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
)

BASE = (
    "the quick brown fox jumps over the lazy dog while the cat watches "
    "from the warm windowsill and the birds sing in the garden outside"
)
NEAR = BASE.replace("warm", "cold")  # one-token edit → high jaccard
FAR = (
    "completely different content about spark distributed query engines "
    "processing parquet tables with columnar execution and shuffles"
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, BASE, "g1"),
        (2, BASE, "g1"),        # exact dup of 1
        (3, NEAR, "g1"),        # near dup of 1
        (4, FAR, None),
        (5, "tiny", None),      # < shingle size
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, dup_group string")


def test_exact_dedup_collapses_exact_groups(docs):
    out = exact_dedup(docs, keys=["text"], tie_breakers=[F.col("doc_id")])
    ids = sorted(r["doc_id"] for r in out.collect())
    assert ids == [1, 3, 4, 5]  # survivor = min doc_id per text


def test_latest_wins(spark):
    rows = [(1, 10, "old"), (1, 20, "new"), (2, 5, "only")]
    df = spark.createDataFrame(rows, "k long, ts long, v string")
    out = latest_wins_dedup(df, keys=["k"], ts_col="ts")
    got = {r["k"]: r["v"] for r in out.collect()}
    assert got == {1: "new", 2: "only"}


def test_minhash_identical_docs_have_identical_signatures(docs):
    sig = minhash_signatures(docs, "doc_id", "text").collect()
    by_id = {r["doc_id"]: tuple(r[f"mh_{i}"] for i in range(8)) for r in sig}
    assert by_id[1] == by_id[2]
    assert by_id[1] != by_id[4]


def test_minhash_lsh_finds_planted_pairs(docs):
    pairs = minhash_dedup_pairs(docs, "doc_id", "text", min_agreement=8)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got  # exact dup always caught
    far_pairs = {p for p in got if 4 in p or 5 in p}
    assert not far_pairs  # unrelated docs not paired at full agreement


def test_simhash_exact_dups_equal_far_differs(docs):
    s = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    assert s[1] == s[2]
    assert s[1] != s[4]
    assert bin(s[1] ^ s[3]).count("1") <= 4  # near dup within small hamming dist


def test_ngram_jaccard_ground_truth(docs):
    blocked = docs.withColumn("blk", F.lit(1))
    pairs = ngram_jaccard_pairs(blocked, "doc_id", "text", block_cols=("blk",))
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs.collect()}
    assert got[(1, 2)] == 1.0
    assert 0.5 < got[(1, 3)] < 1.0
    assert (1, 4) not in got  # zero shared shingles → absent


def test_simhash_band_pairs_recall_contract(spark):
    """Pigeonhole guarantee: EVERY pair at Hamming <= SIMHASH_BANDS-1 must
    appear (banding recall 1.0), and emitted distances must equal the
    brute-force XOR popcount. Fixture plants 6 copies of one doc with
    0..2 token flips plus far docs."""
    from agol_pandas_spark.operators.dedup import (
        SIMHASH_BANDS,
        simhash,
        simhash_band_pairs,
    )

    base = (
        "alpha bravo charlie delta echo foxtrot golf hotel india juliet "
        "kilo lima mike november oscar papa quebec romeo sierra tango"
    )
    rows = [
        (1, base),
        (2, base),                                # hamming 0
        (3, base.replace("echo", "zulu")),        # small flip
        (4, base.replace("kilo", "xray").replace("papa", "yankee")),
        (5, "unrelated text about distributed columnar query planning"),
        (6, "another unrelated document mentioning adaptive execution"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs, "doc_id", "text").collect()}
    max_h = SIMHASH_BANDS - 1
    expected = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for a in sigs
        for b in sigs
        if a < b and bin(sigs[a] ^ sigs[b]).count("1") <= max_h
    }
    assert (1, 2) in expected  # the planted exact dup is in range

    got = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in simhash_band_pairs(docs, "doc_id", "text", max_hamming=max_h).collect()
    }
    assert got == expected


def test_lsh_hot_bucket_cap(spark):
    """max_bucket_size drops oversized buckets before the self-join: 20
    identical docs form one 20-doc bucket per band (190 pairs); capped at
    10, those buckets vanish while a small distinct pair survives."""
    from agol_pandas_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = [(i, "common boilerplate text repeated across the whole corpus here") for i in range(20)]
    rows += [(100, "rare unique pair document alpha beta gamma delta epsilon"),
             (101, "rare unique pair document alpha beta gamma delta epsilon")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sig = minhash_signatures(docs, "doc_id", "text")

    uncapped = lsh_candidate_pairs(sig, "doc_id")
    assert uncapped.filter(F.col("id_a") < 100).count() == 190

    capped = lsh_candidate_pairs(sig, "doc_id", max_bucket_size=10)
    got = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    assert got == {(100, 101)}  # boilerplate buckets dropped, signal kept


def test_line_dedup_keeps_first_occurrence(spark):
    from agol_pandas_spark.operators.dedup import line_dedup

    docs = spark.createDataFrame(
        [
            (1, "alpha\nshared line\nbeta"),
            (2, "shared line\ngamma"),       # 'shared line' seen in doc 1 first
            (3, "Shared Line\ndelta"),       # normalized dup of the same line
            (4, "shared line"),              # every line already seen -> empty
        ],
        "doc_id int, text string",
    )
    out = {r["doc_id"]: r for r in line_dedup(docs, "doc_id", "text").collect()}
    assert out[1]["text_kept"] == "alpha\nshared line\nbeta"
    assert out[2]["text_kept"] == "gamma"
    assert out[3]["text_kept"] == "delta"
    assert out[4]["text_kept"] == "" and out[4]["n_lines_kept"] == 0
    assert out[1]["n_lines"] == 3 and out[1]["n_lines_kept"] == 3
    assert out[2]["n_lines"] == 2 and out[2]["n_lines_kept"] == 1


def test_incremental_dedup_anti_joins_corpus_and_self(spark):
    from agol_pandas_spark.operators.dedup import incremental_dedup

    corpus = spark.createDataFrame(
        [(1, "known doc")], "doc_id int, text string"
    )
    batch = spark.createDataFrame(
        [
            (10, "Known Doc "),   # normalized dup of corpus -> dropped
            (11, "fresh doc"),    # new -> kept
            (12, "fresh doc"),    # dup within batch -> smallest id wins
            (13, "another"),      # new -> kept
        ],
        "doc_id int, text string",
    )
    kept = sorted(
        r["doc_id"]
        for r in incremental_dedup(corpus, batch, "doc_id", "text").collect()
    )
    assert kept == [11, 13]


def test_lsh_index_probe_matches_self_join(docs, spark, tmp_path):
    """A probe against a persisted index finds exactly the cross-set
    pairs the in-flight self-join finds, and dedup_against_lsh_index
    admits only unindexed-novel docs. Appending a batch's bands extends
    the index without a rebuild."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.dedup import (
        banded_signatures,
        dedup_against_lsh_index,
        probe_lsh_index,
        write_lsh_index,
    )
    from agol_pandas_spark.operators.merge import write_table

    corpus = docs.filter(F.col("doc_id").isin(1, 4, 5))
    batch = docs.filter(F.col("doc_id").isin(2, 3))

    cat = Catalog(spark, str(tmp_path / "idx"))
    write_lsh_index(cat, "lsh", corpus, "doc_id", "text")

    pairs = {
        (r.batch_id, r.corpus_id, r.n_matching_hashes)
        for r in probe_lsh_index(cat, "lsh", batch, "doc_id", "text").collect()
    }
    # expected: the self-join over the union, restricted to batch x corpus
    expected = {
        (a, b, n)
        for a, b, n in (
            (r.id_a, r.id_b, r.n_matching_hashes)
            for r in minhash_dedup_pairs(
                docs, "doc_id", "text", min_agreement=0
            ).collect()
        )
        if a in (2, 3) and b in (1, 4, 5)
    } | {
        (b, a, n)
        for a, b, n in (
            (r.id_a, r.id_b, r.n_matching_hashes)
            for r in minhash_dedup_pairs(
                docs, "doc_id", "text", min_agreement=0
            ).collect()
        )
        if b in (2, 3) and a in (1, 4, 5)
    }
    assert pairs == expected
    assert (2, 1, 8) in pairs  # exact dup: all 8 hashes agree

    # doc 2 (exact dup of indexed 1) rejected; near-dup 3 passes at bar 8
    admitted = sorted(
        r.doc_id
        for r in dedup_against_lsh_index(
            cat, "lsh", batch, "doc_id", "text", min_agreement=8
        ).collect()
    )
    assert admitted == [3]

    # extend the index with the admitted doc's bands (append, no rebuild):
    # a later arrival with doc 3's exact text must now be caught
    add = banded_signatures(
        minhash_signatures(batch.filter(F.col("doc_id") == 3), "doc_id", "text"),
        "doc_id",
    )
    write_table(cat, add, "lsh", mode="append")
    later = spark.createDataFrame(
        [(30, docs.filter(F.col("doc_id") == 3).collect()[0].text)],
        "doc_id long, text string",
    )
    re_probe = probe_lsh_index(cat, "lsh", later, "doc_id", "text")
    hits = {
        (r.batch_id, r.corpus_id)
        for r in re_probe.filter(F.col("n_matching_hashes") >= 8).collect()
    }
    assert hits == {(30, 3)}


@pytest.mark.slow
def test_star_components_match_union_find(spark):
    """Large-star/small-star CC equals union-find ground truth on
    adversarial topologies — including a 200-diameter chain, where
    min-label propagation at any practical iteration cap cannot
    converge (star contraction is O(log n) rounds)."""
    import random

    from agol_pandas_spark.operators.dedup import connected_components_star

    def ground_truth(edges_py):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges_py:
            parent[find(a)] = find(b)
        comp = {}
        for n in parent:
            comp.setdefault(find(n), []).append(n)
        return {(n, min(ns)) for ns in comp.values() for n in ns}

    rng = random.Random(42)
    cases = {
        "chain-200": [(i, i + 1) for i in range(200)],
        "star-50": [(0, i) for i in range(1, 50)],
        "random-sparse": [(rng.randrange(300), rng.randrange(300)) for _ in range(250)],
        "multi-component": [(i, i + 1) for i in range(100)]
        + [(500 + i, 501 + i) for i in range(80)]
        + [(1000, 2000)],
    }
    for name, edges_py in cases.items():
        e = spark.createDataFrame(edges_py, "a long, b long")
        got = {
            (r.node, r.component)
            for r in connected_components_star(e, "a", "b").collect()
        }
        assert got == ground_truth(edges_py), name

def test_lsh_index_param_validation(docs, spark, tmp_path):
    """The index persists its banding parameters; a probe with a
    conflicting layout raises instead of silently missing near-dups, a
    param-less probe inherits the stored layout, and an index without
    its meta table (not built by write_lsh_index) raises naming the
    builder instead of guessing a layout."""
    import pytest as _pytest

    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.errors import LshIndexParamError, TableNotFoundError
    from agol_pandas_spark.operators.dedup import (
        _lsh_meta_name,
        banded_signatures,
        minhash_signatures,
        probe_lsh_index,
        write_lsh_index,
    )

    corpus = docs.filter(F.col("doc_id").isin(1, 4, 5))
    batch = docs.filter(F.col("doc_id").isin(2, 3))
    cat = Catalog(spark, str(tmp_path / "idx"))
    write_lsh_index(cat, "lsh", corpus, "doc_id", "text", band_size=4)

    meta = cat.table(_lsh_meta_name("lsh")).collect()[0]
    assert (meta.shingle_size, meta.num_hashes, meta.band_size) == (3, 8, 4)

    # stored params applied when the caller passes none
    implicit = probe_lsh_index(cat, "lsh", batch, "doc_id", "text")
    explicit = probe_lsh_index(
        cat, "lsh", batch, "doc_id", "text",
        shingle_size=3, num_hashes=8, band_size=4,
    )
    assert sorted(map(tuple, implicit.collect())) == sorted(
        map(tuple, explicit.collect())
    )

    # conflicting band layout -> typed error, not silent recall loss
    with _pytest.raises(LshIndexParamError):
        probe_lsh_index(cat, "lsh", batch, "doc_id", "text", band_size=2)
    with _pytest.raises(LshIndexParamError):
        probe_lsh_index(cat, "lsh", batch, "doc_id", "text", shingle_size=5)

    # an index without a meta table: no layout to trust -> typed error
    legacy = banded_signatures(
        minhash_signatures(corpus, "doc_id", "text"), "doc_id"
    )
    cat.write(legacy, "old_lsh", mode="overwrite")
    with _pytest.raises(TableNotFoundError, match="write_lsh_index"):
        probe_lsh_index(cat, "old_lsh", batch, "doc_id", "text")


def test_star_components_raises_on_round_exhaustion(spark):
    """Exhausting max_rounds without a fixpoint is a typed error — a
    non-converged mapping can emit duplicate (node, component) rows."""
    import pytest as _pytest

    from agol_pandas_spark.errors import ConvergenceError
    from agol_pandas_spark.operators.dedup import connected_components_star

    e = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "a long, b long"
    )
    with _pytest.raises(ConvergenceError):
        connected_components_star(e, "a", "b", max_rounds=1).collect()


def test_winnow_substring_guarantee_and_density(spark):
    """Docs sharing a run of >= window+shingle-1 words share a fingerprint
    hash; winnowing keeps far fewer fingerprints than shingles."""
    from agol_pandas_spark.operators import dedup

    shared = "alpha bravo charlie delta echo foxtrot golf"  # 7 words >= 4+3-1
    rows = [
        (1, f"intro one two {shared} tail xyz"),
        (2, f"{shared} completely different ending words here"),
        (3, "unrelated content with no overlap at all whatsoever"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = dedup.winnow_fingerprints(df, "doc_id", "text").collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp_hash)
    assert by_doc[1] & by_doc[2], "shared 7-word run must share a fingerprint"
    assert not (by_doc[1] & by_doc[3])
    # density: w=4 keeps ~2/(w+1)=40% of shingles, never all of them
    n_shingles_1 = len(rows[0][1].split()) - 2
    assert len(by_doc[1]) < n_shingles_1
    # pair query sees the overlap
    pairs = dedup.winnow_shared_pairs(
        dedup.winnow_fingerprints(df, "doc_id", "text"), "doc_id", min_shared=1
    ).collect()
    assert {(p.id_a, p.id_b) for p in pairs} == {(1, 2)}


def test_winnow_short_and_empty_docs(spark):
    """Docs with < window shingles still emit exactly one fingerprint
    (the global min); empty/too-short docs emit none."""
    from agol_pandas_spark.operators import dedup

    df = spark.createDataFrame(
        [(1, "just four tokens here"), (2, "ab"), (3, "")],
        ["doc_id", "text"],
    )
    fps = dedup.winnow_fingerprints(df, "doc_id", "text").collect()
    counts = {}
    for r in fps:
        counts[r.doc_id] = counts.get(r.doc_id, 0) + 1
    assert counts.get(1) == 1  # 2 shingles < window=4 -> one global min
    assert 2 not in counts and 3 not in counts


def test_winnow_rightmost_tiebreak(spark):
    """A repeated shingle (equal hashes in one window) selects the
    RIGHTMOST occurrence — the MOSS tie-break."""
    from agol_pandas_spark.operators import dedup

    # "x y z x y z": shingles 'x y z','y z x','z x y','x y z' — positions
    # 0 and 3 hash identically; whichever window contains both must pick 3.
    df = spark.createDataFrame([(1, "x y z x y z")], ["doc_id", "text"])
    fps = dedup.winnow_fingerprints(df, "doc_id", "text").collect()
    dup_hash_rows = {}
    for r in fps:
        dup_hash_rows.setdefault(r.fp_hash, []).append(r.fp_pos)
    # the duplicated-shingle hash, if selected, must carry pos 3 (not 0)
    for positions in dup_hash_rows.values():
        assert 0 not in positions or 3 not in positions or max(positions) == 3
    # with one window (n=4 shingles, w=4) the min is unique -> 1 fp
    assert len(fps) >= 1


def test_winnow_hot_bucket_cap(spark):
    from agol_pandas_spark.operators import dedup

    boiler = "same boiler plate text everywhere always identical run"
    df = spark.createDataFrame(
        [(i, boiler) for i in range(6)], ["doc_id", "text"]
    )
    fps = dedup.winnow_fingerprints(df, "doc_id", "text")
    uncapped = dedup.winnow_shared_pairs(fps, "doc_id", min_shared=1)
    assert uncapped.count() == 15  # 6 choose 2
    capped = dedup.winnow_shared_pairs(
        fps, "doc_id", min_shared=1, max_bucket_size=3
    )
    assert capped.count() == 0


def test_jaccard_prefix_pairs_matches_bruteforce(spark):
    """The prefix-filtered join must return exactly the brute-force pairs
    with J >= 1/2 (lossless filter), with exact counts."""
    from agol_pandas_spark.operators import dedup

    docs = [
        (1, "alpha bravo charlie delta echo foxtrot"),
        (2, "alpha bravo charlie delta echo golf"),      # high overlap w/ 1
        (3, "alpha bravo charlie delta echo foxtrot"),   # identical to 1
        (4, "completely different words with nothing shared here"),
        (5, "zulu yankee xray whiskey victor uniform"),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])

    def shingles(text):
        t = text.split()
        return {" ".join(t[i:i + 3]) for i in range(len(t) - 2)}

    want = {}
    for i, (ia, ta) in enumerate(docs):
        for ib, tb in docs[i + 1:]:
            A, B = shingles(ta), shingles(tb)
            inter = len(A & B)
            if inter and 2 * inter >= len(A | B):
                want[(ia, ib)] = (inter, len(A), len(B))
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.n_a, r.n_b)
        for r in dedup.jaccard_prefix_pairs(df, "doc_id", "text").collect()
    }
    assert got == want and (1, 3) in got


def test_jaccard_prefix_threshold_validation(spark):
    import pytest as _pytest

    from agol_pandas_spark.operators import dedup

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with _pytest.raises(ValueError):
        dedup.jaccard_prefix_pairs(df, "doc_id", "text", threshold=(3, 2))


def test_pagerank_scaled_matches_python_reference(spark):
    """Integer PageRank equals a direct Python evaluation of the same
    recurrence on a star + chain graph; the hub outranks every leaf."""
    from agol_pandas_spark.operators.dedup import pagerank_scaled

    edges = [(0, 1), (0, 2), (0, 3), (3, 4)]
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {r.node: r.rank_scaled
           for r in pagerank_scaled(df, "a", "b", iterations=2).collect()}

    adj = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    scale, base = 10**12, (3 * 10**12) // 20
    r = {n: scale for n in adj}
    for _ in range(2):
        r = {
            n: base + (17 * sum(r[m] // len(adj[m]) for m in adj[n])) // 20
            for n in adj
        }
    assert got == r
    assert got[0] == max(got.values())


def test_common_neighbor_jaccard_matches_set_reference(spark):
    """Wedge-join Jaccard equals a direct Python set evaluation on a
    small graph, including symmetrization of reversed/duplicate input
    edges; pairs with no shared neighbor never appear."""
    from agol_pandas_spark.operators.dedup import common_neighbor_jaccard

    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (5, 6), (2, 1), (3, 1)]
    df = spark.createDataFrame(edges, ["a", "b"])
    got = {
        (r.id_a, r.id_b): (r.n_common, r.deg_a, r.deg_b, r.jaccard_ppm)
        for r in common_neighbor_jaccard(df, "a", "b").collect()
    }

    adj: dict[int, set[int]] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    want = {}
    for u in adj:
        for v in adj:
            if u < v:
                common = len(adj[u] & adj[v])
                if common >= 1:
                    want[(u, v)] = (
                        common,
                        len(adj[u]),
                        len(adj[v]),
                        common * 10**6 // len(adj[u] | adj[v]),
                    )
    assert got == want
    assert (5, 6) not in got  # isolated edge: no shared neighbor


def test_common_neighbor_jaccard_min_common_filters(spark):
    """min_common prunes weak pairs before the degree joins."""
    from agol_pandas_spark.operators.dedup import common_neighbor_jaccard

    # K4 minus edge (1,4): non-adjacent (1,4) share {2,3}, adjacent (2,3)
    # share {1,4}; the four remaining pairs share exactly 1 neighbor
    edges = [(1, 2), (1, 3), (2, 3), (2, 4), (3, 4)]
    df = spark.createDataFrame(edges, ["a", "b"])
    rows = common_neighbor_jaccard(df, "a", "b", min_common=2).collect()
    got = {
        (r.id_a, r.id_b): (r.n_common, r.deg_a, r.deg_b, r.jaccard_ppm)
        for r in rows
    }
    assert got == {
        # N(1)={2,3}, N(4)={2,3}: jaccard exactly 1
        (1, 4): (2, 2, 2, 1000000),
        # N(2)={1,3,4}, N(3)={1,2,4}: 2 common / 4 in the union
        (2, 3): (2, 3, 3, 500000),
    }


def test_common_neighbor_jaccard_center_degree_cap(spark):
    """Hub shared-neighbors are excluded from wedge enumeration by the
    cap; an ample cap reproduces the exact result."""
    from agol_pandas_spark.operators.dedup import common_neighbor_jaccard

    # star: hub 0 adjacent to 1..4; plus a private edge (1,2)
    edges = [(0, 1), (0, 2), (0, 3), (0, 4), (1, 2)]
    df = spark.createDataFrame(edges, ["a", "b"])

    exact = {
        (r.id_a, r.id_b): r.n_common
        for r in common_neighbor_jaccard(df, "a", "b").collect()
    }
    ample = {
        (r.id_a, r.id_b): r.n_common
        for r in common_neighbor_jaccard(
            df, "a", "b", max_center_degree=10
        ).collect()
    }
    assert ample == exact

    capped = common_neighbor_jaccard(df, "a", "b", max_center_degree=3).collect()
    got = {(r.id_a, r.id_b): (r.n_common, r.deg_a, r.deg_b) for r in capped}
    # hub 0 (degree 4) no longer closes wedges: only wedges through
    # centers 1 and 2 (degree 2) survive → (0,1),(0,2) via the private
    # edge's endpoints; degrees stay TRUE degrees
    assert got == {(0, 1): (1, 4, 2), (0, 2): (1, 4, 2)}


def test_cross_source_dup_matrix_ground_truth(spark):
    """Matrix rows match the planted cross-source copies; pairs with no
    shared key are absent and counts are doc-level, not key-level."""
    from agol_pandas_spark.operators.dedup import cross_source_dup_matrix

    rows = [
        ("A", "shared one"),
        ("A", "shared one"),   # two A docs under the same key
        ("A", "only in a"),
        ("B", "shared one"),
        ("B", "shared two"),
        ("C", "shared two"),
        ("C", "nothing else"),
    ]
    df = spark.createDataFrame(rows, "source string, text string")
    got = {
        (r.source, r.other_source): (r.n_dup_docs, r.n_shared_keys)
        for r in cross_source_dup_matrix(
            df, "source", F.col("text")
        ).collect()
    }
    assert got == {
        ("A", "B"): (2, 1),  # both A copies of 'shared one' count
        ("B", "A"): (1, 1),
        ("B", "C"): (1, 1),
        ("C", "B"): (1, 1),
    }


def test_ngram_containment_directional(spark):
    """A short doc quoted wholesale inside a long one: containment is 1.0
    in the short→long direction, < 1 the other way, and Jaccard would be
    low — the case this operator exists for."""
    from agol_pandas_spark.operators.dedup import ngram_containment_pairs

    short = "alpha beta gamma delta epsilon zeta"
    long_ = (
        "intro words before the quote " + short +
        " and a very long tail of unrelated filler content follows here "
        "with many additional tokens to dilute the union considerably"
    )
    docs = spark.createDataFrame(
        [(1, short, "x"), (2, long_, "x"), (3, "totally different text about engines", "x")],
        "doc_id long, text string, blk string",
    )
    got = {
        (r.id_a, r.id_b): (r.n_inter, r.n_a, r.containment_ppm)
        for r in ngram_containment_pairs(
            docs, "doc_id", "text", block_cols=("blk",)
        ).collect()
    }
    # every 3-shingle of the short doc occurs in the long doc
    n_short = len(short.split()) - 2
    assert got[(1, 2)] == (n_short, n_short, 1_000_000)
    # reverse direction is diluted by the long doc's own shingles
    assert got[(2, 1)][2] < 1_000_000
    assert (1, 3) not in got and (3, 1) not in got


def test_winnow_rejects_docs_over_position_envelope(spark, monkeypatch):
    """> WINNOW_POS_MOD shingles would drive the packed position
    complement negative and silently corrupt window minima; the operator
    must fail the job naming the doc instead. The envelope constant is
    shrunk so the probe document stays tiny."""
    from py4j.protocol import Py4JJavaError

    from agol_pandas_spark.operators import dedup as ddp

    monkeypatch.setattr(ddp, "WINNOW_POS_MOD", 8)
    text = " ".join(f"w{i}" for i in range(16))  # 14 trigram shingles > 8
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    with pytest.raises(Exception) as ei:
        ddp.winnow_fingerprints(df, "doc_id", "text").collect()
    assert "winnow_fingerprints" in str(ei.value)


@pytest.mark.slow
def test_star_components_reliable_checkpoint_identical(spark, tmp_path):
    """VERDICT r5 item 4: star-CC with a reliable checkpoint_dir (blocks
    on storage that survives executor loss) must produce labels identical
    to the localCheckpoint path — and must actually write checkpoint
    data under the directory."""
    import os

    from agol_pandas_spark.operators.dedup import (
        connected_components,
        connected_components_star,
        pagerank_scaled,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (4, 5), (6, 6), (7, 8), (8, 9), (9, 10)],
        "a long, b long",
    )
    ckpt = str(tmp_path / "ckpt")
    local = sorted(
        map(tuple, connected_components_star(edges, "a", "b").collect())
    )
    reliable = sorted(
        map(
            tuple,
            connected_components_star(
                edges, "a", "b", checkpoint_dir=ckpt
            ).collect(),
        )
    )
    assert local == reliable
    assert any(os.scandir(ckpt)), "no checkpoint data written"
    # the other two iterative ops accept the same knob
    cc_l = sorted(map(tuple, connected_components(edges, "a", "b").collect()))
    cc_r = sorted(
        map(
            tuple,
            connected_components(
                edges, "a", "b", checkpoint_dir=ckpt
            ).collect(),
        )
    )
    assert cc_l == cc_r
    pr_l = sorted(map(tuple, pagerank_scaled(edges, "a", "b").collect()))
    pr_r = sorted(
        map(
            tuple,
            pagerank_scaled(edges, "a", "b", checkpoint_dir=ckpt).collect(),
        )
    )
    assert pr_l == pr_r


class TestSubstringDupSpans:
    """ExactSubstr span census (dedup.substring_dup_spans) on crafted docs
    with hand-computed expectations."""

    @pytest.fixture(scope="class")
    def census(self, spark):
        from agol_pandas_spark.operators.dedup import substring_dup_spans

        rows = [
            (1, "the quick brown fox jumps over the lazy dog today"),
            # doc 2 embeds doc 1's full 10-token run between unique words
            (2, "intro words the quick brown fox jumps over the lazy dog "
                "today end"),
            (3, "completely different content with no overlap at all here"),
            (4, "x y x y x y x y x y x y"),  # within-doc repeats
            (5, ""),  # empty doc
            # doc 6: TWO separate shared runs with doc 7, split by a gap
            (6, "alpha beta gamma delta epsilon GAP1 GAP2 zeta eta theta "
                "iota kappa"),
            (7, "alpha beta gamma delta epsilon OTHER WORDS zeta eta theta "
                "iota kappa"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = substring_dup_spans(df, "doc_id", "text", k=5, min_count=2)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_total_census(self, census):
        assert sorted(census) == [1, 2, 3, 4, 5, 6, 7]

    def test_shared_run_marks_both_docs(self, census):
        # doc 1: all 6 grams duplicated -> one span covering all 10 tokens
        assert census[1] == {
            "doc_id": 1, "n_tokens": 10, "n_dup_grams": 6,
            "dup_spans": 1, "dup_tokens": 10, "dup_ppm": 1_000_000,
        }
        # doc 2: same 6 grams, 10 of 13 tokens covered
        assert census[2]["dup_tokens"] == 10
        assert census[2]["dup_spans"] == 1
        assert census[2]["dup_ppm"] == 10 * 1_000_000 // 13

    def test_unique_and_empty_docs_zero(self, census):
        for d in (3, 5):
            assert census[d]["n_dup_grams"] == 0
            assert census[d]["dup_spans"] == 0
            assert census[d]["dup_tokens"] == 0
            assert census[d]["dup_ppm"] == 0

    def test_within_doc_repeats_count(self, census):
        # doc 4: "x y"*6 -> every 5-gram repeats within the doc itself
        assert census[4]["n_dup_grams"] == 8
        assert census[4]["dup_spans"] == 1
        assert census[4]["dup_ppm"] == 1_000_000

    def test_gap_splits_spans(self, census):
        # docs 6/7 share two 5-token runs separated by non-shared words:
        # two maximal spans of 5 tokens each
        for d in (6, 7):
            assert census[d]["dup_spans"] == 2
            assert census[d]["dup_tokens"] == 10
            assert census[d]["n_dup_grams"] == 2

    def test_param_validation(self, spark):
        from agol_pandas_spark.operators.dedup import substring_dup_spans

        df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
        with pytest.raises(ValueError):
            substring_dup_spans(df, "doc_id", "text", k=0)
        with pytest.raises(ValueError):
            substring_dup_spans(df, "doc_id", "text", min_count=1)


@pytest.mark.slow
def test_substring_dup_spans_fuzz_vs_python(spark):
    """Span census equals a brute-force Python reference on random
    small-alphabet corpora (small alphabet maximizes within- and
    cross-doc gram collisions, the hard cases for island merging)."""
    from collections import Counter

    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from agol_pandas_spark.operators.dedup import substring_dup_spans

    doc = st.lists(
        st.sampled_from("abc"), min_size=0, max_size=24
    ).map(lambda xs: " ".join(xs))
    corpus = st.lists(doc, min_size=1, max_size=6)

    def ref(texts, k=3, min_count=2):
        grams = []
        for d, t in enumerate(texts):
            toks = t.split()
            grams.append(
                [tuple(toks[i : i + k]) for i in range(len(toks) - k + 1)]
            )
        cnt = Counter(g for gs in grams for g in gs)
        out = {}
        for d, t in enumerate(texts):
            toks = t.split()
            dup_pos = [
                i + 1 for i, g in enumerate(grams[d]) if cnt[g] >= min_count
            ]
            spans = []
            for p in dup_pos:
                if spans and p <= spans[-1][1] + 1:
                    spans[-1][1] = max(spans[-1][1], p + k - 1)
                else:
                    spans.append([p, p + k - 1])
            dup_tokens = sum(e - s + 1 for s, e in spans)
            n = len(toks)
            out[d] = (
                n,
                len(dup_pos),
                len(spans),
                dup_tokens,
                dup_tokens * 1_000_000 // n if n else 0,
            )
        return out

    @given(texts=corpus)
    @settings(
        max_examples=10,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    def run(texts):
        df = spark.createDataFrame(
            [(i, t) for i, t in enumerate(texts)], "doc_id long, text string"
        )
        got = {
            r["doc_id"]: (
                r["n_tokens"],
                r["n_dup_grams"],
                r["dup_spans"],
                r["dup_tokens"],
                r["dup_ppm"],
            )
            for r in substring_dup_spans(
                df, "doc_id", "text", k=3, min_count=2
            ).collect()
        }
        assert got == ref(texts)

    run()


class TestSubstringDupRemoval:
    """ExactSubstr removal (dedup.substring_dup_removal): one surviving
    copy of every duplicated passage, owner = globally-first occurrence."""

    @pytest.fixture(scope="class")
    def cleaned(self, spark):
        from agol_pandas_spark.operators.dedup import substring_dup_removal

        rows = [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "intro words the quick brown fox jumps over the lazy dog "
                "today end"),
            (3, "fresh content with nothing shared across the corpus here"),
            (4, "the quick brown fox jumps over the lazy dog today"),  # full dup
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = substring_dup_removal(df, "doc_id", "text", k=5, min_count=2)
        return {r["doc_id"]: r.asDict() for r in out.collect()}

    def test_owner_keeps_everything(self, cleaned):
        # doc 1 is the global first occurrence of the shared run
        assert cleaned[1]["n_removed"] == 0

    def test_non_owners_lose_the_run(self, cleaned):
        assert cleaned[2]["n_removed"] == 10  # 10-token run removed
        assert cleaned[4]["n_removed"] == 10  # full-dup doc emptied

    def test_untouched_doc(self, cleaned):
        assert cleaned[3]["n_removed"] == 0

    def test_cleaned_hash_matches_surviving_tokens(self, spark, cleaned):
        import hashlib

        def h60(s):
            return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

        assert cleaned[2]["cleaned_hash"] == h60("intro words end")
        assert cleaned[4]["cleaned_hash"] == h60("")  # emptied doc
        assert cleaned[1]["cleaned_hash"] == h60(
            "the quick brown fox jumps over the lazy dog today"
        )


class TestKCore:
    """k-core peeling on hand-built graphs with known cores."""

    def _kcore(self, spark, edges, **kw):
        from agol_pandas_spark.operators.dedup import kcore

        df = spark.createDataFrame(edges, "a long, b long")
        return {
            r["node"]: r["core_degree"]
            for r in kcore(df, "a", "b", **kw).collect()
        }

    def test_triangle_with_pendant(self, spark):
        # triangle {1,2,3} plus pendant 3-4: 2-core is exactly the triangle
        got = self._kcore(spark, [(1, 2), (2, 3), (1, 3), (3, 4)], k=2)
        assert got == {1: 2, 2: 2, 3: 2}

    def test_cascading_peel(self, spark):
        # path 1-2-3-4-5 dissolves entirely under k=2 (cascade, several rounds)
        got = self._kcore(spark, [(1, 2), (2, 3), (3, 4), (4, 5)], k=2)
        assert got == {}

    def test_core_degree_measured_inside_core(self, spark):
        # K4 {1..4} + pendant on node 1: node 1's core degree is 3, not 4
        k4 = [(a, b) for a in range(1, 5) for b in range(a + 1, 5)]
        got = self._kcore(spark, k4 + [(1, 9)], k=3)
        assert got == {1: 3, 2: 3, 3: 3, 4: 3}

    def test_round_exhaustion_raises(self, spark):
        import pytest as _pytest

        from agol_pandas_spark.errors import ConvergenceError

        # long path needs many cascade rounds; 1 round cannot finish
        path = [(i, i + 1) for i in range(40)]
        with _pytest.raises(ConvergenceError):
            self._kcore(spark, path, k=2, max_rounds=1)

    def test_reliable_checkpoint_identical(self, spark, tmp_path):
        import os

        edges = [(1, 2), (2, 3), (1, 3), (3, 4), (4, 5), (5, 6), (4, 6)]
        base = self._kcore(spark, edges, k=2)
        ckpt = str(tmp_path / "kcore_ckpt")
        old = spark.sparkContext.getCheckpointDir()
        try:
            got = self._kcore(spark, edges, k=2, checkpoint_dir=ckpt)
        finally:
            if old:
                spark.sparkContext.setCheckpointDir(old)
        # bridge 3-4 survives (both endpoints are in the core), so the
        # bridge endpoints count it toward their core degree
        assert got == base == {1: 2, 2: 2, 3: 3, 4: 3, 5: 2, 6: 2}
        assert any(os.scandir(ckpt)), "no checkpoint data written"


def test_resource_allocation_matches_python_reference(spark):
    """RA score = exact sum of 10^12 // deg(center) over common
    neighbors, checked against a set-based Python recompute."""
    from collections import defaultdict
    from itertools import combinations

    from agol_pandas_spark.operators.dedup import resource_allocation_links

    edges = [(1, 3), (2, 3), (1, 4), (2, 4), (5, 3), (5, 6), (4, 6)]
    got = {
        (r["id_a"], r["id_b"]): (r["n_common"], r["ra_pico"])
        for r in resource_allocation_links(
            spark.createDataFrame(edges, "a long, b long"), "a", "b",
            min_common=1,
        ).collect()
    }

    adj = defaultdict(set)
    for a, b in edges:
        adj[a].add(b)
        adj[b].add(a)
    want = {}
    for u, v in combinations(sorted(adj), 2):
        common = adj[u] & adj[v]
        if common:
            want[(u, v)] = (
                len(common),
                sum(10**12 // len(adj[w]) for w in common),
            )
    assert got == want
    # hub discount: pair (1,2) shares hub 3 (deg 3) and node 4 (deg 3)
    assert got[(1, 2)][1] == 2 * (10**12 // 3)


def test_resource_allocation_center_degree_cap(spark):
    """Capping center degree drops hub-mediated wedges; surviving
    scores are exact lower bounds of the uncapped run."""
    from agol_pandas_spark.operators.dedup import resource_allocation_links

    # hub 9 adjacent to everyone; 1-2 also share low-degree node 3
    edges = [(1, 9), (2, 9), (3, 9), (4, 9), (5, 9), (1, 3), (2, 3)]
    df = spark.createDataFrame(edges, "a long, b long")
    full = {
        (r["id_a"], r["id_b"]): r["ra_pico"]
        for r in resource_allocation_links(df, "a", "b", min_common=1).collect()
    }
    capped = {
        (r["id_a"], r["id_b"]): r["ra_pico"]
        for r in resource_allocation_links(
            df, "a", "b", min_common=1, max_center_degree=3
        ).collect()
    }
    assert capped[(1, 2)] == 10**12 // 3  # only node 3 (deg 3) survives
    assert all(capped[p] <= full[p] for p in capped)


def test_hits_scaled_matches_python_reference(spark):
    """2-iteration max-normalized integer HITS vs a direct Python
    recompute on a small directed bipartite graph."""
    from collections import defaultdict

    from agol_pandas_spark.operators.dedup import hits_scaled

    edges = [(1, 10), (1, 11), (2, 10), (3, 10), (3, 12), (4, 12)]
    got = {
        (r["role"], r["node"]): r["score_scaled"]
        for r in hits_scaled(
            spark.createDataFrame(edges, "a long, b long"), "a", "b",
            iterations=2, scale=10**6,
        ).collect()
    }

    out_e = defaultdict(set)
    in_e = defaultdict(set)
    for a, b in edges:
        out_e[a].add(b)
        in_e[b].add(a)
    hub = {a: 10**6 for a in out_e}
    auth = {}
    for _ in range(2):
        raw_a = {b: sum(hub[a] for a in in_e[b]) for b in in_e}
        mx = max(raw_a.values())
        auth = {b: raw_a[b] * 10**6 // mx for b in raw_a}
        raw_h = {a: sum(auth[b] for b in out_e[a]) for a in out_e}
        mx = max(raw_h.values())
        hub = {a: raw_h[a] * 10**6 // mx for a in raw_h}
    want = {("hub", a): s for a, s in hub.items()}
    want.update({("auth", b): s for b, s in auth.items()})
    assert got == want
    # node 10 (in-degree 3) is the top authority; node 3 feeds both
    # strong authorities and tops the hubs
    assert got[("auth", 10)] == 10**6
    assert got[("hub", 3)] == 10**6


def test_append_lsh_index_uses_stored_params_and_finds_cross_batch(spark, tmp_path):
    """Appended batches become probe-visible; the append hashes with the
    index's STORED parameters (no way to pass different ones), so a
    probe after append still param-validates cleanly."""
    from agol_pandas_spark.catalog import Catalog
    from agol_pandas_spark.operators.dedup import (
        append_lsh_index,
        probe_lsh_index,
        write_lsh_index,
    )

    text = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "watches from the windowsill"
    )
    corpus = spark.createDataFrame([(1, text)], "doc_id long, text string")
    batch1 = spark.createDataFrame([(2, text)], "doc_id long, text string")
    batch2 = spark.createDataFrame([(3, text)], "doc_id long, text string")
    cat = Catalog(spark, str(tmp_path))
    write_lsh_index(cat, "idx", corpus, "doc_id", "text",
                    shingle_size=2, band_size=4)

    before = {
        r["corpus_id"]
        for r in probe_lsh_index(cat, "idx", batch2, "doc_id", "text").collect()
    }
    assert before == {1}
    append_lsh_index(cat, "idx", batch1, "doc_id", "text")
    after = {
        r["corpus_id"]
        for r in probe_lsh_index(cat, "idx", batch2, "doc_id", "text").collect()
    }
    assert after == {1, 2}  # batch1 now probe-visible, no rebuild


def test_hits_scaled_rejects_nonpositive_iterations(spark):
    """ADVICE r6 regression: iterations < 1 used to crash with
    AttributeError on `auth = None`; now a clear ValueError up front."""
    import pytest as _pytest

    from agol_pandas_spark.operators.dedup import hits_scaled

    edges = spark.createDataFrame([(1, 2)], "src long, dst long")
    with _pytest.raises(ValueError, match="iterations >= 1"):
        hits_scaled(edges, "src", "dst", iterations=0)


def test_simhash_band_pairs_hot_bucket_cap(spark):
    """max_bucket_size drops oversized band buckets BEFORE the self-join
    (scale safety valve, r7): identical docs all share every band, so a
    cap below the group size suppresses their pairs; None keeps exact
    recall. Distinct docs in small buckets are unaffected."""
    from agol_pandas_spark.operators.dedup import simhash_band_pairs

    rows = [(i, "alpha beta gamma delta epsilon zeta") for i in range(10)]
    rows += [(100, "one two three four five six seven"),
             (101, "one two three four five six seven")]
    df = spark.createDataFrame(rows, "doc_id long, text string")

    exact = simhash_band_pairs(df, "doc_id", "text")
    assert exact.filter("id_a < 100").count() == 45  # 10-doc clique
    assert exact.filter("id_a >= 100").count() == 1

    capped = simhash_band_pairs(df, "doc_id", "text", max_bucket_size=5)
    got = capped.collect()
    assert all(r.id_a >= 100 for r in got), got  # clique suppressed
    assert len(got) == 1  # the small pair survives


def _adversarial_docs(spark, sf_dir):
    """sf corpus + the md5-kernel edge rows: NULL text, empty, whitespace-
    only, fewer tokens than a shingle, NBSP inside a token (Java ``\\s``
    must NOT split it), and a highly repetitive doc."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from agol_pandas_spark.catalog import Catalog

    docs = Catalog(spark, sf_dir).table("documents").select("doc_id", "text")
    extra = spark.createDataFrame(
        [
            (9001, None),
            (9002, ""),
            (9003, "   \t\n  "),
            (9004, "one"),
            (9005, "one two"),
            (9006, "a\xa0b c d e f"),
            (9007, "x y z x y z x y z"),
        ],
        T.StructType(
            [
                T.StructField("doc_id", T.LongType()),
                T.StructField("text", T.StringType()),
            ]
        ),
    )
    return docs.unionByName(extra)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_arrow_minhash_bit_identical(spark, sf_dir):
    """r11 optimization guard: the Arrow MinHash kernel (hashlib md5 +
    numpy permutation mins) must reproduce the SQL reference shape
    bit-for-bit, including NULL/empty/short/NBSP texts (sentinel P)."""
    from agol_pandas_spark.operators import dedup

    docs = _adversarial_docs(spark, sf_dir)
    assert _rows(dedup.minhash_signatures(docs, "doc_id", "text")) == _rows(
        dedup._minhash_signatures_sql(docs, "doc_id", "text")
    )


def test_arrow_simhash_bit_identical(spark, sf_dir):
    """r11 optimization guard: the Arrow SimHash kernel (one numpy
    bit-matrix majority vote per doc, no shuffle) must reproduce the
    packed-lane SQL aggregation bit-for-bit (zero-token docs → 0)."""
    from agol_pandas_spark.operators import dedup

    docs = _adversarial_docs(spark, sf_dir)
    assert _rows(dedup.simhash(docs, "doc_id", "text")) == _rows(
        dedup._simhash_sql(docs, "doc_id", "text")
    )


def test_arrow_winnow_bit_identical(spark, sf_dir):
    """r11 optimization guard: the Arrow winnowing kernel (numpy sliding
    window minima over the packed hash/position keys) must emit exactly
    the SQL reference's fingerprint rows (NULL text → no rows; n <
    window → single global min; rightmost tie-break via the packed
    complement)."""
    from agol_pandas_spark.operators import dedup

    docs = _adversarial_docs(spark, sf_dir)
    assert _rows(dedup.winnow_fingerprints(docs, "doc_id", "text")) == _rows(
        dedup._winnow_fingerprints_sql(docs, "doc_id", "text")
    )


def test_arrow_gram_hashes_bit_identical(spark, sf_dir):
    """r11 optimization guard: the Arrow gram-hash kernel behind the
    ExactSubstr census must yield the SQL expression's exact
    (position, hash) stream after posexplode (NULL text drops the row
    on both paths)."""
    from pyspark.sql import functions as F

    from agol_pandas_spark.operators import dedup

    docs = _adversarial_docs(spark, sf_dir)
    arrow = docs.select(
        "doc_id",
        F.posexplode(dedup._gram_hash60s_arrow(5)(F.col("text"))),
    )
    sql = docs.select(
        "doc_id", F.posexplode(dedup._gram_hash60s_sql("text", 5))
    )
    assert _rows(arrow) == _rows(sql)
