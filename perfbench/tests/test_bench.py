"""Tests of the benchmark's own code (no Spark session needed).

Run from the repository root: ``python -m pytest perfbench/tests -q``.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pandas as pd
import pytest

from perfbench import gen
from perfbench.metrics import END_TO_END, PER_LAYER, SPANS
from perfbench.stats import (
    latency_summary,
    percentile,
    tail_percentile,
    union_length,
    uncovered_within,
    valid_metric_name,
)
from perfbench.tracing import Span, Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# -- deterministic generation ---------------------------------------------


def test_order_rows_repeat_for_a_seed_and_differ_across_seeds():
    keys = np.arange(1, 501)
    a = gen.order_rows(gen.rng_for(7, 1), keys)
    b = gen.order_rows(gen.rng_for(7, 1), keys)
    c = gen.order_rows(gen.rng_for(8, 1), keys)
    assert a.equals(b)
    assert not a.equals(c)
    assert a.column("o_orderkey").to_pylist() == keys.tolist()


def test_recent_keys_are_distinct_existing_and_skewed_recent():
    ks = gen.recent_keys(gen.rng_for(3, 2, 0), 150_000, 1_500)
    again = gen.recent_keys(gen.rng_for(3, 2, 0), 150_000, 1_500)
    assert ks.tolist() == again.tolist()
    assert len(set(ks.tolist())) == 1_500
    assert ks.min() >= 1 and ks.max() <= 150_000
    assert np.median(ks) > 140_000  # mean offset is 5% of the range


def test_documents_and_batches_repeat_for_a_seed():
    a = gen.documents(5, 0, 200, 10)
    b = gen.documents(5, 0, 200, 10)
    assert a["texts"] == b["texts"] and a["ids"].tolist() == b["ids"].tolist()
    assert a["texts"] != gen.documents(6, 0, 200, 10)["texts"]
    assert sorted(a["ids"].tolist()) == list(range(200))
    x = gen.arriving_docs(5, 0, 0, a["ids"], a["texts"], a["singletons"], 20, 5, 1000)
    y = gen.arriving_docs(5, 0, 0, a["ids"], a["texts"], a["singletons"], 20, 5, 1000)
    assert x["texts"] == y["texts"] and x["planted"] == y["planted"]
    by_id = dict(zip(a["ids"].tolist(), a["texts"]))
    pos = {i: t for i, t in zip(x["ids"].tolist(), x["texts"])}
    assert all(pos[c] == by_id[o] for c, o in x["planted"].items())


def test_vectors_repeat_for_a_seed():
    assert np.array_equal(gen.vectors(1, 0, 50), gen.vectors(1, 0, 50))
    assert not np.array_equal(gen.vectors(1, 0, 50), gen.vectors(2, 0, 50))
    v = gen.vectors(1, 0, 50)
    assert np.allclose(np.linalg.norm(v, axis=1), 1.0, atol=1e-5)
    q = gen.perturbed(1, 0, 0, v, 5)
    assert np.array_equal(q, gen.perturbed(1, 0, 0, v, 5))


def test_doc_rows_match_the_layer_schema():
    rows = gen.doc_rows([3, 4], ["a b", "c"])
    fields = {f["name"] for f in gen.DOC_FIELDS} - {"OBJECTID"}
    assert all(set(r) == fields == set(gen.DOC_COLUMNS) for r in rows)
    assert gen.doc_table([3, 4], ["a b", "c"]).to_pylist() == rows


# -- the .tail percentile rule ----------------------------------------------


@pytest.mark.parametrize(
    "n, pct",
    [(1, 50.0), (19, 50.0), (20, 50.0), (39, 50.0), (40, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1_000, 99.0), (10_000, 99.9)],
)
def test_tail_is_the_highest_ladder_percentile_with_ten_samples_beyond(n, pct):
    assert tail_percentile(n) == pct


def test_tail_leaves_ten_samples_above_it():
    xs = list(range(1, 101))
    s = latency_summary(xs)
    assert s["tail_pct"] == 90.0 and s["n"] == 100
    assert s["tail"] == percentile(xs, 90) == 90
    assert sum(1 for x in xs if x > s["tail"]) == 10


def test_small_samples_report_the_median_as_tail():
    s = latency_summary([3.0, 1.0, 2.0, 10.0])
    assert s["tail_pct"] == 50.0
    assert s["tail"] == s["p50"] == 2.5


# -- driver_s / self-time interval arithmetic -------------------------------


def test_union_length_merges_overlaps():
    assert union_length([]) == 0
    assert union_length([(0, 1), (2, 3)]) == 2
    assert union_length([(0, 4), (1, 2), (3, 6)]) == 6
    assert union_length([(5, 5), (6, 4)]) == 0


def test_uncovered_within_clips_to_the_window():
    # jobs 1-3 and 2-5 overlap; 8-12 runs past the span's end
    assert uncovered_within((0, 10), [(1, 3), (2, 5), (8, 12)]) == pytest.approx(4)
    assert uncovered_within((0, 10), [(-5, 20)]) == 0
    assert uncovered_within((0, 10), [(11, 12)]) == 10


def test_tracer_driver_and_self_time():
    tr = Tracer(enabled=True)
    parent = Span("merge.merge_pruned", 0, None, 1, start=100.0, end=110.0)
    parent.job_intervals = [(101.0, 104.0), (103.0, 106.0), (109.0, 111.0)]
    child = Span("merge.merge_pruned.action", 1, 0, 1, start=105.0, end=108.0)
    tr.spans = [parent, child]
    assert tr.driver_s(parent) == pytest.approx(10 - 5 - 1)
    assert tr.self_s(parent) == pytest.approx(7)
    assert tr.self_s(child) == pytest.approx(3)


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("catalog.table") as sp:
        assert sp is None
    assert tr.spans == []


# -- metric names -------------------------------------------------------------


def test_metric_names_are_valid_and_unique():
    names = list(END_TO_END) + list(PER_LAYER)
    assert len(names) == len(set(names))
    assert all(valid_metric_name(n) for n in names)
    assert not valid_metric_name("bad name")
    assert not valid_metric_name(".starts_with_dot")
    assert not valid_metric_name("x" * 65)
    assert len(PER_LAYER) <= 128
    assert all(f"{s}.s" in PER_LAYER for s in SPANS)


def test_benchmark_json_lists_the_same_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        cfg = json.load(f)
    assert {m["name"]: m["unit"] for m in cfg["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in cfg["per_layer"]} == PER_LAYER
    assert [w["name"] for w in cfg["workloads"]] == ["cdc_merge", "curation"]
    setup = next(m for m in cfg["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in cfg["end_to_end"])


# -- reference computations behind the output checks --------------------------


def test_union_find_and_peeling_references():
    from perfbench.workloads.curation import peel, union_find

    pairs = [(1, 2), (2, 3), (1, 3), (3, 4), (7, 8)]
    assert union_find(pairs) == {1: 1, 2: 1, 3: 1, 4: 1, 7: 7, 8: 7}
    assert peel(pairs, 2) == {1: 2, 2: 2, 3: 2}


def test_substring_and_tfidf_references():
    from perfbench.workloads.curation import dup_tokens, tfidf_rows

    texts = {1: "a b c d e f", 2: "x b c d e y", 3: "q"}
    assert dup_tokens(texts, 4) == {1: 4, 2: 4, 3: 0}
    rows = tfidf_rows({1: "a a b", 2: "b"}, 2)
    assert (1, "a", 2, 1, 2 * 2_000_000) in rows
    assert (2, "b", 1, 2, 1_000_000) in rows


def test_change_feed_replay():
    from perfbench.workloads.cdc_merge import _changes_of

    cols = ["o_custkey"]
    pre = pd.DataFrame({"o_custkey": [10, 20]}, index=pd.Index([1, 2], name="o_orderkey"))
    post = pd.DataFrame({"o_custkey": [10, 21, 30]}, index=pd.Index([1, 2, 3], name="o_orderkey"))
    feed = _changes_of(pre, post, [1, 2, 3])
    got = sorted(zip(feed.index, feed["_change_type"], feed[cols[0]]))
    assert got == [
        (2, "update_postimage", 21),
        (2, "update_preimage", 20),
        (3, "insert", 30),
    ]
