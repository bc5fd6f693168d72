"""Self-tests of the benchmark's record math and oracle plumbing. No Spark
session: ``python3 -m pytest perfbench -q`` from the root of a checkout."""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import oracle  # noqa: E402
from record import (  # noqa: E402
    compare_ranked,
    driver_time,
    error_rate,
    nearest_rank,
    summarize,
    union_length,
)
from status import parse_metric  # noqa: E402
from tests import oracle_fulltext as OF  # noqa: E402
from tests import oracle_numpy as ON  # noqa: E402

from similaripy_spark.sources.pages import (  # noqa: E402
    generate_pages_pandas,
    generate_queries_pandas,
)


# --- medians and percentiles ------------------------------------------------

def test_median_odd_and_even():
    assert summarize([3.0, 1.0, 2.0]) == {"p50": 2.0, "n": 3}
    assert summarize([4.0, 1.0, 3.0, 2.0]) == {"p50": 2.5, "n": 4}


def test_nearest_rank_counts_samples_beyond():
    vals = [float(i) for i in range(1, 101)]
    assert nearest_rank(vals, 90) == (90.0, 10)
    assert nearest_rank(vals, 99) == (99.0, 1)
    assert nearest_rank([5.0], 99.9) == (5.0, 0)


def test_percentile_needs_ten_samples_beyond():
    # 99 samples: p90 sits at rank 90 with only 9 above it -> not reported
    assert "p90" not in summarize([float(i) for i in range(99)])
    out = summarize([float(i) for i in range(1, 101)])
    assert out["p90"] == 90.0 and "p99" not in out
    # 1000 samples: p99 has 10 beyond, p99.9 only 1 -> p99 is the highest
    out = summarize([float(i) for i in range(1, 1001)])
    assert out["p99"] == 990.0 and "p99.9" not in out and "p90" not in out


def test_summarize_rejects_empty():
    with pytest.raises(ValueError):
        summarize([])


# --- error rate -------------------------------------------------------------

def test_error_rate_base_is_attempted_operations():
    assert error_rate(8, 0) == 0.0
    assert error_rate(8, 2) == 0.25
    assert error_rate(1, 1) == 1.0


def test_error_rate_rejects_bad_counts():
    with pytest.raises(ValueError):
        error_rate(0, 0)
    with pytest.raises(ValueError):
        error_rate(3, 4)
    with pytest.raises(ValueError):
        error_rate(3, -1)


# --- job-interval union behind driver_ms ------------------------------------

def test_union_merges_overlap_and_nesting():
    assert union_length([(0, 10), (5, 15), (20, 30)], 0, 100) == 25
    assert union_length([(0, 10), (2, 3), (4, 6)], 0, 100) == 10
    assert union_length([(0, 10), (10, 20)], 0, 100) == 20


def test_union_clips_to_batch_window():
    assert union_length([(-5, 5), (95, 120)], 0, 100) == 10
    assert union_length([(200, 300)], 0, 100) == 0
    assert union_length([], 0, 100) == 0


def test_driver_time_is_wall_minus_job_union():
    # jobs overlap each other; 100 ms of wall, 60 ms covered by jobs
    assert driver_time(0, 100, [(10, 50), (30, 70)]) == 40
    assert driver_time(0, 100, []) == 100


# --- oracle comparators -----------------------------------------------------

def test_compare_ranked_accepts_identical_and_close_scores():
    exp = [(1, 7, 3.0), (2, 2, 2.0)]
    assert compare_ranked(exp, exp) == []
    assert compare_ranked([(1, 7, 3.00001), (2, 2, 2.0)], exp) == []


def test_compare_ranked_flags_planted_mismatches():
    exp = [(1, 7, 3.0), (2, 2, 2.0)]
    assert compare_ranked([(1, 2, 3.0), (2, 7, 2.0)], exp)        # swapped
    assert compare_ranked([(1, 7, 3.01), (2, 2, 2.0)], exp)       # score
    assert compare_ranked([(1, 7, 3.0)], exp)                     # missing
    assert compare_ranked([], [(1, 7, 3.0)])


# --- the oracle plumbing against the full oracles ---------------------------

def test_bm25_expected_equals_full_oracle_index():
    """The restricted oracle index gives exactly what the full
    ``oracle_fulltext`` index gives over the same generated texts."""
    seed, vocab, n = 3, 500, 300
    pdf = generate_pages_pandas(n, vocab_size=vocab, seed=seed)
    full = OF.build_index(dict(zip(pdf.doc_id, pdf.text)))
    queries = [list(t) for t in
               generate_queries_pandas(12, vocab_size=vocab, seed=5).terms]
    corpus = oracle.TokenCorpus(0, n, seed, vocab)
    got = oracle.bm25_expected(corpus, queries, k=10)
    assert got == [OF.search(full, q, k=10) for q in queries]
    assert sum(map(len, got)) > 50
    assert corpus.text_bytes == sum(len(t.encode()) for t in pdf.text)


def test_bm25_expected_over_appended_range():
    seed, vocab = 3, 500
    parts = [oracle.TokenCorpus(0, 200, seed, vocab),
             oracle.TokenCorpus(200, 260, seed, vocab)]
    pdf = generate_pages_pandas(260, vocab_size=vocab, seed=seed)
    full = OF.build_index(dict(zip(pdf.doc_id, pdf.text)))
    q = [["t000001", "t000017", "t000230"]]
    assert (oracle.bm25_expected(oracle.TokenCorpus.union(parts), q, 10)
            == [OF.search(full, q[0], k=10)])


@pytest.mark.parametrize("max_df", [None, 6])
def test_cosine_expected_equals_dense_oracle(max_df):
    """Sampled-row cosine equals ``s_plus_np`` on the whole dense matrix."""
    seed, vocab, n = 4, 300, 120
    corpus = oracle.TokenCorpus(0, n, seed, vocab)
    x = np.zeros((n, vocab))
    x[corpus.doc, corpus.term] = corpus.tf
    if max_df is not None:
        x[:, (x != 0).sum(axis=0) > max_df] = 0.0
    full = ON.topk_np(ON.s_plus_np(x, x.T, l2=1.0, c1=0.5, c2=0.5), 10)
    rows = [0, 17, 64, 119]
    got = oracle.cosine_expected(corpus, rows, 10, max_df=max_df)
    want = {r: full.get(r, []) for r in rows}
    assert oracle.topk_mismatch(got, want) == []
    assert oracle.topk_mismatch(want, got) == []


def test_planted_cosine_mismatch_is_caught():
    corpus = oracle.TokenCorpus(0, 80, 4, 300)
    exp = oracle.cosine_expected(corpus, [5, 9], 10)
    assert oracle.topk_mismatch(exp, exp) == []
    scaled = {5: [(c, v * 1.01) for c, v in exp[5]], 9: exp[9]}
    assert oracle.topk_mismatch(scaled, exp)                      # score
    swapped = {5: [(c + 1000, v) for c, v in exp[5]], 9: exp[9]}
    assert oracle.topk_mismatch(swapped, exp)                     # columns
    assert oracle.topk_mismatch({5: exp[5][:-1], 9: exp[9]}, exp)  # missing
    assert oracle.topk_mismatch({9: exp[9]}, exp)                 # no row


# --- status-store metric text -----------------------------------------------

def test_parse_metric_formats():
    assert parse_metric("1,234,567", "sum") == 1234567
    assert parse_metric("0.0 B", "size") == 0
    text = "total (min, med, max (stageId: taskId))\n4.5 MiB (1.0 KiB, 2 B, 3 B)"
    assert parse_metric(text, "size") == 4.5 * (1 << 20)
    assert parse_metric(None, "sum") == 0


# --- the design record matches BENCHMARK.json and the code ------------------

def _load(path):
    with open(path) as f:
        return json.load(f)


def test_design_covers_every_metric():
    spec = _load(os.path.join(ROOT, "BENCHMARK.json"))
    design = _load(os.path.join(HERE, "design.json"))
    layers = design["per_layer"]
    names = {m["name"] for m in spec["per_layer"]}
    for name in names:
        assert name.rsplit(".", 1)[0] in layers, name
    for prefix in layers:
        assert any(n.startswith(prefix + ".") for n in names), prefix
    assert set(design["end_to_end"]) == {m["name"] for m in spec["end_to_end"]}
    assert set(design["workloads"]) == {w["name"] for w in spec["workloads"]}
    e2e = set(design["end_to_end"]) | {"failed"}
    for prefix, m in layers.items():
        assert set(m["moves"]) <= e2e, prefix


def test_design_inputs_match_the_workloads():
    import workloads

    design = _load(os.path.join(HERE, "design.json"))["workloads"]
    idx, mat = workloads.IndexWorkload, workloads.MatrixWorkload
    assert design["index"]["inputs"]["docs"] == idx.N_DOCS
    assert design["index"]["inputs"]["append_docs"] == idx.DELTA_DOCS
    assert design["index"]["inputs"]["vocab"] == idx.VOCAB
    assert design["index"]["inputs"]["bulk_queries"] == idx.BULK
    assert design["index"]["inputs"]["point_batches_per_cycle"] == \
        idx.POINTS_PER_CYCLE
    assert design["index"]["inputs"]["point_queries"] == idx.POINT
    assert design["index"]["inputs"]["sampled_queries"] == idx.SAMPLED
    assert design["index"]["inputs"]["warm_docs"] == idx.WARM_DOCS
    assert design["matrix"]["inputs"]["docs"] == mat.N_DOCS
    assert design["matrix"]["inputs"]["sampled_rows"] == mat.SAMPLED_ROWS
    assert design["matrix"]["inputs"]["sampled_queries"] == \
        mat.SAMPLED_QUERIES
    assert design["matrix"]["inputs"]["vocab"] == mat.VOCAB
    assert design["matrix"]["inputs"]["max_df"] == mat.MAX_DF
    assert design["matrix"]["inputs"]["scan_queries"] == mat.SCAN_QUERIES
    assert design["matrix"]["inputs"]["warm_cycles"] == mat.WARM_CYCLES
    for name, cls in (("index", idx), ("matrix", mat)):
        assert design[name]["inputs"]["k"] == workloads.K
        assert design[name]["heavy_op"] == cls.HEAVY
        assert design[name]["light_op"] == cls.LIGHT


def test_benchmark_why_states_the_sizes():
    import workloads

    why = {w["name"]: w["why"]
           for w in _load(os.path.join(ROOT, "BENCHMARK.json"))["workloads"]}
    idx, mat = workloads.IndexWorkload, workloads.MatrixWorkload
    for n in (idx.N_DOCS, idx.BULK, idx.POINT, idx.DELTA_DOCS,
              idx.POINTS_PER_CYCLE):
        assert str(n) in why["index"], n
    for n in (mat.N_DOCS, mat.SCAN_QUERIES, workloads.K):
        assert str(n) in why["matrix"], n
