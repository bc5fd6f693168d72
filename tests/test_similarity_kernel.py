"""The row-partitioned Arrow SPA kernel behind s_plus: column blocks under a
small broadcast budget, chunking below one row's pairs, DataFrame
populations with missing keys, and the one-value-per-cell input invariant."""

from __future__ import annotations

import numpy as np
import pytest

import similaripy_spark as sps
from similaripy_spark.functions import similarity
from similaripy_spark.plans.explain import physical_plan
from tests import oracle_numpy as O
from tests.conftest import assert_topk_equal, collect_matrix, to_matrix_df

K = 12


def _rows(df):
    """Collected output in a canonical order, values bit-exact."""
    return sorted((r["row"], r["col"], r["value"]) for r in df.collect())


@pytest.fixture(scope="module")
def calls(spark, m_topk):
    """cosine / dot_product / rp3beta with target_rows, a filter_cols
    matrix and tie_round."""
    m = to_matrix_df(spark, m_topk)
    n = m_topk.shape[0]
    mask = np.random.default_rng(9).random((n, n)) < 0.1
    fc = to_matrix_df(spark, mask.astype(float)).select("row", "col")
    targets = list(range(0, n, 3))
    common = dict(k=K, target_rows=targets, filter_cols=fc, tie_round=9)
    return {
        "cosine": lambda: sps.s_plus(m, l1=0.0, l2=1.0, **common),
        "dot_product": lambda: sps.s_plus(m, l1=0.0, l2=0.0, **common),
        "rp3beta": lambda: sps.rp3beta(m, alpha=0.9, beta=0.6, **common),
    }


@pytest.mark.parametrize("name", ["cosine", "dot_product", "rp3beta"])
def test_column_blocks_match_one_block(spark, calls, name):
    """A broadcast budget far below m2's size splits it into column
    blocks; their merged top-k equals the one-block result exactly."""
    one = calls[name]()
    assert physical_plan(one).count("MapInArrow") == 1
    expected = _rows(one)
    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "12000")
    try:
        blocked = calls[name]()
    finally:
        spark.conf.set(key, old)
    assert physical_plan(blocked).count("MapInArrow") > 1
    assert _rows(blocked) == expected


def test_pair_budget_below_one_row(spark, calls, monkeypatch):
    """Chunks hold whole rows, so a pair budget smaller than any row's
    pairs (one row per chunk) gives the same result."""
    expected = {n: _rows(c()) for n, c in calls.items()}
    monkeypatch.setattr(similarity, "_PAIR_BUDGET", 1)
    for n, c in calls.items():
        assert _rows(c()) == expected[n], n


def test_dataframe_pops_drop_missing_keys(spark, m_topk):
    """ids absent from a DataFrame pop1 / pop2 drop exactly those output
    rows / cols (the inner-join semantics of a per-key relation)."""
    n = m_topk.shape[0]
    rng = np.random.default_rng(11)
    w1, w2 = rng.random(n) + 0.5, rng.random(n) + 0.5
    miss_rows = set(range(0, n, 7))
    miss_cols = set(range(1, n, 5))
    pop1 = spark.createDataFrame(
        [(i, float(w1[i])) for i in range(n) if i not in miss_rows],
        "id long, w double")
    pop2 = spark.createDataFrame(
        [(i, float(w2[i])) for i in range(n) if i not in miss_cols],
        "id long, w double")
    kw = dict(l1=0.0, l2=0.0, l3=1.0, p1=0.4, p2=0.7)
    got = collect_matrix(sps.s_plus(to_matrix_df(spark, m_topk), k=K,
                                    pop1=pop1, pop2=pop2, **kw))
    S = O.s_plus_np(m_topk, m_topk.T, pop1=w1, pop2=w2, **kw)
    S[sorted(miss_rows), :] = 0
    S[:, sorted(miss_cols)] = 0
    assert_topk_equal(got, O.topk_np(S, K))
    assert not set(got) & miss_rows
    assert not {c for e in got.values() for c, _ in e} & miss_cols


def test_duplicate_cell_raises(spark):
    """One stored value per (row, col): a duplicate cell names itself."""
    ok = [(0, 1, 1.0), (0, 2, 2.0), (1, 1, 3.0), (2, 2, 1.0)]
    dup = ok + [(1, 1, 4.0)]
    schema = "row long, col long, value double"
    good, bad = (spark.createDataFrame(r, schema) for r in (ok, dup))

    # m2 (and m1 of a self-similarity, which is collected as m1ᵀ) is
    # checked when s_plus is called
    with pytest.raises(ValueError, match=r"in m2: \(1, 1\)"):
        sps.cosine(good, bad)
    with pytest.raises(ValueError, match=r"in m1: \(1, 1\)"):
        sps.cosine(bad)
    # a cross-similarity m1 stays lazy: the kernel raises inside its task
    with pytest.raises(Exception, match=r"ValueError: duplicate \(row, col\) "
                                        r"cell in m1: \(1, 1\)"):
        sps.cosine(bad, good).collect()
