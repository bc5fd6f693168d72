"""Physical-plan regression tests: the optimizations the engine is designed
around must be visible in `.explain()` output (SURVEY.md §4)."""

from __future__ import annotations

import numpy as np
import pytest

from pyspark.sql import functions as F

import similaripy_spark as sps
from similaripy_spark.plans.explain import (
    count_exchanges,
    has_broadcast_join,
    has_window_group_limit,
    pushed_filters,
    physical_plan,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def li_matrix(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    return (
        li.groupBy("l_orderkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("value"))
        .select(
            F.col("l_orderkey").alias("row"),
            F.col("l_partkey").alias("col"),
            F.col("value").cast("double").alias("value"),
        )
    )


def test_topk_uses_window_group_limit(spark):
    """The deterministic top-k (operators.topk.top_k, which bm25_topk
    compiles) becomes WindowGroupLimit — the distributed equivalent of the
    reference's per-row heap (s_plus.h:39-64)."""
    from similaripy_spark.fulltext.postings import build_postings
    from similaripy_spark.fulltext.query import bm25_topk
    from similaripy_spark.fulltext.weights import bm25_weights

    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text")
    )
    q = spark.createDataFrame([(1, ["a", "b"])], "query_id long, terms array<string>")
    assert has_window_group_limit(bm25_topk(bm25_weights(build_postings(pages)), q))


def test_filter_pushdown_reaches_parquet_scan(spark):
    """A predicate on a parquet scan must appear in PushedFilters (Catalyst
    predicate pushdown — the relational analog of the reference's
    eliminate_zeros-before-compute, s_plus.pyx:208-211). Uses a table no
    other test caches: a cached relation becomes InMemoryTableScan and
    hides the scan node."""
    sup = spark.read.parquet(f"{SF}/supplier.parquet").filter(
        F.col("s_nationkey") == 3
    )
    pf = pushed_filters(sup)
    assert "s_nationkey" in pf, pf


def test_column_pruning(spark):
    """A 2-column projection must not read all columns (ReadSchema)."""
    ords = spark.read.parquet(f"{SF}/orders.parquet").select(
        "o_orderkey", "o_orderstatus"
    )
    plan = physical_plan(ords)
    assert "o_totalprice" not in plan.split("ReadSchema")[-1]


def test_bm25_weights_uses_broadcasts(spark):
    """Term stats and corpus scalars must ride in as broadcasts — the big
    postings relation is never shuffled by the weighting pass."""
    from similaripy_spark.fulltext.postings import build_postings
    from similaripy_spark.fulltext.weights import bm25_weights

    pages = spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", F.col("text")
    )
    w = bm25_weights(build_postings(pages))
    assert has_broadcast_join(w)
    # and the weighting pass introduces no hash-exchange of the postings
    # beyond the two tiny aggregation sides
    assert count_exchanges(w) <= 3, physical_plan(w)


def _above_first_exchange(plan: str) -> str:
    """The plan text from the root down to the first (topmost) Exchange."""
    return plan.split("Exchange", 1)[0]


def test_s_plus_exchange_budget(spark, li_matrix):
    """The similarity kernel adds exactly one exchange — the row
    repartition feeding the Arrow SPA kernel — and nothing relational sits
    above it: the pair stream, its (row, col) accumulation and the top-k
    all live inside the kernel. cosine = the matrix's own aggregate + the
    row exchange; rp3beta's row pin below its L1 window makes the kernel's
    repartition elide, so it has the same count."""
    cos = physical_plan(sps.cosine(li_matrix, k=10))
    assert count_exchanges(sps.cosine(li_matrix, k=10)) == 2, cos
    top = _above_first_exchange(cos)
    assert "MapInArrow" in top, cos
    for op in ("Join", "HashAggregate", "Window"):
        assert op not in top, cos

    rp3 = sps.rp3beta(li_matrix, k=10, tie_round=9)
    plan = physical_plan(rp3)
    assert count_exchanges(rp3) == 2, plan
    top = _above_first_exchange(plan)
    assert "MapInArrow" in top, plan
    assert "Join" not in top and "HashAggregate" not in top, plan
    # the only window is the L1 row normalization over the row pin
    assert top.count("Window [") == 1, plan


def test_matrix_weighting_skew_safe_plan_shapes(spark, li_matrix):
    """tfidf/bm25/normalize never window-partition by a corpus-sized key:
    term stats are groupBy aggregates joined back (map-side combine + AQE
    skew splitting); the only window allowed is the doc-length one over the
    row key (document-length-bounded groups), and axis=0 plans — where the
    doc key is a column — contain no Window operator at all."""
    import re as _re

    for df in (sps.bm25(li_matrix), sps.tfidf(li_matrix)):
        specs = _re.findall(r"windowspecdefinition\((\w+)#", physical_plan(df))
        assert set(specs) <= {"row"}, specs
    for df in (
        sps.bm25(li_matrix, axis=0),
        sps.tfidf(li_matrix, axis=0),
        sps.normalize(li_matrix, "l2", axis=0),
    ):
        plan = physical_plan(df)
        assert "Window" not in plan, plan


def test_no_single_partition_exchange_in_hash_encodings(spark):
    """minhash/simhash/winnowing id assignment is a pure md5 projection —
    the plan must contain NO single-partition exchange. (The round-1
    dense_rank dictionary encoding compiled to `Exchange SinglePartition`
    + `Window`, moving the whole distinct term/shingle set through one
    task — the WindowExec warnings in BENCH_r01.json.)"""
    from similaripy_spark.operators import dedup, textstats

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    for df in (
        dedup.minhash_signatures(docs, 8),
        dedup.minhash_lsh_pairs(docs, 8, 4),
        dedup.simhash(docs, bits=48),
        textstats.winnow_fingerprints(docs),
    ):
        plan = physical_plan(df)
        assert "Exchange SinglePartition" not in plan, plan


def test_jaccard_candidates_prune_before_aggregate(spark):
    """With LSH candidates supplied, the exact-Jaccard verifier must drive
    the intersection FROM the candidate pairs (semi-join under the groupBy)
    instead of materializing the quadratic shingle self-join."""
    from similaripy_spark.operators import dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    cand = spark.createDataFrame([(1, 2), (3, 4)], "doc_a long, doc_b long")
    out = dedup.ngram_jaccard_pairs(docs, threshold=0.0, candidates=cand)
    plan = physical_plan(out)
    # the doc_b/shingle restriction is a semi-join, and the quadratic
    # all-pairs predicate (doc_a < doc_b over the full self-join) is absent
    import re as _re

    assert "LeftSemi" in plan, plan
    assert not _re.search(r"doc_a#\d+L? < doc_b#", plan), plan


def test_array_filter_cols_prune_broadcast_csr(spark, li_matrix, monkeypatch):
    """Array-form filter_cols remove those columns from the broadcast m2
    CSR before the kernel runs (the reference pre-filters in Python:
    s_plus_utils.pyx:424-490) — no join or filter over the pair stream."""
    from similaripy_spark.functions import similarity

    seen = []
    real = similarity._m2_blocks

    def spy(*args, **kwargs):
        blocks = real(*args, **kwargs)
        seen.append(np.concatenate([b["col_ids"] for b in blocks]))
        return blocks

    monkeypatch.setattr(similarity, "_m2_blocks", spy)
    excl = list(range(1, 50))
    plain = sps.dot_product(li_matrix, k=5)
    out = sps.dot_product(li_matrix, k=5, filter_cols=excl)
    full, pruned = seen
    assert np.isin(excl, full).any()
    assert not np.isin(excl, pruned).any()
    assert set(full) - set(excl) == set(pruned)
    assert count_exchanges(out) == count_exchanges(plain)
    assert "Join" not in physical_plan(out)


def test_factored_build_plan_has_no_stats_join(spark):
    """The factored weighting stage is map-side only: the shuffle
    build's physical plan contains exactly ONE exchange (the doc→shard
    repartition) and NO aggregate or join before it — the vocabulary-sized
    term-stats aggregate+join of the prod scheme is gone from the build
    entirely (idf applies at query time)."""
    from similaripy_spark.fulltext.index_build import IndexBuilder
    from similaripy_spark.fulltext.postings import build_postings
    from similaripy_spark.fulltext.weights import bm25_tf_part
    from similaripy_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 500, vocab_size=400)
    w = bm25_tf_part(build_postings(pages), avgdl=120.0).withColumn(
        "shard", (F.col("doc_id") / 256).cast("int")
    )
    b = IndexBuilder("/tmp/unused_plan_test", shard_size=256, n_groups=2,
                     weight_scheme="factored")
    plan = physical_plan(b._segment_plan(w, 2))
    assert plan.count("Exchange") == 1  # the doc→shard repartition only
    assert "Join" not in plan
    assert "Aggregate" not in plan


def test_dv_filter_adds_no_exchange(spark, tmp_path):
    """A doc-values filter must ride the EXISTING per-shard cogroup
    shuffle: its per-shard sentinel rows enter through a Union below the
    same exchange, so the filtered plan has exactly the plain plan's
    exchange count, one extra parquet scan (the codes sidecar), and one
    Union — no broadcast of corpus-sized state, no extra shuffle
    (docvalues.py delivery contract)."""
    from similaripy_spark.fulltext.docvalues import build_docvalues
    from similaripy_spark.fulltext.index_build import (
        IndexBuilder,
        read_segments,
    )
    from similaripy_spark.fulltext.wand import segment_topk
    from similaripy_spark.sources.pages import generate_pages

    pages = generate_pages(spark, 600, vocab_size=300, partitions=4)
    d = str(tmp_path / "idx")
    IndexBuilder(d, n_groups=2, shard_size=256).build(pages)
    build_docvalues(pages, d, ["lang"])
    q = pages.filter(F.col("doc_id") < 8).select(
        F.col("doc_id").alias("query_id"),
        F.split("text", " ").alias("terms"),
    )
    seg = read_segments(spark, d)
    plain = physical_plan(segment_topk(seg, q, k=5, index_dir=d))
    filt = physical_plan(
        segment_topk(seg, q, k=5, index_dir=d, dv_filter={"lang": ["en"]})
    )
    assert filt.count("Exchange") == plain.count("Exchange")
    assert filt.count("Scan parquet") == plain.count("Scan parquet") + 1
    assert "Union" in filt and "Union" not in plain
