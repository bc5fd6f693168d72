"""The two workloads. Each one generates its inputs from the seed, warms the
code paths it times, then repeats a fixed cycle of operations through the
engine's public functions only. Every operation runs in its own Spark job
group, so its jobs can be read back from the status stores afterwards.

``index``  the fulltext index lifecycle: SPIMI build, open + warm, one bulk
           and several point BM25 batches on the opened index, one append
           epoch, then a one-shot read-after-write batch.
``matrix`` the similarity products: uncapped cosine top-k on a Zipf
           doc×term matrix (streams the hot-column pairs), the same call
           with ``max_df`` (cold columns only), and an index-free BM25 scan
           (``bm25_weights`` → ``bm25_topk``).
"""

from __future__ import annotations

import os
import statistics
import sys
import time
import traceback

import numpy as np
from pyspark.sql import functions as F

import similaripy_spark as sps
from similaripy_spark.fulltext import retrieve
from similaripy_spark.fulltext.append import append_to_index
from similaripy_spark.fulltext.index_build import (
    IndexBuilder,
    describe_index,
    read_lineage,
)
from similaripy_spark.fulltext.postings import build_postings
from similaripy_spark.fulltext.query import bm25_topk
from similaripy_spark.fulltext.weights import bm25_weights
from similaripy_spark.sources.pages import (
    generate_pages,
    generate_queries_pandas,
)

import oracle
from record import compare_ranked
from status import pyworker_rss_mb

K = 10


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path) for f in files
    )


def _ranked(rows) -> dict[int, list[tuple[int, int, float]]]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r["query_id"]), []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    return out


def _by_row(rows) -> dict[int, list[tuple[int, float]]]:
    out: dict[int, list] = {}
    for r in rows:
        out.setdefault(int(r["row"]), []).append(
            (int(r["col"]), float(r["value"])))
    return out


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


class Harness:
    """Runs and records the timed operations of one benchmark run."""

    def __init__(self, spark, seed: int, trace: bool):
        self.spark = spark
        self.sc = spark.sparkContext
        self.seed = seed
        self.trace = trace
        self.ops: list[dict] = []
        self.cycles: list[float] = []
        #: (name, start, end, parent) of set-up steps, cycles and operations
        self.spans: list[dict] = []
        self.measure_s = 0.0
        self._groups = 0
        #: highest summed VmHWM of the Python workers seen after an operation
        self.pyworker_mb = 0.0
        #: time spent reading status stores between operations (traced
        #: runs only); taken out of the cycle times it falls in
        self.collect_s = 0.0

    def op(self, kind: str, fn, keep=None) -> dict:
        """Time ``fn()`` in its own job group. An exception counts as a
        failed operation and the run goes on. ``keep(result)`` extracts
        what the oracle check needs; the result itself is dropped."""
        self._groups += 1
        group = f"perfbench-{self._groups:04d}-{kind}"
        rec = {"kind": kind, "group": group, "cycle": len(self.cycles),
               "errors": [], "rows": 0, "result": None}
        self.sc.setJobGroup(group, f"perfbench {kind}")
        rec["start"] = time.time()
        t0 = time.perf_counter()
        try:
            result = fn()
        except Exception as exc:  # a failed operation is counted, not fatal
            traceback.print_exc(file=sys.stderr)
            rec["errors"].append(f"{type(exc).__name__}: {exc}"[:500])
            result = None
        rec["wall_s"] = time.perf_counter() - t0
        rec["end"] = time.time()
        self.sc._jsc.clearJobGroup()
        if isinstance(result, list):
            rec["rows"] = len(result)
        rec["result"] = keep(result) if keep and result is not None else result
        self.pyworker_mb = max(self.pyworker_mb, pyworker_rss_mb(self.spark))
        self.ops.append(rec)
        self.span(kind, rec["start"], rec["end"],
                  parent=f"cycle{rec['cycle']}")
        return rec

    def span(self, name: str, start: float, end: float,
             parent: str | None = None) -> None:
        self.spans.append(
            {"name": name, "start": start, "end": end, "parent": parent})

    def collecting(self, fn):
        """Run a traced-only status read; its time is kept out of the
        cycle's wall time and reported as tracing overhead."""
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.collect_s += time.perf_counter() - t0

    def warm_cycles(self, cycle, n: int) -> None:
        """Run ``n`` untimed cycles: the first call of an operation at full
        size still pays JIT compilation that a small warm-up misses."""
        kept = len(self.spans)
        for _ in range(n):
            cycle()
        self.ops.clear()
        del self.spans[kept:]

    def measure(self, cycle, seconds: float) -> None:
        """Whole cycles until ``seconds`` have passed: always one, and another
        only while the last cycle's time still fits in the budget."""
        t_start = time.perf_counter()
        while True:
            c0, collected0 = time.perf_counter(), self.collect_s
            start = time.time()
            cycle()
            self.span(f"cycle{len(self.cycles)}", start, time.time(),
                      parent="measure")
            took = time.perf_counter() - c0 - (self.collect_s - collected0)
            self.cycles.append(took)
            if time.perf_counter() - t_start + took > seconds:
                break
        self.measure_s = time.perf_counter() - t_start

    def walls(self, kind: str) -> list[float]:
        return [r["wall_s"] for r in self.ops if r["kind"] == kind]

    def of(self, kind: str) -> list[dict]:
        return [r for r in self.ops if r["kind"] == kind]

    def stat(self, stats: dict[str, dict], kind: str, field: str) -> float:
        """Median of one status-store total over the operations of a kind
        (0 when the run has none); ``stats`` maps a job group to its totals."""
        return median([stats[r["group"]][field] for r in self.of(kind)])


class IndexWorkload:
    """Fulltext index lifecycle on a Zipf pages corpus."""

    N_DOCS = 16384         # one full shard at IndexBuilder's default size
    DELTA_DOCS = 2048      # one append epoch, into a second shard
    VOCAB = 50000
    BULK = 1000
    POINT = 8
    POINTS_PER_CYCLE = 3   # the bulk batch runs after the first
    SAMPLED = 4            # queries per batch checked against the oracle
    INPUT_ROWS = N_DOCS + DELTA_DOCS
    WARM_DOCS = 1024       # the small index of the untimed warm-up
    #: a warm-up cycle would cost as much as the timed one
    WARM_CYCLES = 0
    HEAVY, LIGHT = "build", "point"

    def __init__(self, h: Harness, work: str):
        self.h, self.spark, self.work = h, h.spark, work
        self.pages_dir = os.path.join(work, "pages")
        self.index_bytes: list[int] = []
        rng = np.random.default_rng(h.seed)
        self.bulk_sample = sorted(
            rng.choice(self.BULK, self.SAMPLED, replace=False).tolist())

    def _queries(self, n: int, salt: int):
        pdf = generate_queries_pandas(
            n, vocab_size=self.VOCAB, seed=self.h.seed * 1009 + salt)
        return pdf, self.spark.createDataFrame(pdf)

    def setup_unit(self) -> None:
        """Generate the corpus and its append epoch into parquet."""
        generate_pages(
            self.spark, self.N_DOCS + self.DELTA_DOCS,
            vocab_size=self.VOCAB, seed=self.h.seed,
        ).write.mode("overwrite").parquet(self.pages_dir)

    def prepare(self) -> None:
        pages = self.spark.read.parquet(self.pages_dir)
        self.base = pages.filter(F.col("doc_id") < self.N_DOCS)
        self.delta = pages.filter(F.col("doc_id") >= self.N_DOCS)
        self.bulk_pd, self.bulk = self._queries(self.BULK, 0)

    def warm(self) -> None:
        """First calls of the build and query paths on a small index: JVM
        class loading, Python worker start-up and the tokenizer and WAND
        kernels, which would otherwise fall on the first timed build and
        point batch. A full warm-up cycle would cost as much as the timed
        one."""
        d = os.path.join(self.work, "warm")
        IndexBuilder(d).build(generate_pages(
            self.spark, self.WARM_DOCS, vocab_size=self.VOCAB,
            seed=self.h.seed + 1))
        handle = retrieve.open_index(self.spark, d).warm()
        handle.topk(self._queries(self.POINT, 999)[1], k=K).collect()
        handle.close()

    def cycle(self) -> None:
        h = self.h
        c = len(h.cycles)
        d = os.path.join(self.work, f"index_{c}")
        build = h.op("build", lambda: IndexBuilder(d).build(self.base))
        if not build["errors"]:
            self.index_bytes.append(_dir_bytes(d))
            if h.trace:
                build["phase_ms"] = h.collecting(
                    lambda: describe_index(self.spark, d).get("build_phase_ms")
                    or {})
                build["lineage"] = h.collecting(
                    lambda: read_lineage(self.spark, d).collect())
        opened = h.op("open_warm",
                      lambda: retrieve.open_index(self.spark, d).warm())
        handle = opened["result"]
        sample = set(self.bulk_sample)
        for i in range(self.POINTS_PER_CYCLE):
            if i == 1:
                bulk = h.op(
                    "bulk", lambda: handle.topk(self.bulk, k=K).collect(),
                    keep=lambda rows: {q: v for q, v in _ranked(rows).items()
                                       if q in sample})
                bulk["queries"] = self.bulk_pd
            q_pd, q = self._queries(self.POINT, 1 + c * 16 + i)
            rec = h.op("point", lambda: handle.topk(q, k=K).collect(),
                       keep=_ranked)
            rec["queries"] = q_pd
        if handle is not None:
            handle.close()
        h.op("append", lambda: append_to_index(self.spark, d, self.delta))
        q_pd, q = self._queries(self.POINT, 1 + c * 16 + 15)
        rec = h.op("fresh",
                   lambda: retrieve.topk(self.spark, d, q, k=K).collect(),
                   keep=_ranked)
        rec["queries"] = q_pd

    def verify(self) -> None:
        """Sampled queries of every batch against ``oracle_fulltext``: the
        bulk/point batches over the built corpus, the fresh batch over the
        corpus plus its append epoch."""
        seed = self.h.seed
        base = oracle.TokenCorpus(0, self.N_DOCS, seed, self.VOCAB)
        delta = oracle.TokenCorpus(
            self.N_DOCS, self.N_DOCS + self.DELTA_DOCS, seed, self.VOCAB)
        grown = oracle.TokenCorpus.union([base, delta])
        self.text_bytes = base.text_bytes
        checks = {"base": [], "grown": []}
        for rec in self.h.ops:
            if rec["kind"] not in ("bulk", "point", "fresh") or rec["errors"]:
                continue
            qpd = rec["queries"]
            qids = self.bulk_sample if rec["kind"] == "bulk" else \
                qpd["query_id"].tolist()[:self.SAMPLED]
            for q in qids:
                checks["grown" if rec["kind"] == "fresh" else "base"].append(
                    (rec, q, list(qpd["terms"].iloc[q])))
        for corpus, todo in ((base, checks["base"]), (grown, checks["grown"])):
            expected = oracle.bm25_expected(corpus, [t for _, _, t in todo], K)
            for (rec, q, _), exp in zip(todo, expected):
                rec["errors"] += [
                    f"query {q}: {e}"
                    for e in compare_ranked(rec["result"].get(q, []), exp)]

    def report(self) -> dict:
        w = self.h.walls
        return {
            "build_docs_per_s": ([self.N_DOCS / t for t in w("build")], "1/s"),
            "append_docs_per_s": ([self.DELTA_DOCS / t for t in w("append")],
                                  "1/s"),
            "fresh_query_p50_s": (w("fresh"), "s"),
            "point_latency_p50_s": (w("point"), "s"),
            "bulk_queries_per_s": ([self.BULK / t for t in w("bulk")], "1/s"),
            "open_warm_s": (w("open_warm"), "s"),
            "index_bytes_per_text_byte": (
                [b / self.text_bytes for b in self.index_bytes], "ratio"),
        }

    def layers(self, stats: dict[str, dict]) -> dict[str, float]:
        """Per-layer medians over this run's operations; ``stats`` maps a
        job group to its status-store totals."""
        h = self.h
        out: dict[str, float] = {}
        builds = [r for r in h.of("build") if "phase_ms" in r]
        for phase in ("doc_stats", "segment_job", "term_stats",
                      "footer_stats"):
            out[f"index_build.{phase}_ms"] = median(
                [r["phase_ms"].get(phase, 0) for r in builds])
        for f in ("jobs", "tasks", "executor_run_ms", "shuffle_write_bytes",
                  "spill_bytes", "pyworker_bytes_sent"):
            out[f"index_build.{f}"] = h.stat(stats, "build", f)
        out["commit.ms"] = median([r["phase_ms"].get("commit", 0)
                                   for r in builds])
        for f in ("blocks", "postings", "bytes"):
            out[f"commit.{f}"] = median(
                [sum(g[f] for g in r["lineage"]) for r in builds])
        out["append.ms"] = 1000 * median(h.walls("append"))
        for f in ("jobs", "executor_run_ms", "shuffle_write_bytes"):
            out[f"append.{f}"] = h.stat(stats, "append", f)
        out["retrieve.open_warm_ms"] = 1000 * median(h.walls("open_warm"))
        for kind in ("point", "bulk", "fresh"):
            for f in ("jobs", "stages", "tasks", "executor_run_ms",
                      "driver_ms", "pyworker_bytes_sent",
                      "pyworker_bytes_received"):
                out[f"wand.{kind}.{f}"] = h.stat(stats, kind, f)
            out[f"wand.{kind}.result_rows"] = median(
                [r["rows"] for r in h.of(kind)])
        return out


class MatrixWorkload:
    """Similarity products on a Zipf doc×term matrix."""

    N_DOCS = 1000
    VOCAB = 20000
    MAX_DF = N_DOCS // 100   # 1% of the docs
    SCAN_QUERIES = 200
    SAMPLED_ROWS = 5
    SAMPLED_QUERIES = 10
    INPUT_ROWS = N_DOCS
    WARM_CYCLES = 2
    HEAVY, LIGHT = "zipf", "capped"

    def __init__(self, h: Harness, work: str):
        self.h, self.spark = h, h.spark
        self.postings = self.matrix = None
        rng = np.random.default_rng(h.seed)
        self.rows = sorted(rng.choice(self.N_DOCS, self.SAMPLED_ROWS,
                                      replace=False).tolist())
        self.qids = sorted(rng.choice(self.SCAN_QUERIES, self.SAMPLED_QUERIES,
                                      replace=False).tolist())

    def warm(self) -> None:
        """First jobs: JVM class loading and Python worker start-up. The
        operations themselves are warmed by WARM_CYCLES full cycles."""
        self.spark.range(1000).selectExpr("sum(id)").collect()
        self.spark.range(8).mapInPandas(lambda it: it, "id long").count()

    @staticmethod
    def _matrix(postings):
        # term "t000123" → column 123
        return postings.select(
            F.col("doc_id").alias("row"),
            F.substring("term", 2, 6).cast("long").alias("col"),
            F.col("tf").cast("double").alias("value"),
        )

    def setup_unit(self) -> None:
        """Generate the pages, tokenize them and cache the postings and the
        doc×term matrix."""
        for df in (self.postings, self.matrix):
            if df is not None:
                df.unpersist(blocking=True)
        pages = generate_pages(self.spark, self.N_DOCS,
                               vocab_size=self.VOCAB, seed=self.h.seed)
        self.postings = build_postings(pages).persist()
        self.matrix = self._matrix(self.postings).persist()
        self.matrix.count()

    def prepare(self) -> None:
        self.q_pd = generate_queries_pandas(
            self.SCAN_QUERIES, vocab_size=self.VOCAB, seed=self.h.seed * 1009)
        self.queries = self.spark.createDataFrame(self.q_pd)

    def cycle(self) -> None:
        h, rows, qids = self.h, set(self.rows), set(self.qids)

        def keep_rows(res):
            return {r: v for r, v in _by_row(res).items() if r in rows}

        h.op("zipf", lambda: sps.cosine(self.matrix, k=K).collect(),
             keep=keep_rows)
        h.op("capped", lambda: sps.cosine(self.matrix, k=K,
                                          max_df=self.MAX_DF).collect(),
             keep=keep_rows)
        h.op("scan", lambda: bm25_topk(bm25_weights(self.postings),
                                       self.queries, k=K).collect(),
             keep=lambda res: {q: v for q, v in _ranked(res).items()
                               if q in qids})

    def verify(self) -> None:
        """Sampled rows of both cosine products against ``oracle_numpy``,
        sampled scan queries against ``oracle_fulltext``."""
        corpus = oracle.TokenCorpus(0, self.N_DOCS, self.h.seed, self.VOCAB)
        expected = {
            "zipf": oracle.cosine_expected(corpus, self.rows, K),
            "capped": oracle.cosine_expected(corpus, self.rows, K,
                                             max_df=self.MAX_DF),
        }
        terms = [list(self.q_pd["terms"].iloc[q]) for q in self.qids]
        scan = dict(zip(self.qids, oracle.bm25_expected(corpus, terms, K)))
        for rec in self.h.ops:
            if rec["errors"]:
                continue
            if rec["kind"] == "scan":
                for q, exp in scan.items():
                    rec["errors"] += [
                        f"query {q}: {e}"
                        for e in compare_ranked(rec["result"].get(q, []), exp)]
            else:
                rec["errors"] += oracle.topk_mismatch(rec["result"],
                                                      expected[rec["kind"]])

    def report(self) -> dict:
        w = self.h.walls
        return {
            "cosine_zipf_s": (w("zipf"), "s"),
            "cosine_capped_s": (w("capped"), "s"),
            "bm25_scan_s": (w("scan"), "s"),
        }

    def layers(self, stats: dict[str, dict]) -> dict[str, float]:
        """Per-layer medians over this run's operations; the pair stream
        of a product is the largest join output of its plans."""
        h = self.h
        out: dict[str, float] = {}
        for kind in ("zipf", "capped"):
            out[f"similarity.{kind}.pair_rows"] = h.stat(
                stats, kind, "join_rows")
            out[f"similarity.{kind}.pairs_per_output_row"] = median(
                [stats[r["group"]]["join_rows"] / r["rows"]
                 for r in h.of(kind) if r["rows"]])
            for f in ("exchanges", "executor_run_ms", "shuffle_write_bytes",
                      "spill_bytes"):
                out[f"similarity.{kind}.{f}"] = h.stat(stats, kind, f)
        for f in ("executor_run_ms", "shuffle_write_bytes", "join_rows"):
            out[f"bm25_scan.{f}"] = h.stat(stats, "scan", f)
        return out


WORKLOADS = {"index": IndexWorkload, "matrix": MatrixWorkload}
