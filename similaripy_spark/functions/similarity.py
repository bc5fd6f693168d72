"""The generalized top-k sparse similarity kernel, Spark-first.

The reference implements ONE kernel — ``s_plus`` (similaripy/cython_code/
s_plus.h:71-240: row-parallel Gustavson SpGEMM into a sparse accumulator
(SPA), drained through a normalization/shrink/threshold expression into a
size-k heap) — and parameterizes it into nine public similarity functions
(similaripy/similarity.py:9-592). This module does the same with one
row-partitioned Arrow kernel:

    m2 (m1ᵀ for self-similarity)
      → collected once on the driver as Arrow, max_df-capped, per-col
        statistics taken, column selectors applied, laid out as CSR keyed
        by the shared dimension               -- the reference's in-memory m2
      → shipped as a Spark broadcast
    m1 (+ tagged mask / population rows)
      → repartitioned by row                  -- the OpenMP row loop
      → mapInArrow, per task:
          expand each row's pairs against the CSR
          accumulate the (row, col) cells       -- the SPA (sort-based)
          scalar similarity expression          -- s_plus.h:129-156
          value >= threshold, value != 0        -- s_plus.h:205-207 + output
                                                   eliminate_zeros (s_plus.pyx:424)
          per-row top-k                         -- s_plus.h:39-64 heap

A row is complete in its partition, so the top-k needs no exchange after
the kernel, and only matrix entries cross the JVM↔Python boundary — the
pair stream (quadratic in posting lengths, the only truly large relation
here) never leaves the task that produces it.

Scale notes:
* the m2 side is bounded by the broadcast budget
  (``spark.sql.autoBroadcastJoinThreshold``); a larger m2 is split into
  the fewest column blocks under it, each block runs the same kernel, and
  the per-block top-k sets merge through ``operators.topk.top_k`` (the
  global top-k is a subset of their union: the order is total);
* a task's pair arena is bounded: rows are taken in whole-row chunks of
  about ``_PAIR_BUDGET`` pairs, so a skewed partition costs time, not
  memory;
* per-row selector masks and DataFrame populations ride the same row
  exchange as tagged rows, the way docvalues sentinel rows ride
  ``segment_topk`` — no join anywhere in the plan.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterable, Optional, Union

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from similaripy_spark.matrix import as_matrix, eliminate_zeros, transpose
from similaripy_spark.functions.normalization import normalize as _normalize
from similaripy_spark.operators.topk import top_k

Selector = Union[None, Iterable[int], DataFrame]

# pairs expanded per accumulator chunk (whole rows; one row may exceed it)
_PAIR_BUDGET = 1 << 17

# kernel input row tags: m1 entries, per-row target/filter mask cells,
# DataFrame pop1 weights
_ENTRY, _TARGET, _FILTER, _POP1 = 0, 1, 2, 3

_OUT_SCHEMA = "row long, col long, value double"


def _shrink_values(shrink: float, shrink_type: str) -> tuple[float, float, float]:
    """shrink → (stabilized, bayesian, additive); similarity.py:595-617."""
    if shrink_type == "stabilized":
        return float(shrink), 0.0, 0.0
    if shrink_type == "bayesian":
        return 0.0, float(shrink), 0.0
    if shrink_type == "additive":
        return 0.0, 0.0, float(shrink)
    raise ValueError(
        "shrink_type must be one of 'stabilized', 'bayesian', 'additive'"
    )


def _as_ids(sel) -> np.ndarray:
    """A python iterable / 1-col DataFrame column selector → id array."""
    if isinstance(sel, DataFrame):
        t = sel.select(F.col(sel.columns[0]).cast("long")).toArrow()
        return t.column(0).to_numpy()
    return np.asarray([int(x) for x in sel], dtype=np.int64)


def _is_matrix(sel) -> bool:
    return isinstance(sel, DataFrame) and len(sel.columns) >= 2


def _cell_order(row: np.ndarray, col: np.ndarray, name: str) -> np.ndarray:
    """Sort order by (row, col), asserting the kernel's input invariant:
    one stored value per cell. The reference sums duplicates when it
    builds CSR from COO; summing them here instead would give
    xsq = Σv² per entry, not (Σv)²."""
    o = np.lexsort((col, row))
    r, c = row[o], col[o]
    d = np.flatnonzero((r[1:] == r[:-1]) & (c[1:] == c[:-1]))
    if d.size:
        raise ValueError(
            f"duplicate (row, col) cell in {name}: ({r[d[0]]}, {c[d[0]]})"
        )
    return o


def _m2_blocks(j, col, v2, *, hot, ys, keep_col, col_ids, budget):
    """CSR blocks of m2 keyed by the shared dimension ``j``, split over the
    kept output columns into the fewest blocks whose size stays within
    ``budget`` bytes (``budget <= 0``: one block). ``ys``: per-col
    statistics aligned with ``col_ids``."""
    code = np.cumsum(keep_col) - 1  # old col code → kept col code
    cc = np.searchsorted(col_ids, col)
    live = keep_col[cc]
    j, cc, v2 = j[live], code[cc[live]], v2[live]
    col_ids = col_ids[keep_col]
    ys = {name: a[keep_col] for name, a in ys.items()}

    n_col = len(col_ids)
    # bytes: 16 per entry (int64 code + float64 value), 24 per column
    # (its id + statistics)
    per_col = 16 * np.bincount(cc, minlength=n_col) + 24
    bounds = [0]
    if budget > 0:
        acc = 0
        for c, b in enumerate(per_col.tolist()):
            if acc and acc + b > budget:
                bounds.append(c)
                acc = 0
            acc += b
    bounds.append(n_col)

    o = np.lexsort((cc, j))
    j, cc, v2 = j[o], cc[o], v2[o]
    blocks = []
    for lo, hi in zip(bounds[:-1], bounds[1:]):
        sel = (cc >= lo) & (cc < hi)
        bj = j[sel]
        jids, start = np.unique(bj, return_index=True)
        blocks.append({
            "hot": hot,
            "jids": jids,
            "indptr": np.append(start, len(bj)).astype(np.int64),
            "cc": cc[sel] - lo,
            "v2": v2[sel],
            "col_ids": col_ids[lo:hi],
            "ys": {name: a[lo:hi] for name, a in ys.items()},
        })
    return blocks


def _pow(x, e: float) -> np.ndarray:
    """``x ** e`` per element through the C library's pow — the rounding
    Spark's and SQL engines' POW give. numpy's vectorized (SIMD) power
    differs in the last bit, which turns exact ties such as a/√b vs
    2a/√(4b) into arbitrary orders."""
    with np.errstate(all="ignore"):
        return np.array([np.float64(v) ** e for v in np.asarray(x).tolist()],
                        dtype=np.float64)


def _stats(code, v, n, sp, side: str, dep=None) -> dict:
    """Per-key statistics of one side (``side`` 'x': m1 rows, c1/p1; 'y':
    m2 cols, c2/p2): squared norm ``sq``, its cosine factor
    ``pw = (sq + h_add)^c`` and the depop weight ``dep = w^p``, where w is
    Σv for a 'sum' population or the given per-key array."""
    c, p, pop = (sp["c1"], sp["p1"], sp["pop1"]) if side == "x" else (
        sp["c2"], sp["p2"], sp["pop2"])
    out = {}
    if sp["l1"] != 0.0 or sp["l2"] != 0.0:
        out["sq"] = np.bincount(code, v * v, minlength=n)
    if sp["l2"] != 0.0:
        out["pw"] = _pow(out["sq"] + sp["h_add"], c)
    if pop == "sum":
        out["dep"] = _pow(np.bincount(code, v, minlength=n), p)
    elif dep is not None:
        out["dep"] = _pow(dep, p)
    return out


def _similarity(xy, xs, ys, sp) -> np.ndarray:
    """The s_plus.h:129-156 expression, term for term in float64, over
    per-cell gathers of the row (``xs``) and col (``ys``) statistics."""
    num = _pow(xy, sp["alpha"]) if sp["alpha"] != 1.0 else xy
    terms = []
    if sp["l1"] != 0.0:
        terms.append(sp["l1"] * (sp["t1"] * (xs["sq"] - xy)
                                 + sp["t2"] * (ys["sq"] - xy) + xy))
    if sp["l2"] != 0.0:
        terms.append(sp["l2"] * xs["pw"] * ys["pw"])
    if sp["l3"] != 0.0:
        terms.append(sp["l3"] * xs.get("dep", 1.0) * ys.get("dep", 1.0))
    if not (terms or sp["h_stab"] != 0.0 or sp["h_bayes"] != 0.0):
        # no normalization at all → raw xy, alpha ignored (s_plus.h:131, 142-156)
        return xy
    denom = sp["h_stab"]
    for t in terms:
        denom = denom + t
    with np.errstate(divide="ignore", invalid="ignore"):
        val = np.where(denom != 0.0, num / denom, 0.0)
        if sp["h_bayes"] != 0.0:
            val = val * (num / (num + sp["h_bayes"]))
    return val


def _topk_order(rows, cols, val, k, tie_round):
    """Indices of the per-row top-k by ``value DESC, col ASC`` on the
    ``tie_round``-quantized key — ``operators.topk.top_k``'s order,
    including Spark's NaN-greatest and floor-to-long semantics."""
    q = val
    if tie_round is not None:
        q = np.floor(val * float(10**tie_round) + 0.5)
        q = np.nan_to_num(np.clip(q, -(2.0**63), 2.0**63), nan=0.0)
    o = np.lexsort((cols, -q, ~np.isnan(q), rows))
    r = rows[o]
    first = np.r_[True, r[1:] != r[:-1]]
    idx = np.arange(len(o))
    rank = idx - np.maximum.accumulate(np.where(first, idx, 0))
    return o[rank < k]


def _spa_topk(row, col, val, tag, m2, sp):
    """One partition's rows (every entry of each row present) → per-row
    top-k (row, col, value) arrays, one tuple per chunk of whole rows."""
    e = tag == _ENTRY
    r1, j1, v1 = row[e], col[e], val[e]
    o = _cell_order(r1, j1, "m1")
    r1, j1, v1 = r1[o], j1[o], v1[o]
    if len(m2["hot"]):
        keep = ~np.isin(j1, m2["hot"])
        r1, j1, v1 = r1[keep], j1[keep], v1[keep]
    jids, indptr = m2["jids"], m2["indptr"]
    if not (len(r1) and len(jids)):
        return
    rows, ri = np.unique(r1, return_inverse=True)
    n = len(rows)

    # per-row statistics over the full (capped) rows; rows absent from a
    # DataFrame pop1 drop out
    live = np.ones(n, dtype=bool)
    dep = None
    if sp["pop1"] == "df":
        p = tag == _POP1
        live, dep = _lookup(row[p], val[p], rows)
    xs = _stats(ri, v1, n, sp, "x", dep)

    # m1 entries → CSR rows of m2 (entries with no m2 partner visit nothing)
    pos = np.minimum(np.searchsorted(jids, j1), len(jids) - 1)
    hit = (jids[pos] == j1) & live[ri]
    ri, jc, v1 = ri[hit], pos[hit], v1[hit]
    lens = indptr[jc + 1] - indptr[jc]

    n_col = len(m2["col_ids"])

    def mask_keys(t):
        s = tag == t
        mr, mc = row[s], col[s]
        rp = np.minimum(np.searchsorted(rows, mr), n - 1)
        cp = np.minimum(np.searchsorted(m2["col_ids"], mc), n_col - 1)
        ok = (rows[rp] == mr) & (m2["col_ids"][cp] == mc)
        return np.unique(rp[ok] * n_col + cp[ok])

    target = mask_keys(_TARGET) if sp["target"] else None
    filt = mask_keys(_FILTER) if sp["filter"] else None

    # chunks of whole rows, each expanding about pair_budget pairs
    cum = np.cumsum(np.bincount(ri, lens, minlength=n))
    row_lo = 0
    while row_lo < n:
        base = cum[row_lo - 1] if row_lo else 0.0
        row_hi = max(int(np.searchsorted(cum, base + sp["pair_budget"], "right")),
                     row_lo + 1)
        a, b = np.searchsorted(ri, [row_lo, row_hi])
        row_lo = row_hi
        L = lens[a:b]
        total = int(L.sum())
        if total == 0:
            continue
        seg = np.repeat(np.cumsum(L) - L, L)
        p = np.repeat(indptr[jc[a:b]], L) + (np.arange(total) - seg)
        key = np.repeat(ri[a:b], L) * n_col + m2["cc"][p]
        w = np.repeat(v1[a:b], L) * m2["v2"][p]
        cells, inv = np.unique(key, return_inverse=True)
        xy = np.bincount(inv, w, minlength=len(cells))
        if target is not None:
            keep = np.isin(cells, target, assume_unique=True)
            cells, xy = cells[keep], xy[keep]
        if filt is not None:
            keep = ~np.isin(cells, filt, assume_unique=True)
            cells, xy = cells[keep], xy[keep]
        cr, cc = np.divmod(cells, n_col)
        value = _similarity(
            xy,
            {name: st[cr] for name, st in xs.items()},
            {name: st[cc] for name, st in m2["ys"].items()},
            sp,
        )
        # threshold (s_plus.h:205-207) then drop exact zeros (s_plus.pyx:424);
        # NaN passes, as in Spark's ordering
        keep = ((value >= sp["threshold"]) | np.isnan(value)) & (value != 0.0)
        cr, cc, value = cr[keep], cc[keep], value[keep]
        top = _topk_order(cr, cc, value, sp["k"], sp["tie_round"])
        yield rows[cr[top]], m2["col_ids"][cc[top]], value[top]


def _spa_kernel(bc, sp):
    """mapInArrow kernel over one row partition of the tagged m1 rows."""

    def kernel(batches):
        import pyarrow as pa

        batches = list(batches)
        if not batches:
            return
        t = pa.Table.from_batches(batches)
        row, col, val, tag = (
            t.column(c).to_numpy() for c in ("row", "col", "value", "tag")
        )
        for r, c, v in _spa_topk(row, col, val, tag, bc.value, sp):
            yield pa.RecordBatch.from_arrays(
                [pa.array(r), pa.array(c), pa.array(v)],
                names=["row", "col", "value"],
            )

    return kernel


def _tagged(df: DataFrame, tag: int) -> DataFrame:
    """A (row, col) selector matrix, or a (row, w) population, as kernel
    input rows."""
    a, b = (F.col(c) for c in df.columns[:2])
    if tag == _POP1:
        col, value = F.lit(0).cast("long"), b.cast("double")
    else:
        col, value = b.cast("long"), F.lit(0.0)
    return df.select(a.cast("long").alias("row"), col.alias("col"),
                     value.alias("value"), F.lit(tag).alias("tag"))


def _collect_pop(pop: DataFrame):
    """DataFrame(id, w) population → (ids, w) arrays."""
    t = pop.select(
        F.col(pop.columns[0]).cast("long"), F.col(pop.columns[1]).cast("double")
    ).toArrow()
    return t.column(0).to_numpy(), t.column(1).to_numpy()


def _lookup(ids, w, keys):
    """Population weights of the sorted ``keys`` → (present, w)."""
    if not len(ids):
        return np.zeros(len(keys), dtype=bool), np.zeros(len(keys))
    o = np.argsort(ids, kind="stable")
    ids, w = ids[o], w[o]
    pos = np.minimum(np.searchsorted(ids, keys), len(ids) - 1)
    return ids[pos] == keys, w[pos]


def s_plus(
    m1: DataFrame,
    m2: Optional[DataFrame] = None,
    *,
    l1: float = 0.5,
    l2: float = 0.5,
    l3: float = 0.0,
    t1: float = 1.0,
    t2: float = 1.0,
    c1: float = 0.5,
    c2: float = 0.5,
    pop1: Union[str, DataFrame] = "none",
    pop2: Union[str, DataFrame] = "none",
    beta1: float = 0.0,
    beta2: float = 0.0,
    p1: Optional[float] = None,
    p2: Optional[float] = None,
    alpha: float = 1.0,
    k: int = 100,
    shrink: float = 0.0,
    shrink_type: str = "stabilized",
    threshold: float = 0.0,
    binary: bool = False,
    target_rows: Selector = None,
    target_cols: Selector = None,
    filter_cols: Selector = None,
    tie_round: int | None = None,
    max_df: int | None = None,
) -> DataFrame:
    """Generalized similarity (reference: similarity.py:506-592 public API,
    s_plus.h:129-156 formula):

        num   = xy ** alpha                       (only when a denominator exists;
                                                   s_plus.h:131, 142 — with no
                                                   normalization terms the raw xy
                                                   is returned and alpha ignored)
        denom = l1*(t1*(Σx²−xy) + t2*(Σy²−xy) + xy)        # Tversky
              + l2*(Σx²+h_add)^c1 * (Σy²+h_add)^c2          # Cosine
              + l3*Xdepop*Ydepop                             # Depop
              + h_stabilized
        val   = num/denom (0 if denom == 0); bayesian: val *= num/(num+h_bayes)

    ``pop1``/``pop2``: 'none' | 'sum' | DataFrame(id, w) custom weights
    (s_plus_utils.pyx:231-278); ids absent from a DataFrame population drop
    out of the result. Selector semantics per s_plus.pyx:190-196, 276-295
    and s_plus.h:159-188. Only visited cells (xy computed from at least one
    shared dimension) are candidates.

    ``max_df``: optional hot-dimension cap — shared dimensions with more
    than max_df m2 entries are dropped from both matrices before anything
    else (approximation knob for skewed data; None = exact).

    Defaults match the reference public API (similarity.py:509-510:
    l1=0.5, l2=0.5 — a blended Tversky+Cosine normalization, NOT raw dot
    products). ``beta1``/``beta2`` are the reference's depop exponents
    (similarity.py:519-520); ``p1``/``p2`` are accepted as aliases (the
    kernel-level names, s_plus.pyx:118-119).

    Eager part: the m2 side (m2, or m1ᵀ for self-similarity) and any
    DataFrame ``pop2`` / column selector are collected to the driver when
    ``s_plus`` is called (as ``ann``'s blocked GEMM counts its input), and a
    duplicate (row, col) cell there raises ``ValueError``; the same check
    runs on m1 inside the kernel. The m1 side stays lazy.

    Returns matrix DataFrame (row, col, value) with per-row top-k.
    """
    if p1 is not None:
        beta1 = p1
    if p2 is not None:
        beta2 = p2
    p1, p2 = float(beta1), float(beta2)
    h_stab, h_bayes, h_add = _shrink_values(shrink, shrink_type)
    if l3 != 0.0:  # s_plus_utils.pyx:231-278
        if not isinstance(pop1, DataFrame) and pop1 not in ("none", "sum"):
            raise ValueError(f"invalid pop1: {pop1!r}")
        if not isinstance(pop2, DataFrame) and pop2 not in ("none", "sum"):
            raise ValueError(f"invalid pop2: {pop2!r}")

    def pop_mode(pop):
        if l3 == 0.0:
            return "none"
        return "df" if isinstance(pop, DataFrame) else pop

    sp = dict(
        l1=float(l1), l2=float(l2), l3=float(l3), t1=float(t1), t2=float(t2),
        c1=float(c1), c2=float(c2), p1=p1, p2=p2, alpha=float(alpha),
        h_stab=h_stab, h_bayes=h_bayes, h_add=h_add,
        pop1=pop_mode(pop1), pop2=pop_mode(pop2),
        target=_is_matrix(target_cols), filter=_is_matrix(filter_cols),
        threshold=float(threshold), k=int(k), tie_round=tie_round,
        pair_budget=_PAIR_BUDGET,
    )

    m1 = eliminate_zeros(as_matrix(m1))
    self_sim = m2 is None
    m2 = m1 if self_sim else eliminate_zeros(as_matrix(m2))
    if binary:  # s_plus_utils.pyx:281-308
        m1 = m1.withColumn("value", F.lit(1.0))
        m2 = m2.withColumn("value", F.lit(1.0))

    # --- the m2 side, collected once: (j, col, v2) ------------------------
    t = m2.toArrow()
    a_row, a_col, v2 = (t.column(c).to_numpy() for c in ("row", "col", "value"))
    _cell_order(a_row, a_col, "m1" if self_sim else "m2")
    j, col = (a_col, a_row) if self_sim else (a_row, a_col)

    # max_df → statistics → selectors, in that order: hot dimensions leave
    # both sides before any norm or population is taken. A hot dimension
    # contributes |postings|² pairs — the standard approximation is to cap
    # it (the Spark-era analog of the reference's popularity machinery,
    # s_plus_utils.pyx:493-618); semantics are those of s_plus on the
    # pre-filtered matrices.
    hot = np.empty(0, dtype=np.int64)
    if max_df is not None:
        ids, df = np.unique(j, return_counts=True)
        hot = ids[df > int(max_df)]
        keep = ~np.isin(j, hot)
        j, col, v2 = j[keep], col[keep], v2[keep]

    # per-col statistics from the full (capped) m2: s_plus.pyx:227-273;
    # cols absent from a DataFrame pop2 drop out
    col_ids, cc = np.unique(col, return_inverse=True)
    keep_col = np.ones(len(col_ids), dtype=bool)
    dep = None
    if sp["pop2"] == "df":
        keep_col, dep = _lookup(*_collect_pop(pop2), col_ids)
    ys = _stats(cc, v2, len(col_ids), sp, "y", dep)

    # array-form column selectors prune the CSR (the reference pre-filters
    # in Python: s_plus.pyx:190-196, 287-295); norms above saw every column
    if target_cols is not None and not _is_matrix(target_cols):
        keep_col &= np.isin(col_ids, _as_ids(target_cols))
    if filter_cols is not None and not _is_matrix(filter_cols):
        keep_col &= ~np.isin(col_ids, _as_ids(filter_cols))

    spark = m1.sparkSession
    budget = int(spark._jsparkSession.sessionState().conf()
                 .autoBroadcastJoinThreshold())
    blocks = _m2_blocks(j, col, v2, hot=hot, ys=ys, keep_col=keep_col,
                        col_ids=col_ids, budget=budget)

    # --- the m1 side: entries + tagged mask / population rows -------------
    x = m1.select("row", "col", "value", F.lit(_ENTRY).alias("tag"))
    if _is_matrix(target_cols):
        x = x.union(_tagged(target_cols, _TARGET))
    if _is_matrix(filter_cols):
        x = x.union(_tagged(filter_cols, _FILTER))
    if sp["pop1"] == "df":
        x = x.union(_tagged(pop1, _POP1))
    if isinstance(target_rows, DataFrame):
        tr = target_rows.select(
            F.col(target_rows.columns[0]).cast("long").alias("row"))
        x = x.join(F.broadcast(tr), "row", "left_semi")
    elif target_rows is not None:
        x = x.filter(F.col("row").isin([int(r) for r in target_rows]))
    # EXPLICIT partition count (the configured shuffle parallelism): an
    # ENSURE_REQUIREMENTS exchange would be AQE-coalesced by the small
    # entry bytes, while each task's work is the pairs its rows expand to.
    # A row-clustered input (same key, same count) elides it.
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    x = x.repartition(n_part, F.col("row"))
    sc = spark.sparkContext
    outs = [x.mapInArrow(_spa_kernel(sc.broadcast(b), sp), _OUT_SCHEMA)
            for b in blocks]
    if len(outs) == 1:
        return outs[0]
    return top_k(reduce(DataFrame.union, outs), k, tie_round=tie_round)


# ---------------------------------------------------------------------------
# The nine public similarity functions = s_plus parameterizations, matching
# similarity.py:9-592 wrapper-for-wrapper.
# ---------------------------------------------------------------------------

def dot_product(m1, m2=None, *, k=100, shrink=0.0, shrink_type="stabilized",
                threshold=0.0, binary=False, target_rows=None,
                target_cols=None, filter_cols=None, max_df=None) -> DataFrame:
    """Raw inner products + top-k (similarity.py:9-64: all l's zero)."""
    return s_plus(m1, m2, l1=0.0, l2=0.0, k=k, shrink=shrink, shrink_type=shrink_type,
                  threshold=threshold, binary=binary, target_rows=target_rows,
                  target_cols=target_cols, filter_cols=filter_cols,
                  max_df=max_df)


def cosine(m1, m2=None, *, k=100, shrink=0.0, shrink_type="stabilized",
           threshold=0.0, binary=False, target_rows=None,
           target_cols=None, filter_cols=None, max_df=None) -> DataFrame:
    """dot/(‖x‖·‖y‖+h) (similarity.py:67-123: l2=1, c1=c2=0.5)."""
    return s_plus(m1, m2, l1=0.0, l2=1.0, c1=0.5, c2=0.5, k=k, shrink=shrink,
                  shrink_type=shrink_type, threshold=threshold, binary=binary,
                  target_rows=target_rows, target_cols=target_cols,
                  filter_cols=filter_cols, max_df=max_df)


def asymmetric_cosine(m1, m2=None, *, alpha=0.5, k=100, shrink=0.0,
                      shrink_type="stabilized", threshold=0.0, binary=False,
                      target_rows=None, target_cols=None,
                      filter_cols=None) -> DataFrame:
    """dot/((Σx²)^α (Σy²)^(1−α)) (similarity.py:126-186: c1=α, c2=1−α)."""
    return s_plus(m1, m2, l1=0.0, l2=1.0, c1=float(alpha), c2=1.0 - float(alpha), k=k,
                  shrink=shrink, shrink_type=shrink_type, threshold=threshold,
                  binary=binary, target_rows=target_rows,
                  target_cols=target_cols, filter_cols=filter_cols)


def tversky(m1, m2=None, *, alpha=1.0, beta=1.0, k=100, shrink=0.0,
            shrink_type="stabilized", threshold=0.0, binary=False,
            target_rows=None, target_cols=None, filter_cols=None) -> DataFrame:
    """Tversky index on squared-norm masses (similarity.py:189-249: l1=1,
    t1=α, t2=β)."""
    return s_plus(m1, m2, l1=1.0, l2=0.0, t1=float(alpha), t2=float(beta), k=k,
                  shrink=shrink, shrink_type=shrink_type, threshold=threshold,
                  binary=binary, target_rows=target_rows,
                  target_cols=target_cols, filter_cols=filter_cols)


def jaccard(m1, m2=None, *, k=100, shrink=0.0, shrink_type="stabilized",
            threshold=0.0, binary=False, target_rows=None,
            target_cols=None, filter_cols=None) -> DataFrame:
    """Jaccard = Tversky(1, 1) (similarity.py:252-308)."""
    return tversky(m1, m2, alpha=1.0, beta=1.0, k=k, shrink=shrink,
                   shrink_type=shrink_type, threshold=threshold, binary=binary,
                   target_rows=target_rows, target_cols=target_cols,
                   filter_cols=filter_cols)


def dice(m1, m2=None, *, k=100, shrink=0.0, shrink_type="stabilized",
         threshold=0.0, binary=False, target_rows=None,
         target_cols=None, filter_cols=None) -> DataFrame:
    """Dice = Tversky(0.5, 0.5) (similarity.py:311-367)."""
    return tversky(m1, m2, alpha=0.5, beta=0.5, k=k, shrink=shrink,
                   shrink_type=shrink_type, threshold=threshold, binary=binary,
                   target_rows=target_rows, target_cols=target_cols,
                   filter_cols=filter_cols)


def _l1_pow(m: DataFrame, alpha: float) -> DataFrame:
    """L1-normalize rows then raise to α (similarity.py:410-415)."""
    out = _normalize(m, norm="l1", axis=1)
    if alpha != 1.0:
        out = out.withColumn("value", F.pow(F.col("value"), F.lit(float(alpha))))
    return out


def p3alpha(m1, m2=None, *, alpha=1.0, k=100, shrink=0.0,
            shrink_type="stabilized", threshold=0.0, binary=False,
            target_rows=None, target_cols=None, filter_cols=None,
            tie_round=None) -> DataFrame:
    """3-step random-walk similarity (similarity.py:370-432): L1-normalize the
    rows of both matrices, raise to α, then plain top-k product. NOTE the
    reference passes ``binary`` through to the kernel, i.e. binarization is
    applied AFTER the L1 normalization (similarity.py:416-431) — preserved."""
    m1 = eliminate_zeros(m1.select("row", "col", "value"))
    # pin the row clustering BELOW the normalization window with an
    # explicit partition count: the window's own ENSURE_REQUIREMENTS
    # exchange would be AQE-coalesced by its (small) byte size, and the
    # kernel's row repartition (same key, same count) elides as redundant,
    # so one exchange feeds both. Same reasoning as the kernel's own pin;
    # see s_plus.
    m1 = m1.repartition(
        int(m1.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
        F.col("row"),
    )
    m2 = transpose(m1) if m2 is None else eliminate_zeros(
        m2.select("row", "col", "value"))
    m1n = _l1_pow(m1, alpha)
    m2n = _l1_pow(m2, alpha)
    return s_plus(m1n, m2n, l1=0.0, l2=0.0, k=k, shrink=shrink, shrink_type=shrink_type,
                  threshold=threshold, binary=binary, target_rows=target_rows,
                  target_cols=target_cols, filter_cols=filter_cols,
                  tie_round=tie_round)


def rp3beta(m1, m2=None, *, alpha=1.0, beta=1.0, k=100, shrink=0.0,
            shrink_type="stabilized", threshold=0.0, binary=False,
            target_rows=None, target_cols=None, filter_cols=None,
            tie_round=None) -> DataFrame:
    """P3α divided by column popularity^β (similarity.py:435-503).

    Popularity = column sums of m2 BEFORE L1 normalization
    (similarity.py:479), applied through the depop term with l3=1, p2=β.
    As in p3alpha, ``binary`` is passed through to the kernel (applied after
    normalization), matching similarity.py:483-502.
    """
    m1 = eliminate_zeros(m1.select("row", "col", "value"))
    # same pinned pre-normalization row clustering as p3alpha (the pop
    # aggregate, keyed by m2.col ≡ m1.row, rides the same exchange too)
    m1 = m1.repartition(
        int(m1.sparkSession.conf.get("spark.sql.shuffle.partitions", "200")),
        F.col("row"),
    )
    m2 = transpose(m1) if m2 is None else eliminate_zeros(
        m2.select("row", "col", "value"))
    pop_m2 = m2.groupBy("col").agg(F.sum("value").alias("w"))
    m1n = _l1_pow(m1, alpha)
    m2n = _l1_pow(m2, alpha)
    return s_plus(m1n, m2n, l1=0.0, l2=0.0, l3=1.0, pop1="none", pop2=pop_m2, beta2=float(beta),
                  k=k, shrink=shrink, shrink_type=shrink_type,
                  threshold=threshold, binary=binary, target_rows=target_rows,
                  target_cols=target_cols, filter_cols=filter_cols,
                  tie_round=tie_round)
