"""similaripy_spark — a PySpark-native sparse-similarity + BM25 fulltext engine.

A from-scratch re-expression of the capabilities of ``bogliosimone/similaripy``
(reference at /root/reference, studied for semantics only) on idiomatic PySpark:

* sparse matrices are long-form DataFrames ``(row: long, col: long, value: double)``
  — the relational encoding of the reference's CSR/COO arrays;
* normalizations (l1/l2/max, tfidf, bm25, bm25plus) are aggregations + column
  expressions (reference: similaripy/cython_code/normalization.pyx);
* the generalized top-k similarity kernel ``s_plus`` (reference:
  similaripy/cython_code/s_plus.h:71-240) is one row-partitioned Arrow
  kernel: m2 ships as a broadcast CSR, each task accumulates its rows'
  (row, col) cells, evaluates the s_plus.h:129-156 expression and keeps the
  per-row top-k — no join, aggregate or window over the pair stream;
* on top of that sits a fulltext stack: tokenizer → postings → BM25 weights →
  SPIMI-style compressed index segments → Block-Max-WAND top-k query.

No code is copied from the reference; file:line citations in docstrings point at
the behavior being reproduced.
"""

from similaripy_spark.functions.normalization import (
    normalize,
    tfidf,
    bm25,
    bm25plus,
)
from similaripy_spark.functions.similarity import (
    dot_product,
    cosine,
    asymmetric_cosine,
    tversky,
    jaccard,
    dice,
    p3alpha,
    rp3beta,
    s_plus,
)

__version__ = "0.1.0"

__all__ = [
    "normalize",
    "tfidf",
    "bm25",
    "bm25plus",
    "dot_product",
    "cosine",
    "asymmetric_cosine",
    "tversky",
    "jaccard",
    "dice",
    "p3alpha",
    "rp3beta",
    "s_plus",
]
