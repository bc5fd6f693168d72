"""Expected answers for the sampled outputs, computed by the repository's
oracles (``tests/oracle_fulltext.py``, ``tests/oracle_numpy.py``) over the
generated corpus held as NumPy token counts.

The counts come from the generator's token stream (the tokens the pages
generator joins into each text), not from the engine's tokenizer, so a
tokenizer fault shows as a mismatch.
"""

from __future__ import annotations

import numpy as np

from similaripy_spark.sources.pages import tokens_for_docs, zipf_cdf
from tests import oracle_fulltext as OF
from tests import oracle_numpy as ON
from tests.conftest import assert_topk_equal


class TokenCorpus:
    """(doc, term, tf) counts and document lengths of the docs [lo, hi) that
    ``generate_pages(seed=seed, vocab_size=vocab_size)`` produces."""

    def __init__(self, lo: int, hi: int, seed: int, vocab_size: int):
        ids = np.arange(lo, hi, dtype=np.int64)
        tok, lengths = tokens_for_docs(ids, seed, zipf_cdf(vocab_size))
        key = np.repeat(ids, lengths) * vocab_size + tok
        uniq, tf = np.unique(key, return_counts=True)
        self.doc = uniq // vocab_size
        self.term = uniq % vocab_size
        self.tf = tf.astype(np.float64)
        self.ids = ids
        self.lengths = lengths
        # texts are 7-character tokens joined by single spaces
        self.text_bytes = int(np.sum(8 * lengths - 1))

    @classmethod
    def union(cls, parts: list["TokenCorpus"]) -> "TokenCorpus":
        out = cls.__new__(cls)
        for f in ("doc", "term", "tf", "ids", "lengths"):
            setattr(out, f, np.concatenate([getattr(p, f) for p in parts]))
        out.text_bytes = sum(p.text_bytes for p in parts)
        return out


def bm25_expected(corpus: TokenCorpus, queries: list[list[str]],
                  k: int) -> list[list[tuple[int, int, float]]]:
    """``oracle_fulltext.search`` per query. The oracle index is restricted
    to the postings of the queried terms, which is all ``search`` reads;
    document lengths, df, N and avgdl are those of the whole corpus."""
    wanted = sorted({int(t[1:]) for q in queries for t in q})
    sel = np.isin(corpus.term, wanted)
    postings: dict[str, dict[int, int]] = {}
    for d, t, tf in zip(corpus.doc[sel].tolist(), corpus.term[sel].tolist(),
                        corpus.tf[sel].tolist()):
        postings.setdefault(f"t{t:06d}", {})[d] = int(tf)
    dl = dict(zip(corpus.ids.tolist(), corpus.lengths.tolist()))
    df = {t: len(docs) for t, docs in postings.items()}
    n_docs = len(dl)
    index = (postings, dl, df, n_docs, sum(dl.values()) / n_docs)
    return [OF.search(index, list(q), k=k) for q in queries]


def cosine_expected(corpus: TokenCorpus, rows: list[int], k: int,
                    max_df: int | None = None) -> dict[int, list]:
    """Cosine top-k of the sampled rows of the doc×term tf matrix against
    all docs, by ``oracle_numpy.s_plus_np`` + ``topk_np``. ``max_df`` drops
    the terms in more than ``max_df`` docs first, as the engine does.

    The dense operands keep only the sampled rows' terms plus one residual
    column carrying the rest of each doc's squared norm: dot products with
    the sampled rows only meet their own terms, so the scores are those of
    the full matrix."""
    doc, term, tf = corpus.doc, corpus.term, corpus.tf
    if max_df is not None:
        keep = np.bincount(term)[term] <= max_df
        doc, term, tf = doc[keep], term[keep], tf[keep]
    n = int(corpus.ids.max()) + 1
    sq = np.bincount(doc, weights=tf * tf, minlength=n)
    cols = np.unique(term[np.isin(doc, rows)])
    pos = {t: i for i, t in enumerate(cols.tolist())}
    sel = np.isin(term, cols)
    t_idx = np.array([pos[t] for t in term[sel].tolist()], dtype=np.int64)
    x2 = np.zeros((len(cols) + 1, n))
    x2[t_idx, doc[sel]] = tf[sel]
    covered = np.bincount(doc[sel], weights=tf[sel] ** 2, minlength=n)
    x2[-1] = np.sqrt(np.maximum(sq - covered, 0.0))
    x1 = x2[:, rows].T.copy()
    x1[:, -1] = 0.0
    scores = ON.s_plus_np(x1, x2, l2=1.0, c1=0.5, c2=0.5)
    top = ON.topk_np(scores, k)
    return {r: top.get(i, []) for i, r in enumerate(rows)}


def topk_mismatch(got: dict[int, list], expected: dict[int, list]) -> list[str]:
    """The sampled rows of a similarity top-k, {row: [(col, score), ...]},
    compared by the similarity tests' ``assert_topk_equal``; rows with no
    entries are left out on both sides. Returns the mismatch, if any."""
    try:
        assert_topk_equal({r: v for r, v in got.items() if v},
                          {r: v for r, v in expected.items() if v})
    except AssertionError as exc:
        return [str(exc).strip()[:500]]
    return []
