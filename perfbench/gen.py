"""Seeded inputs for the benchmark: corpus, citation edges, queries, qrels.

Everything here is plain numpy, independent of the engine, so a change to
the engine can never change the workload.  The same seed gives the same
inputs byte for byte.

Vocabulary tokens are ``"q" + base-26 letters + "x"``: lowercase letters
only (the analyzer's normalizer keeps them whole), never a stopword (no
English stopword ends in ``x``) and fixed points of the Porter stemmer (no
suffix rule matches a word ending in ``x``).  So the indexed terms are
exactly the generated tokens, and the generator can compute the index
statistics the engine must reproduce.
"""

from __future__ import annotations

import math
import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_LETTERS = "abcdefghijklmnopqrstuvwxyz"
#: Zipf exponent of document and query terms
ZIPF_S = 1.0
#: tokens per document, inclusive range
DOC_LEN = (40, 80)
#: terms per query, inclusive range
QUERY_TERMS = (1, 4)
#: most citations one document makes
MAX_CITES = 8
#: parquet files the corpus is written as
CORPUS_FILES = 4


def token(rank: int) -> str:
    """Vocabulary token for a 1-based Zipf rank (1 = most frequent)."""
    s, r = [], rank
    while True:
        r, d = divmod(r, 26)
        s.append(_LETTERS[d])
        if r == 0:
            break
    return "q" + "".join(reversed(s)) + "x"


@dataclass
class Corpus:
    doc_ids: np.ndarray   # int64, ascending
    texts: list[str]
    lengths: np.ndarray   # tokens per document
    # one entry per posting (distinct term in a document)
    p_doc: np.ndarray     # index into doc_ids
    p_rank: np.ndarray    # term rank
    # postings sorted by term rank: (ranks, p_doc), built on first use
    by_rank: tuple | None = None

    @property
    def text_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.texts)


def _zipf_cdf(vocab: int) -> np.ndarray:
    w = 1.0 / np.arange(1, vocab + 1, dtype=np.float64) ** ZIPF_S
    c = np.cumsum(w)
    return c / c[-1]


def make_corpus(rng: np.random.Generator, first_id: int, n_docs: int, vocab: int) -> Corpus:
    """``n_docs`` documents of Zipf tokens, ``DOC_LEN`` tokens long."""
    lengths = rng.integers(DOC_LEN[0], DOC_LEN[1] + 1, size=n_docs)
    ranks = np.searchsorted(_zipf_cdf(vocab), rng.random(int(lengths.sum())),
                            side="right") + 1
    doc_of = np.repeat(np.arange(n_docs), lengths)
    vocab_arr = np.array([token(r) for r in range(1, vocab + 1)], dtype=object)
    ends = np.cumsum(lengths)
    texts = [" ".join(vocab_arr[ranks[e - n:e] - 1]) for e, n in zip(ends.tolist(), lengths.tolist())]
    pairs = np.unique(doc_of * (vocab + 1) + ranks)
    return Corpus(doc_ids=np.arange(first_id, first_id + n_docs, dtype=np.int64),
                  texts=texts, lengths=lengths,
                  p_doc=pairs // (vocab + 1), p_rank=pairs % (vocab + 1))


def expected_stats(c: Corpus) -> dict:
    """The index statistics a correct build over ``c`` reports."""
    return {
        "n_docs": len(c.doc_ids),
        "total_len": int(c.lengths.sum()),
        "n_postings": len(c.p_doc),
        "n_terms": int(np.unique(c.p_rank).size),
    }


def document_frequencies(c: Corpus) -> dict[str, int]:
    ranks, df = np.unique(c.p_rank, return_counts=True)
    return {token(int(r)): int(n) for r, n in zip(ranks, df)}


def concat(*corpora: Corpus) -> Corpus:
    """One corpus holding the documents of all ``corpora``, in order."""
    offsets = np.cumsum([0] + [len(c.doc_ids) for c in corpora[:-1]])
    return Corpus(doc_ids=np.concatenate([c.doc_ids for c in corpora]),
                  texts=[t for c in corpora for t in c.texts],
                  lengths=np.concatenate([c.lengths for c in corpora]),
                  p_doc=np.concatenate([c.p_doc + o for c, o in zip(corpora, offsets)]),
                  p_rank=np.concatenate([c.p_rank for c in corpora]))


def head(c: Corpus, n: int) -> Corpus:
    """The first ``n`` documents of ``c``."""
    keep = c.p_doc < n
    return Corpus(doc_ids=c.doc_ids[:n], texts=c.texts[:n], lengths=c.lengths[:n],
                  p_doc=c.p_doc[keep], p_rank=c.p_rank[keep])


def matching_doc_ids(c: Corpus, terms: list[str]) -> np.ndarray:
    """Ids of the documents containing at least one of ``terms``, ascending."""
    if c.by_rank is None:
        order = np.argsort(c.p_rank, kind="stable")
        c.by_rank = (c.p_rank[order], c.p_doc[order])
    ranks, docs = c.by_rank
    hits = [docs[np.searchsorted(ranks, r):np.searchsorted(ranks, r, side="right")]
            for r in map(rank_of, terms)]
    return c.doc_ids[np.unique(np.concatenate(hits))]


def make_qrels(rng: np.random.Generator, c: Corpus, queries: list[list[str]],
               per_query: int) -> list[tuple[int, int, int]]:
    """(qid, doc_id, relevance) judgments: for query ``qid`` (its index in
    ``queries``), up to ``per_query`` documents containing one of its
    terms, graded 1 or 2."""
    out = []
    for qid, terms in enumerate(queries):
        ids = matching_doc_ids(c, terms)
        picked = rng.choice(ids, size=min(per_query, ids.size), replace=False)
        grades = rng.integers(1, 3, size=picked.size)
        out.extend((qid, int(d), int(g)) for d, g in zip(sorted(picked.tolist()), grades))
    return out


def rank_of(tok: str) -> int:
    r = 0
    for ch in tok[1:-1]:
        r = r * 26 + _LETTERS.index(ch)
    return r


def citation_edges(rng: np.random.Generator, n_docs: int) -> np.ndarray:
    """(src, dst) pairs: each document cites up to ``MAX_CITES`` OLDER
    documents, targets skewed toward the oldest (most cited) ones; no
    duplicates."""
    out = rng.integers(0, MAX_CITES + 1, size=n_docs)
    out[0] = 0
    src = np.repeat(np.arange(n_docs, dtype=np.int64), out)
    dst = np.floor(src * rng.random(src.size) ** 2).astype(np.int64)
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    return pairs[pairs[:, 0] != pairs[:, 1]]


def make_queries(rng: np.random.Generator, n: int, vocab: int) -> list[list[str]]:
    """``n`` queries of ``QUERY_TERMS`` distinct Zipf-ranked terms each."""
    cdf = _zipf_cdf(vocab)
    out = []
    for _ in range(n):
        k = int(rng.integers(QUERY_TERMS[0], QUERY_TERMS[1] + 1))
        ranks = set()
        while len(ranks) < k:
            ranks.add(int(np.searchsorted(cdf, rng.random(), side="right")) + 1)
        out.append(sorted(token(r) for r in ranks))
    return out


def write_corpus(c: Corpus, out_dir: str, prefix: str = "") -> list[str]:
    """Write ``(doc_id long, text string)`` as ``CORPUS_FILES`` parquet
    files named ``<prefix>part-<first row>.parquet`` into ``out_dir``.
    -> the paths written."""
    os.makedirs(out_dir, exist_ok=True)
    n = len(c.doc_ids)
    per = math.ceil(n / CORPUS_FILES)
    paths = []
    for lo in range(0, n, per):
        hi = min(n, lo + per)
        t = pa.table({"doc_id": pa.array(c.doc_ids[lo:hi], pa.int64()),
                      "text": pa.array(c.texts[lo:hi], pa.string())})
        paths.append(os.path.join(out_dir, f"{prefix}part-{lo}.parquet"))
        pq.write_table(t, paths[-1])
    return paths


def pagerank_reference(n: int, edges: np.ndarray, iters: int) -> np.ndarray:
    """The engine's PageRank semantics in numpy: start at 1/n, undamped
    power iteration for exactly ``iters`` steps, nodes without in-links
    keep their previous rank."""
    src, dst = edges[:, 0], edges[:, 1]
    outdeg = np.bincount(src, minlength=n).astype(np.float64)
    has_in = np.bincount(dst, minlength=n) > 0
    r = np.full(n, 1.0 / n)
    for _ in range(iters):
        nxt = np.bincount(dst, weights=r[src] / outdeg[src], minlength=n)
        r = np.where(has_in, nxt, r)
    return r


def write_edges(edges: np.ndarray, out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    pq.write_table(pa.table({"src": pa.array(edges[:, 0], pa.int64()),
                             "dst": pa.array(edges[:, 1], pa.int64())}),
                   os.path.join(out_dir, "edges.parquet"))
