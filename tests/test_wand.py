"""WAND == exhaustive-scoring equality (prune safety, SURVEY.md §5.5)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from information_retrieval_system_spark.analysis.analyzer import analyze_query_terms
from information_retrieval_system_spark.config import EngineConfig
from information_retrieval_system_spark.index.builder import build_index
from information_retrieval_system_spark.index.compression import (
    build_block_postings,
    build_dl_blocks,
    decode_block,
)
from information_retrieval_system_spark.query import scoring
from information_retrieval_system_spark.query.wand import bm25_topk_wand

SPAN = 128  # small span to exercise multi-block paths on 500 docs


@pytest.fixture(scope="module")
def blocked(spark, sf_small):
    cfg = EngineConfig()
    docs_df = spark.read.parquet(f"{sf_small}/documents.parquet")
    index = build_index(docs_df, cfg, doc_col="doc_id", text_col="text")
    blocks = build_block_postings(index.postings, block_span=SPAN).cache()
    dl_blocks = build_dl_blocks(index.docs, block_span=SPAN).cache()
    blocks.count(), dl_blocks.count()
    return cfg, index, blocks, dl_blocks


def test_blocks_roundtrip_postings(blocked):
    cfg, index, blocks, dl_blocks = blocked
    # decode every block and compare against the raw postings rows
    raw = {(r.term, r.doc_int): r.tf for r in index.postings.collect()}
    dec = {}
    for r in blocks.collect():
        docs, tfs = decode_block(r.docs_vb, r.tfs_vb)
        assert r.n == len(docs) == len(tfs)
        assert r.first_doc == docs[0] and r.last_doc == docs[-1]
        assert r.max_tf == tfs.max()
        for d, t in zip(docs, tfs):
            dec[(r.term, int(d))] = int(t)
    assert dec == raw


@pytest.mark.parametrize("query,k", [
    ("spark join merge", 10),
    ("spark join merge", 50),
    ("window filter sort batch", 25),
    ("vector stream", 5),
    ("zzz_absent spark", 10),
])
def test_wand_equals_exhaustive(blocked, spark, query, k):
    cfg, index, blocks, dl_blocks = blocked
    qt = analyze_query_terms(spark, query, cfg)
    terms = [r.term for r in qt.collect()]
    exact = [(r.doc_id, r.score) for r in
             scoring.bm25_search(index, qt, k=k, cfg=cfg).collect()]
    wand = [(r.doc_id, r.score) for r in
            bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                           terms, k=k, cfg=cfg, block_span=SPAN,
                           docs=index.docs).collect()]
    assert [d for d, _ in wand] == [d for d, _ in exact]
    for (d1, s1), (d2, s2) in zip(wand, exact):
        assert abs(s1 - s2) <= 1e-9 * max(1.0, abs(s2))


def test_wand_dl_side_semijoin_pruned(blocked, spark):
    """The dl_blocks side of the cogroup is restricted to the query's
    posting block ids (a LeftSemi join in the plan) exactly when
    ``_should_prune_dl`` holds: a rare-term query prunes, a head-term
    query keeps the full dl scan.  Results equal exhaustive scoring
    either way."""
    from information_retrieval_system_spark.query.wand import _should_prune_dl

    cfg, index, _, _ = blocked
    span = 8  # 63 blocks over 500 docs: the rule prunes at Σ df <= 31
    blocks = build_block_postings(index.postings, block_span=span)
    dl_blocks = build_dl_blocks(index.docs, block_span=span)
    df = {r.term: r.df for r in index.terms.collect()}
    n = index.stats["n_docs"]
    for query, pruned in [("dup", True), ("spark join merge", False)]:
        qt = analyze_query_terms(spark, query, cfg)
        terms = [r.term for r in qt.collect()]
        assert _should_prune_dl(sum(df[t] for t in terms), n, span) is pruned
        out = bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                             terms, k=10, cfg=cfg, block_span=span,
                             docs=index.docs)
        plan = out._jdf.queryExecution().optimizedPlan().toString()
        assert ("LeftSemi" in plan) is pruned, query
        exact = scoring.bm25_search(index, qt, k=10, cfg=cfg).collect()
        assert [(r.doc_id, round(r.score, 9)) for r in out.collect()] == \
               [(r.doc_id, round(r.score, 9)) for r in exact]


def test_should_prune_dl_auto_bound():
    """Auto mode prunes only when Σ df bounds the posting-block
    footprint well under the corpus block count."""
    from information_retrieval_system_spark.query.wand import _should_prune_dl

    # 1M docs, span 1024 -> 977 blocks: a 3-rare-term query prunes...
    assert _should_prune_dl(df_sum=300, n_docs=1_000_000, block_span=1024)
    # ...a head-term query (df ~ every block) does not
    assert not _should_prune_dl(df_sum=500_000, n_docs=1_000_000, block_span=1024)
    # boundary: footprint comparable to block count -> overhead, skip
    assert not _should_prune_dl(df_sum=600, n_docs=1_000_000, block_span=1024)


def test_wand_served_bucket_partition_filter(blocked, spark, tmp_path):
    """Through the persisted layout with keep_bucket=True + term_buckets,
    the blocks scan must carry a tbucket PartitionFilter (the pruned
    serving read path) and results must match the in-memory path."""
    from information_retrieval_system_spark.index.compression import (
        read_block_index, write_block_index)

    cfg, index, blocks, dl_blocks = blocked
    out_dir = str(tmp_path / "layout")
    write_block_index(blocks, dl_blocks, out_dir, term_buckets=8)
    b_all, dlb = read_block_index(spark, out_dir, keep_bucket=True)
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    terms = [r.term for r in qt.collect()]
    served = bm25_topk_wand(b_all, dlb, index.terms, index.stats,
                            terms, k=10, cfg=cfg, block_span=SPAN,
                            term_buckets=8)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tbucket" in plan
    mem = bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                         terms, k=10, cfg=cfg, block_span=SPAN)
    assert [(r.doc_int, round(r.score, 9)) for r in served.collect()] == \
           [(r.doc_int, round(r.score, 9)) for r in mem.collect()]


def test_batch_wand_equals_per_query_loop(blocked, spark):
    """Batched WAND (one cogroup for the whole query set) must equal
    the single-query kernel run in a loop — same docs, same scores."""
    from information_retrieval_system_spark.query.wand import batch_bm25_topk_wand

    cfg, index, blocks, dl_blocks = blocked
    queries = {}
    for qid, text in [(1, "spark join merge"), (2, "vector stream"),
                      (3, "window filter sort batch"), (4, "zzz_absent")]:
        qt = analyze_query_terms(spark, text, cfg)
        queries[qid] = [r.term for r in qt.collect()]
    batch = batch_bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                                 queries, k=7, cfg=cfg, block_span=SPAN)
    got = {(r.qid, r.rank): (r.doc_int, round(r.score, 9)) for r in batch.collect()}
    want = {}
    for qid, ts in queries.items():
        single = bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                                ts, k=7, cfg=cfg, block_span=SPAN).collect()
        for rank, r in enumerate(single, start=1):
            want[(qid, rank)] = (r.doc_int, round(r.score, 9))
    assert got == want
    assert not any(q == 4 for q, _ in got)  # absent-term query yields nothing


def test_batch_wand_served_bucket_pruned(blocked, spark, tmp_path):
    """Batched WAND through the persisted layout: tbucket partition
    filter applies to the UNION of all query terms; results equal the
    in-memory batch."""
    from information_retrieval_system_spark.index.compression import (
        read_block_index, write_block_index)
    from information_retrieval_system_spark.query.wand import batch_bm25_topk_wand

    cfg, index, blocks, dl_blocks = blocked
    out_dir = str(tmp_path / "layout")
    write_block_index(blocks, dl_blocks, out_dir, term_buckets=8)
    b_all, dlb = read_block_index(spark, out_dir, keep_bucket=True)
    queries = {}
    for qid, text in [(1, "spark join merge"), (2, "vector stream")]:
        qt = analyze_query_terms(spark, text, cfg)
        queries[qid] = [r.term for r in qt.collect()]
    served = batch_bm25_topk_wand(b_all, dlb, index.terms, index.stats,
                                  queries, k=5, cfg=cfg, block_span=SPAN,
                                  term_buckets=8)
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "tbucket" in plan
    mem = batch_bm25_topk_wand(blocks, dl_blocks, index.terms, index.stats,
                               queries, k=5, cfg=cfg, block_span=SPAN)
    key = lambda rs: sorted((r.qid, r.rank, r.doc_int, round(r.score, 9)) for r in rs)
    assert key(served.collect()) == key(mem.collect())


def test_route_bm25_flips_on_threshold_value_invisibly(blocked, spark):
    """Routing must pick WAND above the posting-volume threshold and
    exhaustive below — with IDENTICAL top-k values either way."""
    from information_retrieval_system_spark.query.wand import route_bm25

    cfg, index, blocks, dl_blocks = blocked
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    lo, route_lo = route_bm25(index, blocks, dl_blocks, qt, k=10, cfg=cfg,
                              block_span=SPAN, wand_min_postings=1)
    hi, route_hi = route_bm25(index, blocks, dl_blocks, qt, k=10, cfg=cfg,
                              block_span=SPAN, wand_min_postings=10**9)
    assert route_lo == "wand" and route_hi == "exhaustive"
    a = [(r.doc_id, round(r.score, 9)) for r in lo.collect()]
    b = [(r.doc_id, round(r.score, 9)) for r in hi.collect()]
    assert a == b and len(a) == 10


def test_route_batch_mixed_routes_equal_unrouted(blocked, spark):
    """One collect routes the whole query set; with a threshold that
    splits it, WAND-routed and exhaustive-routed queries land in ONE
    result frame equal to the unrouted batch oracle — and duplicate
    (qid, term) rows are collapsed on BOTH routes."""
    from information_retrieval_system_spark.query.batch import batch_bm25_search
    from information_retrieval_system_spark.query.wand import route_batch_bm25

    cfg, index, blocks, dl_blocks = blocked
    qt = spark.createDataFrame(
        [(1, "spark", 1.0), (1, "spark", 1.0), (1, "join", 1.0),
         (2, "zzznotfound", 1.0), (3, "window", 1.0),
         (4, "merge", 1.0), (4, "stream", 1.0), (4, "filter", 1.0)],
        "qid long, term string, qtf double",
    )
    # threshold between the single-term and multi-term Sum(df)s -> mixed
    res, routes = route_batch_bm25(index, blocks, dl_blocks, qt, k=10,
                                   cfg=cfg, block_span=SPAN,
                                   wand_min_postings=500)
    assert set(routes.values()) == {"wand", "exhaustive"}
    # unrouted oracle: deduped terms through the exhaustive batch path
    ref = batch_bm25_search(index, qt.distinct(), k=10, cfg=cfg)
    a = sorted((r.qid, r.doc_id, r.rank, round(r.score, 9)) for r in res.collect())
    b = sorted((r.qid, r.doc_id, r.rank, round(r.score, 9)) for r in ref.collect())
    assert a == b and len(a) > 0


def test_corrected_bm25_raw_query_scores_nothing(spark, sf_small):
    """The typo'd query hits NO vocabulary term (the reference's silent
    probe miss); after correction it equals BM25 on the intended terms."""
    from information_retrieval_system_spark import entry_queries as EQ
    from information_retrieval_system_spark.entry_batch import TYPO_QUERY
    from information_retrieval_system_spark.query import scoring
    from information_retrieval_system_spark.query.spelling import correct_terms

    ix = EQ.get_index(spark, sf_small)
    raw_qt = spark.createDataFrame([(t, 1.0) for t in TYPO_QUERY],
                                   "term string, qtf double")
    assert scoring.bm25_search(ix, raw_qt, k=10, cfg=EQ.NOSTEM_CFG).count() == 0

    q = spark.createDataFrame([(t,) for t in TYPO_QUERY], "qterm string")
    sug = correct_terms(ix.terms.select("term", "df"), q, max_distance=1)
    got = {(r.qterm, r.suggestion) for r in sug.collect()}
    assert got == {("spork", "spark"), ("jion", "join"), ("mergee", "merge")}


def test_corrected_routed_fusion_mix_and_corrections(spark):
    """The composed degraded-query lifecycle at sf0.001: at least one
    term is actually CORRECTED (typo != suggestion), the uncorrectable
    qid drops out, and the routing splits into both plans at the
    sf-scaled threshold."""
    from pyspark.sql import functions as F

    from information_retrieval_system_spark import entry_queries as EQ
    from information_retrieval_system_spark.entry_batch import (
        TYPO_BATCH, get_blocks)
    from information_retrieval_system_spark.query.spelling import correct_terms
    from information_retrieval_system_spark.query.wand import route_batch_bm25

    sf = "/root/testdata/sf0.001"
    ix = EQ.get_index(spark, sf)
    q = spark.createDataFrame(
        [(qid, t) for qid, terms in TYPO_BATCH for t in terms],
        "qid long, qterm string")
    corr = correct_terms(ix.terms.select("term", "df"), q, max_distance=1)
    rows = corr.collect()
    fixed = {(r.qid, r.qterm): r.suggestion for r in rows}
    assert fixed[(1, "spork")] == "spark"        # substitution
    assert fixed[(1, "jion")] == "join"          # adjacent transposition
    assert fixed[(5, "filtre")] == "filter"      # adjacent transposition
    assert fixed[(2, "windoww")] == "window"     # insertion
    assert fixed[(4, "zzzzqq")] is None          # uncorrectable
    qt = (corr.filter(F.col("suggestion").isNotNull())
          .select("qid", F.col("suggestion").alias("term")).distinct()
          .withColumn("qtf", F.lit(1.0)))
    blocks, dlb = get_blocks(spark, sf)
    # sf0.001 documents is the same 500 rows as sf0.01 — the production
    # threshold splits qid3 (Σdf 765) from qids 1/2/5 (Σdf > 1000)
    from information_retrieval_system_spark.entry_graph import CRF_MIN_POSTINGS

    res, routes = route_batch_bm25(ix, blocks, dlb, qt, k=10,
                                   cfg=EQ.NOSTEM_CFG, block_span=256,
                                   wand_min_postings=CRF_MIN_POSTINGS)
    assert 4 not in routes                       # dropped qid never routed
    assert set(routes.values()) == {"wand", "exhaustive"}
    assert res.select("qid").distinct().count() == 4


@pytest.fixture(scope="module")
def string_keyed(spark, sf_small):
    """An index whose doc ids are strings (``int_doc_ids`` False), so
    the routers must join ``docs`` to map doc_int back to doc_id."""
    cfg = EngineConfig()
    docs_df = spark.read.parquet(f"{sf_small}/documents.parquet").withColumn(
        "doc_id", F.concat(F.lit("d"), F.col("doc_id").cast("string")))
    index = build_index(docs_df, cfg, doc_col="doc_id", text_col="text")
    assert index.stats["int_doc_ids"] is False
    blocks = build_block_postings(index.postings, block_span=SPAN).cache()
    dl_blocks = build_dl_blocks(index.docs, block_span=SPAN).cache()
    return cfg, index, blocks, dl_blocks


@pytest.mark.parametrize("min_postings,route", [(1, "wand"), (10**9, "exhaustive")])
def test_routes_map_string_doc_ids(string_keyed, spark, min_postings, route):
    """Both routers return the index's string doc ids, equal to the
    exhaustive scorers, on either route."""
    from information_retrieval_system_spark.query.batch import batch_bm25_search
    from information_retrieval_system_spark.query.wand import (
        route_batch_bm25, route_bm25)

    cfg, index, blocks, dl_blocks = string_keyed
    qt = analyze_query_terms(spark, "spark join merge", cfg)
    got, got_route = route_bm25(index, blocks, dl_blocks, qt, k=10, cfg=cfg,
                                block_span=SPAN, wand_min_postings=min_postings)
    assert got_route == route
    want = scoring.bm25_search(index, qt, k=10, cfg=cfg).collect()
    assert [(r.doc_id, round(r.score, 9)) for r in got.collect()] == \
           [(r.doc_id, round(r.score, 9)) for r in want]
    assert len(want) == 10 and isinstance(want[0].doc_id, str)

    bqt = spark.createDataFrame(
        [(1, "spark", 1.0), (1, "join", 1.0), (2, "vector", 1.0),
         (2, "stream", 1.0), (3, "zzznotfound", 1.0)],
        "qid long, term string, qtf double")
    res, routes = route_batch_bm25(index, blocks, dl_blocks, bqt, k=10, cfg=cfg,
                                   block_span=SPAN, wand_min_postings=min_postings)
    assert routes[1] == routes[2] == route  # qid 3 (Σ df 0) is always exhaustive
    ref = batch_bm25_search(index, bqt, k=10, cfg=cfg)
    key = lambda rs: sorted((r.qid, r.rank, r.doc_id, round(r.score, 9)) for r in rs)  # noqa: E731
    assert key(res.collect()) == key(ref.collect()) and res.count() == 20


def test_kernel_on_arrow_cells():
    """The block-max kernel without Spark: hand-built cogroup cells for
    both key shapes — ``(block_id,)`` scores as qid 0, ``(qid,
    block_id)`` carries the qid — equal plain BM25 arithmetic; a cell
    whose bound is below the threshold an earlier cell primed returns
    zero rows with the ``(qid, doc_int, score)`` schema."""
    import uuid

    import numpy as np
    import pyarrow as pa

    from information_retrieval_system_spark.index.compression import (
        delta_encode, vbyte_encode)
    from information_retrieval_system_spark.query.wand import _kernel_factory

    k1, b, avgdl, span = 1.2, 0.75, 2.0, 4
    idfs = {"a": 1.0, "b": 0.5}

    def cell(*postings):  # (term, docs, tfs) per posting block
        return pa.table({
            "term": [t for t, _, _ in postings],
            "max_tf": [max(tfs) for _, _, tfs in postings],
            "docs_vb": [vbyte_encode(delta_encode(np.array(d))) for _, d, _ in postings],
            "tfs_vb": [vbyte_encode(np.array(tfs)) for _, _, tfs in postings]})

    def dl_cell(docs, dls):
        return pa.table({"docs_vb": [vbyte_encode(delta_encode(np.array(docs)))],
                         "dls_vb": [vbyte_encode(np.array(dls))]})

    def bm25(idf, tf, dl):
        return idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))

    schema = pa.schema([("qid", pa.int64()), ("doc_int", pa.int64()),
                        ("score", pa.float64())])
    # block 1 = docs 4..7; dl 2, 2, 3, 1
    hot = cell(("a", [4, 6], [1, 3]), ("b", [5, 6], [2, 1]))
    hot_dl = dl_cell([4, 5, 6, 7], [2, 2, 3, 1])
    want = sorted([(6, bm25(1.0, 3, 3) + bm25(0.5, 1, 3)), (5, bm25(0.5, 2, 2)),
                   (4, bm25(1.0, 1, 2))], key=lambda x: -x[1])[:2]
    # block 2 = docs 8..11, bound 0.5 * 1*(k1+1)/(1+k1*(1-b)) below the
    # k-th best score of block 1
    cold = cell(("b", [9], [1]))
    cold_dl = dl_cell([8, 9], [1, 1])
    assert 0.5 * (k1 + 1) / (1 + k1 * (1 - b)) < want[-1][1]

    def key(*vals):  # a cogroup key as applyInArrow passes it
        return tuple(pa.scalar(v, pa.int64()) for v in vals)

    for qid, hot_key, cold_key in [(0, key(1), key(2)), (7, key(7, 1), key(7, 2))]:
        kernel = _kernel_factory({qid: idfs}, 2, k1, b, avgdl, span, uuid.uuid4().hex)
        out = kernel(hot_key, hot, hot_dl)
        assert out.schema == schema
        assert out.column("qid").to_pylist() == [qid, qid]
        assert out.column("doc_int").to_pylist() == [d for d, _ in want]
        assert np.allclose(out.column("score").to_pylist(), [s for _, s in want])
        pruned = kernel(cold_key, cold, cold_dl)
        assert pruned.num_rows == 0 and pruned.schema == schema
