"""The benchmark's workloads, timed around calls into the engine's modules.

- ``build``, the write path: generated corpus -> ``build_index`` ->
  ``write_index`` -> block encode and write -> PageRank attached and
  written (the operation); then one refresh: new corpus files land, the
  incremental stream drains them, ``merge_into_snapshot`` commits the
  merged index and it is read back.
- ``serve``, the read path, against layouts built in set-up: the Run_B6
  batch once (635 queries routed, fused with PageRank and evaluated
  against qrels), then single queries in a closed loop with one client,
  routed between block-max WAND and exhaustive scoring, one operation
  being a pair of queries (one of each route).

Each workload function takes a :class:`Run`, does its set-up and warm-up
(timed into ``setup_s``), measures and checks every operation's output.
It returns ``(end_to_end, per_layer)`` metric dicts and leaves sample
counts and other details in ``run.detail``.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import gen

#: documents per corpus and vocabulary size
N_DOCS = 1000
VOCAB = 3000
#: documents in the build workload's warm-up corpus (the first ones),
#: whose snapshot the refresh merges into
WARMUP_DOCS = 100
#: documents landing in the refresh
DELTA_DOCS = 150
#: results per query
K = 10
#: queries whose summed document frequency reaches this go to block-max
#: WAND, the rest to exhaustive scoring (``route_bm25``'s threshold)
WAND_MIN_POSTINGS = N_DOCS // 2
#: queries in the batch: the size of the paper's Run_B6 query set
BATCH_QUERIES = 635
#: judged documents per batch query
QRELS_PER_QUERY = 5
#: stopwords mixed into query text, so the analyzer has work to do
QUERY_STOPWORDS = ("the", "of", "and", "in")
#: longest wait for the incremental stream to drain
DRAIN_TIMEOUT_S = 120


@dataclass
class Run:
    spark: object
    tracer: object
    work: str
    seed: int
    seconds: float
    pagerank_iters: int
    t_start: float
    session_s: float
    attempted: int = 0
    failed: int = 0
    detail: dict = field(default_factory=dict)

    def config(self):
        from information_retrieval_system_spark.config import EngineConfig

        # engine defaults, except that PageRank runs exactly
        # ``pagerank_iters`` iterations (threshold 0 never converges early)
        return EngineConfig(pagerank_max_iters=self.pagerank_iters,
                            pagerank_threshold=0.0)

    def record(self, ok: bool, what: str) -> None:
        """Count one operation; report a wrong one on stderr."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            print(f"perfbench: FAILED {what}", file=sys.stderr)


def du(path: str) -> int:
    """Bytes of the regular files under ``path``."""
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total


def median(xs: list[float]) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def close(a: float, b: float) -> bool:
    return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-12)


def same_rows(got: list[tuple[int, float]], want: list[tuple[int, float]]) -> bool:
    """Equal (doc_id, score) rankings: ids exactly, scores to rounding."""
    return ([d for d, _ in got] == [d for d, _ in want]
            and all(close(a, b) for (_, a), (_, b) in zip(got, want)))


def measure(run: Run, op) -> list[float]:
    """Call ``op(i)`` in a closed loop for ``run.seconds``, at least once;
    no operation starts that would likely end more than half its own
    length past the window.  -> seconds per operation.  Records the
    tracer's overhead per operation in ``run.detail``."""
    out = []
    t0 = time.perf_counter()
    overhead0 = run.tracer.overhead_s
    while True:
        s = time.perf_counter()
        op(len(out))
        out.append(time.perf_counter() - s)
        if time.perf_counter() - t0 + 0.5 * out[-1] >= run.seconds:
            run.detail["trace_overhead_s"] = (run.tracer.overhead_s - overhead0) / len(out)
            return out


def timed(f):
    """-> (f(), seconds it took)."""
    s = time.perf_counter()
    out = f()
    return out, time.perf_counter() - s


@dataclass
class Query:
    terms: list[str]
    text: str
    route: str          # the route WAND_MIN_POSTINGS implies
    postings: int       # summed document frequency of the terms
    matches: int        # documents containing any term


def make_queries(rng, corpus, n_per_route: int) -> list[Query]:
    """Zipf queries split by the route their summed document frequency
    implies, interleaved WAND/exhaustive: query ``2i`` takes the WAND
    route, ``2i + 1`` the exhaustive one."""
    dfs = gen.document_frequencies(corpus)
    by_route = {"wand": [], "exhaustive": []}
    while min(len(v) for v in by_route.values()) < n_per_route:
        for terms in gen.make_queries(rng, 500, VOCAB):
            words = list(terms)
            for w in QUERY_STOPWORDS[: int(rng.integers(0, 3))]:
                words.insert(int(rng.integers(0, len(words) + 1)), w)
            # upper-case one word: the analyzer lower-cases queries
            j = int(rng.integers(0, len(words)))
            words[j] = words[j].upper()
            p = sum(dfs.get(t, 0) for t in terms)
            route = "wand" if p >= WAND_MIN_POSTINGS else "exhaustive"
            by_route[route].append(Query(terms, " ".join(words), route, p,
                                         int(gen.matching_doc_ids(corpus, terms).size)))
    pairs = zip(by_route["wand"][:n_per_route], by_route["exhaustive"][:n_per_route])
    return [q for pair in pairs for q in pair]


def terms_frame(spark, terms: list[str]):
    return spark.createDataFrame([(t, 1.0) for t in terms], "term string, qtf double")


# ---------------------------------------------------------------------------
# operations and their checks
# ---------------------------------------------------------------------------

def _build_once(run: Run, cfg, corpus_df, edges_df, out: str) -> dict:
    """One full index build into ``out``; returns what the checks need."""
    from information_retrieval_system_spark.graph.pagerank import (
        attach_pagerank, pagerank, resolve_edges)
    from information_retrieval_system_spark.index.builder import build_index, write_index
    from information_retrieval_system_spark.index.compression import (
        build_block_postings, build_dl_blocks, write_block_index)

    spark, tr = run.spark, run.tracer
    plain, blocks = os.path.join(out, "plain"), os.path.join(out, "blocks")
    ranked = os.path.join(out, "ranked_docs")
    with tr.span("index.builder.build"):
        ix = build_index(corpus_df, cfg, doc_col="doc_id", text_col="text")
        n_postings = ix.postings.count()
        ix.docs.count()
        n_terms = ix.terms.count()
    with tr.span("index.builder.write"):
        write_index(ix, plain, cfg)
    # the encoder and PageRank read the WRITTEN tables, as separate jobs
    # over the index would; PageRank over build_index's in-memory docs
    # drags the whole build lineage into every iteration's plan
    docs = spark.read.parquet(os.path.join(plain, "docs"))
    with tr.span("index.compression.encode"):
        postings = spark.read.parquet(os.path.join(plain, "postings"))
        write_block_index(build_block_postings(postings), build_dl_blocks(docs),
                          blocks, term_buckets=cfg.term_buckets)
    with tr.span("graph.pagerank"):
        nodes = docs.select("doc_id")
        ranks = pagerank(nodes, resolve_edges(edges_df, nodes), cfg)
        attach_pagerank(docs, ranks).write.parquet(ranked)
    spark.catalog.clearCache()
    return {"stats": dict(ix.stats, n_postings_counted=n_postings, n_terms=n_terms),
            "plain": plain, "blocks": blocks, "ranked": ranked}


def _check_build(run: Run, res: dict, expected: dict, pr_ref: np.ndarray) -> bool:
    from pyspark.sql import functions as F

    spark = run.spark
    st = res["stats"]
    got = {"n_docs": st["n_docs"], "total_len": st["total_len"],
           "n_postings": st["n_postings"], "n_terms": st["n_terms"]}
    ok = got == expected and st["n_postings_counted"] == expected["n_postings"]
    if not ok:
        print(f"perfbench: index stats {got} != generated {expected}", file=sys.stderr)
    blocks = spark.read.parquet(os.path.join(res["blocks"], "blocks"))
    dl = spark.read.parquet(os.path.join(res["blocks"], "dl_blocks"))
    n_block_postings = blocks.agg(F.sum("n")).collect()[0][0]
    n_block_docs = dl.agg(F.sum("n")).collect()[0][0]
    if (n_block_postings, n_block_docs) != (expected["n_postings"], expected["n_docs"]):
        print(f"perfbench: blocks hold {n_block_postings} postings / {n_block_docs} docs",
              file=sys.stderr)
        ok = False
    if not np.allclose(_pagerank_of(run, res), pr_ref, rtol=1e-9, atol=1e-15):
        print("perfbench: PageRank differs from the reference iteration", file=sys.stderr)
        ok = False
    return ok


def _pagerank_of(run: Run, res: dict) -> np.ndarray:
    """The PageRank a build attached, indexed by doc id (NaN where none)."""
    pr = np.full(N_DOCS, np.nan)
    for r in run.spark.read.parquet(res["ranked"]).select("doc_id", "pagerank").collect():
        pr[r.doc_id] = r.pagerank
    return pr


def _fused_reference(rows: list[tuple[int, float]], pr: np.ndarray, cfg) -> dict[int, float]:
    """B6 fusion of one query's (doc_id, score) rows, as
    ``batch_fuse_with_pagerank`` defines it."""
    avg_pr = float(pr.mean())
    avg_s = statistics.fmean(s for _, s in rows) if rows else 0.0
    z = math.sqrt(avg_pr * avg_pr + avg_s * avg_s) or 1.0
    return {d: (cfg.model_weight * s + cfg.pagerank_weight * pr[d]) / z for d, s in rows}


def _eval_reference(fused: dict[int, list[tuple[int, float]]],
                    qrels: dict[int, dict[int, int]]) -> dict[str, float]:
    """Mean/min/max AP and nDCG of the fused run, as ``evaluate`` defines
    them: rank by score then doc id, AP over binarized judgments divided
    by the query's relevant count, nDCG with gain 2^rel - 1 and a log2
    discount over the whole ranking."""
    aps, ndcgs = [], []
    for qid, rows in fused.items():
        judged = qrels.get(qid, {})
        ranked = sorted(rows, key=lambda r: (-r[1], r[0]))
        hits, ap, dcg = 0, 0.0, 0.0
        for rank, (d, _) in enumerate(ranked, 1):
            rel = judged.get(d, 0)
            if rel > 0:
                hits += 1
                ap += hits / rank
            dcg += (2.0 ** rel - 1) / math.log2(rank + 1)
        n_rel = sum(1 for r in judged.values() if r > 0)
        ideal = sorted(judged.values(), reverse=True)
        idcg = sum((2.0 ** r - 1) / math.log2(i + 1) for i, r in enumerate(ideal, 1))
        aps.append(ap / n_rel if n_rel else 0.0)
        ndcgs.append(dcg / idcg if idcg > 0 else 0.0)
    return {"mean_ap": statistics.fmean(aps), "min_ap": min(aps), "max_ap": max(aps),
            "mean_ndcg": statistics.fmean(ndcgs), "min_ndcg": min(ndcgs),
            "max_ndcg": max(ndcgs)}


def _run_batch(run: Run, cfg, ix, blocks, dl_blocks, pr_docs, queries: list[Query], qrels_df):
    """The Run_B6 batch: analyzed, routed, fused with PageRank and
    evaluated.  The routed top-k is materialized once (cached), then
    fused and evaluated from it."""
    from information_retrieval_system_spark.evaluation.metrics import evaluate
    from information_retrieval_system_spark.query.batch import queries_to_terms
    from information_retrieval_system_spark.query.scoring import batch_fuse_with_pagerank
    from information_retrieval_system_spark.query.wand import route_batch_bm25

    spark, tr = run.spark, run.tracer
    with tr.span("query.batch"):
        qt = queries_to_terms(spark, [(qid, q.text) for qid, q in enumerate(queries)], cfg)
        with tr.span("query.batch_plan"):
            ranked, routes = route_batch_bm25(ix, blocks, dl_blocks, qt, k=K, cfg=cfg,
                                              term_buckets=cfg.term_buckets,
                                              wand_min_postings=WAND_MIN_POSTINGS)
        ranked = ranked.cache()
        try:
            with tr.span("query.batch.topk"):
                ranked_rows = ranked.collect()
            with tr.span("query.fuse"):
                fused = batch_fuse_with_pagerank(ranked, pr_docs, cfg)
                fused_rows = fused.collect()
            with tr.span("evaluation.eval"):
                ev = evaluate(fused, qrels_df).collect()[0].asDict()
        finally:
            ranked.unpersist()
    if tr.enabled:
        # traced runs only: each route's sub-batch routed and materialized
        # on its own, so the two execution paths get separate times
        for route, name in (("wand", "query.wand.batch_exec"), ("exhaustive", "query.batch.exec")):
            qids = [qid for qid, q in enumerate(queries) if q.route == route]
            with tr.span(name):
                sub, _ = route_batch_bm25(ix, blocks, dl_blocks, qt.filter(qt.qid.isin(qids)),
                                          k=K, cfg=cfg, term_buckets=cfg.term_buckets,
                                          wand_min_postings=WAND_MIN_POSTINGS)
                sub.collect()
    return routes, ranked_rows, fused_rows, ev


def _check_batch(cfg, out, queries: list[Query], singles: dict[int, list],
                 qrels: list[tuple[int, int, int]], pr: np.ndarray) -> bool:
    """Routes as planned, top-k sizes, the rows of the queries also run
    one at a time equal to their single-query rows, fused scores
    recomputed from the batch rows and the PageRank, AP/nDCG recomputed
    from the fused rows."""
    routes, ranked_rows, fused_rows, ev = out
    per_q: dict[int, list] = {}
    for r in sorted(ranked_rows, key=lambda r: (r.qid, r.rank)):
        per_q.setdefault(r.qid, []).append((r.doc_id, r.score))
    bad = [qid for qid, q in enumerate(queries)
           if routes.get(qid) != q.route or len(per_q.get(qid, [])) != min(K, q.matches)]
    bad += [qid for qid, rows in singles.items() if not same_rows(per_q.get(qid, []), rows)]
    fused: dict[int, list] = {}
    for r in fused_rows:
        fused.setdefault(r.qid, []).append((r.doc_id, r.score))
    for qid, rows in per_q.items():
        want = _fused_reference(rows, pr, cfg)
        got = dict(fused.get(qid, []))
        if got.keys() != want.keys() or not all(close(got[d], want[d]) for d in want):
            bad.append(qid)
    judged: dict[int, dict[int, int]] = {}
    for qid, d, rel in qrels:
        judged.setdefault(qid, {})[d] = rel
    want_ev = _eval_reference(fused, judged)
    ev_ok = all(close(ev[k], want_ev[k]) for k in want_ev)
    if bad or not ev_ok:
        print(f"perfbench: batch wrong for queries {sorted(set(bad))[:10]}; "
              f"evaluate {ev} vs {want_ev}", file=sys.stderr)
    return not bad and ev_ok


@dataclass
class Stream:
    """One incremental-maintenance stream: corpus files land in
    ``inbox``, the stream writes its deltas to ``deltas``."""
    inbox: str
    checkpoint: str
    deltas: str


def _stream(work: str, name: str) -> Stream:
    d = os.path.join(work, name)
    return Stream(os.path.join(d, "inbox"), os.path.join(d, "checkpoint"),
                  os.path.join(d, "deltas"))


def _land_and_drain(run: Run, cfg, st: Stream, docs: gen.Corpus) -> bool:
    """Land ``docs`` as new corpus files in the stream's inbox, then run
    the incremental stream until it has drained them.  -> drained."""
    from information_retrieval_system_spark.streaming.incremental import incremental_index_stream

    # written aside and renamed in, so the stream never sees a partial file
    staging = os.path.join(os.path.dirname(st.inbox), "staging")
    os.makedirs(st.inbox, exist_ok=True)
    for p in gen.write_corpus(docs, staging, prefix=f"d{int(docs.doc_ids[0])}-"):
        os.replace(p, os.path.join(st.inbox, os.path.basename(p)))
    with run.tracer.span("streaming.incremental.delta"):
        q = incremental_index_stream(run.spark, st.inbox, st.checkpoint, st.deltas, cfg)
        try:
            return q.awaitTermination(DRAIN_TIMEOUT_S)
        finally:
            q.stop()


def _check_snapshot(stats: dict, corpus: gen.Corpus, what: str) -> bool:
    """A snapshot's stats equal those of a from-scratch build over
    ``corpus`` (the generator's counts, which the build workload checks
    the engine's build against)."""
    want = gen.expected_stats(corpus)
    got = {k: stats.get(k) for k in ("n_docs", "total_len", "n_postings")}
    ok = got == {k: want[k] for k in got}
    if not ok:
        print(f"perfbench: {what} stats {got}, want {want}", file=sys.stderr)
    return ok


# ---------------------------------------------------------------------------
# build
# ---------------------------------------------------------------------------

def build(run: Run):
    from information_retrieval_system_spark.index.builder import build_index
    from information_retrieval_system_spark.index.snapshots import commit_snapshot, read_snapshot
    from information_retrieval_system_spark.streaming.incremental import merge_into_snapshot

    spark, tr = run.spark, run.tracer
    rng = np.random.default_rng(run.seed)
    corpus = gen.make_corpus(rng, 0, N_DOCS, VOCAB)
    edges = gen.citation_edges(rng, N_DOCS)
    delta = gen.make_corpus(rng, N_DOCS, DELTA_DOCS, VOCAB)
    cdir, edir = os.path.join(run.work, "corpus"), os.path.join(run.work, "edges")
    gen.write_corpus(corpus, cdir)
    gen.write_edges(edges, edir)
    expected = gen.expected_stats(corpus)
    pr_ref = gen.pagerank_reference(N_DOCS, edges, run.pagerank_iters)
    cfg = run.config()
    corpus_df = spark.read.parquet(cdir)
    edges_df = spark.read.parquet(edir)

    # warm-up: build_index over the first WARMUP_DOCS documents, committed
    # as the refresh's base snapshot (``commit_snapshot`` runs
    # ``write_index``).  A first build in a process costs about 2.5x a
    # later one (the stemmer's Python workers, the first jobs of each plan
    # shape, code generation, JIT), per process, not per document.  The
    # block encode and PageRank are not warmed: their first calls cost
    # about 1.2 s more each than later ones, which lands in every run's
    # timed build alike, while warming them would cost about 6 s of each
    # run's time budget; nor is the refresh, for the same reason.
    snap = os.path.join(run.work, "snapshots")
    commit_snapshot(build_index(corpus_df.filter(f"doc_id < {WARMUP_DOCS}"), cfg,
                                doc_col="doc_id", text_col="text"), snap, cfg)
    spark.catalog.clearCache()
    setup_s = time.perf_counter() - run.t_start

    outs, results = [], []

    def op(i):
        out = os.path.join(run.work, f"build{i}")
        outs.append(out)
        try:
            results.append(_build_once(run, cfg, corpus_df, edges_df, out))
        except Exception as e:  # an engine failure is a failed operation
            print(f"perfbench: build {i} raised {e!r}", file=sys.stderr)
            results.append(None)

    times = measure(run, op)

    def refresh():
        """New corpus files land, the stream drains them and the merged
        index is committed and read back."""
        st = _stream(run.work, "stream")
        drained = _land_and_drain(run, cfg, st, delta)
        with tr.span("index.snapshots.merge"):
            sid = merge_into_snapshot(spark, snap, st.deltas, cfg, note="perfbench refresh")
        with tr.span("index.snapshots.read"):
            ix = read_snapshot(spark, snap)
            n_postings = ix.postings.count()
        return drained, sid, ix.stats, n_postings

    try:
        refreshed, refresh_s = timed(refresh)
    except Exception as e:  # an engine failure is a failed operation
        print(f"perfbench: refresh raised {e!r}", file=sys.stderr)
        refreshed, refresh_s = None, 0.0

    sizes, stats = {}, {}
    for res in results:
        run.record(res is not None and _check_build(run, res, expected, pr_ref), "build")
        if res is not None:
            stats = res["stats"]
            sizes = {"postings": du(os.path.join(res["plain"], "postings")),
                     "plain": du(res["plain"]), "blocks": du(res["blocks"])}
    for out in outs:
        shutil.rmtree(out, ignore_errors=True)
    # the merge commits snapshot 2 over the warm-up's snapshot 1, with the
    # stats of a build over base and delta documents, and its postings
    # read back in full
    merged = gen.concat(gen.head(corpus, WARMUP_DOCS), delta)
    run.record(refreshed is not None and refreshed[0] and refreshed[1] == 2
               and refreshed[3] == gen.expected_stats(merged)["n_postings"]
               and _check_snapshot(refreshed[2], merged, "merged snapshot"), "refresh")

    text_bytes = corpus.text_bytes
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(times),
        "ops_per_s": len(times) / sum(times),
        "second_op_s": refresh_s,
        "index_bytes_per_input_byte": (sizes.get("plain", 0) + sizes.get("blocks", 0)) / text_bytes,
    }
    layer = _layer_metrics(run)
    layer.update({
        "index.builder.postings_bytes": sizes.get("postings", 0),
        "index.builder.n_postings": stats.get("n_postings", 0),
        "index.builder.n_terms": stats.get("n_terms", 0),
        "index.compression.block_bytes": sizes.get("blocks", 0),
    })
    if refreshed is not None:
        layer["index.snapshots.bytes_rewritten_per_delta_byte"] = (
            du(os.path.join(snap, f"v{refreshed[1]}")) / delta.text_bytes)
    run.detail.update({"build_s": times, "refresh_s": refresh_s, "corpus_bytes": text_bytes,
                       "docs": N_DOCS, "warmup_docs": WARMUP_DOCS, "delta_docs": DELTA_DOCS,
                       "pagerank_iters": run.pagerank_iters})
    return e2e, layer


# ---------------------------------------------------------------------------
# serve
# ---------------------------------------------------------------------------

def serve(run: Run):
    from information_retrieval_system_spark.analysis.analyzer import analyze_query_string
    from information_retrieval_system_spark.index.compression import (
        build_block_postings, build_dl_blocks, read_block_index, write_block_index)
    from information_retrieval_system_spark.index.snapshots import read_snapshot
    from information_retrieval_system_spark.query.scoring import bm25_search
    from information_retrieval_system_spark.query.wand import route_bm25
    from information_retrieval_system_spark.streaming.incremental import compact_to_snapshot

    spark, tr = run.spark, run.tracer
    rng = np.random.default_rng(run.seed)
    corpus = gen.make_corpus(rng, 0, N_DOCS, VOCAB)
    edges = gen.citation_edges(rng, N_DOCS)
    queries = make_queries(rng, corpus, (BATCH_QUERIES + 1) // 2)[:BATCH_QUERIES]
    qrels = gen.make_qrels(rng, corpus, [q.terms for q in queries], QRELS_PER_QUERY)
    # PageRank is an input of the batch's fusion here; the build workload
    # times the engine's PageRank and checks it against this reference
    pr = gen.pagerank_reference(N_DOCS, edges, run.pagerank_iters)
    cfg = run.config()

    # set-up, untraced: the serving index comes from the engine's
    # incremental path (the corpus lands in a stream's inbox and the
    # drained deltas are compacted into the first snapshot), the block
    # layout is encoded from that snapshot
    was, tr.enabled = tr.enabled, False
    snap, bdir = os.path.join(run.work, "snapshots"), os.path.join(run.work, "blocks")
    base = _stream(run.work, "stream")
    drained = _land_and_drain(run, cfg, base, corpus)
    sid = compact_to_snapshot(spark, base.deltas, snap, cfg, note="perfbench serve base")
    plain = os.path.join(snap, f"v{sid}")
    write_block_index(
        build_block_postings(spark.read.parquet(os.path.join(plain, "postings"))),
        build_dl_blocks(spark.read.parquet(os.path.join(plain, "docs"))),
        bdir, term_buckets=cfg.term_buckets)
    # the server keeps the small tables in memory
    six = read_snapshot(spark, snap)
    six.terms.cache().count()
    six.docs.cache().count()
    blocks, dl_blocks = read_block_index(spark, bdir, keep_bucket=True)
    pr_docs = spark.createDataFrame([(int(d), float(p)) for d, p in zip(corpus.doc_ids, pr)],
                                    "doc_id long, pagerank double").cache()
    pr_docs.count()
    qrels_df = spark.createDataFrame(qrels, "qid long, doc_id long, relevance int").cache()
    qrels_df.count()
    run.record(drained and _check_snapshot(six.stats, corpus, "base snapshot"), "base snapshot")
    tr.enabled = was
    setup_s = time.perf_counter() - run.t_start

    def one(q: Query):
        with tr.span("serve.query") as root:
            with tr.span("analysis.query"):
                qtf = analyze_query_string(q.text, cfg.use_stopwords, cfg.use_stemmer)
            qt = spark.createDataFrame([(t, float(c)) for t, c in sorted(qtf.items())],
                                       "term string, qtf double")
            with tr.span("query.plan"):
                ranked, route = route_bm25(six, blocks, dl_blocks, qt, k=K, cfg=cfg,
                                           term_buckets=cfg.term_buckets,
                                           wand_min_postings=WAND_MIN_POSTINGS)
            name = "query.wand.exec" if route == "wand" else "query.scoring.exec"
            with tr.span(name):
                rows = [(r.doc_id, r.score) for r in ranked.collect()]
        return qtf, route, rows, root

    def ok(q: Query, qtf, route, rows) -> bool:
        scores = [s for _, s in rows]
        good = (sorted(qtf) == q.terms and route == q.route and len(rows) == min(K, q.matches)
                and all(a >= b for a, b in zip(scores, scores[1:])))
        if not good:
            print(f"perfbench: query {q.text!r}: terms {sorted(qtf)}, route {route} "
                  f"(want {q.route}), {len(rows)} rows (want {min(K, q.matches)})",
                  file=sys.stderr)
        return good

    results: dict[int, tuple | None] = {}
    latency: dict[int, float] = {}
    roots: dict[int, dict] = {}

    def pair(i):
        """Queries 2i (WAND route) and 2i + 1 (exhaustive route)."""
        for j in (2 * i, 2 * i + 1):
            q = queries[j]
            try:
                (qtf, route, rows, root), latency[j] = timed(lambda: one(q))
            except Exception as e:  # an engine failure is a failed operation
                print(f"perfbench: query {q.terms} raised {e!r}", file=sys.stderr)
                results[j] = None
                continue
            results[j] = (qtf, route, rows)
            if root is not None:
                roots[j] = root

    # the batch first: its first calls into the query layers are also the
    # single queries' warm-up (analyzer, routing collect, the WAND
    # kernel's Python workers, the exhaustive plan's operators)
    try:
        batch_out, batch_s = timed(lambda: _run_batch(run, cfg, six, blocks, dl_blocks,
                                                      pr_docs, queries, qrels_df))
    except Exception as e:  # an engine failure is a failed operation
        print(f"perfbench: batch raised {e!r}", file=sys.stderr)
        batch_out, batch_s = None, 0.0

    # an operation is a pair of queries, one of each route, so its time
    # does not jump between the two routes' latencies from run to run
    times = measure(run, pair)

    for j in sorted(results):
        run.record(results[j] is not None and ok(queries[j], *results[j]), "query")
    # routed top-k equals plain exhaustive BM25 on the first query of each
    # route, so both execution paths are checked against the same answer
    for j in (0, 1):
        q, res = queries[j], results.get(j)
        want = [(r.doc_id, r.score) for r in
                bm25_search(six, terms_frame(spark, q.terms), k=K, cfg=cfg).collect()]
        run.record(res is not None and same_rows(res[2], want),
                   f"{q.route}-routed top-{K} vs bm25_search for {q.terms}")
    singles = {j: r[2] for j, r in results.items() if r is not None}
    run.record(batch_out is not None and _check_batch(cfg, batch_out, queries, singles, qrels, pr),
               "batch")

    routes = {j: r[1] for j, r in results.items() if r is not None}
    e2e = {
        "setup_s": setup_s,
        "op_p50_s": median(times),
        "ops_per_s": len(times) / sum(times),
        "second_op_s": batch_s,
        "index_bytes_per_input_byte": (du(plain) + du(bdir)) / corpus.text_bytes,
    }
    layer = _layer_metrics(run)
    if batch_out is not None:
        layer["query.batch.routes_wand"] = sum(r == "wand" for r in batch_out[0].values())
    # per-query counts on the first timed pair, which every run completes,
    # so they repeat exactly from run to run
    counted = [j for j in (0, 1) if j in roots]
    if counted:
        layer.update({
            "query.routes_wand": sum(routes[j] == "wand" for j in counted),
            "query.routes_exhaustive": sum(routes[j] == "exhaustive" for j in counted),
            "query.postings_per_query": statistics.mean(queries[j].postings for j in counted),
            "spark.jobs_per_query": statistics.mean(tr.inclusive(roots[j], "jobs") for j in counted),
            "spark.tasks_per_query": statistics.mean(tr.inclusive(roots[j], "tasks") for j in counted),
        })
    by_route: dict[str, list[float]] = {}
    for j, d in latency.items():
        by_route.setdefault(routes.get(j, "failed"), []).append(d)
    run.detail.update({
        "pair_s": times,
        "queries": len(results),
        "query_p50_s_by_route": {r: median(v) for r, v in by_route.items()},
        "queries_per_s": 2 * len(times) / sum(times),
        "batch_s": batch_s,
        "batch_queries_per_s": len(queries) / batch_s if batch_s else 0.0,
        "docs": N_DOCS, "wand_min_postings": WAND_MIN_POSTINGS,
    })
    return e2e, layer


# ---------------------------------------------------------------------------
# per-layer metrics
# ---------------------------------------------------------------------------

#: per-layer metric -> span whose median duration it reports
SPAN_TIMES = {
    "index.builder.build_s": "index.builder.build",
    "index.builder.write_s": "index.builder.write",
    "index.compression.encode_s": "index.compression.encode",
    "graph.pagerank.pagerank_s": "graph.pagerank",
    "query.batch_plan_s": "query.batch_plan",
    "query.batch.topk_s": "query.batch.topk",
    "query.wand.batch_exec_s": "query.wand.batch_exec",
    "query.batch.exec_s": "query.batch.exec",
    "query.fuse_s": "query.fuse",
    "evaluation.eval_s": "evaluation.eval",
    "analysis.query_s": "analysis.query",
    "query.plan_s": "query.plan",
    "query.wand.exec_s": "query.wand.exec",
    "query.scoring.exec_s": "query.scoring.exec",
    "streaming.incremental.delta_s": "streaming.incremental.delta",
    "index.snapshots.merge_s": "index.snapshots.merge",
    "index.snapshots.read_s": "index.snapshots.read",
}

#: per-layer metric -> span whose median job count (own and children's) it reports
SPAN_JOBS = {
    "index.builder.jobs": "index.builder.build",
    "index.compression.jobs": "index.compression.encode",
    "graph.pagerank.jobs": "graph.pagerank",
    "query.batch.jobs": "query.batch",
    "index.snapshots.merge_jobs": "index.snapshots.merge",
}

COUNTS = ("index.builder.postings_bytes", "index.builder.n_postings",
          "index.builder.n_terms", "index.compression.block_bytes",
          "query.batch.routes_wand", "query.routes_wand", "query.routes_exhaustive",
          "query.postings_per_query", "spark.jobs_per_query", "spark.tasks_per_query",
          "index.snapshots.bytes_rewritten_per_delta_byte")


def _layer_metrics(run: Run) -> dict:
    """Every per-layer metric; a layer this workload does not call reads 0."""
    tr = run.tracer
    out = {"session.start_s": run.session_s,
           "trace.overhead_s": run.detail["trace_overhead_s"]}
    for metric, name in SPAN_TIMES.items():
        out[metric] = median([s["dur_s"] for s in tr.named(name)])
    for metric, name in SPAN_JOBS.items():
        out[metric] = median([tr.inclusive(s, "jobs") for s in tr.named(name)])
    out.update({c: 0 for c in COUNTS})
    return out


LAYER_UNITS = {"index.snapshots.bytes_rewritten_per_delta_byte": "ratio"}


def layer_unit(metric: str) -> str:
    if metric in LAYER_UNITS:
        return LAYER_UNITS[metric]
    if metric.endswith("_s"):
        return "s"
    if metric.endswith("_bytes"):
        return "bytes"
    return "count"


WORKLOADS = {"build": build, "serve": serve}
