"""Incremental index maintenance via Structured Streaming.

The reference is strictly batch (SURVEY.md §2.9); this module is the
Spark-native growth path a production corpus needs: new corpus files land
in a directory, a file-source stream picks them up, and ``foreachBatch``
runs the SAME batch analyzer/aggregation pipeline per micro-batch,
appending a postings DELTA partition per batch.  Because a document
arrives exactly once, per-batch (term, doc) aggregates are disjoint
across batches — the merged view is a pure union, and global stats
(df, N, avgdl) are re-derived by one aggregation over the union
(the streaming analog of the reference's merge cascade, which Spark's
shuffle already replaced in batch mode).

``trigger(availableNow=True)`` drains everything pending then stops —
the cron-style incremental build; remove it for continuous mode.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from ..analysis.analyzer import analyze_tokens, doc_length_expr
from ..config import DEFAULT_CONFIG, EngineConfig

CORPUS_STREAM_SCHEMA = "doc_id long, text string"


def _process_batch_factory(out_dir: str, cfg: EngineConfig,
                           doc_col: str, text_col: str):
    def process(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        docs = batch_df.select(
            F.col(doc_col).alias("doc_id"), F.col(text_col).alias("content")
        ).withColumn("length", doc_length_expr(F.col("content")))
        toks = analyze_tokens(
            docs, "content", ["doc_id"],
            use_stopwords=cfg.use_stopwords, use_stemmer=cfg.use_stemmer,
            # micro-batches are small: the direct Arrow stem UDF beats the
            # distinct+broadcast-join plan (which pays an extra shuffle
            # that only amortizes on large batch sizes)
            stem_via_join=False,
        )
        postings = toks.groupBy("term", "doc_id").agg(F.count("*").cast("int").alias("tf"))
        postings.withColumn("batch_id", F.lit(batch_id)).write.mode("append").parquet(
            os.path.join(out_dir, "postings_delta")
        )
        docs.select("doc_id", "length").withColumn("batch_id", F.lit(batch_id)).write.mode(
            "append"
        ).parquet(os.path.join(out_dir, "docs_delta"))

    return process


def incremental_index_stream(
    spark: SparkSession,
    input_dir: str,
    checkpoint_dir: str,
    out_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    doc_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
):
    """Start the incremental build; returns the StreamingQuery."""
    stream = (
        spark.readStream.schema(CORPUS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    writer = (
        stream.writeStream.foreachBatch(
            _process_batch_factory(out_dir, cfg, doc_col, text_col)
        )
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def compact_delta_index(spark: SparkSession, delta_dir: str, out_dir: str,
                        cfg: EngineConfig = DEFAULT_CONFIG):
    """The periodic COMPACTION job merged_index_view promises: rewrite
    the accumulated per-batch delta partitions into the bucketed serving
    layout of index.builder.write_index (term-bucketed postings sorted
    within partitions, docs with VSM norms, terms, stats.json), and read
    it back.

    Semantics are identical to a from-scratch batch build over the same
    documents: per-batch (term, doc) aggregates are disjoint, so the
    union IS the posting set, df/cf/norms re-derive by one aggregation
    pass.  Delta doc keys are integers, so ``doc_int == doc_id`` (the
    builder's int fast path); norms use the builder's floor-idf quirk.
    At scale this runs on a cadence (or when delta file count crosses a
    threshold) and serving flips to the compacted snapshot — exactly an
    Iceberg rewrite-data-files action, expressed on plain parquet.
    ``compact_to_snapshot`` is the same job committing into the
    snapshot log instead of a bare directory."""
    from ..index.builder import read_index, write_index

    postings, docs, _ = _read_deltas(spark, delta_dir)
    if docs is None:
        raise FileNotFoundError(f"no delta batches under {delta_dir} to compact")
    tables, cached = _tables_from_view(postings, docs)
    try:
        write_index(tables, out_dir, cfg)
    finally:
        cached.unpersist()
    return read_index(spark, out_dir)


def compact_to_snapshot(spark: SparkSession, delta_dir: str, snapshot_root: str,
                        cfg: EngineConfig = DEFAULT_CONFIG,
                        note: str = "") -> int:
    """Compaction committed as an immutable SNAPSHOT (operation
    "compaction" in the lineage log): the streaming deltas become a new
    version of the serving index without disturbing any prior snapshot
    a reader may hold.  The commit records the highest delta batch it
    read as ``merge_watermark``, so a later ``merge_into_snapshot`` over
    the same delta dir merges only the batches that landed after it.
    Returns the snapshot id."""
    from ..index.snapshots import commit_snapshot

    postings, docs, wm = _read_deltas(spark, delta_dir)
    if docs is None:
        raise FileNotFoundError(f"no delta batches under {delta_dir} to compact")
    tables, cached = _tables_from_view(postings, docs)
    try:
        return commit_snapshot(tables, snapshot_root, cfg,
                               operation="compaction", note=note,
                               extra={"merge_watermark": wm})
    finally:
        cached.unpersist()


def _tables_from_view(postings: DataFrame, docs: DataFrame):
    """(term, doc_id, tf) + (doc_id, length) -> full IndexTables:
    terms/stats re-derived by one aggregation each, VSM norms with the
    builder's floor-idf quirk, integer doc ids (doc_int == doc_id).
    Shared by delta compaction and snapshot merge — both are 'derive
    the global tables from a posting-row union' jobs.

    The posting union is persisted (disk, not exec memory) before the
    fan-out: four downstream passes consume it (terms agg, stats count,
    norm derivation, the layout write) and would otherwise each re-read
    the snapshot parquet plus every delta file.  Same precedent as
    assign_doc_ints; in production this stage is a written table.

    Returns ``(tables, persisted_postings)`` — the CALLER must
    ``persisted_postings.unpersist()`` after consuming the tables
    (write/commit), or repeated maintenance cycles in a long-lived
    session leak one disk-cached dataset per call."""
    import math

    from pyspark import StorageLevel

    from ..index.builder import IndexTables

    postings = postings.persist(StorageLevel.DISK_ONLY)
    terms = postings.groupBy("term").agg(
        F.count("*").cast("long").alias("df"), F.sum("tf").cast("long").alias("cf")
    )
    row = docs.agg(F.count("*").alias("n"), F.sum("length").alias("s")).collect()[0]
    n_docs = int(row["n"]); total = int(row["s"] or 0)
    stats = {"n_docs": n_docs, "total_len": total,
             "avgdl": total // n_docs if n_docs else 0,
             "n_postings": postings.count(), "int_doc_ids": True}
    p = postings.withColumn("doc_int", F.col("doc_id").cast("long"))
    log2 = math.log(2.0)
    norm_df = (
        p.join(F.broadcast(terms.select("term", "df")), "term")
        .withColumn(
            "w",
            F.col("tf") * F.log(F.floor(F.lit(n_docs + 1) / F.col("df")).cast("double")) / F.lit(log2),
        )
        .groupBy("doc_id")
        .agg(F.sum(F.col("w") * F.col("w")).alias("norm"))
    )
    docs_full = (
        docs.withColumn("doc_int", F.col("doc_id").cast("long"))
        .join(norm_df, "doc_id", "left")
        .withColumn("norm", F.coalesce(F.col("norm"), F.lit(0.0)))
        .withColumn("pagerank", F.lit(0.0))
    )
    return IndexTables(postings=p, docs=docs_full, terms=terms, stats=stats), postings


def _read_deltas(spark: SparkSession, delta_dir: str, after: int = -1):
    """The delta batches with ``batch_id > after`` ->
    ``(postings(term, doc_id, tf), docs(doc_id, length), watermark)``,
    the watermark being the highest ``batch_id`` read (None when no
    batch is past ``after``, or no delta dir exists yet).

    The watermark comes from the DOCS deltas, not the postings: every
    processed batch writes docs_delta rows, but a batch whose docs all
    tokenize to zero terms writes NO postings rows — deriving the
    watermark from postings would leave such a batch above the recorded
    mark and re-merge its doc rows next call (double-counted
    n_docs/avgdl/norms)."""
    p_dir = os.path.join(delta_dir, "postings_delta")
    d_dir = os.path.join(delta_dir, "docs_delta")
    if not os.path.isdir(d_dir):  # stream drained zero batches
        return None, None, None
    if os.path.isdir(p_dir):
        dp = spark.read.parquet(p_dir).filter(F.col("batch_id") > after)
    else:  # every batch so far tokenized to zero terms: docs only
        dp = spark.createDataFrame(
            [], "term string, doc_id long, tf int, batch_id long")
    dd = spark.read.parquet(d_dir).filter(F.col("batch_id") > after)
    wm = dd.agg(F.max("batch_id").alias("m")).collect()[0]["m"]
    return dp.drop("batch_id"), dd.drop("batch_id"), None if wm is None else int(wm)


def merge_into_snapshot(
    spark: SparkSession,
    snapshot_root: str,
    delta_dir: str,
    cfg: EngineConfig = DEFAULT_CONFIG,
    note: str = "",
) -> int:
    """The APPEND-MERGE commit — the production index-update path
    composed end-to-end: union the CURRENT snapshot's postings/docs
    with the accumulated streaming deltas, re-derive the global tables
    (df/cf/stats/norms — the stream's per-batch aggregates and the
    snapshot's doc sets are disjoint, so the union IS the posting set),
    and commit the result as a NEW immutable snapshot
    (operation "merge-append").  Prior snapshots stay readable
    (time travel) and GC-able (expire_snapshots) — the Iceberg
    append-commit analog for the serving index.

    Invariant: a document lands EITHER in the snapshot or in the deltas
    (exactly-once file landing — same invariant the streaming module
    documents); both sides must use integer doc keys (the builder's
    doc_int == doc_id fast path).

    RE-MERGEABLE: each merge (and compaction) commit records the
    highest delta ``batch_id`` it consumed (``merge_watermark`` on the
    log entry), and the next merge only reads ``batch_id > watermark``
    — so calling this repeatedly as the stream keeps appending never
    double-counts an already-merged batch.  With no deltas past the watermark (or no
    delta dir yet) it is a NO-OP returning the current snapshot id.

    The watermark is sound within ONE streaming checkpoint lineage:
    Structured Streaming's batch_id is monotonic per checkpoint, so the
    maintenance stream must keep its checkpoint across restarts (the
    production shape — one logical stream per delta dir).  Pointing a
    FRESH checkpoint at a delta dir that already has merged batches
    would reuse low batch ids; use a new delta dir instead.
    Returns the committed (or current) snapshot id."""
    from ..index.snapshots import commit_snapshot, read_snapshot, snapshot_log

    log = snapshot_log(snapshot_root)
    if not log:
        raise FileNotFoundError(f"no snapshots at {snapshot_root} to merge into")
    wm = max((e.get("merge_watermark", -1) for e in log), default=-1)
    dp, dd, new_wm = _read_deltas(spark, delta_dir, after=wm)
    if new_wm is None:  # nothing new past the watermark: no-op
        return log[-1]["id"]
    cur = read_snapshot(spark, snapshot_root)
    cols = lambda df: df.select("term", "doc_id", F.col("tf").cast("long").alias("tf"))  # noqa: E731
    postings = cols(cur.postings).unionByName(cols(dp))
    docs = cur.docs.select("doc_id", "length").unionByName(
        dd.select("doc_id", "length"))
    tables, cached = _tables_from_view(postings, docs)
    try:
        return commit_snapshot(tables, snapshot_root, cfg,
                               operation="merge-append", note=note,
                               extra={"merge_watermark": new_wm})
    finally:
        cached.unpersist()


def merged_index_view(spark: SparkSession, out_dir: str):
    """Union the deltas into queryable postings/docs/terms/stats —
    the compaction-read path (compact_delta_index is the periodic job
    that rewrites this union into the bucketed serving layout)."""
    postings = spark.read.parquet(os.path.join(out_dir, "postings_delta")).drop("batch_id")
    docs = spark.read.parquet(os.path.join(out_dir, "docs_delta")).drop("batch_id")
    terms = postings.groupBy("term").agg(
        F.count("*").cast("long").alias("df"), F.sum("tf").cast("long").alias("cf")
    )
    row = docs.agg(F.count("*").alias("n"), F.sum("length").alias("s")).collect()[0]
    n = int(row["n"]); total = int(row["s"] or 0)
    stats = {"n_docs": n, "total_len": total, "avgdl": total // n if n else 0,
             "n_postings": postings.count()}
    return postings, docs, terms, stats
