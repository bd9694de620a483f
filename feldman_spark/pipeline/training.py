"""Training-example assembly: sequence packing and corpus term weighting.

Beyond-reference capability. ``pack_sequences`` maps each document to
its position in the concat-and-chunk packing that LLM training uses:
documents are concatenated in a deterministic order and sliced into
fixed-capacity token windows; a document therefore spans examples
``[first_example, last_example]``. The cumulative token sum is one
window aggregation — no UDF, no driver state.

Scale notes (100 TB): a single global ordering means a single-partition
window — fine for the contract corpus, wrong at scale. Pass
``shard_col`` to pack within shards (the production layout: each shard
is packed independently and examples are named (shard, example)); the
window then partitions by shard and parallelizes. Growth-stability:
append-only corpora packed by (shard, key) order keep existing example
assignments as new shards arrive.

``tfidf_top_terms`` is the classic two-aggregation TF-IDF: term
frequency per (doc, term), document frequency per term, score =
tf · ln(N / df), top-k terms per document by window rank. Both
aggregations shuffle on bounded keys (term, doc); the text itself
never moves twice.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from feldman_spark.ops.sizing import persist_scoped

__all__ = ["pack_sequences", "chunk_documents", "tfidf_top_terms",
           "export_jsonl_sharded", "dense_ids"]


def pack_sequences(
    df: DataFrame,
    tokens_col: str,
    capacity: int,
    order_col: str = "doc_id",
    shard_col: Optional[str] = None,
) -> DataFrame:
    """Assign each document its example span under concat-and-chunk
    packing with ``capacity`` tokens per example.

    Documents are ordered by ``order_col`` (within ``shard_col`` if
    given), concatenated, and chunked; the output adds:

    * ``tok_start`` / ``tok_end`` — the document's [start, end) token
      interval in the concatenated stream;
    * ``first_example`` / ``last_example`` — the example indices the
      document lands in (``tok_start div capacity`` …);
    * ``n_examples`` — how many examples the document spans.
    """
    part = [shard_col] if shard_col else []
    w = (Window.partitionBy(*part).orderBy(F.col(order_col).asc())
         if part else Window.orderBy(F.col(order_col).asc()))
    tok_end = F.sum(F.col(tokens_col)).over(w)
    out = (
        df.withColumn("tok_end", tok_end.cast("bigint"))
        .withColumn("tok_start", (F.col("tok_end") - F.col(tokens_col)).cast("bigint"))
        .withColumn("first_example", (F.col("tok_start") / capacity).cast("bigint"))
        # a doc ending exactly on a boundary belongs to the chunk before it
        .withColumn("last_example",
                    ((F.col("tok_end") - 1) / capacity).cast("bigint"))
        .withColumn("n_examples",
                    (F.col("last_example") - F.col("first_example") + 1))
    )
    # zero-token docs occupy no example: normalize their span to the
    # insertion point with n_examples = 0
    return out.withColumn(
        "n_examples",
        F.when(F.col(tokens_col) <= 0, F.lit(0)).otherwise(F.col("n_examples")),
    ).withColumn(
        "last_example",
        F.when(F.col(tokens_col) <= 0, F.col("first_example"))
        .otherwise(F.col("last_example")),
    )


def chunk_documents(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 128,
    stride: int = 96,
) -> DataFrame:
    """Split long documents into overlapping ``window``-word context
    chunks every ``stride`` words — the sliding-window preprocessing for
    fixed-context training/embedding (stride < window gives
    ``window - stride`` words of overlap so no span is ever cut without
    context; stride == window is disjoint chunking). The final partial
    chunk is kept (training discards or pads it downstream — that policy
    stays out of the operator).

    Returns ``(id_col, chunk_idx, chunk_text, n_words)`` with
    ``chunk_idx`` counting from 0 by stride position.

    Scale (100 TB): entirely row-local — tokenize once, explode a
    per-document stride sequence, ``slice``/``concat_ws`` each window
    out of the token array (all whole-stage codegen, no HOF lambdas in
    the corpus stage, no shuffle at all); output size is input size ×
    ``window/stride`` by construction, stated up front rather than
    discovered in the shuffle.
    """
    if window <= 0 or stride <= 0:
        raise ValueError("chunk_documents: window and stride must be positive")
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.size("_toks")
    # number of chunks: ceil(max(n - window, 0) / stride) + 1  (>=1 chunk
    # for any non-empty doc; the last chunk may be partial)
    n_chunks = (
        F.ceil(F.greatest(n - window, F.lit(0)) / F.lit(float(stride)))
        .cast("int") + 1
    )
    # blank-after-trim docs are dropped explicitly: split('') yields ['']
    # (size 1), so a size filter alone would emit one empty chunk
    return (
        df.filter(F.trim(F.col(text_col)) != "")
        .select(F.col(id_col), toks.alias("_toks"))
        .select(
            id_col,
            "_toks",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_idx"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.concat_ws(
                " ",
                F.slice("_toks", F.col("chunk_idx") * stride + 1, window),
            ).alias("chunk_text"),
            F.least(
                F.lit(window),
                F.size("_toks") - F.col("chunk_idx") * stride,
            ).cast("int").alias("n_words"),
        )
    )


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    digits: int = 4,
) -> DataFrame:
    """Top-``k`` TF-IDF terms per document: score = tf · ln(N/df) over
    lowercased whitespace terms; ties broken lexicographically for
    determinism. Output: (id, rank, term, score)."""
    n_docs = df.count()  # scalar corpus size; one metadata-light pass
    terms = df.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = terms.groupBy(id_col, "term").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score").desc(), F.col("term").asc())
    return (
        tf.join(dfreq, "term")
        .withColumn(
            "score",
            F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), digits))
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col(id_col), "rank", "term", "score")
    )


def export_jsonl_sharded(
    df: DataFrame,
    path: str,
    shard_key: str,
    num_shards: int = 8,
    epoch: int = 0,
    max_records_per_file: Optional[int] = None,
    manifest: bool = True,
) -> Optional[DataFrame]:
    """Training-data export: write ``df`` as sharded JSONL with a
    deterministic layout — the hand-off format most training loaders
    consume.

    Rows are routed to ``shard=<i>`` directories by the
    :func:`~feldman_spark.pipeline.sampling.epoch_shuffle` variate and
    sorted by ``(variate, shard_key)`` inside each shard — the key
    tiebreak matters: the 8-hex variate collides at birthday rates
    beyond ~100k rows and ``sortWithinPartitions`` is not stable, so
    without it tied rows would order nondeterministically. With it,
    "shards in index order, each file in order" IS the epoch's global
    permutation — reproducible across runs/cluster sizes, with no
    sequential counter bottleneck. ``max_records_per_file``
    additionally caps file size (Spark splits files at the cap during
    write — no extra pass).

    ``df`` must not contain columns named ``shard`` or ``sk`` (the
    internal routing names) — the export raises rather than silently
    exporting the internal values in their place.

    Writes with ``partitionBy(shard)``; each output file is plain JSONL
    (one ``to_json(struct(*))`` document per line — the shard/sort
    columns are not exported). With ``manifest=True``, returns a small
    DataFrame ``(shard, n_rows, n_files)`` computed by reading the
    written tree back (a distributed count — verifies the sink rather
    than trusting it, and doubles as the loader's index).

    100 TB posture: one shuffle (the repartition on shard + intra-shard
    sort), then embarrassingly parallel file writes; the manifest
    read-back scans only file metadata + line counts.
    """
    from feldman_spark.pipeline.sampling import epoch_shuffle

    clash = {"shard", "sk"} & set(df.columns)
    if clash:
        raise ValueError(
            f"export_jsonl_sharded: column(s) {sorted(clash)} collide with "
            "the internal shard/sort-variate names; rename them before "
            "export")
    spark = df.sparkSession
    staged = epoch_shuffle(df, shard_key, epoch=epoch, num_shards=num_shards)
    payload = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    out = (
        staged.repartition(num_shards, F.col("shard"))
        .sortWithinPartitions("shard", "sk", shard_key)
        .select(F.col("shard"), payload.alias("value"))
    )
    writer = out.write.mode("overwrite").partitionBy("shard")
    if max_records_per_file:
        writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
    writer.text(path)
    if not manifest:
        return None
    back = spark.read.text(path)
    return (
        back.withColumn("_file", F.input_file_name())
        .withColumn(
            "shard",
            F.regexp_extract(F.col("_file"), r"shard=(\d+)", 1).cast("int"))
        .groupBy("shard")
        .agg(F.count(F.lit(1)).alias("n_rows"),
             F.countDistinct("_file").alias("n_files"))
    )


def dense_ids(
    df: DataFrame,
    value_col: str,
    out: str = "id",
    num_partitions: Optional[int] = None,
) -> DataFrame:
    """Contiguous 1-based id assignment over the distinct values of
    ``value_col``, in value order — the vocabulary-building step that
    turns tokens/entities/categories into embedding-matrix row indices
    (a HASH id is fine for featurization, but an embedding table needs
    ids that are dense, collision-free, and stable given the same
    value set).

    Returns the mapping table ``(value, id)`` with ids ``1..n``;
    join it back to the corpus to encode. Output depends only on the
    value SET (ids = rank in sorted order), never on partitioning.

    Scale (100 TB): the naive form — ``row_number`` over a global
    ORDER BY — funnels every distinct value through ONE task. This is
    the two-phase form instead (the DataFrame rendering of RDD
    ``zipWithIndex``): range-repartition the distinct values, count
    per partition, broadcast the tiny cumulative-offset table, and
    number within each partition — the global sort happens as a
    parallel range-exchange, the window sees one PARTITION at a time,
    and the only driver state is one count per partition. Range
    boundaries come from sampling and vary run to run; the assigned
    ids do NOT (rank in a total order is partitioning-invariant).

    The range-partitioned distinct-value table feeds TWO consumers —
    the per-partition count action and the numbered output — so it is
    persisted (released by :func:`feldman_spark.ops.sizing.release`):
    without the barrier both consumers re-ran the full
    upstream-corpus distinct (2 scans + 2 distinct exchanges + 2
    range exchanges; the persist also guarantees both consumers see
    the SAME sampled range boundaries rather than relying on rank
    invariance across two samplings). The table is vocabulary-sized
    (distinct values only), orders of magnitude under the corpus.
    """
    v = F.col(f"`{value_col}`")
    vals = df.select(v.alias("_v")).filter(F.col("_v").isNotNull()) \
        .distinct()
    if num_partitions:
        vals = vals.repartitionByRange(int(num_partitions), F.col("_v"))
    else:
        vals = vals.repartitionByRange(F.col("_v"))
    tagged = persist_scoped(vals.withColumn("_pid", F.spark_partition_id()))
    # partition-count-sized driver state: one (pid, count) row each
    counts = sorted(
        (r["_pid"], r["n"]) for r in
        tagged.groupBy("_pid").agg(F.count("*").alias("n")).collect())
    offsets, acc = {}, 0
    for pid, n in counts:
        offsets[pid] = acc
        acc += n
    spark = df.sparkSession
    off_df = spark.createDataFrame(
        [(pid, off) for pid, off in offsets.items()],
        "_pid int, _off long")
    w = Window.partitionBy("_pid").orderBy(F.col("_v").asc())
    return (tagged
            .join(F.broadcast(off_df), "_pid")
            .withColumn(out, F.col("_off") + F.row_number().over(w))
            .select(F.col("_v").alias(value_col), F.col(out)))
