"""LLM-data-pipeline operators: dedup, text stats, vector similarity search,
and the multimodal (documents x embeddings) join."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from graft.core import dec_sum, load


def doc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact content dedup: keep the lowest doc_id per content hash and
    report how many copies it had.

    One groupBy(hash) with min_by + count: one Exchange, partial (map-side)
    aggregation, and only the hash plus metadata cross the shuffle — the
    text bytes never leave the scan stage.  Equivalent to a row_number()
    window per hash because doc_id is unique, so min_by(struct, doc_id)
    picks exactly the row row_number()=1 would pick.

    The key is unhex(md5) (16-byte BINARY), not the 32-char hex STRING.
    unhex is injective on md5's hex output, so the grouping (and any
    collision behaviour) is that of md5(text), with a key half the size
    through the map-side Sort and the Exchange.  The aggregate is a
    SortAggregate: min_by's struct buffer is not UnsafeRow-mutable, so
    Spark cannot hash-aggregate it, and the join-back reshape that would
    permit a HashAggregate trades the 2 in-memory sorts for 2 extra
    Exchanges of the full metadata — worse at scale.
    """
    docs = load(spark, sf_dir, "documents")
    return (
        docs.select(
            F.unhex(F.md5("text")).alias("h"), "doc_id", "lang", "source", "n_chars"
        )
        .groupBy("h")
        .agg(
            F.expr(
                "min_by(named_struct('doc_id', doc_id, 'lang', lang,"
                " 'source', source, 'n_chars', n_chars), doc_id)"
            ).alias("keep"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select(
            "keep.doc_id", "keep.lang", "keep.source", "keep.n_chars", "n_copies"
        )
    )


def doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus statistics (docs, sources, chars, words, uniques).

    The word count is defined as size(split(text, ' ')).  Spark's split
    keeps trailing empty strings (Pattern.split(str, -1)), so
    size(split(t, ' ')) == #spaces + 1 exactly, including empty ('' -> 1)
    and trailing-space ('a ' -> 2) cases; length(t) - length(replace(t, ' '))
    + 1 computes the same integer with two plain scans and one allocation,
    no regex and no array of strings per row.
    """
    docs = load(spark, sf_dir, "documents")
    n_words = F.length("text") - F.length(F.replace("text", F.lit(" "))) + F.lit(1)
    return docs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("source").alias("n_sources"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(n_words).alias("total_words"),
    )


def vector_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity search: for every vector its nearest neighbour (cosine),
    ties broken toward the larger neighbour id.

    `mapInArrow` + one NumPy GEMM per block: Spark distributes the query
    side, whole Arrow batches go to native BLAS.  The selection semantics
    are the oracle's cross join: sim = dot/(sqrt(sq_a)*sqrt(sq_b)), argmax
    over sims with ties broken toward the larger neighbour id, self
    excluded; final round(sim,4) stays in Spark so rounding semantics match
    the oracle exactly.

    The index side is read ONCE through Spark's own reader (so any Hadoop
    filesystem works) and shipped to executors as a Spark broadcast: one
    copy per executor/worker, not one read+copy per task.  The index columns
    are pre-sorted by vec_id DESCENDING so that np.argmax (first-max-wins)
    breaks exact-similarity ties toward the larger id with no sentinel
    value — correct for any id range, including negatives.  Broadcast
    envelope: n×64 float64 = ~0.5 GB per million index rows; for an index
    beyond executor memory, shard the broadcast and take a max over
    per-shard argmax results (not needed at any tested scale).
    """
    import numpy as np

    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")
    # Index side: one scan via Spark (any FS), collected as Arrow.  Metadata
    # cost only at this scale; at any scale it is O(index).
    idx = emb.toArrow()
    n_rows = idx.num_rows
    ids = idx.column("vec_id").to_numpy()
    labs = idx.column("label").to_numpy()
    if n_rows >= 2:
        # .flatten() (not .values) honours list-array offsets/null bitmaps
        mat = (
            idx.column("embedding")
            .combine_chunks()
            .flatten()
            .to_numpy(zero_copy_only=False)
            .astype(np.float64)
            .reshape(n_rows, -1)
        )
        order = np.argsort(ids)[::-1]  # vec_id DESC: argmax tie => larger id
        ids, labs, mat = ids[order], labs[order], mat[order]
        norms = np.sqrt((mat * mat).sum(axis=1))
    else:  # degenerate index: workers emit nothing (see guard below)
        mat = norms = None
    b_idx = spark.sparkContext.broadcast((ids, labs, mat, norms))
    # Each Python task carries a fixed JVM<->Python boundary cost (~0.4 s
    # measured in local mode), so size the Python stage from the actual work:
    # O(n^2 * d) flops, targeting ~0.5e9 flops per task (~50 ms of BLAS),
    # capped at the core count.  This stays scale-adaptive: a 100x bigger
    # index => 10_000x the flops => task count hits the defaultParallelism
    # cap long before local overheads matter.
    est_flops = n_rows * n_rows * 64 * 2
    n_parts = int(min(spark.sparkContext.defaultParallelism,
                      max(1, est_flops // 500_000_000)))

    def nn_batches(batches):
        import numpy as np
        import pyarrow as pa

        # index side: one broadcast copy per worker, amortised over tasks
        ids, labs, mat, norms = b_idx.value
        n = len(ids)
        if n < 2:
            # degenerate index: no pair (a, b), a != b exists, so the
            # nearest-neighbour relation is empty (matches the oracle's
            # self-excluding join)
            return
        ids_asc = ids[::-1]  # ids is sorted DESC; searchsorted wants ASC

        mat_t = mat.T  # dgemm handles the transposed view directly
        # Process queries in row blocks with preallocated, reused buffers:
        # a full n x n sims matrix means ~100 MB of FIRST-TOUCH pages per
        # task, and on this kernel faulting fresh pages stalls ~1-3 s (measured:
        # fresh-alloc GEMM 1.7 s vs 0.07 s with reused buffers).  Blocking
        # keeps the working set a few MB and amortises it across blocks.
        blk = int(max(16, min(1024, (4 << 20) // (8 * n))))
        sims = np.empty((blk, n))
        den = np.empty((blk, n))

        for batch in batches:
            if batch.num_rows == 0:
                continue
            q_ids = batch.column("vec_id").to_numpy()
            q_labs = batch.column("label").to_numpy()
            x = (
                batch.column("embedding")
                .flatten()
                .to_numpy(zero_copy_only=False)
                .astype(np.float64)
                .reshape(len(q_ids), -1)
            )
            q_norms = np.sqrt((x * x).sum(axis=1))
            m_rows = len(q_ids)
            # vectorized self-lookup: column of each query id in the
            # DESC-ordered index
            pos = np.searchsorted(ids_asc, q_ids)
            found = (pos < n) & (ids_asc[np.minimum(pos, n - 1)] == q_ids)
            q_col = n - 1 - pos
            out_pos = np.empty(m_rows, dtype=np.int64)
            out_best = np.empty(m_rows)
            for s in range(0, m_rows, blk):
                e = min(s + blk, m_rows)
                b = e - s
                # sim = dot / (norm_a * norm_b), same op order as the oracle
                np.matmul(x[s:e], mat_t, out=sims[:b])
                np.multiply(q_norms[s:e, None], norms[None, :], out=den[:b])
                np.divide(sims[:b], den[:b], out=sims[:b])
                f = found[s:e]
                sims[np.flatnonzero(f), q_col[s:e][f]] = -np.inf  # self
                # columns are id-DESC, so the first max is the largest id
                out_pos[s:e] = np.argmax(sims[:b], axis=1)
                out_best[s:e] = sims[np.arange(b), out_pos[s:e]]
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(q_ids, type=pa.int64()),
                    pa.array(q_labs, type=pa.int32()),
                    pa.array(ids[out_pos], type=pa.int64()),
                    pa.array(labs[out_pos], type=pa.int32()),
                    pa.array(out_best, type=pa.float64()),
                ],
                names=["vec_id", "label", "nn_id", "nn_label", "sim"],
            )

    # coalesce avoids a shuffle when we only need to shrink; repartition
    # (round-robin) only when we must fan a skinny scan out to more tasks
    shaped = emb.coalesce(1) if n_parts == 1 else emb.repartition(n_parts)
    out = shaped.mapInArrow(
        nn_batches,
        "vec_id bigint, label int, nn_id bigint, nn_label int, sim double",
    )
    return out.withColumn("sim", F.round("sim", 4))


def label_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal join: embedding cluster label x document metadata."""
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label")
    docs = load(spark, sf_dir, "documents")
    return (
        emb.join(docs, emb.vec_id == docs.doc_id)
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
            dec_sum("n_chars", "chars_dbl"),
        )
        .withColumn("avg_chars", F.col("chars_dbl") / F.col("n_docs").cast("double"))
        .drop("chars_dbl")
    )
