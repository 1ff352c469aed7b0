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

    One Python task (`coalesce(1)` + `mapInArrow`) gets every Arrow batch of
    the table, builds the index in the worker and answers all queries with
    one NumPy GEMM per row block; the task holds the whole index (n×d
    float64, ~0.5 GB per million 64-d rows).  The semantics are the
    oracle's cross join: sim = dot/(sqrt(sq_a)*sqrt(sq_b)), argmax over
    sims, self excluded; final round(sim,4) stays in Spark so rounding
    matches the oracle exactly.  Rows are sorted by vec_id DESCENDING so
    that np.argmax (first max wins) breaks exact ties toward the larger id
    with no sentinel value, for any id range including negatives.

    Input contract: vec_id is unique, and embeddings are non-null lists of
    one length with no null element and non-zero norm; a violation raises
    ValueError.  The oracle returns one row per distinct id and never pairs
    copies of one id, gives a zero vector -1.0 where NumPy gives NaN, and
    rejects null or ragged lists itself.
    """
    emb = load(spark, sf_dir, "embeddings").select("vec_id", "label", "embedding")

    def nn_all(batches):
        import numpy as np
        import pyarrow as pa

        batches = list(batches)  # the one task gets the whole table
        n = sum(b.num_rows for b in batches)
        if n < 2:
            # no pair (a, b), a != b exists, so the nearest-neighbour
            # relation is empty (matches the oracle's self-excluding join)
            return
        tbl = pa.Table.from_batches(batches)
        ids = tbl.column("vec_id").to_numpy()
        order = np.argsort(ids)[::-1]  # vec_id DESC: argmax tie => larger id
        ids = ids[order]
        dup = np.flatnonzero(ids[1:] == ids[:-1])
        if dup.size:
            raise ValueError(f"vector_knn: duplicate vec_id {ids[dup[0]]}")
        labs = tbl.column("label").combine_chunks().take(order)  # Arrow keeps NULLs
        emb = tbl.column("embedding").combine_chunks()
        # .flatten() (not .values) honours list-array offsets/null bitmaps
        flat = emb.flatten()
        if emb.null_count or flat.null_count or np.unique(emb.value_lengths()).size > 1:
            raise ValueError(
                "vector_knn: embeddings must be non-null lists of one length"
                " without null elements"
            )
        mat = (
            flat.to_numpy(zero_copy_only=False)
            .astype(np.float64)
            .reshape(n, len(flat) // n)[order]
        )
        norms = np.sqrt((mat * mat).sum(axis=1))
        zero = np.flatnonzero(norms == 0)
        if zero.size:
            raise ValueError(f"vector_knn: zero-norm embedding at vec_id {ids[zero[0]]}")

        mat_t = mat.T  # dgemm handles the transposed view directly
        # Process queries in row blocks with preallocated, reused buffers:
        # a full n x n sims matrix means ~100 MB of first-touch pages, and
        # faulting fresh pages was measured to stall the GEMM (fresh-alloc
        # 1.7 s vs 0.07 s with reused buffers).  Blocking keeps the working
        # set a few MB and amortises it across blocks.
        blk = int(max(16, min(1024, (4 << 20) // (8 * n))))
        sims = np.empty((blk, n))
        den = np.empty((blk, n))
        nn = np.empty(n, dtype=np.int64)
        best = np.empty(n)
        for s in range(0, n, blk):
            e = min(s + blk, n)
            b = e - s
            rows = np.arange(b)
            # sim = dot / (norm_a * norm_b), same op order as the oracle
            np.matmul(mat[s:e], mat_t, out=sims[:b])
            np.multiply(norms[s:e, None], norms[None, :], out=den[:b])
            np.divide(sims[:b], den[:b], out=sims[:b])
            sims[rows, np.arange(s, e)] = -np.inf  # self: queries are the index rows
            # columns are id-DESC, so the first max is the largest id
            nn[s:e] = np.argmax(sims[:b], axis=1)
            best[s:e] = sims[rows, nn[s:e]]
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ids, type=pa.int64()),
                labs,
                pa.array(ids[nn], type=pa.int64()),
                labs.take(nn),
                pa.array(best, type=pa.float64()),
            ],
            names=["vec_id", "label", "nn_id", "nn_label", "sim"],
        )

    out = emb.coalesce(1).mapInArrow(
        nn_all,
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
