"""Global merge: one term-bucket shuffle, streaming re-merge + term_dict.

The Spark analog of the reference's segment merge (public Apache Lucene
source, semantics only): ``SegmentMerger.mergeTerms`` does a k-way sorted-term
union with docID remapping (``SegmentMerger.java:114-182``,
``FieldsConsumer.java:72``). Our docIDs are already global and per-segment doc
ranges are disjoint & ordered, so "merge" is a layout + stats job, not a
remap:

  1. ``term_dict``: global (doc_freq, total_term_freq) per term via a plain
     groupBy-sum — map-side partial aggregation makes Zipf skew harmless here.
  2. ``postings``: the query-facing table, hash-partitioned into
     ``term_bucket`` directories and sorted by term within files so a term
     lookup prunes both partitions and parquet row groups. ONE shuffle brings
     each bucket into one task, sorted by (term, segment_id, block_id), and a
     streaming ``mapInPandas`` walks the terms in order:
     - cold terms (df < hot_term_df): a complete term's blocks are re-encoded
       into dense 256-doc blocks (tiny tail blocks from many segments
       collapse into full blocks), many terms per batch-decode/encode call.
     - hot terms (df >= hot_term_df — the Zipf head; StandardAnalyzer keeps
       stopwords!): once the running df of a term reaches hot_term_df its
       blocks pass through unchanged. Per-segment blocks are already
       globally ordered (disjoint doc ranges), so nothing is decoded.
     The Python side holds only the current term's blocks, and only while
     the term is still cold, so no Python buffer ever holds more than
     hot_term_df postings of one term, however long its list (a hot term's
     blocks stream through the task one Arrow batch at a time).
"""

from __future__ import annotations

import functools
import os

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.build import (
    POSTINGS_SCHEMA,
    IndexConfig,
    load_manifest,
    read_postings_local,
    write_manifest,
)

MERGED_SEGMENT_ID = -1


def merge_index(spark: SparkSession, index_dir: str) -> dict:
    """Produce ``term_dict/`` and query-facing ``postings/`` from
    ``postings_local/``; marks the manifest merged."""
    manifest = load_manifest(index_dir)
    if manifest is None:
        raise ValueError(f"no manifest at {index_dir}; build first")
    config = IndexConfig(**manifest["config"])
    local = read_postings_local(spark, index_dir)

    # ---- 1. term_dict (map-side combine handles skew)
    term_dict = (
        local.groupBy("term")
        .agg(
            F.sum("num_docs").cast("long").alias("doc_freq"),
            F.sum("ttf").cast("long").alias("total_term_freq"),
            F.count("*").cast("long").alias("num_blocks"),
        )
    )
    td_path = os.path.join(index_dir, "term_dict")
    (
        term_dict.repartitionByRange(max(spark.sparkContext.defaultParallelism // 4, 1), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite")
        .parquet(td_path)
    )

    # ---- 2. global postings: one shuffle into defaultParallelism tasks.
    # Any partition count keeps each bucket whole in one task (so one file
    # per term_bucket directory); term_buckets-many tasks instead would
    # pay a Python worker per task for no parallelism on a small box.
    buckets = config.term_buckets
    post_path = os.path.join(index_dir, "postings")
    (
        local.withColumn("term_bucket", term_bucket_col(buckets))
        .repartition(max(spark.sparkContext.defaultParallelism, 1), "term_bucket")
        .sortWithinPartitions("term", "segment_id", "block_id")
        .mapInPandas(
            functools.partial(_remerge_stream, hot_term_df=config.hot_term_df),
            POSTINGS_SCHEMA + ", term_bucket int",
        )
        # lead with term_bucket: the partitioned writer needs that order, and
        # would otherwise re-sort by it alone, discarding the term order
        .sortWithinPartitions("term_bucket", "term", "segment_id", "block_id")
        .write.mode("overwrite")
        .partitionBy("term_bucket")
        .parquet(post_path)
    )

    # ---- 3. global positions (PhraseQuery support): pass-through relayout
    # into term_bucket dirs sorted by term — docIDs are already global, so
    # "merging" positions is pure partitioning (the .pos-file analog of the
    # reference's column split, Lucene104PostingsFormat.java:64-79: queries
    # that don't need positions never touch this table)
    pos_local = os.path.join(index_dir, "positions_local")
    if os.path.exists(pos_local):
        (
            spark.read.parquet(pos_local)
            .drop("segment")
            .withColumn("term_bucket", term_bucket_col(buckets))
            .repartition(buckets, "term_bucket")
            # term_bucket first, as for postings above
            .sortWithinPartitions("term_bucket", "term", "doc_id")
            .write.mode("overwrite")
            .partitionBy("term_bucket")
            .parquet(os.path.join(index_dir, "positions"))
        )

    manifest["merged"] = True
    manifest["generation"] += 1
    write_manifest(index_dir, manifest)
    return manifest


def _remerge_stream(batches, hot_term_df: int):
    """Stream one task's (term, segment_id, block_id)-sorted blocks.

    A term's rows are contiguous but may span Arrow batches, so the last
    term of a batch stays open: held back while its running df is below
    ``hot_term_df`` (and re-examined with the next batch), or passed
    through from the moment it reaches it. Every other term in a batch is
    complete: hot ones pass through, cold ones are re-encoded together.
    """
    held = None      # rows of the open term while it is still cold
    hot_term = None  # the open term once it has turned hot
    for pdf in batches:
        if not len(pdf):
            continue
        if hot_term is not None:
            # leading rows that continue the open hot term pass through
            other = np.flatnonzero(pdf["term"].to_numpy(object) != hot_term)
            n = int(other[0]) if other.size else len(pdf)
            if n:
                yield pdf.iloc[:n]
            if n == len(pdf):
                continue
            pdf = pdf.iloc[n:]
            hot_term = None
        if held is not None:
            pdf = pd.concat([held, pdf], ignore_index=True)
            held = None
        terms = pdf["term"].to_numpy(object)
        starts = np.flatnonzero(np.concatenate(([True], terms[1:] != terms[:-1])))
        run_df = np.add.reduceat(pdf["num_docs"].to_numpy(np.int64), starts)
        is_hot = np.repeat(run_df >= hot_term_df, np.diff(np.append(starts, len(pdf))))
        last = int(starts[-1])
        if is_hot[-1]:
            hot_term = terms[-1]
        else:
            held = pdf.iloc[last:]
            is_hot = is_hot[:last]
        if is_hot.any():
            yield pdf.iloc[:is_hot.size][is_hot]
        if not is_hot.all():
            yield _reencode(pdf.iloc[:is_hot.size][~is_hot])
    if held is not None:
        yield _reencode(held)


def _reencode(pdf: pd.DataFrame) -> pd.DataFrame:
    """Re-encode complete cold terms into dense merged blocks.

    Rows arrive as (term, segment) blocks from every segment; segment doc
    ranges are disjoint and ascending in segment_id, so per term the
    (segment_id, block_id) order yields globally sorted docIDs — concatenate
    and re-block with the vectorized batch encoder, no docID remap
    (contrast ``DocIDMerger.java:73-99``).
    """
    from lucene_spark.functions.codec import decode_blocks, encode_postings_batch

    sizes = pdf["num_docs"].to_numpy(np.int64)
    docs, freqs, norms = decode_blocks(
        pdf["data"].to_numpy(object), sizes, pdf["first_doc"].to_numpy(np.int64)
    )
    terms = pdf["term"].to_numpy(object)
    # per-term posting ranges in the concatenated arrays
    tchange = np.flatnonzero(np.concatenate(([True], terms[1:] != terms[:-1])))
    starts = (np.cumsum(sizes) - sizes)[tchange]
    ends = np.append(starts[1:], docs.size)
    batch = encode_postings_batch(docs, freqs, norms, starts, ends)
    tidx = np.asarray(batch["term_idx"], dtype=np.int64)
    return pd.DataFrame(
        {
            "term": terms[tchange][tidx],
            "segment_id": np.full(tidx.size, MERGED_SEGMENT_ID, dtype=np.int32),
            "block_id": batch["block_id"],
            "first_doc": batch["first_doc"],
            "last_doc": batch["last_doc"],
            "num_docs": batch["num_docs"],
            "ttf": batch["ttf"],
            "data": batch["data"],
            "impact_freqs": batch["impact_freqs"],
            "impact_norms": batch["impact_norms"],
            "term_bucket": pdf["term_bucket"].to_numpy()[tchange][tidx],
        }
    )


def read_term_dict(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.parquet(os.path.join(index_dir, "term_dict"))


def term_bucket_col(buckets: int):
    """Bucket expression: first 8 hex chars of md5(term) mod buckets.

    md5 is identical in Spark, DuckDB and Python hashlib, so the driver can
    compute a term's bucket locally (partition pruning without a Spark job)
    and oracle SQL can reproduce it."""
    return (
        F.conv(F.substring(F.md5(F.col("term")), 1, 8), 16, 10).cast("long")
        % F.lit(buckets)
    ).cast("int")


def term_bucket_of(term: str, buckets: int) -> int:
    """Driver-side bucket of a term (must match term_bucket_col)."""
    import hashlib

    return int(hashlib.md5(term.encode("utf-8")).hexdigest()[:8], 16) % buckets
