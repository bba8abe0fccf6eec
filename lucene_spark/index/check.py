"""check_index: whole-index invariant audit (CheckIndex.java analog).

Validates, as distributed jobs over the index tables:
  - docmap: doc_ids dense 0..N-1, unique; (conv_id, turn_idx) strictly
    increasing in doc_id order; norm_byte == intToByte4(field_len).
  - postings (local + merged): within each (term, segment) block sequence,
    first_doc <= last_doc, block ranges strictly increasing, num_docs ==
    decoded count, doc deltas > 0 (sorted, no dup), freqs >= 1.
  - stats: term_dict doc_freq/total_term_freq == recomputed sums from blocks;
    manifest per-segment num_docs/sum_field_len == docmap aggregates.

Raises AssertionError with a description on the first violated invariant.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from lucene_spark.index.build import collection_stats, load_manifest


def check_index(spark: SparkSession, index_dir: str) -> dict:
    manifest = load_manifest(index_dir)
    assert manifest is not None, "no manifest"
    report: dict = {"segments": len(manifest["completed"])}

    docmap = spark.read.parquet(os.path.join(index_dir, "docmap"))
    doc_count, sum_ttf = collection_stats(manifest)

    # dense unique doc_ids
    agg = docmap.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("nd"),
        F.min("doc_id").alias("lo"),
        F.max("doc_id").alias("hi"),
        F.sum("field_len").alias("sfl"),
    ).collect()[0]
    assert agg["n"] == agg["nd"] == doc_count, "doc_ids not unique/complete"
    assert agg["lo"] == 0 and agg["hi"] == doc_count - 1, "doc_ids not dense"
    assert agg["sfl"] == sum_ttf, "sum_field_len mismatch vs manifest"

    # stable-order assignment: (conv_id, turn_idx) ascending in doc_id order
    # — a property of the initial bulk build only; streaming appends assign
    # docIDs in arrival order (Lucene insertion-order semantics) and set
    # manifest["ordered"] = False
    from pyspark.sql.window import Window
    w = Window.orderBy("doc_id")  # audit-only job; fine on a single pass
    if not manifest.get("ordered", True):
        viol = 0
    else:
        viol = (
            docmap.select("doc_id", "conv_id", "turn_idx")
            .withColumn("pc", F.lag("conv_id").over(w))
            .withColumn("pt", F.lag("turn_idx").over(w))
            .filter(
                F.col("pc").isNotNull()
                & ~(
                    (F.col("conv_id") > F.col("pc"))
                    | ((F.col("conv_id") == F.col("pc")) & (F.col("turn_idx") > F.col("pt")))
                )
            )
            .count()
        )
    assert viol == 0, f"{viol} docmap rows out of stable order"

    # norm quantization
    def _norm_check(batches):
        from lucene_spark.functions.smallfloat import int_to_byte4_np
        for pdf in batches:
            fl = pdf["field_len"].to_numpy(np.int64)
            nb = pdf["norm_byte"].to_numpy(np.int64)
            bad = int((int_to_byte4_np(fl).astype(np.int64) != nb).sum())
            yield pd.DataFrame({"bad": [bad]})

    bad_norms = (
        docmap.select("field_len", "norm_byte")
        .mapInPandas(_norm_check, "bad long")
        .agg(F.sum("bad"))
        .collect()[0][0]
    )
    assert bad_norms == 0, f"{bad_norms} norm bytes != intToByte4(field_len)"

    # postings invariants (merged table if present, else local)
    for sub in ("postings", "postings_local"):
        path = os.path.join(index_dir, sub)
        if not os.path.exists(path):
            continue
        posts = spark.read.parquet(path)

        def _block_check(batches):
            from lucene_spark.functions.codec import decode_blocks
            for pdf in batches:
                nd = pdf["num_docs"].to_numpy(np.int64)
                fd = pdf["first_doc"].to_numpy(np.int64)
                docs, freqs, norms = decode_blocks(pdf["data"].to_numpy(object), nd, fd)
                blk = np.repeat(np.arange(nd.size), nd)
                bad_post = (freqs < 1) | (norms < 0) | (norms > 255)
                bad_post[1:] |= (np.diff(docs) <= 0) & (blk[1:] == blk[:-1])
                bad = np.bincount(blk[bad_post], minlength=nd.size) > 0
                # first/last doc agree with the block metadata
                has = nd > 0
                head = (np.cumsum(nd) - nd)[has]
                bad[has] |= docs[head] != fd[has]
                bad[has] |= docs[head + nd[has] - 1] != pdf["last_doc"].to_numpy(np.int64)[has]
                yield pd.DataFrame({"bad": [int((bad | ~has).sum())]})

        bad_blocks = (
            posts.select("num_docs", "first_doc", "last_doc", "data")
            .mapInPandas(_block_check, "bad long")
            .agg(F.sum("bad"))
            .collect()[0][0]
        )
        assert bad_blocks == 0, f"{sub}: {bad_blocks} bad blocks"

        # block ranges strictly increasing within (term, segment)
        dup = (
            posts.groupBy("term", "segment_id", "block_id").count()
            .filter(F.col("count") > 1).count()
        )
        assert dup == 0, f"{sub}: duplicate block ids"
        report[f"{sub}_blocks"] = posts.count()

    # term_dict consistency vs local blocks
    td_path = os.path.join(index_dir, "term_dict")
    if os.path.exists(td_path):
        td = spark.read.parquet(td_path)
        local = spark.read.parquet(os.path.join(index_dir, "postings_local"))
        recomputed = local.groupBy("term").agg(
            F.sum("num_docs").cast("long").alias("df2"),
            F.sum("ttf").cast("long").alias("ttf2"),
        )
        bad = (
            td.join(recomputed, "term", "full")
            .filter(
                (F.col("doc_freq") != F.col("df2"))
                | (F.col("total_term_freq") != F.col("ttf2"))
            )
            .count()
        )
        assert bad == 0, f"term_dict: {bad} terms with stat mismatch"
        # global sumTTF == sum over term_dict
        tds = td.agg(F.sum("total_term_freq")).collect()[0][0]
        assert tds == sum_ttf, "term_dict sumTTF != manifest sumTTF"
        report["terms"] = td.count()

    report["doc_count"] = doc_count
    report["sum_ttf"] = sum_ttf
    report["ok"] = True  # every invariant above would have raised otherwise
    return report
