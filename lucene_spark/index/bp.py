"""BP (recursive graph bisection) doc-ID reordering.

Replays the reference's ``misc/index/BPIndexReorderer.java`` — the
Dhulipala et al. "recursive graph bisection" doc-ID assignment with the
Mackenzie et al. simulated-annealing gain threshold — and applies it to
an index the way ``BPReorderingMergePolicy.java`` does: PER SEGMENT.

Spark-first shape
-----------------
The reference reorders one ``CodecReader`` with a ForkJoin pool; the
cluster analog makes the SEGMENT the parallel unit (exactly the merge
policy's shape — it reorders each merged segment independently):

- ``reorder_index`` computes one permutation per segment in one
  ``applyInPandas`` task (the bisection inner loops are whole-array
  numpy — no per-doc Python), stages the old->new map as a
  range-partitioned parquet (the expunge tombstone-staging pattern,
  ``deletes.py``), then rewrites postings / positions / docmap with
  executor-side remaps. The driver holds only O(num_segments) metadata.
- Permutations are segment-local bijections: every segment keeps its
  ``[doc_lo, doc_lo+num_docs)`` range, so segment doc-ranges stay
  disjoint+ascending (architecture invariant) and collection/term stats
  are untouched — scores are IDENTICAL post-reorder, only doc ids move.
- Postings re-encode requires regrouping a term's blocks (the remap is
  NOT order-preserving, unlike expunge): the rewrite shuffles by
  (segment, term_bucket), sorts within partitions by term, and streams
  term-groups across arrow batches, so a hot term's per-segment list —
  bounded by segment size — is re-blocked in one pass.

Bit-exactness vs the reference (fuzzed in tools/bp_fuzz.py against the
COMPILED class over random corpora and parameter sweeps):

- ``fast_log2`` replays ``AbstractBPReorderer.fastLog2`` — floorLog2
  plus an 8-mantissa-bit table (the ``LOG2_TABLE[0]=1f`` seed line in
  the static block is dead code: the loop overwrites index 0 with 0.0);
  the Java ``i << (32 - floorLog2)`` shift-by-32 wraparound for i=1 is
  reproduced by doing the shift in uint64 and masking.
- Per-doc bias accumulates float32 ``log2(to)-log2(from)`` differences
  into a float64 in forward-index order (doc asc, termID asc; termID =
  UTF-8 byte order of terms) — ``np.bincount`` guarantees sequential
  accumulation order, then one cast to float32
  (``ComputeBiasTask.computeBias``).
- The selection that places the midpoint boundary orders by
  (float32 bias, docID) — a total order, so ``np.lexsort`` + split
  yields the same left/right SETS as the reference's IntroSelector;
  each child re-sorts its slice ascending on entry exactly like
  ``IndexReorderingTask.call`` does at depth > 0, so partial
  within-half order never matters.
- The annealing stop is ``float32(maxLeftBias - minRightBias) <= iter``
  (``shuffle()``); left-half size is always ``length/2``.

Parent-field (block join) bias pooling is not implemented — our
parent/child relation lives in a side table, not a doc-order contract;
``reorder_index`` documents that reordering an index used with
``search_parents`` requires re-deriving the parent map (the remap is
applied to the docmap, so conv/turn keys stay correct).
"""
from __future__ import annotations

import os

import numpy as np

#: float32 log2(1 + i/256) for the top 8 mantissa bits — the live part of
#: the reference's LOG2_TABLE (AbstractBPReorderer.java:927-937)
_LOG2_TABLE = np.log2(1.0 + np.arange(256, dtype=np.float64) / 256.0).astype(
    np.float32
)

DEFAULT_MIN_DOC_FREQ = 4096  # BPIndexReorderer.DEFAULT_MIN_DOC_FREQ
DEFAULT_MIN_PARTITION_SIZE = 32  # AbstractBPReorderer
DEFAULT_MAX_ITERS = 20


def fast_log2(i: np.ndarray) -> np.ndarray:
    """Vectorized ``AbstractBPReorderer.fastLog2`` over positive ints:
    floorLog2(i) + LOG2_TABLE[top 8 mantissa bits]. float32 result with
    the exact Java float addition."""
    v = i.astype(np.int64)
    # frexp on the float64 image is exact for values < 2^53
    floor_log2 = (np.frexp(v.astype(np.float64))[1] - 1).astype(np.int64)
    # Java: i << (32 - floorLog2) >>> 24 on int32, where a shift count of
    # 32 (i == 1) wraps to 0. uint64 shift + mask reproduces both arms.
    shifted = (v.astype(np.uint64) << (32 - floor_log2).astype(np.uint64))
    table_index = ((shifted & np.uint64(0xFFFFFFFF)) >> np.uint64(24)).astype(
        np.int64
    )
    return floor_log2.astype(np.float32) + _LOG2_TABLE[table_index]


def _gather_ranges(ptr: np.ndarray, docs: np.ndarray) -> np.ndarray:
    """Indices selecting CSR ranges [ptr[d], ptr[d+1]) for each d in docs,
    concatenated in docs order."""
    counts = ptr[docs + 1] - ptr[docs]
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    starts = ptr[docs]
    run_starts = np.zeros(len(docs), dtype=np.int64)
    np.cumsum(counts[:-1], out=run_starts[1:])
    return (
        np.repeat(starts - run_starts, counts)
        + np.arange(total, dtype=np.int64)
    )


def bp_permutation(
    term_ids: np.ndarray,
    doc_ids: np.ndarray,
    num_docs: int,
    *,
    min_doc_freq: int = DEFAULT_MIN_DOC_FREQ,
    max_doc_freq: float = 1.0,
    min_partition_size: int = DEFAULT_MIN_PARTITION_SIZE,
    max_iters: int = DEFAULT_MAX_ITERS,
) -> np.ndarray:
    """Compute the BP permutation for one segment: returns ``new_to_old``
    (position i = the old doc that gets new id i), the reference's
    ``sortedDocs`` array (BPIndexReorderer.java:875-897).

    ``term_ids``/``doc_ids``: the segment's postings as parallel arrays of
    (termID, segment-local docID) pairs, UNIQUE per (term, doc), with
    termIDs numbered in term byte order. Doc-frequency eligibility
    (``minDocFreq <= df <= maxDocFreq * maxDoc``, writePostings:665-685)
    is applied here.
    """
    if min_doc_freq < 1:
        raise ValueError(f"min_doc_freq must be >= 1, got {min_doc_freq}")
    if not (0.0 < max_doc_freq <= 1.0):
        raise ValueError(f"max_doc_freq must be in (0, 1], got {max_doc_freq}")
    if min_partition_size < 1:
        raise ValueError(
            f"min_partition_size must be >= 1, got {min_partition_size}")
    if max_iters < 1:
        raise ValueError(f"max_iters must be >= 1, got {max_iters}")

    order = np.arange(num_docs, dtype=np.int64)
    if num_docs // 2 < min_partition_size:
        return order

    # ---- eligibility filter (df computed over THIS segment's postings,
    # like the reference's per-reader docFreq) + CSR forward index sorted
    # by (doc, termID) — the reference's per-doc term order
    term_ids = np.asarray(term_ids, dtype=np.int64)
    doc_ids = np.asarray(doc_ids, dtype=np.int64)
    if term_ids.size:
        df = np.bincount(term_ids)
        max_df = int(float(max_doc_freq) * num_docs)
        keep = (df[term_ids] >= min_doc_freq) & (df[term_ids] <= max_df)
        term_ids, doc_ids = term_ids[keep], doc_ids[keep]
    srt = np.lexsort((term_ids, doc_ids))
    term_ids, doc_ids = term_ids[srt], doc_ids[srt]
    ptr = np.zeros(num_docs + 1, dtype=np.int64)
    np.cumsum(np.bincount(doc_ids, minlength=num_docs), out=ptr[1:])

    # explicit-stack recursion over slices of `order`
    stack = [(0, num_docs)]
    f32 = np.float32
    while stack:
        lo, hi = stack.pop()
        # every task sorts its slice ascending on entry (call(): depth>0
        # Arrays.sort; depth 0 arrives sorted) — leaf slices stay sorted
        order[lo:hi] = np.sort(order[lo:hi])
        n = hi - lo
        half = n // 2
        if half < min_partition_size:
            continue
        docs = order[lo:hi].copy()

        g = _gather_ranges(ptr, docs)
        tid = term_ids[g]
        counts = ptr[docs + 1] - ptr[docs]
        owner = np.repeat(np.arange(n, dtype=np.int64), counts)
        # slice-local term renumbering keeps the df arrays O(slice terms)
        if tid.size:
            _, tid = np.unique(tid, return_inverse=True)
            num_terms = int(tid.max()) + 1
        else:
            num_terms = 0

        side = np.zeros(n, dtype=bool)  # False = left, True = right
        side[half:] = True

        for it in range(max_iters):
            if num_terms:
                side_owner = side[owner]
                left_df = np.bincount(tid[~side_owner], minlength=num_terms)
                right_df = np.bincount(tid[side_owner], minlength=num_terms)
                # bias = sum over the doc's terms of
                #   f32(log2 rightDF) - f32(log2 leftDF)   (left = "from")
                # accumulated sequentially into float64, then cast — the
                # same arithmetic for docs on either side (computeBias is
                # invoked once over the whole slice with left as from)
                ldf, rdf = left_df[tid], right_df[tid]
                contrib = np.where(
                    rdf > 0, fast_log2(rdf), f32(0)
                ) - np.where(ldf > 0, fast_log2(ldf), f32(0))
                bias = np.bincount(
                    owner, weights=contrib.astype(np.float64), minlength=n
                ).astype(np.float32)
            else:
                bias = np.zeros(n, dtype=np.float32)

            max_left = bias[~side].max()
            min_right = bias[side].min()
            if f32(max_left - min_right) <= f32(it):
                break
            # (bias, docID) is a total order: lexsort + split selects the
            # same left/right sets as the reference's IntroSelector
            rank = np.lexsort((docs, bias))
            side = np.ones(n, dtype=bool)
            side[rank[:half]] = False

        order[lo:lo + half] = docs[~side]
        order[lo + half:hi] = docs[side]
        stack.append((lo, lo + half))
        stack.append((lo + half, hi))

    return order


PERM_STAGING = "bp_perm_staging"
_COMMIT_MARKER = "_BP_COMMIT"


def _range_perm_loader(staging: str):
    """Per-task lazy loader of staged permutations: range index ->
    (doc_lo, new_ids array where new_ids[old - doc_lo] = new doc id).
    LRU-bounded like the expunge tombstone loader."""
    cache: dict[int, tuple[int, np.ndarray]] = {}

    def load(rng: int) -> tuple[int, np.ndarray]:
        hit = cache.get(rng)
        if hit is not None:
            return hit
        if len(cache) >= 8:
            cache.pop(next(iter(cache)))
        import pyarrow.dataset as ds

        tab = ds.dataset(
            os.path.join(staging, f"srange={rng}"), format="parquet"
        ).to_table(columns=["doc_id", "new_doc_id"])
        old = tab.column("doc_id").to_numpy().astype(np.int64)
        new = tab.column("new_doc_id").to_numpy().astype(np.int64)
        lo = int(old.min())
        arr = np.empty(old.size, dtype=np.int64)
        arr[old - lo] = new
        cache[rng] = (lo, arr)
        return lo, arr

    return load


def _remap_ids(ids: np.ndarray, bounds: np.ndarray, load) -> np.ndarray:
    """Map old doc ids -> new doc ids via the staged permutation."""
    out = np.empty(ids.size, dtype=np.int64)
    rngs = np.searchsorted(bounds, ids, side="right") - 1
    for rng in np.unique(rngs):
        lo, arr = load(int(rng))
        m = rngs == rng
        out[m] = arr[ids[m] - lo]
    return out


def reorder_index(
    spark,
    index_dir: str,
    *,
    min_doc_freq: int = DEFAULT_MIN_DOC_FREQ,
    max_doc_freq: float = 1.0,
    min_partition_size: int = DEFAULT_MIN_PARTITION_SIZE,
    max_iters: int = DEFAULT_MAX_ITERS,
) -> dict:
    """Reorder every segment's docIDs with BP and rewrite the index
    (``BPReorderingMergePolicy``'s per-segment shape). Scores are
    unchanged — only docIDs move within their segment ranges.

    Plan shape (the 100 TB story):
      1. eligibility pre-filter in Spark: per-(segment, term) df from
         block metadata, ``min_doc_freq <= df <= max_doc_freq * segDocs``
         — the Zipf long tail never reaches the permutation tasks
         (default min df 4096 drops almost all distinct terms);
      2. one ``applyInPandas`` task per segment computes the permutation
         with the numpy bisection (bit-exact vs the reference, see
         tools/bp_fuzz.py) — segments are the parallel unit;
      3. the old->new map is staged as a range-partitioned parquet (the
         expunge staging pattern); postings / positions / docmap are
         rewritten executor-side with two-phase commit (.bp siblings +
         a commit marker, crash-resumable). The driver only ever holds
         O(num_segments) metadata.
    """
    import pandas as pd

    from pyspark.sql import functions as F

    from lucene_spark.index.build import POSTINGS_SCHEMA, load_manifest

    manifest = load_manifest(index_dir)
    if manifest is None or not manifest.get("merged"):
        raise ValueError(f"{index_dir}: index not built+merged")
    if manifest.get("has_deletes") or manifest.get("has_soft_deletes"):
        # the permutation would strand BOTH tombstone sets' docIDs
        raise ValueError("reorder_index requires an index without "
                         "tombstones — run expunge_deletes first")
    if manifest["config"].get("index_sort"):
        raise ValueError("reorder_index would destroy the index_sort "
                         "contract; build without index_sort")

    marker = os.path.join(index_dir, _COMMIT_MARKER)
    if os.path.exists(marker):
        import json as _json

        with open(marker) as fh:
            planned = [tuple(x) for x in _json.load(fh)]
        return _finish_reorder(spark, index_dir, manifest, planned)

    ranges = sorted(
        (int(v["doc_lo"]), int(v["num_docs"]))
        for v in manifest["completed"].values()
        if int(v["num_docs"]) > 0
    )
    bounds = np.array([lo for lo, _ in ranges], dtype=np.int64)
    seg_docs = {i: n for i, (_, n) in enumerate(ranges)}

    post_path = os.path.join(index_dir, "postings")
    post = spark.read.parquet(post_path)

    # the permutation reads the PER-SEGMENT table: merged postings re-block
    # non-hot terms across segment boundaries (segment_id -1), so only
    # postings_local carries the per-segment forward index the reference's
    # per-reader model needs
    local_path = os.path.join(index_dir, "postings_local")
    if not os.path.exists(local_path):
        raise ValueError("reorder_index needs the per-segment "
                         "postings_local table (present on every "
                         "build_index output)")

    @F.pandas_udf("int")
    def _srange(first_doc):
        a = first_doc.to_numpy(np.int64)
        return pd.Series(np.searchsorted(bounds, a, side="right") - 1)

    pr = spark.read.parquet(local_path).select(
        "term", "first_doc", "num_docs", "data",
        _srange(F.col("first_doc")).alias("srange"))
    # ---- stage 1: eligibility pre-filter (df over block metadata only;
    # no decode). max_df per segment replays writePostings:665
    elig = (
        pr.groupBy("srange", "term")
        .agg(F.sum("num_docs").alias("df"))
        .join(
            spark.createDataFrame(
                [(i, int(float(max_doc_freq) * n))
                 for i, n in seg_docs.items()],
                "srange int, max_df long",
            ),
            "srange",
        )
        .filter((F.col("df") >= int(min_doc_freq))
                & (F.col("df") <= F.col("max_df")))
        .select("srange", "term")
    )

    # ---- stage 2: one permutation task per segment
    params = (int(min_doc_freq), float(max_doc_freq),
              int(min_partition_size), int(max_iters))
    lo_by_range = {i: lo for i, (lo, _) in enumerate(ranges)}

    def _perm_group(pdf: pd.DataFrame) -> pd.DataFrame:
        import pyarrow as pa

        pa.set_cpu_count(1)
        from lucene_spark.functions.codec import decode_block

        rng = int(pdf["srange"].iloc[0])
        lo = lo_by_range[rng]
        n = seg_docs[rng]
        pdf = pdf[pdf["term"].notna()]
        if len(pdf) == 0:
            perm = np.arange(n, dtype=np.int64)
        else:
            # termIDs in term BYTE order (the reference's TermsEnum order
            # — per-doc bias accumulation order depends on it)
            terms = pdf["term"].to_numpy()
            keys = np.array([t.encode("utf-8") for t in terms],
                            dtype=object)
            uniq, tid_rows = np.unique(keys, return_inverse=True)
            del uniq
            doc_chunks, tid_chunks = [], []
            for i, r in enumerate(pdf.itertuples(index=False)):
                d, _f, _nb = decode_block(r.data, int(r.num_docs),
                                          int(r.first_doc))
                doc_chunks.append(d.astype(np.int64) - lo)
                tid_chunks.append(
                    np.full(d.size, tid_rows[i], dtype=np.int64))
            perm = bp_permutation(
                np.concatenate(tid_chunks), np.concatenate(doc_chunks), n,
                min_doc_freq=params[0], max_doc_freq=params[1],
                min_partition_size=params[2], max_iters=params[3])
        old_to_new = np.empty(n, dtype=np.int64)
        old_to_new[perm] = np.arange(n, dtype=np.int64)
        return pd.DataFrame({
            "doc_id": lo + np.arange(n, dtype=np.int64),
            "new_doc_id": lo + old_to_new,
            "srange": np.full(n, rng, dtype=np.int32),
        })

    staging = os.path.join(index_dir, PERM_STAGING)
    # every segment must stage a permutation (identity when no term is
    # eligible) — seed one null row per srange
    seed = (
        spark.createDataFrame([(i,) for i in seg_docs], "srange int")
        .withColumn("term", F.lit(None).cast("string"))
        .withColumn("first_doc", F.lit(None).cast("long"))
        .withColumn("num_docs", F.lit(None).cast("int"))
        .withColumn("data", F.lit(None).cast("binary"))
        .select("term", "first_doc", "num_docs", "data", "srange")
    )
    (
        pr.join(elig, ["srange", "term"], "inner").unionByName(seed)
        .groupBy("srange")
        .applyInPandas(_perm_group,
                       schema="doc_id long, new_doc_id long, srange int")
        .write.mode("overwrite").partitionBy("srange").parquet(staging)
    )

    swaps: list[tuple[str, str]] = []

    # ---- docmap: remap doc_id (bijection within the segment range, so
    # the hive `segment` partition keys stay correct)
    dm_path = os.path.join(index_dir, "docmap")
    dm = spark.read.parquet(dm_path)
    dm_cols = [c for c in dm.columns if c != "segment"]

    def remap_docmap(batches):
        load = _range_perm_loader(staging)
        for pdf in batches:
            out = pdf.copy()
            out["doc_id"] = _remap_ids(
                pdf["doc_id"].to_numpy(np.int64), bounds, load)
            yield out

    tmp = dm_path + ".bp"
    (
        dm.select(*dm_cols, "segment")
        .mapInPandas(remap_docmap, schema=dm.select(*dm_cols, "segment").schema)
        .write.mode("overwrite").partitionBy("segment").parquet(tmp)
    )
    swaps.append((tmp, dm_path))

    # ---- postings (+ postings_local): the permutation is NOT
    # order-preserving, so a term's per-segment blocks are regrouped in
    # one streaming pass (sorted partitions + cross-batch carry), then
    # re-sorted, re-blocked and re-encoded
    def _rewrite_grouped(batches, part_col: str):
        import pyarrow as pa

        pa.set_cpu_count(1)
        from lucene_spark.functions.codec import (
            BLOCK_SIZE, competitive_impacts, decode_block, encode_block,
        )

        load = _range_perm_loader(staging)
        out_cols = ("term", "segment_id", "block_id", "first_doc",
                    "last_doc", "num_docs", "ttf", "data", "impact_freqs",
                    "impact_norms", part_col)

        def flush(key, docs, freqs, norms, rows):
            term, seg, part = key
            d = np.concatenate(docs) if len(docs) > 1 else docs[0]
            f = np.concatenate(freqs) if len(freqs) > 1 else freqs[0]
            nb = np.concatenate(norms) if len(norms) > 1 else norms[0]
            srt = np.argsort(d, kind="stable")
            d, f, nb = d[srt], f[srt], nb[srt]
            # split merged (cross-segment) lists at segment-range
            # boundaries: the permutation clusters docs WITHIN ranges, so
            # a block spanning two ranges would carry one huge delta that
            # sets the FOR width for all 256 values — the reference's
            # per-segment block layout never pays that jump, and neither
            # should the rewrite (hot-term pass-through rows are already
            # single-range; the split is a no-op there)
            rngs = np.searchsorted(bounds, d, side="right")
            cuts = (np.flatnonzero(np.diff(rngs)) + 1).tolist()
            bid = 0
            for db_r, fb_r, nb_r in zip(
                    np.split(d, cuts), np.split(f, cuts), np.split(nb, cuts)):
                for start in range(0, db_r.size, BLOCK_SIZE):
                    db = db_r[start:start + BLOCK_SIZE]
                    fb = fb_r[start:start + BLOCK_SIZE]
                    nbb = nb_r[start:start + BLOCK_SIZE]
                    imp_f, imp_n = competitive_impacts(fb, nbb)
                    rows.append({
                        "term": term, "segment_id": seg, "block_id": bid,
                        "first_doc": int(db[0]), "last_doc": int(db[-1]),
                        "num_docs": int(db.size), "ttf": int(fb.sum()),
                        "data": encode_block(db, fb, int(db[0]), nbb),
                        "impact_freqs": imp_f, "impact_norms": imp_n,
                        part_col: part,
                    })
                    bid += 1

        cur_key = None
        docs: list = []
        freqs: list = []
        norms: list = []
        for pdf in batches:
            rows: list[dict] = []
            for r in pdf.itertuples(index=False):
                key = (r.term, int(r.segment_id), getattr(r, part_col))
                if key != cur_key:
                    if cur_key is not None:
                        flush(cur_key, docs, freqs, norms, rows)
                    cur_key, docs, freqs, norms = key, [], [], []
                d, f, nb = decode_block(r.data, int(r.num_docs),
                                        int(r.first_doc))
                docs.append(_remap_ids(d.astype(np.int64), bounds, load))
                freqs.append(f)
                norms.append(nb)
            if rows:
                yield pd.DataFrame(rows)
        rows = []
        if cur_key is not None:
            flush(cur_key, docs, freqs, norms, rows)
        if rows:
            yield pd.DataFrame(rows)
        else:
            yield pd.DataFrame({c: pd.Series(dtype=t) for c, t in (
                ("term", object), ("segment_id", np.int32),
                ("block_id", np.int32), ("first_doc", np.int64),
                ("last_doc", np.int64), ("num_docs", np.int32),
                ("ttf", np.int64), ("data", object),
                ("impact_freqs", object), ("impact_norms", object),
                (part_col, np.int32),
            )})
        del out_cols

    schema = POSTINGS_SCHEMA + ", term_bucket int"
    tmp = post_path + ".bp"
    (
        post.repartition(
            max(spark.sparkContext.defaultParallelism, 1),
            "segment_id", "term_bucket",
        )
        .sortWithinPartitions("term", "segment_id", "block_id")
        .mapInPandas(lambda it: _rewrite_grouped(it, "term_bucket"),
                     schema=schema)
        .repartition(int(manifest["config"]["term_buckets"]), "term_bucket")
        .sortWithinPartitions("term", "segment_id", "block_id")
        .write.mode("overwrite").partitionBy("term_bucket").parquet(tmp)
    )
    swaps.append((tmp, post_path))

    local_path = os.path.join(index_dir, "postings_local")
    if os.path.exists(local_path):
        loc = spark.read.parquet(local_path).withColumnRenamed(
            "segment", "part_segment")
        loc_schema = POSTINGS_SCHEMA + ", part_segment int"
        tmp = local_path + ".bp"
        (
            loc.repartition(
                max(spark.sparkContext.defaultParallelism, 1),
                "part_segment",
            )
            .sortWithinPartitions("term", "segment_id", "block_id")
            .mapInPandas(lambda it: _rewrite_grouped(it, "part_segment"),
                         schema=loc_schema)
            .withColumnRenamed("part_segment", "segment")
            .write.mode("overwrite").partitionBy("segment").parquet(tmp)
        )
        swaps.append((tmp, local_path))

    # ---- positions (+ positions_local, offsets/payload columns ride
    # along): plain doc_id remap
    for name, part in (("positions", "term_bucket"),
                       ("positions_local", "segment")):
        p = os.path.join(index_dir, name)
        if not os.path.exists(p):
            continue
        ptab = spark.read.parquet(p)

        def remap_pos(batches):
            load = _range_perm_loader(staging)
            for pdf in batches:
                out = pdf.copy()
                out["doc_id"] = _remap_ids(
                    pdf["doc_id"].to_numpy(np.int64), bounds, load)
                yield out

        tmp = p + ".bp"
        (
            ptab.mapInPandas(remap_pos, schema=ptab.schema)
            .write.mode("overwrite").partitionBy(part).parquet(tmp)
        )
        swaps.append((tmp, p))

    # ---- term_dict from the new block metadata (block counts changed)
    td_path = os.path.join(index_dir, "term_dict")
    new_post = spark.read.parquet(post_path + ".bp")
    tmp = td_path + ".bp"
    (
        new_post.groupBy("term")
        .agg(
            F.sum("num_docs").cast("long").alias("doc_freq"),
            F.sum("ttf").cast("long").alias("total_term_freq"),
            F.count("*").cast("long").alias("num_blocks"),
        )
        .repartitionByRange(
            max(spark.sparkContext.defaultParallelism // 4, 1), "term")
        .sortWithinPartitions("term")
        .write.mode("overwrite").parquet(tmp)
    )
    swaps.append((tmp, td_path))

    import json as _json

    tmp_marker = marker + ".tmp"
    with open(tmp_marker, "w") as fh:
        _json.dump(swaps, fh)
        fh.flush()
        os.fsync(fh.fileno())
    os.rename(tmp_marker, marker)
    return _finish_reorder(spark, index_dir, manifest, swaps)


def _finish_reorder(spark, index_dir: str, manifest: dict,
                    swaps: list[tuple[str, str]]) -> dict:
    """Swap staged .bp dirs in (idempotent, crash-resumable — the
    _finish_expunge contract) and commit the manifest: generation bump,
    ``ordered`` cleared (docIDs no longer follow (conv_id, turn_idx)),
    the doc-range layout dropped (stale on both axes)."""
    import shutil

    from lucene_spark.index.atomic import swap_dir
    from lucene_spark.index.build import write_manifest

    for t, final in swaps:
        if os.path.exists(t):
            swap_dir(spark, t, final)
        else:
            old = final + ".old"
            if os.path.exists(old) and os.path.exists(final):
                shutil.rmtree(old)
            elif os.path.exists(old) and not os.path.exists(final):
                os.rename(old, final)
            spark.catalog.refreshByPath(final)

    layout_dir = os.path.join(index_dir, "postings_by_doc")
    if manifest.pop("doc_layout", None) is not None and os.path.exists(
            layout_dir):
        shutil.rmtree(layout_dir)
    staging = os.path.join(index_dir, PERM_STAGING)
    if os.path.exists(staging):
        shutil.rmtree(staging)
    manifest["ordered"] = False
    manifest["bp_reordered"] = True
    manifest["generation"] += 1
    write_manifest(index_dir, manifest)
    os.remove(os.path.join(index_dir, _COMMIT_MARKER))
    return manifest


def log_gap_cost(term_ids: np.ndarray, doc_ids: np.ndarray) -> float:
    """Sum over terms of sum of log2(gap) between consecutive postings —
    the objective BP minimizes; used as evidence, not by the algorithm."""
    srt = np.lexsort((doc_ids, term_ids))
    t, d = term_ids[srt], doc_ids[srt]
    if t.size == 0:
        return 0.0
    gaps = np.diff(d)
    same = np.diff(t) == 0
    first = np.ones(t.size, dtype=bool)
    first[1:] = ~same
    gaps = np.where(same, gaps, 0)
    return float(np.log2(1.0 + gaps[same.nonzero()]).sum()
                 + np.log2(1.0 + d[first]).sum())
