"""End-to-end Spark engine tests: build -> merge -> check -> search, with
rank identity (docIDs + bit-exact float32 scores) against the pure-Python
oracle — the CheckHits/TestBoolean2 dual-execution idiom."""

import json
import os

import numpy as np
import pytest

from lucene_spark.query.ast import parse_query, rewrite_fixpoint


def _spark_hits(searcher, q, k):
    rows = searcher.search(rewrite_fixpoint(parse_query(q)), k).collect()
    return [(int(r["doc_id"]), np.float32(r["score"])) for r in rows]


def _oracle_hits(oracle, q, k):
    from lucene_spark.query.ast import expand_multi_term
    qq = rewrite_fixpoint(parse_query(q))
    qq = expand_multi_term(qq, sorted(oracle.postings))
    return oracle.search(rewrite_fixpoint(qq), k)


@pytest.fixture(scope="module")
def searcher(spark, built_index):
    from lucene_spark.query.search import IndexSearcher

    return IndexSearcher(spark, built_index)


def test_manifest_and_stats(built_index, oracle_index, searcher):
    from lucene_spark.index.build import load_manifest

    m = load_manifest(built_index)
    assert m["merged"] is True
    assert searcher.doc_count == oracle_index.doc_count
    assert searcher.sum_ttf == oracle_index.sum_total_term_freq
    # per-segment lineage present
    for seg in m["completed"].values():
        for key in ("doc_lo", "num_docs", "sum_field_len", "conv_lo", "conv_hi", "checksum"):
            assert key in seg


def test_check_index(spark, built_index):
    from lucene_spark.index.check import check_index

    report = check_index(spark, built_index)
    assert report["doc_count"] > 0
    assert report["terms"] > 0


def test_term_dict_matches_oracle(spark, built_index, oracle_index):
    from lucene_spark.index.merge import read_term_dict

    td = {
        r["term"]: (int(r["doc_freq"]), int(r["total_term_freq"]))
        for r in read_term_dict(spark, built_index).collect()
    }
    assert set(td) == set(oracle_index.postings)
    for t, (df, ttf) in td.items():
        assert df == oracle_index.doc_freq(t), t
        assert ttf == oracle_index.total_term_freq(t), t


def test_norms_match_oracle(spark, built_index, oracle_index):
    from lucene_spark.index.build import read_docmap

    rows = read_docmap(spark, built_index).select("doc_id", "field_len", "norm_byte").collect()
    assert len(rows) == oracle_index.doc_count
    for r in rows:
        d = int(r["doc_id"])
        assert int(r["field_len"]) == oracle_index.field_lens[d], d
        assert int(r["norm_byte"]) == oracle_index.norm_bytes[d], d


def _pick_terms(oracle_index):
    by_df = sorted(oracle_index.postings.items(), key=lambda kv: -len(kv[1]))
    hot = by_df[0][0]
    mid = by_df[len(by_df) // 10][0]
    rare = next(t for t, p in by_df if len(p) == 1)
    multi = next(
        (t for t, p in by_df if any(f > 1 for f in p.values()) and 3 < len(p) < 50), mid
    )
    return hot, mid, rare, multi


def test_rank_identity_term_queries(searcher, oracle_index):
    hot, mid, rare, multi = _pick_terms(oracle_index)
    for term in (hot, mid, rare, multi, "zzz-absent"):
        q = json.dumps({"term": term})
        s_hits = _spark_hits(searcher, q, 20)
        o_hits = _oracle_hits(oracle_index, q, 20)
        assert [d for d, _ in s_hits] == [d for d, _ in o_hits], term
        for (sd, ss), (od, os_) in zip(s_hits, o_hits):
            assert ss == os_, (term, sd, ss.tobytes().hex(), os_.tobytes().hex())


BOOL_QUERIES = [
    {"bool": {"must": [{"term": "{hot}"}, {"term": "{mid}"}]}},
    {"bool": {"should": [{"term": "{mid}"}, {"term": "{multi}"}, {"term": "{rare}"}]}},
    {"bool": {"must": [{"term": "{hot}"}], "must_not": [{"term": "{mid}"}]}},
    {"bool": {"must": [{"term": "{hot}"}], "filter": [{"term": "{mid}"}]}},
    {"bool": {"should": [{"term": "{hot}"}, {"term": "{mid}"}, {"term": "{multi}"}],
              "min_should_match": 2}},
    {"bool": {"must": [{"term": "{mid}"}],
              "should": [{"term": "{hot}"}, {"term": "{rare}"}]}},
    {"bool": {"should": [{"term": "{mid}"}, {"term": "{mid}"}]}},  # duplicate SHOULD
    {"bool": {"must": [{"term": "{hot}", "boost": 2.0}],
              "should": [{"term": "{mid}", "boost": 0.5}]}},
]


@pytest.mark.parametrize("tmpl", range(len(BOOL_QUERIES)))
def test_rank_identity_boolean(searcher, oracle_index, tmpl):
    hot, mid, rare, multi = _pick_terms(oracle_index)
    q = json.dumps(BOOL_QUERIES[tmpl]).replace("{hot}", hot).replace("{mid}", mid)
    q = q.replace("{rare}", rare).replace("{multi}", multi)
    for k in (10, 100):
        s_hits = _spark_hits(searcher, q, k)
        o_hits = _oracle_hits(oracle_index, q, k)
        assert [d for d, _ in s_hits] == [d for d, _ in o_hits], (tmpl, k)
        for (sd, ss), (od, os_) in zip(s_hits, o_hits):
            assert ss == os_, (tmpl, sd)


def test_rank_identity_prefix_and_range(searcher, oracle_index):
    hot, mid, _, _ = _pick_terms(oracle_index)
    queries = [
        json.dumps({"prefix": mid[:2]}),
        json.dumps({"wildcard": mid[:1] + "*" + mid[-1]}),
        json.dumps({"range": {"lower": mid[:1], "upper": mid[:1] + "zzz"}}),
        json.dumps({"in": [hot, mid, "zz-none"]}),
    ]
    for q in queries:
        s_hits = _spark_hits(searcher, q, 25)
        o_hits = _oracle_hits(oracle_index, q, 25)
        assert [d for d, _ in s_hits] == [d for d, _ in o_hits], q
        for (sd, ss), (od, os_) in zip(s_hits, o_hits):
            assert ss == os_, (q, sd)


def test_stored_fields_join(searcher, small_corpus, oracle_index):
    hot = _pick_terms(oracle_index)[0]
    rows = searcher.search_with_fields(
        rewrite_fixpoint(parse_query(json.dumps({"term": hot}))), 5
    ).collect()
    assert len(rows) == 5
    corpus_sorted = small_corpus.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    for r in rows:
        src = corpus_sorted.iloc[int(r["doc_id"])]
        assert r["conv_id"] == src["conv_id"]
        assert int(r["turn_idx"]) == int(src["turn_idx"])


def test_resume_skips_completed(spark, small_corpus, tmp_path):
    """Partial build -> resume -> identical index (FIXTURES.md F6)."""
    from lucene_spark.index.build import IndexConfig, build_index, load_manifest

    index_dir = str(tmp_path / "idx2")
    sdf = spark.createDataFrame(small_corpus)
    cfg = IndexConfig(num_segments=4, term_buckets=4, hot_term_df=64)
    build_index(spark, sdf, index_dir, cfg)
    m1 = load_manifest(index_dir)
    assert len(m1["completed"]) == 4

    # simulate a crashed build: drop two segments from the manifest
    import shutil
    for sid in ("1", "2"):
        del m1["completed"][sid]
        shutil.rmtree(os.path.join(index_dir, "postings_local", f"segment={sid}"))
        shutil.rmtree(os.path.join(index_dir, "docmap", f"segment={sid}"))
    from lucene_spark.index.build import write_manifest
    write_manifest(index_dir, m1)

    m2 = build_index(spark, sdf, index_dir, cfg)  # resume
    assert len(m2["completed"]) == 4
    # untouched segments keep their original metrics; rebuilt ones identical
    full = load_manifest(index_dir)
    for sid, seg in full["completed"].items():
        assert seg["checksum"] == m2["completed"][sid]["checksum"]

    # changing the input is detected
    mutated = spark.createDataFrame(small_corpus.head(100))
    with pytest.raises(ValueError, match="input changed"):
        build_index(spark, mutated, index_dir, cfg)


def test_flush_policy_granularity_and_rank_identity(spark, small_corpus,
                                                    oracle_index, tmp_path):
    """FlushByRamOrCountsPolicy analog: flush_max_docs / flush_ram_mb raise
    the segment count until per-task buffers fit; byte-weighted boundaries
    balance a skewed corpus; results stay rank-identical (boundaries only
    move work, never answers)."""
    import pandas as pd

    from lucene_spark.index.build import (
        IndexConfig, build_index, load_manifest,
    )
    from lucene_spark.index.merge import merge_index
    from lucene_spark.query.search import IndexSearcher

    sdf = spark.createDataFrame(small_corpus)
    n_rows = len(small_corpus)

    # doc-count policy: ceil(n / flush_max_docs) tasks (enough convs here)
    cap = max(1, n_rows // 10)
    idx = str(tmp_path / "flush_docs")
    build_index(spark, sdf, idx,
                IndexConfig(num_segments=2, term_buckets=4, hot_term_df=64,
                            flush_max_docs=cap))
    m = load_manifest(idx)
    n_shards = len(m["boundaries"]) + 1
    assert n_shards >= 8, n_shards  # ~10 needed, conv-atomicity may round
    assert all(v["count"] <= 3 * cap for v in m["shards"].values()), (
        "a shard hugely over the doc budget means boundaries ignored it")

    # RAM policy on a SKEWED corpus: one conv carries ~50% of all bytes;
    # byte-weighted boundaries must isolate it instead of packing it with
    # half the others (count-quantiles would).
    total_b = int(small_corpus.text.str.len().sum())
    big = pd.DataFrame({
        "conv_id": ["aaa-huge"] * 4, "turn_idx": range(4),
        "role": ["user"] * 4, "tool": [None] * 4,
        "text": ["xl " * (total_b // 12)] * 4,
        "ts": pd.to_datetime(["2026-01-01"] * 4),
    })
    skew = pd.concat([small_corpus, big[small_corpus.columns]],
                     ignore_index=True)
    skdf = spark.createDataFrame(skew)
    idx2 = str(tmp_path / "flush_ram")
    build_index(spark, skdf, idx2,
                IndexConfig(num_segments=4, term_buckets=4, hot_term_df=64,
                            flush_ram_mb=1))
    merge_index(spark, idx2)
    m2 = load_manifest(idx2)
    # the huge conv's shard should hold few OTHER convs: find its shard by
    # count (4 rows + neighbors); assert no shard holds >60% of total rows
    counts = sorted(int(v["count"]) for v in m2["shards"].values())
    assert counts[-1] <= 0.6 * len(skew), counts

    # rank identity vs the oracle on the original corpus build
    idx3 = str(tmp_path / "flush_plain")
    build_index(spark, sdf, idx3,
                IndexConfig(num_segments=3, term_buckets=8, hot_term_df=64,
                            flush_ram_mb=1))
    merge_index(spark, idx3)
    s = IndexSearcher(spark, idx3)
    for q in ('{"term": "ba"}', '{"bool": {"must": [{"term": "ba"}], '
              '"should": [{"term": "ca"}]}}'):
        assert _spark_hits(s, q, 10) == _oracle_hits(oracle_index, q, 10)


def _expected_merge(local, hot_term_df):
    """merge_index's postings rows, rebuilt from postings_local: hot terms
    (df >= hot_term_df) keep their blocks; every cold term is decoded block
    by block and re-encoded into dense merged blocks."""
    from lucene_spark.functions.codec import decode_block, encode_postings_batch

    rows = []
    for term, g in local.sort_values(["term", "segment_id", "block_id"]).groupby("term"):
        if g["num_docs"].sum() >= hot_term_df:
            rows += [tuple(r) for r in g[list(g.columns)].itertuples(index=False)]
            continue
        dec = [decode_block(d, int(n), int(f))
               for d, n, f in zip(g["data"], g["num_docs"], g["first_doc"])]
        docs, freqs, norms = (np.concatenate([x[i] for x in dec]) for i in range(3))
        out = encode_postings_batch(docs, freqs, norms, [0], [docs.size])
        rows += list(zip([term] * len(out["data"]), [-1] * len(out["data"]),
                         out["block_id"], out["first_doc"], out["last_doc"],
                         out["num_docs"], out["ttf"], out["data"],
                         out["impact_freqs"], out["impact_norms"]))
    return sorted((r[0], int(r[1]), int(r[2]), int(r[3]), int(r[4]), int(r[5]),
                   int(r[6]), bytes(r[7]), list(r[8]), list(r[9])) for r in rows)


def test_merge_one_shuffle_matches_expectation(spark, tmp_path, monkeypatch):
    """merge_index streams each term bucket through one task: terms at
    exactly hot_term_df pass through, terms one below are re-encoded, a hot
    and a cold term each span Arrow batch boundaries, every bucket is one
    sorted file, and the merge runs in a pinned number of Spark jobs."""
    import glob

    import pandas as pd
    import pyarrow.parquet as pq

    from lucene_spark.index import merge as merge_mod
    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.index.merge import merge_index, term_bucket_of

    hot = 10
    rows = []
    for d in range(100):  # 50 conversations x 2 turns, doc id d
        words = ["common", f"u{d}"]
        if d % 10 == 0:
            words.append("hotexact")  # df == hot
        if d % 11 == 0 and d < 99:
            words.append("coldjust")  # df == hot - 1
        rows.append((f"c{d // 2:03d}", d % 2, "user", None, " ".join(words),
                     pd.Timestamp("2026-01-01")))
    corpus = pd.DataFrame(rows, columns=["conv_id", "turn_idx", "role", "tool",
                                         "text", "ts"])
    idx = str(tmp_path / "merge_idx")
    cfg = IndexConfig(num_segments=5, term_buckets=4, hot_term_df=hot,
                      positions=False)
    build_index(spark, spark.createDataFrame(corpus), idx, cfg)

    local = pq.read_table(os.path.join(idx, "postings_local")).to_pandas()
    local = local.drop(columns="segment")
    df = local.groupby("term")["num_docs"].sum()
    blocks = local.groupby("term").size()
    assert (df["hotexact"], df["coldjust"], df["common"]) == (hot, hot - 1, 100)
    # >= 4 rows each: with 3-row batches every one spans a batch boundary
    assert min(blocks["hotexact"], blocks["coldjust"], blocks["common"]) >= 4
    want = _expected_merge(local, hot)

    sc = spark.sparkContext
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
    sc.setJobGroup("test-merge-jobs", "merge_index job count")
    try:
        merge_index(spark, idx)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
        spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
    # term_dict: range-partition sample + write; postings: one shuffle + write
    assert len(sc.statusTracker().getJobIdsForGroup("test-merge-jobs")) == 5

    got = []
    for bdir in sorted(glob.glob(os.path.join(idx, "postings", "term_bucket=*"))):
        files = glob.glob(os.path.join(bdir, "*.parquet"))
        assert len(files) == 1, bdir
        t = pq.read_table(files[0]).to_pandas()
        key = list(zip(t["term"], t["segment_id"], t["block_id"]))
        assert key == sorted(key), bdir
        bucket = int(bdir.rsplit("=", 1)[1])
        assert all(term_bucket_of(x, cfg.term_buckets) == bucket for x in t["term"])
        got += [(r[0], int(r[1]), int(r[2]), int(r[3]), int(r[4]), int(r[5]),
                 int(r[6]), bytes(r[7]), list(r[8]), list(r[9]))
                for r in t.itertuples(index=False)]
    assert sorted(got) == want
    merged = {r[0]: r[1] for r in want}
    assert merged["hotexact"] >= 0 and merged["coldjust"] == -1

    # the streaming pass alone, at every batch size: same rows, and no
    # re-encode ever sees a term with hot_term_df or more postings
    seen = []

    def spy(pdf):
        seen.append(int(pdf.groupby("term")["num_docs"].sum().max()))
        return real(pdf)

    real = merge_mod._reencode
    monkeypatch.setattr(merge_mod, "_reencode", spy)
    ordered = local.sort_values(["term", "segment_id", "block_id"], ignore_index=True)
    ordered["term_bucket"] = 0
    for size in (1, 2, 3, 7, len(ordered)):
        batches = (ordered.iloc[i:i + size] for i in range(0, len(ordered), size))
        out = pd.concat(list(merge_mod._remerge_stream(batches, hot_term_df=hot)))
        assert sorted(
            (r[0], int(r[1]), int(r[2]), int(r[3]), int(r[4]), int(r[5]),
             int(r[6]), bytes(r[7]), list(r[8]), list(r[9]))
            for r in out.drop(columns="term_bucket").itertuples(index=False)
        ) == want, size
    assert seen and max(seen) < hot
