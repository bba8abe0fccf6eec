"""The benchmark workloads, their inputs and their output checks.

Every workload is a closed loop with one client. Inputs come from the seed
alone; the program under test only sees the generated rows and queries.

- ``ingest``: file-aligned build + merge of a transcript corpus.
- ``mutate``: append -> probe -> delete -> probe -> update -> probe cycles
  over a 5,000-turn index, reopening the searcher after every commit.

Results are checked against ``lucene_spark.oracle.OracleIndex`` (top-k doc
ids and bit-identical float32 scores) and ``check_index``.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import sys
import time
import traceback

import numpy as np
import pandas as pd

from harness import (
    Recorder, cache_path, median, peak_rss_mb,
    prepare_run_dir, start_spark,
)

K = 10
#: ingest corpus: conversations, parquet files, vocabulary
CORPUS_CONVS = 2_000
CORPUS_FILES = 16
CORPUS_VOCAB = 20_000
#: mutate base index: turns (trimmed from generated conversations)
MUTATE_TURNS = 5_000
MUTATE_VOCAB = 5_000
APPEND_CONVS = 12
DELETE_DOCS = 25
UPDATE_DOCS = 25

#: Zipf rank bands of the generator's vocabulary. On the corpus the hot
#: band's top term is in ~97% of turns, mid terms ~1%, cold ~0.05%.
HOT, MID, COLD = (0, 3), (100, 160), (1500, 2500)
SHAPES = ("term_hot", "term_mid", "term_cold", "conj_hot_hot",
          "conj_hot_cold", "disj_msm2", "must_not", "prefix")
#: the query of each of the three probes of a mutation cycle
PROBE_SHAPES = ("term_mid", "conj_hot_cold", "must_not")

LAYERS = ("session", "functions.analysis", "functions.codec", "functions.bm25",
          "index.build", "index.merge", "query.ast", "query.search",
          "streaming.append", "index.update", "index.deletes")

INGEST_CONFIG = dict(term_buckets=32, hot_term_df=1 << 14,
                     analyzer="standard", positions=False)


# ------------------------------------------------------------------ queries

def _term(t: str) -> dict:
    return {"term": t}


class QueryStream:
    """Seeded rounds of the eight shapes; terms come from the generator's
    Zipf ranks, so the stream never depends on engine output."""

    def __init__(self, seed: int, vocab_size: int, stream: int):
        from lucene_spark.sources.transcripts import _vocab

        self.vocab = _vocab(vocab_size)
        self.rng = np.random.default_rng([seed, stream])

    def _pick(self, band, n=1) -> list[str]:
        ranks = self.rng.choice(np.arange(*band), size=n, replace=False)
        return [str(self.vocab[r]) for r in ranks]

    def make(self, shape: str) -> dict:
        if shape == "term_hot":
            return _term(self._pick(HOT)[0])
        if shape == "term_mid":
            return _term(self._pick(MID)[0])
        if shape == "term_cold":
            return _term(self._pick(COLD)[0])
        if shape == "conj_hot_hot":
            return {"bool": {"must": [_term(t) for t in self._pick(HOT, 2)]}}
        if shape == "conj_hot_cold":
            return {"bool": {"must": [_term(self._pick(HOT)[0]),
                                      _term(self._pick(COLD)[0])]}}
        if shape == "disj_msm2":
            terms = self._pick(HOT) + self._pick(MID, 2)
            return {"bool": {"should": [_term(t) for t in terms],
                             "min_should_match": 2}}
        if shape == "must_not":
            return {"bool": {"must": [_term(self._pick(MID)[0])],
                             "must_not": [_term(self._pick(HOT)[0])]}}
        if shape == "prefix":
            w = self._pick(COLD)[0]
            return {"prefix": w[:4] if len(w) >= 5 else w}
        raise ValueError(shape)

    def rounds(self, n: int, shapes=SHAPES) -> list[list[tuple[str, dict]]]:
        return [[(s, self.make(s)) for s in shapes] for _ in range(n)]

    def probes(self, cycles: int) -> list[list[tuple[str, dict]]]:
        """One single-query round per probe, in cycle order."""
        return [self.rounds(1, (s,))[0] for _ in range(cycles) for s in PROBE_SHAPES]


def query_terms(qjson: dict) -> tuple[set[str], set[str]]:
    """(terms, prefixes) a query touches."""
    if "term" in qjson:
        return {qjson["term"]}, set()
    if "prefix" in qjson:
        return set(), {qjson["prefix"]}
    terms: set[str] = set()
    for group in ("must", "should", "must_not"):
        for c in qjson["bool"].get(group, []):
            terms.add(c["term"])
    return terms, set()


def qkey(qjson: dict) -> str:
    return json.dumps(qjson, sort_keys=True)


# ------------------------------------------------------------------ oracle

class LiveOracle:
    """``OracleIndex`` over every row written so far, in arrival order.

    Each ``add`` batch is built by ``OracleIndex.build`` (sorted by key,
    the order the engine assigns docIDs within a batch) and appended after
    all earlier docs. Tombstoned docs keep counting in the statistics, as
    in the reference, and are dropped before top-k. ``terms``/``prefixes``
    restrict the kept postings to what the checked queries touch, which
    leaves every statistic and score unchanged.
    """

    def __init__(self, terms=None, prefixes=()):
        from lucene_spark.oracle import OracleIndex

        self.idx = OracleIndex()
        self.keys: list[tuple[str, int]] = []
        self.deleted: set[int] = set()
        self.terms = None if terms is None else set(terms)
        self.prefixes = tuple(prefixes)

    def add(self, rows: list[tuple[str, int, str]], chunk: int = 5_000) -> None:
        from lucene_spark.oracle import OracleIndex

        rows = sorted(rows, key=lambda r: (r[0], r[1]))
        for lo in range(0, len(rows), chunk):
            part = OracleIndex.build(rows[lo: lo + chunk])
            base = self.idx.doc_count
            for term, plist in part.postings.items():
                if self.terms is not None and not (
                        term in self.terms or term.startswith(self.prefixes)):
                    continue
                dst = self.idx.postings.setdefault(term, {})
                for d, f in plist.items():
                    dst[d + base] = f
            self.idx.doc_count += part.doc_count
            self.idx.sum_total_term_freq += part.sum_total_term_freq
            self.idx.norm_bytes.extend(part.norm_bytes)
            self.idx.field_lens.extend(part.field_lens)
            self.keys.extend((c, int(t)) for c, t, _ in rows[lo: lo + chunk])

    def live(self) -> list[int]:
        return [d for d in range(self.idx.doc_count) if d not in self.deleted]

    def delete_keys(self, keys: set[tuple[str, int]]) -> None:
        self.deleted.update(d for d, k in enumerate(self.keys) if k in keys)

    def to_query(self, qjson: dict):
        from lucene_spark.query.ast import (
            expand_multi_term, parse_query, rewrite_fixpoint,
        )

        q = rewrite_fixpoint(parse_query(qjson))
        return rewrite_fixpoint(expand_multi_term(q, sorted(self.idx.postings)))

    def search(self, qjson: dict, k: int = K) -> list[tuple[int, np.float32]]:
        hits = self.idx.search(self.to_query(qjson), self.idx.doc_count)
        return [h for h in hits if h[0] not in self.deleted][:k]


def _bits(hits) -> list[list[int]]:
    return [[int(d), int(np.float32(s).view(np.uint32))] for d, s in hits]


class CorpusAnswers:
    """Oracle answers for the seeded corpus, cached per seed and code
    version: they depend only on those, and the cache keeps oracle time
    out of every later run of the seed."""

    def __init__(self, corpus_dir: str, seed: int):
        self.corpus_dir = corpus_dir
        self.path = cache_path(
            f"corpus-c{CORPUS_CONVS}-v{CORPUS_VOCAB}-s{seed}.json")
        self.data = {"answers": {}, "stats": {}}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self.data = json.load(fh)

    def corpus_rows(self) -> list[tuple[str, int, str]]:
        import pyarrow.parquet as pq

        t = pq.read_table(self.corpus_dir, columns=["conv_id", "turn_idx", "text"])
        pdf = t.to_pandas()
        return list(zip(pdf.conv_id, pdf.turn_idx.astype(int), pdf.text))

    def oracle(self, terms, prefixes) -> LiveOracle:
        o = LiveOracle(terms, prefixes)
        o.add(self.corpus_rows())
        return o

    def fill(self, queries: list[dict], stat_terms: list[str]) -> None:
        missing = [q for q in queries if qkey(q) not in self.data["answers"]]
        missing_terms = [t for t in stat_terms if t not in self.data["stats"]]
        if not missing and not missing_terms and "doc_count" in self.data:
            return
        terms, prefixes = set(missing_terms), set()
        for q in missing:
            t, p = query_terms(q)
            terms |= t
            prefixes |= p
        o = self.oracle(terms, prefixes)
        self.data["doc_count"] = o.idx.doc_count
        self.data["sum_ttf"] = o.idx.sum_total_term_freq
        for q in missing:
            self.data["answers"][qkey(q)] = _bits(o.search(q))
        for t in missing_terms:
            self.data["stats"][t] = [o.idx.doc_freq(t), o.idx.total_term_freq(t)]
        tmp = self.path + f".{os.getpid()}"
        with open(tmp, "w") as fh:
            json.dump(self.data, fh)
        os.replace(tmp, self.path)

    def answer(self, q: dict) -> list[list[int]]:
        return self.data["answers"][qkey(q)]


# ------------------------------------------------------------------ run state

class Bench:
    """State of one benchmark run: session, recorder, checks, metrics."""

    def __init__(self, workload: str, seed: int, seconds: float, traced: bool):
        self.workload, self.seed, self.seconds, self.traced = (
            workload, seed, seconds, traced)
        self.run_dir = prepare_run_dir(f"{workload}-s{seed}-p{os.getpid()}")
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.layer: dict[str, tuple[float, str]] = {}
        self.ops: list[dict] = []
        self.digest = hashlib.sha256()
        self.spark = None
        self.rec: Recorder | None = None
        self.session_start_s = 0.0
        self.setup_build_s = 0.0
        self.t0 = time.perf_counter()

    def phase(self, what: str) -> None:
        """Progress line on stderr: seconds since the run started."""
        print(f"perfbench: {time.perf_counter() - self.t0:7.2f}s {what}",
              file=sys.stderr, flush=True)

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    # -- set-up

    def start_session(self) -> None:
        self.spark, self.session_start_s = start_spark(self.run_dir)
        self.phase("session start")
        self.rec = Recorder(self.spark, self.traced)

    def setup_s(self) -> float:
        return self.session_start_s + self.setup_build_s

    # -- operations and checks

    def op(self, kind: str, layer: str, fn, timed: bool = True, **tags):
        """One client operation in its own job group. An exception counts
        as a failed operation; the run goes on."""
        self.attempted += 1
        try:
            with self.rec.span(kind, layer) as sp:
                out = fn()
        except Exception:  # noqa: BLE001 - boundary: record and go on
            traceback.print_exc()
            self.failed += 1
            return None
        sp.update(tags)
        if timed:
            self.ops.append(sp)
        return out

    def check(self, ok: bool, what: str) -> None:
        """An output check, counted as an attempt; a miss is a failure."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)

    def verify_hits(self, got, want_bits, what: str) -> None:
        got_bits = _bits(got) if got is not None else None
        self.digest.update(json.dumps([what, got_bits]).encode())
        if got is not None:
            self.check(got_bits == want_bits, f"oracle mismatch: {what}")

    def check_index(self, idx: str) -> None:
        from lucene_spark.index.check import check_index

        try:
            ok, why = bool(check_index(self.spark, idx).get("ok")), "not ok"
        except AssertionError as e:
            ok, why = False, str(e)
        self.check(ok, f"check_index {os.path.basename(idx)}: {why}")

    def query(self, searcher, shape: str, qjson: dict, timed=True, **tags):
        from lucene_spark.query.ast import parse_query, rewrite_fixpoint

        def run():
            with self.rec.span("ast", "query.ast", detail=True):
                q = rewrite_fixpoint(parse_query(qjson))
            with self.rec.span("plan", "query.search", detail=True):
                df = searcher.search(q, K)
            with self.rec.span("exec", "query.search", detail=True):
                rows = df.collect()
            return [(int(r["doc_id"]), np.float32(r["score"])) for r in rows]

        return self.op(f"search.{shape}", "query.search", run, timed, **tags)

    def open_searcher(self, idx: str, timed=True, **tags):
        from lucene_spark.query.search import IndexSearcher

        return self.op("searcher.open", "query.search",
                       lambda: IndexSearcher(self.spark, idx), timed, **tags)

    # -- results

    def op_kinds(self) -> dict[str, list[dict]]:
        kinds: dict[str, list[dict]] = {}
        for sp in self.ops:
            kinds.setdefault(sp["name"], []).append(sp)
        return kinds

    def end_to_end(self) -> dict[str, float]:
        """Means over the timed operations. A run's operation mix is fixed
        (one build, or whole mutation cycles), so the means compare across
        runs; a mean over ~45 CPU-seconds is steadier than per-kind
        medians of single samples."""
        n = len(self.ops)
        return {
            "op_ms": 1e3 * sum(s["end"] - s["start"] for s in self.ops) / n,
            "op_cpu_ms": 1e3 * sum(s["cpu_s"] for s in self.ops) / n,
            "op_spark_jobs": sum(s["jobs"] for s in self.ops) / n,
        }


def build_and_merge(b: Bench, idx: str, build, timed: bool) -> dict:
    """build() then merge_index as one operation; returns its spans by
    name: ``op``, ``build`` and ``merge``."""
    from lucene_spark.index.merge import merge_index

    spans = {}

    def run():
        with b.rec.span("build", "index.build") as sp:
            build()
        spans["build"] = sp
        with b.rec.span("merge", "index.merge") as sp:
            merge_index(b.spark, idx)
        spans["merge"] = sp

    b.op("index", "index.build", run, timed)
    spans["op"] = b.rec.spans[-1]
    return spans


def write_corpus(b: Bench) -> tuple[str, int]:
    from lucene_spark.sources.transcripts import generate_distributed

    corpus = b.path("corpus")
    generate_distributed(
        b.spark, n_convs=CORPUS_CONVS, seed=b.seed, partitions=CORPUS_FILES,
        vocab_size=CORPUS_VOCAB,
    ).write.parquet(corpus)
    return corpus, b.spark.read.parquet(corpus).count()


def data_bytes(path: str) -> int:
    """Bytes of the data files under ``path`` (checksum files excluded)."""
    total = 0
    for base, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(base, f))
                     for f in files if not f.startswith("."))
    return total


def build_layers(b: Bench, idx: str, bsp: dict, msp: dict) -> None:
    from lucene_spark.index.build import load_manifest

    m = load_manifest(idx)
    segs = [v for v in m["completed"].values() if not v.get("appended")]
    b.layer.update({
        "build.wall_s": (bsp["end"] - bsp["start"], "s"),
        "build.jobs": (bsp["jobs"], "count"),
        "build.stages": (bsp["stages"], "count"),
        "build.segment_task_s": (sum(float(s["wall_s"]) for s in segs), "s"),
        "build.postings_bytes": (sum(int(s["postings_bytes"]) for s in segs), "bytes"),
        "build.num_postings": (sum(int(s["num_postings"]) for s in segs), "count"),
        "merge.wall_s": (msp["end"] - msp["start"], "s"),
        "merge.jobs": (msp["jobs"], "count"),
        "merge.stages": (msp["stages"], "count"),
        "merge.bytes_written": (sum(data_bytes(os.path.join(idx, d))
                                    for d in ("term_dict", "postings", "positions")
                                    if os.path.isdir(os.path.join(idx, d))), "bytes"),
    })


def rows_of(pdf: pd.DataFrame) -> list[tuple[str, int, str]]:
    return list(zip(pdf.conv_id, pdf.turn_idx.astype(int), pdf.text))


def rate_of(fn, work: int, min_s: float = 0.3, min_reps: int = 3) -> float:
    """Median work/s over repeated calls of ``fn`` (at least ``min_s``)."""
    rates = []
    end = time.perf_counter() + min_s
    while len(rates) < min_reps or time.perf_counter() < end:
        t0 = time.perf_counter()
        fn()
        rates.append(work / (time.perf_counter() - t0))
    return median(rates)


# ------------------------------------------------------------------ steps

def run_batch(b: Bench, searcher, flat, want, timed: bool) -> None:
    """``search_many`` over the flat queries; one operation, checked
    query by query against ``want(qjson)``."""
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    def run():
        qs = {f"q{i}": rewrite_fixpoint(parse_query(q))
              for i, (_, q) in enumerate(flat)}
        return searcher.search_many(qs, K).collect()

    rows = b.op("search_many", "query.search", run, timed)
    if rows is None:
        return
    per: dict[str, list] = {}
    for r in rows:
        per.setdefault(r["query"], []).append(
            (int(r["doc_id"]), np.float32(r["score"])))
    ok = True
    for i, (shape, q) in enumerate(flat):
        got = sorted(per.get(f"q{i}", []), key=lambda h: (-float(h[1]), h[0]))
        b.digest.update(json.dumps(["batch", qkey(q), _bits(got)]).encode())
        ok = ok and _bits(got) == want(q)
    b.check(ok, "search_many mismatch")


class MutationState:
    """Seeded inputs of the mutation cycles on one index."""

    def __init__(self, seed: int, vocab: int, probe_rounds: list):
        self.rng = np.random.default_rng([seed, 4])
        self.vocab = vocab
        self.next_conv = 0
        self.probes = iter(probe_rounds)


def _texts(state: MutationState, n_convs: int) -> pd.DataFrame:
    from lucene_spark.sources.transcripts import generate_pandas

    return generate_pandas(n_convs=n_convs, seed=int(state.rng.integers(2**31)),
                           vocab_size=state.vocab)


def probe(b: Bench, idx: str, oracle: LiveOracle, state: MutationState,
          timed: bool, **tags) -> None:
    """Reopen the searcher (NRT refresh) and check one round of probes."""
    s = b.open_searcher(idx, timed, **tags)
    if s is None:
        return
    for shape, q in next(state.probes):
        got = b.query(s, shape, q, timed, with_deletes=bool(oracle.deleted),
                      **tags)
        b.verify_hits(got, _bits(oracle.search(q)), f"{shape} {qkey(q)}")


def mutation_cycle(b: Bench, idx: str, oracle: LiveOracle,
                   state: MutationState, timed: bool, **tags) -> None:
    """append -> probe -> delete -> probe -> update -> probe, then
    check_index. New conv_ids sort after every earlier one, so arrival
    order and the oracle's docIDs agree."""
    from lucene_spark.index.deletes import delete_docs
    from lucene_spark.index.update import update_docs
    from lucene_spark.streaming.append import TRANSCRIPT_SCHEMA, append_batch

    spark = b.spark
    new = _texts(state, APPEND_CONVS)
    num = new["conv_id"].str.slice(5).astype(int) + state.next_conv
    new["conv_id"] = "conv-z" + num.astype(str).str.zfill(6)
    state.next_conv += APPEND_CONVS
    new_df = spark.createDataFrame(new, schema=TRANSCRIPT_SCHEMA)
    b.op("append", "streaming.append",
         lambda: append_batch(spark, new_df, idx), timed, **tags)
    oracle.add(rows_of(new))
    probe(b, idx, oracle, state, timed, **tags)

    victims = sorted(int(d) for d in state.rng.choice(
        oracle.live(), DELETE_DOCS, replace=False))
    del_df = spark.createDataFrame(
        pd.DataFrame({"doc_id": np.array(victims, dtype=np.int64)}))
    b.op("delete", "index.deletes",
         lambda: delete_docs(spark, idx, del_df), timed, **tags)
    oracle.deleted.update(victims)
    probe(b, idx, oracle, state, timed, **tags)

    chosen = state.rng.choice(oracle.live(), UPDATE_DOCS, replace=False)
    keys = [oracle.keys[int(d)] for d in chosen]
    donor = _texts(state, UPDATE_DOCS)
    upd = donor.iloc[:UPDATE_DOCS].copy()
    upd["conv_id"] = [k[0] for k in keys]
    upd["turn_idx"] = np.array([k[1] for k in keys], dtype=np.int32)
    upd_df = spark.createDataFrame(upd, schema=TRANSCRIPT_SCHEMA)
    b.op("update", "index.update",
         lambda: update_docs(spark, idx, upd_df), timed, **tags)
    oracle.delete_keys(set(keys))
    oracle.add(rows_of(upd))
    probe(b, idx, oracle, state, timed, **tags)
    b.phase("mutation cycle")
    b.check_index(idx)
    b.phase("check_index")


def term_stats_layer(b: Bench, searcher, round0) -> None:
    for _, q in round0:
        terms, _ = query_terms(q)
        if terms:
            with b.rec.span("search.term_stats", "query.search"):
                searcher.term_stats(sorted(terms))


def micro_layers(b: Bench, idx: str, corpus_file: str, round0) -> None:
    """Single-process layer rates: analysis, codec encode/decode, BM25
    scoring and query rewrite, each timed around its public function."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    from lucene_spark.functions import bm25, codec
    from lucene_spark.functions.analysis import get_analyzer
    from lucene_spark.index.build import collection_stats, load_manifest
    from lucene_spark.query.ast import parse_query, rewrite_fixpoint

    texts = pq.read_table(corpus_file, columns=["text"]).column("text").to_pandas()
    analyze = get_analyzer("standard")
    with b.rec.span("analysis", "functions.analysis"):
        toks = analyze(texts)
        rows_per_s = rate_of(lambda: analyze(texts), len(texts))
    b.layer["analysis.rows_per_s"] = (rows_per_s, "1/s")
    b.layer["analysis.tokens_per_row"] = (
        float(toks.str.len().sum()) / len(texts), "count")

    seg = pq.read_table(os.path.join(idx, "postings_local", "segment=0"),
                        columns=["term", "block_id", "first_doc", "num_docs",
                                 "data"]).to_pandas()
    parts, starts, ends, n = [], [], [], 0
    for _, g in seg.sort_values(["term", "block_id"]).groupby("term", sort=True):
        d, f, nb = codec.decode_postings(g.to_dict("records"))
        parts.append((d, f, nb))
        starts.append(n)
        n += d.size
        ends.append(n)
    docs, freqs, norms = (np.concatenate([p[i] for p in parts]) for i in range(3))
    st, en = np.array(starts), np.array(ends)
    with b.rec.span("codec.encode", "functions.codec"):
        enc = rate_of(lambda: codec.encode_postings_batch(docs, freqs, norms, st, en), n)
    b.layer["codec.encode_postings_per_s"] = (enc, "1/s")

    td = pq.read_table(os.path.join(idx, "term_dict")).to_pandas()
    top = td.loc[td["doc_freq"].idxmax()]
    blocks = ds.dataset(os.path.join(idx, "postings"), partitioning="hive").to_table(
        filter=ds.field("term") == top["term"],
        columns=["segment_id", "block_id", "first_doc", "num_docs", "data"],
    ).to_pandas().sort_values(["segment_id", "block_id"])
    recs = [{"block_id": i, "data": r.data, "num_docs": r.num_docs,
             "first_doc": r.first_doc} for i, r in enumerate(blocks.itertuples())]
    n_hot = int(blocks["num_docs"].sum())
    with b.rec.span("codec.decode", "functions.codec"):
        _, hf, hn = codec.decode_postings(recs)
        dec = rate_of(lambda: codec.decode_postings(recs), n_hot)
    b.layer["codec.decode_postings_per_s"] = (dec, "1/s")

    n_docs, sum_ttf = collection_stats(load_manifest(idx))
    w = bm25.weight(1.0, bm25.idf(int(top["doc_freq"]), n_docs))
    cache = bm25.norm_inverse_cache(bm25.avgdl(sum_ttf, n_docs))
    with b.rec.span("bm25.score", "functions.bm25"):
        sc = rate_of(lambda: bm25.score(hf, hn, w, cache), int(hf.size))
    b.layer["bm25.score_per_s"] = (sc, "1/s")

    qs = [q for _, q in round0]
    with b.rec.span("ast.rewrite", "query.ast"):
        per_q = rate_of(lambda: [rewrite_fixpoint(parse_query(q)) for q in qs],
                        len(qs))
    b.layer["ast.rewrite_us"] = (1e6 / per_q, "us")


def corpus_sweep(b: Bench, idx: str, searcher, round0,
                 answers: CorpusAnswers) -> None:
    """Traced ingest runs only: run every query shape, one batch and one
    mutation cycle on the built corpus index, so the layers ingest itself
    does not reach are reported too."""
    answers.fill([q for _, q in round0], [])
    for shape, q in round0:
        got = b.query(searcher, shape, q, timed=False)
        b.verify_hits(got, answers.answer(q), f"sweep {shape} {qkey(q)}")
    run_batch(b, searcher, [x for x in round0 if x[0] != "prefix"],
              answers.answer, timed=False)
    probes = QueryStream(b.seed, CORPUS_VOCAB, stream=5).probes(1)
    terms, prefixes = set(), set()
    for rnd in probes:
        for _, q in rnd:
            t, p = query_terms(q)
            terms |= t
            prefixes |= p
    oracle = answers.oracle(terms, prefixes)
    mutation_cycle(b, idx, oracle, MutationState(b.seed, CORPUS_VOCAB, probes),
                   timed=False)


# ------------------------------------------------------------------ workloads

def ingest(b: Bench) -> dict:
    from lucene_spark.index.build import (
        IndexConfig, build_index_files, collection_stats, load_manifest,
    )
    from lucene_spark.query.search import IndexSearcher

    b.start_session()
    corpus, n_turns = write_corpus(b)
    cfg = IndexConfig(**INGEST_CONFIG)
    round0 = QueryStream(b.seed, CORPUS_VOCAB, stream=1).rounds(1)[0]
    stat_terms = sorted(set().union(*(query_terms(q)[0] for _, q in round0)))

    b.phase("corpus written")
    answers = CorpusAnswers(corpus, b.seed)
    answers.fill([], stat_terms)
    b.phase("oracle stats")

    def build(name: str):
        """One timed build + merge, checked against the oracle's statistics."""
        idx = b.path(name)
        spans = build_and_merge(
            b, idx, lambda: build_index_files(b.spark, corpus, idx, cfg), True)
        n_docs, sum_ttf = collection_stats(load_manifest(idx))
        stats = IndexSearcher(b.spark, idx).term_stats(stat_terms)
        b.digest.update(json.dumps([n_docs, sum_ttf, sorted(stats.items())]).encode())
        b.check(n_docs == answers.data["doc_count"] == n_turns
                and sum_ttf == answers.data["sum_ttf"], "collection stats")
        b.check(all(list(stats.get(t, (0, 0))) == answers.data["stats"][t]
                    for t in stat_terms), "term stats")
        return idx, spans

    deadline = time.perf_counter() + b.seconds
    built = []
    while not built or time.perf_counter() < deadline:
        built.append(build(f"index-{len(built)}"))
    b.phase("timed builds")
    # builds of one corpus are identical; check_index audits the last one
    idx, spans = built[-1]
    b.check_index(idx)
    b.phase("check_index")
    for old, _ in built[:-1]:
        shutil.rmtree(old)

    index = {"turns_per_cpu_s": n_turns / median(s["cpu_s"] for s in b.ops),
             "bytes_ratio": data_bytes(idx) / data_bytes(corpus)}
    if b.traced:
        b.rec.resolve()
        build_layers(b, idx, spans["build"], spans["merge"])
        first = sorted(f for f in os.listdir(corpus) if f.endswith(".parquet"))[0]
        micro_layers(b, idx, os.path.join(corpus, first), round0)
        searcher = b.open_searcher(idx, timed=False)
        term_stats_layer(b, searcher, round0)
        corpus_sweep(b, idx, searcher, round0, answers)
    return index


def mutate(b: Bench) -> dict:
    from lucene_spark.index.build import IndexConfig, build_index
    from lucene_spark.sources.transcripts import generate_pandas
    from lucene_spark.streaming.append import TRANSCRIPT_SCHEMA

    b.start_session()
    base = generate_pandas(n_convs=MUTATE_TURNS // 15, seed=b.seed,
                           vocab_size=MUTATE_VOCAB)
    base = base.sort_values(["conv_id", "turn_idx"]).head(MUTATE_TURNS)
    src = b.path("base")
    b.spark.createDataFrame(base, schema=TRANSCRIPT_SCHEMA).coalesce(1) \
        .write.parquet(src)
    idx = b.path("index")
    cfg = IndexConfig(analyzer="standard", positions=True)
    t0 = time.perf_counter()
    spans = build_and_merge(
        b, idx, lambda: build_index(b.spark, b.spark.read.parquet(src), idx, cfg),
        False)
    b.setup_build_s = time.perf_counter() - t0
    b.phase("set-up build")
    index = {"turns_per_cpu_s": len(base) / spans["op"]["cpu_s"],
             "bytes_ratio": data_bytes(idx) / data_bytes(src)}
    # the check_index closing every cycle audits the base segments too

    oracle = LiveOracle()
    oracle.add(rows_of(base))
    probes = QueryStream(b.seed, MUTATE_VOCAB, stream=3).probes(100)
    state = MutationState(b.seed, MUTATE_VOCAB, probes)
    deadline = time.perf_counter() + b.seconds
    cycles = 0
    while not cycles or time.perf_counter() < deadline:
        mutation_cycle(b, idx, oracle, state, timed=True)
        cycles += 1

    if b.traced:
        b.rec.resolve()
        build_layers(b, idx, spans["build"], spans["merge"])
        round0 = QueryStream(b.seed, MUTATE_VOCAB, stream=1).rounds(1)[0]
        src_file = sorted(f for f in os.listdir(src) if f.endswith(".parquet"))[0]
        micro_layers(b, idx, os.path.join(src, src_file), round0)
        searcher = b.open_searcher(idx, timed=False)
        term_stats_layer(b, searcher, round0)
        for shape, q in round0:
            if shape not in PROBE_SHAPES:
                got = b.query(searcher, shape, q, timed=False,
                              with_deletes=True)
                b.verify_hits(got, _bits(oracle.search(q)), f"sweep {shape}")
        run_batch(b, searcher, [x for x in round0 if x[0] != "prefix"],
                  lambda q: _bits(oracle.search(q)), timed=False)
    return index


WORKLOADS = {"ingest": ingest, "mutate": mutate}


# ------------------------------------------------------------------ metrics

def layer_metrics(b: Bench) -> dict[str, tuple[float, str]]:
    """Per-layer metrics from the traced run's spans."""
    b.rec.resolve()
    spans = b.rec.spans
    out = dict(b.layer)
    out["session.start_s"] = (b.session_start_s, "s")
    out["session.peak_rss_mb"] = (peak_rss_mb(b.rec.jvm_pid), "MB")

    def named(name):
        return [s for s in spans if s["name"] == name]

    def ms(ss):
        return median(1e3 * (s["end"] - s["start"]) for s in ss)

    kids: dict[int, dict[str, float]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], {})[s["name"]] = s["end"] - s["start"]
    for shape in SHAPES:
        ss = named(f"search.{shape}")
        out[f"search.{shape}.plan_ms"] = (median(1e3 * kids[s["id"]]["plan"] for s in ss), "ms")
        out[f"search.{shape}.exec_ms"] = (median(1e3 * kids[s["id"]]["exec"] for s in ss), "ms")
        out[f"search.{shape}.jobs"] = (median(s["jobs"] for s in ss), "count")
        out[f"search.{shape}.stages"] = (median(s["stages"] for s in ss), "count")
    ts = named("search.term_stats")
    out["search.term_stats_ms"] = (ms(ts), "ms")
    out["search.term_stats_jobs"] = (median(s["jobs"] for s in ts), "count")
    sm = named("search_many")
    out["search_many.wall_s"] = (ms(sm) / 1e3, "s")
    out["search_many.jobs"] = (median(s["jobs"] for s in sm), "count")
    out["search_many.stages"] = (median(s["stages"] for s in sm), "count")
    out["searcher.open_ms"] = (ms(named("searcher.open")), "ms")
    out["search.with_deletes.jobs"] = (
        median(s["jobs"] for s in spans if s.get("with_deletes")), "count")
    for kind in ("append", "delete", "update"):
        ss = named(kind)
        out[f"{kind}.ms"] = (ms(ss), "ms")
        out[f"{kind}.jobs"] = (median(s["jobs"] for s in ss), "count")
        out[f"{kind}.stages"] = (median(s["stages"] for s in ss), "count")
    for layer in LAYERS:
        self_s = sum(s["self_s"] for s in b.rec.spans if s["layer"] == layer)
        if layer == "session":
            self_s += b.session_start_s
        out[f"self.{layer}_s"] = (self_s, "s")
    e2e = b.end_to_end()
    out["trace.op_ms"] = (e2e["op_ms"], "ms")
    out["trace.op_cpu_ms"] = (e2e["op_cpu_ms"], "ms")
    return out
