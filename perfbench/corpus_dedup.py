"""corpus_dedup: an LLM-data ingest pipeline.

Each pass appends one generated shard of documents to an avro append table
(partitioned by shard), reads the shard back, finds near-duplicate
clusters inside it (``dedup_clusters``), near-duplicates against every
earlier shard on the previous snapshot (``minhash_lsh_pairs_between``) and
exact duplicates (``exact_duplicates``), and upserts the kept ids into a
parquet primary-key table. After the last pass the loop serves the kept
table: each serving round runs a full aggregate and a lookup batch that
checks doc membership.

Shards carry planted exact copies and near copies (one word replaced), of
documents in the same shard and of earlier shards. Copies always get larger
ids than their sources. Checks: every planted exact pair is reported, no
exact copy is kept, every original is kept, and kept docs never exceed
docs minus planted exact copies.
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

import stats
from incubator_paimon_spark import P
from incubator_paimon_spark.operators import dedup as D

FRESH = 80             # original docs per shard
COPIES = 5             # planted docs of each kind per shard
WORDS = 40
VOCAB = 5_000
PASSES = 3             # timed passes (shard 0 is loaded in setup)
SERVES = 6             # timed serving rounds after the passes
LOOKUP_KEYS = 6_000
THRESHOLD = 0.7

DOCS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("shard", T.IntegerType(), False),
    T.StructField("text", T.StringType()),
])
KEPT_SCHEMA = T.StructType([
    T.StructField("doc_id", T.LongType(), False),
    T.StructField("shard", T.IntegerType()),
])
KEPT_OPTIONS = {"bucket": "2", "file.format": "parquet"}


class Corpus:
    """Generates shards and remembers which docs are originals and which
    are planted copies of what."""

    def __init__(self, rng: np.random.Generator):
        self.rng = rng
        self.vocab = np.array([f"w{i:04d}" for i in range(VOCAB)])
        self.next_id = 0
        self.texts: dict[int, str] = {}
        self.shard_of: dict[int, int] = {}
        self.originals: list[int] = []
        self.original_set: set[int] = set()
        self.exact_copies: list[int] = []

    def _new(self, text: str, shard: int) -> int:
        i = self.next_id
        self.next_id += 1
        self.texts[i], self.shard_of[i] = text, shard
        return i

    def _near(self, text: str) -> str:
        words = text.split(" ")
        pos = int(self.rng.integers(WORDS // 4, 3 * WORDS // 4))
        words[pos] = "x" + words[pos]
        return " ".join(words)

    def shard(self, k: int) -> tuple[pd.DataFrame, dict]:
        """Shard ``k`` and its planted pairs: ``within`` (source, copy)
        exact pairs, ``across`` exact pairs whose source is in an earlier
        shard."""
        fresh = [self._new(" ".join(self.rng.choice(self.vocab, WORDS)), k)
                 for _ in range(FRESH)]
        earlier = self.originals[:]
        srcs = self.rng.choice(fresh, 2 * COPIES, replace=False)
        planted = {"within": [], "across": []}
        for s in srcs[:COPIES]:
            planted["within"].append((int(s), self._new(self.texts[s], k)))
        for s in srcs[COPIES:]:
            self._new(self._near(self.texts[s]), k)
        if earlier:
            old = self.rng.choice(earlier, 2 * COPIES, replace=False)
            for s in old[:COPIES]:
                planted["across"].append((int(s), self._new(self.texts[s], k)))
            for s in old[COPIES:]:
                self._new(self._near(self.texts[s]), k)
        self.originals += fresh
        self.original_set.update(fresh)
        self.exact_copies += [c for _, c in planted["within"] + planted["across"]]
        ids = [i for i in range(fresh[0], self.next_id)]
        pdf = pd.DataFrame({"doc_id": np.array(ids, np.int64), "shard": np.int32(k),
                            "text": [self.texts[i] for i in ids]})
        return pdf, planted


class Pipeline:
    def __init__(self, b, docs, kept, corpus: Corpus):
        self.b, self.docs, self.kept, self.corpus = b, docs, kept, corpus
        self.kept_ids: set[int] = set()

    def ingest(self, k: int, pdf: pd.DataFrame, planted: dict) -> bool:
        """One pass over shard ``k``; True when every check held."""
        b, spark = self.b, self.b.spark
        prev = self.docs.snapshots.latest_id()
        b.timed_span("formats.avro_write",
                     lambda: b.write(self.docs, spark.createDataFrame(pdf, DOCS_SCHEMA)))
        shard = b.scan(self.docs, None, P.eq("shard", k)).persist()
        try:
            n = b.timed_span("formats.avro_read", shard.count)
            base = b.scan(self.docs, None, snapshot_id=prev) if prev else None
            dropped = {r[0] for r in b.timed_span("dedup.clusters", lambda: D.dedup_clusters(
                shard, "text", "doc_id", threshold=THRESHOLD)
                .filter(~F.col("is_canonical")).select("id").collect())}
            pairs = b.timed_span("dedup.minhash", lambda: D.minhash_lsh_pairs_between(
                shard, base, "text", "doc_id", min_est_jaccard=THRESHOLD)
                .collect()) if base is not None else []
            groups = b.timed_span("dedup.exact", lambda: D.exact_duplicates(
                shard, "text", "doc_id").collect())
            dropped |= {r[0] for r in pairs}
            ids = pdf["doc_id"].tolist()
            keep = [i for i in ids if i not in dropped]
            b.write(self.kept, spark.createDataFrame(
                pd.DataFrame({"doc_id": np.array(keep, np.int64), "shard": np.int32(k)}),
                KEPT_SCHEMA))
        finally:
            shard.unpersist()
        self.kept_ids |= set(keep)
        b.add_layer("dedup.candidate_pairs", len(pairs))
        b.add_layer("dedup.docs", len(ids))
        b.add_layer("dedup.kept", len(keep))

        got_within = {(r["keep_id"], r["dup_count"]) for r in groups}
        got_across = {(int(r[1]), int(r[0])) for r in pairs if r[2] >= 1.0}
        copies = {c for _, c in planted["within"] + planted["across"]}
        kept_now = set(keep)
        return (n == len(ids)
                and got_within == {(s, 2) for s, _ in planted["within"]}
                and set(planted["across"]) <= got_across
                and not copies & kept_now
                and set(ids) & self.corpus.original_set <= kept_now
                and len(keep) <= len(ids) - len(copies))

    def agg_ok(self) -> bool:
        got = self.b.scan(self.kept, lambda df: tuple(df.agg(
            F.count(F.lit(1)), F.sum("doc_id")).first()))
        return got == (len(self.kept_ids), sum(self.kept_ids))

    def lookup_keys(self, n: int) -> list[int]:
        """Originals (kept), exact copies (dropped) and ids never issued."""
        rng, c = self.corpus.rng, self.corpus
        keys = np.concatenate([
            rng.choice(c.originals, n // 2),
            rng.choice(c.exact_copies, n // 4),
            c.next_id + rng.integers(0, 1 << 30, n - n // 2 - n // 4)])
        return [int(k) for k in keys]

    def expect(self, key: int):
        if key not in self.kept_ids:
            return None
        return {"doc_id": key, "shard": self.corpus.shard_of[key]}


def run(b, catalog) -> dict:
    spark = b.spark
    corpus = Corpus(np.random.default_rng(b.seed))
    shard0, _ = corpus.shard(0)
    # shard 0 is loaded already deduplicated: its originals only
    kept0 = shard0.loc[shard0["doc_id"].isin(corpus.original_set), ["doc_id", "shard"]]

    t0 = time.perf_counter()
    docs = catalog.create_table("bench.docs", DOCS_SCHEMA, partition_keys=["shard"],
                                options={"file.format": "avro"})
    kept = catalog.create_table("bench.kept", KEPT_SCHEMA, primary_keys=["doc_id"],
                                options=KEPT_OPTIONS)
    b.op("load", lambda: b.write(docs, spark.createDataFrame(shard0, DOCS_SCHEMA))
         is not None and b.write(kept, spark.createDataFrame(kept0, KEPT_SCHEMA))
         is not None, timed=False)
    b.load_s = time.perf_counter() - t0
    b.phase("load done")
    pipe = Pipeline(b, docs, kept, corpus)
    pipe.kept_ids = set(kept0["doc_id"].tolist())
    query = kept.new_query()

    def one_pass(k: int, timed=True):
        pdf, planted = corpus.shard(k)
        b.op("pass", lambda: pipe.ingest(k, pdf, planted), timed, rows=len(pdf))

    def lookup(timed=True):
        keys = pipe.lookup_keys(LOOKUP_KEYS)
        b.op("lookup", lambda: b.lookup(query, keys) == [pipe.expect(x) for x in keys],
             timed, rows=len(keys))

    def serve(rounds: int, timed=True):
        b.op("refresh", lambda: b.refresh(query) or True, timed)
        # the first batch after a refresh loads the new files; it is
        # checked but not timed, so every timed batch hits a warm cache
        lookup(timed=False)
        for _ in range(rounds):
            b.op("agg", pipe.agg_ok, timed, rows=len(pipe.kept_ids))
            lookup(timed)

    t0 = time.perf_counter()
    one_pass(1, timed=False)
    serve(1, timed=False)
    b.setup_s = b.session_start_s + b.load_s + time.perf_counter() - t0

    b.tables = [docs, kept]
    with b.timed():
        for r in range(b.scaled(PASSES)):
            one_pass(2 + r)
        # serving runs on the finished corpus, after the passes rather
        # than between them: right after a pass the JVM is still compiling
        # and collecting on the cores the lookups run on
        serve(b.scaled(SERVES))

    write_amp = b.write_amp()
    live = b.live_sizes(kept)
    kept.compact(spark, full=True)
    space_amp = stats.space_amp(live, b.live_sizes(kept))
    b.phase("final checks done")
    return {"write_amp": (write_amp, "ratio"), "space_amp": (space_amp, "ratio")}
