"""The closed-loop, single-client workloads.

Each workload generates its inputs from the seed, builds its stores in
`setup`, and exposes precomputed rounds of operations; the runner issues
them one at a time (the next starts when the previous returns) and stops
at the first round boundary after the run's time is up, so every run
sees the same mix of operations. Every result is kept for the
correctness gate, which runs after the timed region.
"""

from __future__ import annotations

import os
import random
import shutil

from perfbench import inputs
from perfbench.harness import Harness, dir_bytes
from perfbench.reference import Reference, bm25f_topk, same
from perfbench.trace import WARMUP

K = 10
ZIPF_SCHEMA = "doc_id long, repo string, path string, commit string, lang string, content string"


class Op:
    """One closed-loop call: its kind, its argument, how many queries it
    answers, and (after it ran) its wall time and result."""

    def __init__(self, kind: str, arg=None, n_queries: int = 0) -> None:
        self.kind, self.arg = kind, arg
        self.n_queries = n_queries
        self.wall = 0.0
        self.result = None
        self.error: str | None = None


class Workload:
    name = ""
    # index partitions of every store the benchmark writes (small stores)
    n_partitions = 16
    # every run times at least this many rounds, so a slow machine still
    # gives the median enough samples of the same mix of calls
    min_rounds = 1
    # op kinds whose wall times give latency_p50_s
    latency_kinds: tuple[str, ...] = ()

    def __init__(self, seed: int, scratch: str) -> None:
        self.seed = seed
        self.root = os.path.join(scratch, "stores")
        self.rounds: list[list[Op]] = []

    def setup(self, h: Harness) -> None:
        """Generate inputs and build the stores (the first build pays the
        session's first-job costs), then warm the workload's caches."""
        self.build(h)
        self.warm(h)

    def build(self, h: Harness) -> None:
        raise NotImplementedError

    def warm(self, h: Harness) -> None:
        """Calls that fill caches before timing starts (none by default)."""

    def store_dirs(self) -> list[str]:
        raise NotImplementedError

    def relocate(self, suffix: str) -> None:
        """Point the workload at copies of its stores taken right after
        set-up (`<dir><suffix>`), as they were before the timed loop."""
        raise NotImplementedError

    def run(self, h: Harness, op: Op, request: str = "") -> None:
        raise NotImplementedError

    def gate(self) -> None:
        """Check every kept result; mark a wrong one in its op's error."""
        raise NotImplementedError

    def input_bytes(self) -> int:
        raise NotImplementedError

    def store_bytes(self) -> int:
        raise NotImplementedError

    def _fresh_dir(self, name: str) -> str:
        d = os.path.join(self.root, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(self.root, exist_ok=True)
        return d


class LatencyZipf(Workload):
    """One query at a time over a posting_format=2 store of the code-like
    Zipfian corpus: ~60% BM25, ~20% phrase, ~20% Boolean."""

    name = "latency_zipf"
    n_docs = 2000
    n_rounds = 200
    min_rounds = 3
    latency_kinds = ("bm25", "phrase", "boolean")
    round_queries = len(inputs.ZIPF_KINDS)
    # warm-up rounds: the first queries after a build run slower while the
    # JVM compiles the query paths
    n_warm = 1

    def __init__(self, seed: int, scratch: str) -> None:
        super().__init__(seed, scratch)
        self.docs = {r[0]: r[-1] for r in inputs.zipf_rows(self.n_docs, seed)}
        per = self.round_queries
        queries = inputs.zipf_queries(self.docs, (self.n_warm + self.n_rounds) * per, seed + 1)
        # whole rounds of queries fill the dictionary cache and warm the
        # code paths before timing starts
        self.warm_queries = queries[: self.n_warm * per]
        self.rounds = [
            [Op(kind, arg, n_queries=1) for kind, arg in queries[r * per : (r + 1) * per]]
            for r in range(self.n_warm, self.n_warm + self.n_rounds)
        ]
        self.store = ""

    def build(self, h: Harness) -> None:
        from contextinator_spark.operators import segments

        rows = inputs.zipf_rows(self.n_docs, self.seed)  # generation counts as set-up
        self.store = self._fresh_dir("zipf")
        df = h.spark.createDataFrame(rows, ZIPF_SCHEMA)
        h.call("segments.write_index", segments.write_index, h.spark, df, self.store,
               positions=True, n_partitions=self.n_partitions)

    def warm(self, h: Harness) -> None:
        for kind, arg in self.warm_queries:
            self.run(h, Op(kind, arg), request=WARMUP)

    def store_dirs(self) -> list[str]:
        return [self.store]

    def relocate(self, suffix: str) -> None:
        self.store += suffix

    def run(self, h: Harness, op: Op, request: str = "") -> None:
        from contextinator_spark.operators import bm25_segments, boolean, phrase

        fn = {
            "bm25": ("bm25_segments.topk_segments", bm25_segments.topk_segments),
            "phrase": ("phrase.phrase_topk_indexed", phrase.phrase_topk_indexed),
            "boolean": ("boolean.boolean_topk_query", boolean.boolean_topk_query),
        }[op.kind]
        op.result, span = h.call(fn[0], fn[1], h.spark, self.store, op.arg, k=K, request=request)
        op.wall = span.end - span.start
        if h.traced and op.kind == "bm25":
            span.extra["store_bytes"] = dir_bytes(self.store)

    def gate(self) -> None:
        ref = Reference(self.docs)
        want = {
            "bm25": ref.bm25_topk,
            "phrase": ref.phrase_topk,
            "boolean": ref.boolean_topk,
        }
        for op in (op for ops in self.rounds for op in ops):
            if op.result is not None and not same(op.result, want[op.kind](op.arg, K)):
                op.error = f"{op.kind} {op.arg!r}: answer differs from the reference"

    def input_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.docs.values())

    def store_bytes(self) -> int:
        return dir_bytes(self.store)


class BatchUniform(Workload):
    """One batch call at a time, cycling through the BM25, positional,
    Boolean and BM25F batch executors over an amplified word-salad corpus
    where every query term matches most documents. The stores are live:
    the title store receives the last amplification copy as a streamed
    delta (apply_ingest_batch), and both stores carry a tombstone epoch
    (delete_docs) for a seeded sample of docs."""

    name = "batch_uniform"
    n_base, amplify = 500, 4
    n_deletes = 40
    sizes = {"bm25": 100, "positional": 20, "boolean": 20, "multifield": 50}
    # three BM25 batches a round: the median latency comes from them,
    # since the four families differ in cost per call
    pattern = ("bm25", "positional", "bm25", "boolean", "bm25", "multifield")
    n_rounds = 40
    # one round (the base minimum) is enough: the spread between runs
    # comes from the host, not from the number of calls timed
    latency_kinds = ("bm25",)
    # queries of every batch call the gate checks
    gate_sample = {"bm25": 10, "positional": 5, "boolean": 5, "multifield": 5}
    weights = {"content": 1.0, "title": 2.0}

    def __init__(self, seed: int, scratch: str) -> None:
        super().__init__(seed, scratch)
        self.docs = inputs.salad_corpus(self.n_base, self.amplify, seed)
        self.deleted = sorted(random.Random(seed + 3).sample(sorted(self.docs), self.n_deletes))
        rounds = inputs.salad_batches(seed + 1, self.sizes, self.pattern, self.n_rounds + 1)
        # a one-query batch of each family fills both stores' dictionary
        # caches and takes each executor's first-call cost out of the
        # timed rounds
        self.warm_batches = {fam: {0: batch[0]} for fam, batch in rounds[0]}
        self.rounds = [[Op(fam, batch, n_queries=len(batch)) for fam, batch in calls]
                       for calls in rounds[1:]]
        self.stores: dict[str, str] = {}

    def build(self, h: Harness) -> None:
        from contextinator_spark.operators import deletes, segments
        from contextinator_spark.streaming import ingest

        a = self.amplify
        docs = inputs.salad_corpus(self.n_base, a, self.seed)  # generation counts as set-up

        def frame(ids, title=False):
            rows = [(d, inputs.title(docs[d]) if title else docs[d]) for d in ids]
            return h.spark.createDataFrame(rows, "doc_id long, content string")

        # content carries positions (posting_format=2) and is built whole;
        # title (posting_format=1) gets the last amplification copy through
        # the pre-fusion streaming-delta path, so both hold the same docs
        ids = sorted(docs)
        built, delta = [d for d in ids if d % a != a - 1], [d for d in ids if d % a == a - 1]
        content = self.stores["content"] = self._fresh_dir("salad-content")
        h.call("segments.write_index", segments.write_index, h.spark, frame(ids),
               content, positions=True, n_partitions=self.n_partitions)
        title = self.stores["title"] = self._fresh_dir("salad-title")
        h.call("segments.write_index", segments.write_index, h.spark, frame(built, True),
               title, n_partitions=self.n_partitions)
        h.call("ingest.apply_ingest_batch", ingest.apply_ingest_batch, frame(delta, True),
               0, title, n_partitions=self.n_partitions)
        for d in (content, title):
            h.call("deletes.delete_docs", deletes.delete_docs, h.spark, d, self.deleted)

    def warm(self, h: Harness) -> None:
        for fam, batch in self.warm_batches.items():
            self.run(h, Op(fam, batch), request=WARMUP)

    def store_dirs(self) -> list[str]:
        return list(self.stores.values())

    def relocate(self, suffix: str) -> None:
        self.stores = {f: d + suffix for f, d in self.stores.items()}

    def run(self, h: Harness, op: Op, request: str = "") -> None:
        from contextinator_spark.operators import bm25_segments, boolean, multifield, phrase

        content = self.stores["content"]
        if op.kind == "bm25":
            call = ("bm25_segments.topk_segments_multi", bm25_segments.topk_segments_multi,
                    (h.spark, content, op.arg), {})
        elif op.kind == "positional":
            call = ("phrase.positional_topk_indexed_multi", phrase.positional_topk_indexed_multi,
                    (h.spark, content, op.arg), {})
        elif op.kind == "boolean":
            call = ("boolean.boolean_topk_multi", boolean.boolean_topk_multi,
                    (h.spark, content, op.arg), {})
        else:
            call = ("multifield.bm25f_topk_multi", multifield.bm25f_topk_multi,
                    (h.spark, self.stores, op.arg), {"weights": self.weights})
        out, span = h.call(call[0], call[1], *call[2], k=K, request=request, **call[3])
        op.wall = span.end - span.start
        if h.traced and op.kind == "bm25":
            span.extra["store_bytes"] = dir_bytes(content)
        op.result = {}
        for qid, r, doc, score in sorted(out):
            op.result.setdefault(qid, []).append((r, doc, score))

    def gate(self) -> None:
        """A seeded sample of every batch call's queries against pure-Python
        references: BM25 against the oracle, phrase, NEAR and Boolean
        against their scoring contracts over the content store, BM25F over
        content and title. Deleted docs are never ranked but count in n,
        avgdl and each term's df (the live-docs semantics of deletes.py);
        a phrase's df counts live matches only, as the positional
        executors do."""
        rng = random.Random(self.seed + 2)
        deleted = set(self.deleted)
        ref = Reference(self.docs, deleted)
        fields = {"content": ref,
                  "title": Reference({d: inputs.title(t) for d, t in self.docs.items()}, deleted)}
        want = {
            "bm25": lambda q: ref.bm25_topk(q, K),
            "positional": lambda q: ref.phrase_topk(q[0], K) if q[1] is None
            else ref.near_topk(q[0], q[1], K),
            "boolean": lambda q: ref.boolean_topk(q, K),
            "multifield": lambda q: bm25f_topk(fields, self.weights, q, K),
        }
        for op in (op for ops in self.rounds for op in ops if op.result is not None):
            for qid in rng.sample(sorted(op.arg), self.gate_sample[op.kind]):
                if not same(op.result.get(qid, []), want[op.kind](op.arg[qid])):
                    op.error = f"{op.kind} batch query {op.arg[qid]!r}: answer differs from the reference"

    def input_bytes(self) -> int:
        return sum(len(t.encode()) for t in self.docs.values())

    def store_bytes(self) -> int:
        return dir_bytes(*self.stores.values())


WORKLOADS = {w.name: w for w in (LatencyZipf, BatchUniform)}
