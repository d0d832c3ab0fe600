"""Workload ``corpus``: the Python/Arrow kernels of ``operators.dedup``,
``operators.similarity`` and ``operators.text``; its traced run also replays
the ``streaming.pit`` surfaces.

Inputs: the sf0.01 ``documents``, ``embeddings`` and ``events`` tables kept in
``perfbench/data``, with row order permuted by ``--seed``, and the replay
fixture ``streaming.equiv`` derives from ``events``.  One iteration runs four
gate queries from ``__spark_entry__.queries()``, one per kernel family.  The
traced run adds ``streaming.equiv.stream_equivalence_summary`` (the five
streaming surfaces replayed through ``run_replay``, then compared with their
batch operators) and a candidate count for the dedup verify yield.  Every
result is checked against the gate's ``oracle_sql()`` text in DuckDB.
"""

from __future__ import annotations

import hashlib
import os
import time

from perfbench import oracle

DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data")
TABLES = ("documents", "embeddings", "events")
#: gate -> layer it exercises
GATES = {
    "dedup_minhash": "dedup",         # MinHash signatures + LSH + Jaccard verify
    "ann_topk": "similarity",         # blocked exact KNN
    "embedding_pairs": "similarity",  # blocked all-pairs top-k
    "lang_id": "text",
}
STREAM = "stream_equiv"
N_QUERIES = 5   # the similarity gates' query set: vec_id < 5


def _drop_shared_tokens(spark, entry) -> None:
    """The gate suite pins one tokenised documents frame per application
    (``_TOKS_CACHE``, keyed by application id); drop it so every iteration
    reads its input again."""
    cache = getattr(entry, "_TOKS_CACHE", None)
    if cache:
        app = spark.sparkContext.applicationId
        for key, df in cache.items():
            if key[0] == app:
                df.unpersist()
        cache.clear()


def _digest(paths: list[str], texts: list[str]) -> str:
    h = hashlib.sha256()
    for p in paths:
        with open(p, "rb") as fh:
            h.update(fh.read())
    for t in texts:
        h.update(t.encode())
    return h.hexdigest()[:24]


class Corpus:
    name = "corpus"

    def __init__(self, seed: int, cache_dir: str):
        import pyarrow.parquet as pq

        import __spark_entry__ as entry

        self.seed = seed
        self.entry = entry
        self.cache_dir = cache_dir
        self.counts = {t: pq.ParquetFile(os.path.join(DATA, f"{t}.parquet")).metadata.num_rows
                       for t in TABLES}
        self.input_rows = self.counts["documents"] + self.counts["embeddings"]
        self._expected = None
        self._stream: dict = {}

    def sizes(self) -> dict:
        return dict(self.counts)

    @staticmethod
    def sf_dir(inputs: str) -> str:
        return os.path.join(inputs, "sf")

    @staticmethod
    def replay_dir(inputs: str) -> str:
        return os.path.join(inputs, "replay")

    # -- inputs ------------------------------------------------------------
    def generate(self, dest: str) -> None:
        import numpy as np
        import pyarrow.parquet as pq

        from feathr_online_spark.streaming.equiv import write_replay_fixture

        sf = self.sf_dir(dest)
        os.makedirs(sf, exist_ok=True)
        rng = np.random.default_rng(self.seed)
        for t in TABLES:
            tab = pq.read_table(os.path.join(DATA, f"{t}.parquet"))
            tab = tab.take(rng.permutation(tab.num_rows)).replace_schema_metadata(None)
            pq.write_table(tab, os.path.join(sf, f"{t}.parquet"))
        write_replay_fixture(sf, self.replay_dir(dest))

    def prepare(self, spark, inputs: str) -> None:
        """Expected gate results.  They do not depend on row order, so they
        are cached under a key of the SQL text and the source tables."""
        from feathr_online_spark.operators.text import write_lang_fixture

        # the lang_id oracle reads the planted multilingual fixture, which
        # the gate query writes on first use
        fixture = write_lang_fixture(self.entry._LANG_FIXTURE)
        sqls = self.entry.oracle_sql()
        sqls = {g: sqls[g] for g in (*GATES, STREAM)}
        key = _digest([os.path.join(DATA, f"{t}.parquet") for t in TABLES] + [fixture],
                      [f"{g}\n{q}" for g, q in sorted(sqls.items())])
        self._expected = oracle.gate_expectations(
            self.sf_dir(inputs), list(TABLES), sqls, key, self.cache_dir)

    # -- one timed iteration -------------------------------------------------
    def iterate(self, spark, inputs: str, it_dir: str, rec):
        sf = self.sf_dir(inputs)
        queries = self.entry.queries()
        out = {}
        with rec.span("job"):
            _drop_shared_tokens(spark, self.entry)
            for gate in GATES:
                with rec.span(gate):
                    df = queries[gate](spark, sf)
                    out[gate] = (df.columns, [tuple(r) for r in df.collect()])
        return out

    def mismatches(self, output) -> int:
        return sum(oracle.gate_mismatch(self._expected[g], cols, rows)
                   for g, (cols, rows) in output.items())

    def perturbed(self, output):
        g = next(iter(output))
        cols, rows = output[g]
        return {**output, g: (cols, oracle.perturb_rows(rows))}

    # -- traced run ---------------------------------------------------------
    def trace_steps(self, spark, rec, inputs: str, work: str, output,
                    deadline: float) -> dict:
        """The stream replay (checked like a gate, with the query handles
        captured so their progress can be read after they finish) and the
        dedup candidate count: the same MinHash LSH with a 0 threshold keeps
        every candidate pair it verifies.  The count is skipped when the
        ``time.perf_counter`` value ``deadline`` has passed."""
        from feathr_online_spark.operators.dedup import minhash_lsh_pairs
        from feathr_online_spark.streaming import equiv

        run_replay = equiv.run_replay

        def recording_replay(*args, **kwargs):
            t0 = time.time()
            state = run_replay(*args, **kwargs)
            self._stream["replay_s"] = time.time() - t0
            self._stream["progress"] = [list(q.recentProgress)
                                        for q, _ref in state["handles"].values()]
            return state

        equiv.run_replay = recording_replay
        try:
            with rec.span(STREAM):
                df = equiv.stream_equivalence_summary(
                    spark, self.sf_dir(inputs), self.replay_dir(inputs))
                rows = [tuple(r) for r in df.collect()]
        finally:
            equiv.run_replay = run_replay
        stream_bad = oracle.gate_mismatch(self._expected[STREAM], df.columns, rows)

        cand, skipped = 0, 0
        if time.perf_counter() > deadline:
            skipped = 1
        else:
            docs = spark.read.parquet(os.path.join(self.sf_dir(inputs), "documents.parquet"))
            with rec.span("dedup_candidates"):
                cand = minhash_lsh_pairs(docs, "text", "doc_id", n=3, k=128, bands=32,
                                         threshold=0.0).count()
        return {"checks": (1, int(stream_bad)), "candidate_pairs": cand,
                "verified_pairs": len(output["dedup_minhash"][1]), "failed_steps": skipped}

    def layer_metrics(self, rec, jobs, raw: dict) -> dict:
        from perfbench.recorder import jobs_of, jobs_within, totals

        def by_layer(layer):
            return [g for g, lay in GATES.items() if lay == layer]

        def python_s(layer):
            return sum(totals(jobs_of(jobs, rec, g))["python_s"] for g in by_layer(layer))

        def seconds(layer):
            return sum(rec.seconds(g) for g in by_layer(layer))

        n_emb = self.counts["embeddings"]
        per_query = self._stream.get("progress", [])
        progress = [p for q in per_query for p in q]
        last = [q[-1] for q in per_query if q]
        state_ops = [op for p in progress for op in p.stateOperators]

        def dur(key):
            return sum(p.durationMs.get(key, 0) for p in progress) / 1000.0

        cand, ver = raw["candidate_pairs"], raw["verified_pairs"]
        return {
            "dedup.s": seconds("dedup"),
            "dedup.python_s": python_s("dedup"),
            "dedup.candidate_pairs": cand,
            "dedup.verified_pairs": ver,
            "dedup.verify_yield": ver / cand if cand else 0.0,
            "similarity.s": seconds("similarity"),
            "similarity.python_s": python_s("similarity"),
            # the exact gates score every (query, vector) and every vector pair
            "similarity.candidates_scored": N_QUERIES * n_emb + n_emb * (n_emb - 1) // 2,
            "text.s": seconds("text"),
            "arrow.bytes_to_python": totals(jobs_within(jobs, rec, "job"))["python_bytes_sent"],
            "streaming.triggers": len(progress),
            "streaming.trigger_s": dur("triggerExecution"),
            "streaming.add_batch_s": dur("addBatch"),
            "streaming.commit_s": sum(op.commitTimeMs for op in state_ops) / 1000.0,
            "streaming.state_rows": sum(op.numRowsTotal for p in last for op in p.stateOperators),
            "streaming.state_mem_bytes": sum(op.memoryUsedBytes
                                             for p in last for op in p.stateOperators),
            "streaming.verify_s": rec.seconds(STREAM) - self._stream.get("replay_s", 0.0),
            "other.s": rec.seconds("job") - sum(rec.seconds(g) for g in GATES),
            "trace.failed_steps": raw["failed_steps"],
        }

    def close(self) -> None:
        pass
