"""The ``hybrid_serve`` workload: a closed read/write loop over two
durable retrieval stores.

Set-up chunks and hash-embeds the ``documents`` table and builds one
incremental BM25 store and one IVF×PQ serving table over the chunks.
Each pass then appends new chunks and deletes live ones, each write to
both stores under one ``batch_id``, and runs a hybrid search; the cold
pass ends with a compaction of both stores.

The driver keeps the live corpus, so every search is checked (untimed)
against it, and at the end the last search is replayed against stores
rebuilt in one shot from the corpus that was live when it ran.
"""

from __future__ import annotations

import os
import sys
import warnings

from pyspark.sql import functions as F

import sampler
import schedule
from ons_utils_spark.functions.localrel import local_rows_df
from ons_utils_spark.operators import pq, retrieval, text
from ons_utils_spark.sources.tables import load_table

DIM = 16
CHUNK_TOKENS, CHUNK_OVERLAP = 32, 8
N_LISTS, N_PROBE = 4, 2
RETRIEVER_TOPK, TOPK = 20, 10
#: The pure-expression featurizer: chunk batches here are small, and it
#: keeps Python workers out of the serving loop (the counts are identical
#: to the vectorised form).
EMBED = "expr"
SKEW_PREFIX = "hybrid store skew"


class ServeWorkload:
    def __init__(self, bench):
        self.bench = bench
        store_root = os.path.join(bench.work, "stores")
        self.paths = {s: os.path.join(store_root, s) for s in ("bm25", "pq")}
        self.inputs = schedule.ServeInputs(bench.seed)
        self.text: dict[int, str] = {}
        self.live: set[int] = set()
        self.deleted: set[int] = set()
        self.batch_id = 0
        self.skew_warnings = 0
        self.last_search = None

    def _live(self) -> dict[int, str]:
        return {i: self.text[i] for i in self.live}

    def _embed(self, df):
        embedded = text.hash_embed(df, "chunk_text", dim=DIM, method=EMBED)
        with self.bench.span("exec.checkpoint", call=True):
            return embedded.localCheckpoint(eager=True)

    def _embed_rows(self, rows):
        return self._embed(local_rows_df(
            self.bench.spark, rows, "vec_id bigint, chunk_text string"))

    # -- set-up ----------------------------------------------------------
    def setup(self) -> None:
        spark, span = self.bench.spark, self.bench.span
        with span("setup.chunk_embed"):
            docs = load_table(spark, self.bench.data, "documents")
            base = self._embed(text.chunk_documents(
                docs, "doc_id", "text",
                chunk_tokens=CHUNK_TOKENS, overlap=CHUNK_OVERLAP,
            ).select(
                (F.col("id") * 1000 + F.col("chunk_id")).cast("long").alias("vec_id"),
                "chunk_text",
            ))
            for r in base.select("vec_id", "chunk_text").collect():
                self.text[r["vec_id"]] = r["chunk_text"]
            self.live = set(self.text)
        with span("setup.build.bm25"):
            text.bm25_index_append(
                base.select("vec_id", "chunk_text"), "vec_id", "chunk_text",
                self.paths["bm25"],
            )
        with span("setup.build.pq"):
            coded, coarse, books = pq.ivf_pq_build(
                base, "vec_id", "embedding", dim=DIM, n_lists=N_LISTS,
                m=4, k=16, coarse_iter=2, n_iter=1,
            )
            pq.save_ivf_pq_table(coded, pq.make_ivf_pq_index(coarse, books), self.paths["pq"])

    # -- operations ------------------------------------------------------
    def run_pass(self, pass_no: int) -> None:
        for kind in schedule.serve_ops(pass_no):
            getattr(self, "_" + kind)(pass_no, kind)

    def _queries_df(self, queries):
        df = local_rows_df(
            self.bench.spark,
            [(qid, terms, " ".join(terms)) for qid, terms in queries],
            "query_id bigint, terms array<string>, qtext string",
        )
        return text.hash_embed(df, "qtext", dim=DIM, method="expr").drop("qtext")

    def _serve(self, queries_df):
        bench = self.bench
        with bench.span("operators.retrieval.load"):
            with warnings.catch_warnings(record=True) as caught:
                warnings.simplefilter("always")
                stores = retrieval.load_hybrid_stores(
                    bench.spark, self.paths["bm25"], self.paths["pq"]
                )
            for w in caught:
                if str(w.message).startswith(SKEW_PREFIX):
                    self.skew_warnings += 1
                    print(f"warning: {w.message}", file=sys.stderr)
        with bench.span("operators.retrieval.search"):
            served = retrieval.hybrid_batch_topk(
                *stores, queries_df, retriever_topk=RETRIEVER_TOPK,
                n_probe=N_PROBE, topk=TOPK,
            )
            with bench.span("exec.collect", call=True):
                return served.collect()

    def _search(self, pass_no: int, kind: str) -> None:
        queries = self.inputs.queries(self._live())
        live, deleted = frozenset(self.live), frozenset(self.deleted)

        def check(rows):
            problems = check_search(rows, len(queries), live, deleted)
            if not problems:
                self.last_search = (queries, rows, live)
            return problems

        self.bench.timed(pass_no, kind, lambda: self._serve(self._queries_df(queries)),
                         check)

    def _next_batch(self) -> int:
        self.batch_id += 1
        return self.batch_id

    def _append(self, pass_no: int, kind: str) -> None:
        rows = self.inputs.appended(self._live())
        b = self._next_batch()
        span = self.bench.span

        def run():
            with span("operators.text.embed"):
                df = self._embed_rows(rows)
            with span("operators.text.append"):
                text.bm25_index_append(
                    df.select("vec_id", "chunk_text"), "vec_id", "chunk_text",
                    self.paths["bm25"], batch_id=b,
                )
            with span("operators.pq.append"):
                pq.ivf_pq_table_append(
                    df.select("vec_id", "embedding"), self.paths["pq"], batch_id=b)

        if not self.bench.timed(pass_no, kind, run).problems:
            self.text.update(rows)
            self.live.update(i for i, _ in rows)

    def _delete(self, pass_no: int, kind: str) -> None:
        ids = self.inputs.deleted(self._live())
        b = self._next_batch()
        spark, span = self.bench.spark, self.bench.span

        def run():
            with span("operators.text.delete"):
                text.bm25_index_delete(spark, self.paths["bm25"], ids, batch_id=b)
            with span("operators.pq.delete"):
                pq.ivf_pq_table_delete(spark, self.paths["pq"], ids, batch_id=b)

        if not self.bench.timed(pass_no, kind, run).problems:
            self.live.difference_update(ids)
            self.deleted.update(ids)

    def _compact(self, pass_no: int, kind: str) -> None:
        spark, span = self.bench.spark, self.bench.span

        def run():
            # With pending deletes, vacuum is the BM25 store's compaction.
            with span("operators.text.compact"):
                text.bm25_index_vacuum(spark, self.paths["bm25"])
            with span("operators.pq.compact"):
                pq.ivf_pq_table_compact(spark, self.paths["pq"])

        self.bench.timed(pass_no, kind, run)

    # -- end of run ------------------------------------------------------
    def finish(self) -> dict:
        """Replay the last checked search against one-shot stores, then
        sample the stores on disk; returns per-layer values."""
        if self.last_search is not None:
            self.bench.timed(-1, "replay", self._replay_run, self._replay_check)
        out = {"operators.retrieval.skew_warnings": self.skew_warnings}
        total = 0
        for name, path in self.paths.items():
            files, size = sampler.dir_usage(path)
            out[f"sources.store.{name}.files"] = files
            out[f"sources.store.{name}.bytes"] = size
            total += size
        user = sum(len(self.text[i].encode()) + 8 * DIM for i in self.live)
        out["store_bytes_per_user_byte"] = total / user
        return out

    def _replay_run(self):
        queries, _, live = self.last_search
        df = self._embed_rows([(i, self.text[i]) for i in sorted(live)])
        postings, stats = text.bm25_index_build(df, "vec_id", "chunk_text")
        _, index = pq.load_ivf_pq_table(self.bench.spark, self.paths["pq"])
        coded = pq.ivf_pq_encode(df.select("vec_id", "embedding"), index)
        return retrieval.hybrid_batch_topk(
            postings, stats, coded, index, self._queries_df(queries),
            retriever_topk=RETRIEVER_TOPK, n_probe=N_PROBE, topk=TOPK,
        ).collect()

    def _replay_check(self, rows):
        served = sorted(tuple(r) for r in self.last_search[1])
        rebuilt = sorted(tuple(r) for r in rows)
        if served == rebuilt:
            return []
        diff = sorted(set(served) ^ set(rebuilt))[:3]
        return [f"served rows differ from a one-shot rebuild "
                f"({len(served)} vs {len(rebuilt)} rows; first diffs {diff})"]


def check_search(rows, n_queries: int, live, deleted) -> list[str]:
    """Problems with one search's rows: every query answered with at most
    ``TOPK`` rows ranked ``1..n``, and only ids live at search time."""
    problems = []
    by_query: dict[int, list[int]] = {}
    for r in rows:
        by_query.setdefault(r["query_id"], []).append(r["rank"])
        if r["id"] in deleted:
            problems.append(f"query {r['query_id']} served deleted id {r['id']}")
        elif r["id"] not in live:
            problems.append(f"query {r['query_id']} served unknown id {r['id']}")
    if len(by_query) != n_queries:
        problems.append(f"{len(by_query)} of {n_queries} queries answered")
    for qid, ranks in sorted(by_query.items()):
        if len(ranks) > TOPK:
            problems.append(f"query {qid} has {len(ranks)} rows > {TOPK}")
        if sorted(ranks) != list(range(1, len(ranks) + 1)):
            problems.append(f"query {qid} ranks not contiguous: {sorted(ranks)}")
    return problems[:10]
