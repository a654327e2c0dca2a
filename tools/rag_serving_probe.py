"""Separate the RAG pipeline's SERVING cost from its build cost.

The bench-tail `q_rag_ingest_retrieve` is self-contained by the bench
contract, so its timed number is dominated by in-query work a real
deployment does once: chunking the corpus, training the coarse/grid
index, and writing both stores. This probe builds the chunk stores
ONCE, then times only what a serving tier pays per query batch:
load + postings prune + probed-fragment scan + batch scorers + RRF
fusion. The split is the honest 100 TB statement — ingest is a
one-time O(corpus) map-only pass plus O(batch) appends; serving reads
prune to query-term postings and probed `__list` partitions.

Usage: python tools/rag_serving_probe.py [sf_dir] [k]
"""

from __future__ import annotations

import json
import shutil
import sys
import tempfile
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from pyspark.sql import functions as F  # noqa: E402

from ons_utils_spark.operators import retrieval as _retrieval  # noqa: E402
from ons_utils_spark.operators import similarity as _sim  # noqa: E402
from ons_utils_spark.operators import text as _text  # noqa: E402
from ons_utils_spark.operators.semantic import _py_dot  # noqa: E402
from ons_utils_spark.plans.queries import (  # noqa: E402
    _RAG_CHUNK, _RAG_DIM, _RAG_LISTS, _RAG_OVERLAP, _RAG_PROBE,
    _RAG_QUERIES, _RAG_RTOPK,
)
from ons_utils_spark.session import get_session  # noqa: E402
from ons_utils_spark.sources.tables import load_table  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    k = int(sys.argv[2]) if len(sys.argv) > 2 else 5

    spark = get_session(app_name="rag_serving_probe")
    spark.range(1000).count()  # warm

    docs = load_table(spark, sf_dir, "documents")
    t0 = time.perf_counter()
    chunks = _text.chunk_documents(
        docs, "doc_id", "text",
        chunk_tokens=_RAG_CHUNK, overlap=_RAG_OVERLAP,
    ).select(
        (F.col("id") * 1000 + F.col("chunk_id")).cast("long")
        .alias("vec_id"),
        "chunk_text",
    )
    emb = _text.hash_embed(chunks, "chunk_text", dim=_RAG_DIM)
    emb = emb.localCheckpoint(eager=True)
    n_chunks = emb.count()
    t_chunk_embed = time.perf_counter() - t0

    tmp = tempfile.mkdtemp(prefix="rag_probe_")
    try:
        t0 = time.perf_counter()
        coded, coarse, vmin, vmax = _sim.ivf_sq_build(
            emb, dim=_RAG_DIM, n_lists=_RAG_LISTS, coarse_iter=2,
        )
        idx = _sim.make_sq_index(coarse, vmin, vmax)
        _sim.save_sq_table(coded, idx, f"{tmp}/ann")
        _text.bm25_index_append(
            emb.select("vec_id", "chunk_text"),
            "vec_id", "chunk_text", f"{tmp}/bm25",
        )
        t_build = time.perf_counter() - t0

        queries = _text.hash_embed(
            spark.createDataFrame(
                [(qid, list(terms), " ".join(terms))
                 for qid, terms in _RAG_QUERIES],
                "query_id bigint, terms array<string>, qtext string",
            ),
            "qtext", dim=_RAG_DIM,
        ).drop("qtext")
        qrows = queries.collect()

        serve_times = []
        for _ in range(k):
            t0 = time.perf_counter()
            lp, ls = _text.load_bm25_index(spark, f"{tmp}/bm25")
            union_vocab = sorted({
                t.lower() for _, terms in _RAG_QUERIES for t in terms
            })
            lp = _text._filter_postings_terms(
                lp, union_vocab
            ).localCheckpoint(eager=True)
            ls = ls.localCheckpoint(eager=True)
            lc, li = _sim.load_sq_table(spark, f"{tmp}/ann")
            probes = sorted({
                j
                for r in qrows
                for _, j in sorted(
                    (
                        _py_dot(r["embedding"], r["embedding"])
                        + _py_dot(c, c)
                        - 2 * _py_dot(r["embedding"], c),
                        j,
                    )
                    for j, c in enumerate(li.coarse_centroids)
                )[:_RAG_PROBE]
            })
            frag = lc.where(
                F.col("__list").isin(probes)
            ).localCheckpoint(eager=True)
            out = _retrieval.hybrid_batch_topk(
                lp, ls, frag, li, queries,
                retriever_topk=_RAG_RTOPK, n_probe=_RAG_PROBE, topk=10,
            ).collect()
            serve_times.append(time.perf_counter() - t0)
        assert out, "serving returned no rows"
    finally:
        shutil.rmtree(tmp, ignore_errors=True)

    serve_times.sort()
    print(json.dumps({
        "sf_dir": sf_dir,
        "n_chunks": n_chunks,
        "chunk_embed_sec": round(t_chunk_embed, 2),
        "store_build_sec": round(t_build, 2),
        "serve_runs": [round(t, 3) for t in serve_times],
        "serve_min_sec": round(serve_times[0], 3),
        "serve_median_sec": round(serve_times[len(serve_times) // 2], 3),
        "rows_served": len(out),
    }))


if __name__ == "__main__":
    main()
