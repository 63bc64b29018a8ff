"""Batch RAG context assembly (SURVEY.md §2.12 N38).

The common LLM-data workload the rest of the engine's pieces compose into:
retrieve the nearest passages per query vector, join their texts, assemble
a rank-ordered context prompt, and complete the batch through the LLM seam
— all as ONE declarative plan (no driver-side loop over queries).

Scale shape: the retriever is pluggable and is the only corpus-sized stage
— `brute_force_topk` is the exact baseline (and what the oracle replays,
registry `rag_context_pipeline`); `ann_topk` (IVF / sign-LSH / PQ /
IVFADC / IVF-SQ8, one entry point) is the drop-in scale path, sharing
the ``(query_id, vec_id, rank)`` output contract
(proven by a swap test in tests/test_plans.py). Passage fetch is
one equi-join against the documents table; assembly is a groupBy whose
cardinality is |queries|; the completion seam takes any LlmClient
(MockLlm in tests, the cached async kernel in production).
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

DEFAULT_PREAMBLE = "Use the context to answer."
DEFAULT_QUESTION = "Question: summarize the topic of document "


def rag_assemble(
    queries: DataFrame,
    corpus: DataFrame,
    documents: DataFrame,
    llm,
    k_ctx: int = 3,
    clip: int = 160,
    retriever: Callable[[DataFrame, DataFrame, int], DataFrame] | None = None,
    doc_id: str = "doc_id",
    text_col: str = "text",
    preamble: str = DEFAULT_PREAMBLE,
    question: str = DEFAULT_QUESTION,
    out_col: str = "answer",
) -> DataFrame:
    """Retrieve-join-assemble-complete for a batch of query vectors.

    ``queries``: (query_id, query_vec); ``corpus``: (vec_id, embedding);
    ``documents``: rows with ``doc_id``/``text_col`` where ``doc_id``
    matches the corpus ``vec_id`` space. ``retriever(corpus, queries, k)``
    must return ``(query_id, vec_id, rank)`` with rank 1..k — defaults to
    the exact :func:`operators.similarity.brute_force_topk`; pass a lambda
    over ``ann_topk`` for the ANN scale path.
    Self-hits (vec_id == query_id) are excluded AFTER retrieval, so the
    retriever is asked for ``k_ctx + 1`` and the context re-ranks to
    exactly ``k_ctx`` (fewer when the corpus is smaller).

    Returns one row per query: (query_id, n_ctx, ctx_ids, ``out_col``).
    """
    if retriever is None:
        from instructionspipe_spark.operators.similarity import brute_force_topk

        retriever = lambda c, q, k: brute_force_topk(c, q, k, rank_round=4)

    hits = retriever(corpus, queries, k_ctx + 1).select("query_id", "vec_id", "rank")
    w = Window.partitionBy("query_id").orderBy(F.asc("rank"))
    ctx = (
        hits.filter(F.col("vec_id") != F.col("query_id"))
        .withColumn("ctx_rank", F.row_number().over(w))
        .filter(F.col("ctx_rank") <= k_ctx)
    )
    passages = ctx.join(
        documents.select(
            F.col(doc_id).alias("vec_id"), F.substring(text_col, 1, clip).alias("passage")
        ),
        "vec_id",
    )
    assembled = passages.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_ctx"),
        F.array_sort(F.collect_list(F.struct("ctx_rank", "vec_id", "passage"))).alias("__ctx"),
    )
    body = F.array_join(
        F.transform(
            F.col("__ctx"),
            lambda x: F.concat(F.lit("["), x["ctx_rank"].cast("string"), F.lit("] "), x["passage"]),
        ),
        "\n",
    )
    prompt = F.concat(
        F.lit(preamble + "\n\n"), body, F.lit("\n\n" + question), F.col("query_id").cast("string")
    )
    with_prompt = assembled.withColumn("__prompt", prompt).withColumn(
        "ctx_ids",
        F.array_join(F.transform(F.col("__ctx"), lambda x: x["vec_id"].cast("string")), ","),
    )
    out = llm.complete_df(with_prompt, "__prompt", out_col)
    return out.select("query_id", "n_ctx", "ctx_ids", out_col)
