"""Agent-as-table operators.

Reference semantics: an agent is a virtual model table with
``to_predict='answer'`` — ``SELECT answer FROM my_agent WHERE
question = '...'`` routes the question to the agent's LLM completion
(reference: mindsdb/api/executor/sql_query/sql_query.py:148-161;
apply_predictor_step.py:36-53; completion via
agents_controller.get_completion).

Spark-first: a single-question select is a one-row plan; the batch form —
"table JOIN agent", every row asks a question — is an Arrow-batched pandas
UDF stage, so completions batch per Arrow block and fan out across
executors. LLM transport is a pluggable callable; tests and oracles use the
deterministic mock (engine._mock_llm shape).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType

from mindsdb_spark.session import local_frame


@dataclass
class AgentSpec:
    """An agent: batched prompt completion plus an output column name.

    ``knowledge_bases`` names KBs whose top-``retrieval_k`` chunks are
    retrieved per question and prepended as context before completion —
    the reference's agent data sources (agents_controller.py:200-231
    ``params.data.knowledge_bases``; retrieval happens before the LLM
    call)."""

    name: str
    complete: Callable[[list[str]], list[str]]
    output_col: str = "answer"
    model_name: str = "mock-llm"
    knowledge_bases: tuple = ()
    retrieval_k: int = 3


def agent_ask(spark: SparkSession, agent: AgentSpec, question: str) -> DataFrame:
    """``SELECT answer FROM agent WHERE question = '...'`` — one-row plan."""
    df = local_frame(spark, [(question,)], "question string")
    return agent_apply(df, agent, question_col="question")


def agent_apply(df: DataFrame, agent: AgentSpec, question_col: str) -> DataFrame:
    """Batch form ("table JOIN agent"): append the agent's answer per row.

    One pandas UDF stage — completions are batched per Arrow block (the
    reference loops rows through the agent; here batching and executor
    parallelism are free) and the row identity re-join the reference does
    via __mindsdb_row_id disappears.
    """
    # rebind the transport's llm_log epoch BEFORE the UDF closure is
    # pickled: each statement (every agent_apply call) gets a fresh epoch,
    # so byte-identical re-asks log separately, while retries of one action
    # replay the same pickled closure and dedupe (engine._wrap_llm_transport)
    bump = getattr(agent.complete, "bump_epoch", None)
    if bump is not None:
        bump()

    @F.pandas_udf(StringType())
    def _complete(qs: pd.Series) -> pd.Series:
        out = agent.complete(qs.fillna("").tolist())
        return pd.Series(out, index=qs.index)

    return df.withColumn(agent.output_col, _complete(F.col(question_col)))


def rag_prompts(
    questions: DataFrame,
    store: DataFrame,
    embed: Callable[[DataFrame], DataFrame],
    k: int = 3,
    question_col: str = "question",
    id_col: str = "qid",
) -> DataFrame:
    """Retrieval-augmented prompts: per question, the top-``k`` chunks by
    cosine (ties by chunk_id) prepended as context.

    The reference retrieves KB context inside the agent executor before
    completion (agents_controller.py:200-231 ``data.knowledge_bases``);
    Spark-first this is ONE plan: question embeddings broadcast against the
    streaming chunk store, a rank window bounds state to k rows per
    question, and the ordered context assembles with array functions — no
    driver loop, any number of questions in the batch.

    ``embed(df)`` must add an ``embedding`` column from ``chunk_text``
    (pass the KB's embedder). Returns (id_col, question_col, prompt).
    """
    from pyspark.sql.window import Window

    q = embed(questions.select(F.col(id_col), F.col(question_col).alias("chunk_text")))
    q = q.select(
        F.col(id_col),
        F.col("chunk_text").alias(question_col),
        F.col("embedding").cast("array<double>").alias("__qe"),
    )
    emb = F.col("embedding").cast("array<double>")
    dot = F.expr(
        "aggregate(zip_with(__e, __qe, (a, b) -> a * b), cast(0 as double),"
        " (acc, x) -> acc + x)"
    )
    norm = lambda c: F.sqrt(  # noqa: E731
        F.expr(f"aggregate({c}, cast(0 as double), (acc, x) -> acc + x * x)")
    )
    pairs = (
        store.select("chunk_id", "chunk_text", emb.alias("__e"))
        .crossJoin(F.broadcast(q))
        .withColumn("__dist", F.lit(1.0) - dot / (norm("__e") * norm("__qe")))
    )
    ranked = pairs.withColumn(
        "__rnk",
        F.row_number().over(
            Window.partitionBy(id_col).orderBy(F.col("__dist").asc(), F.col("chunk_id"))
        ),
    ).filter(F.col("__rnk") <= k)
    ctx = (
        ranked.groupBy(id_col, question_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__rnk", "chunk_text"))),
                    lambda s: s.chunk_text,
                ),
                "\n",
            ).alias("__ctx")
        )
    )
    prompt = F.concat(
        F.lit("Context:\n"), F.col("__ctx"), F.lit("\n\nQuestion: "), F.col(question_col)
    )
    return ctx.select(F.col(id_col), F.col(question_col), prompt.alias("prompt"))


def mock_complete(prompts: list[str]) -> list[str]:
    """Deterministic completion stub (mirrors engine._mock_llm)."""
    import hashlib

    return [f"llm:{hashlib.md5(p.encode()).hexdigest()[:12]}" for p in prompts]
