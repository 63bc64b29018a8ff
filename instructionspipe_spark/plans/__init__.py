"""Instruction pipeline: config -> DataFrame plan compiler (SURVEY.md §2.9, §3.1).

The reference's core loop — map named LLM instructions over scope-projected
fields of each record, then reduce the named outputs
(``src/python/instructionspipe/impl/mapreduce/v0.py:28-70``) — compiles here
to a chain of DataFrame stages. With the deterministic MockLlm the whole
pipeline is pure Spark expressions (and therefore oracle-checkable end to
end); with a real OpenAI-compatible client the completion column is produced
by an async ``mapInPandas`` kernel with caching and retries.
"""

from instructionspipe_spark.plans.instructions import Instruction, Pipeline, load_pipeline  # noqa: F401
from instructionspipe_spark.plans.llm_kernel import LlmClient, MockLlm, OpenAiLlm  # noqa: F401
from instructionspipe_spark.plans.compiler import (  # noqa: F401
    build_prompt,
    compile_pipeline,
    run_pipeline,
    run_stage,
    system_prompt,
)
from instructionspipe_spark.plans.cache import cached_llm_call  # noqa: F401
