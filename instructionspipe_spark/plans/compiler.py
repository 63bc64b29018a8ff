"""Config -> DataFrame plan compiler (SURVEY.md L1/L2, §3.1).

Reproduces the reference's map/reduce semantics
(``impl/mapreduce/v0.py:28-70``): each instruction scope-projects the record,
a system prompt templated from the instruction frames the task
(``instructions.py:71-95``), the LLM's answer lands in a column named after
the instruction, the reduce stage reads *those* columns, and the final result
is a markdown report of the last stage plus full ChatML lineage.

Everything except the completion itself is a Column expression, so the
whole pipeline is one narrow Spark job: scan -> per stage, one projection
of user messages -> one completion call per distinct client -> one
projection. For a kernel client that call is one ``mapInPandas`` which
sends all the stage's instructions for a row concurrently, as the
reference's per-record ``asyncio.gather`` does
(``instructions_runners.py:144-148``), so a pipe of n stages makes n rounds
of LLM calls per record, not one round per instruction. No shuffle anywhere
— map and reduce operate on the same row, which the reference's design
guarantees (the reduce consumes the map outputs of the *same record*).

Building the plan is split in two. :func:`compile_pipeline` builds every
Column once from an input ``StructType`` alone — each stage's output schema
is derived in Python (answers are strings, lineage is ChatML) — so it
analyzes no DataFrame. The plan it returns *binds* a frame of that schema:
per stage a ``withColumns`` of the user messages, one
:meth:`~LlmClient.complete_columns` per client and a ``select``, then one
``withColumns`` of ``result`` and ``session_id``. Batch
(:func:`run_pipeline`), streaming (one compile per stream) and serving (one
compile per record schema) share that one path.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from instructionspipe_spark.functions.chatml import CHATML_TYPE, chatml, msg
from instructionspipe_spark.functions.nulls import is_valid
from instructionspipe_spark.functions.strkv import stringify
from instructionspipe_spark.plans.instructions import Instruction, Pipeline
from instructionspipe_spark.plans.llm_kernel import LlmClient, MockLlm

# Section order mirrors the reference's instruction_to_sys_prompt
# (instructions.py:71-95): Role / Task / Given Input / Expected Output /
# Output Format / External Knowledge / Examples.
_SECTIONS: tuple[tuple[str, str], ...] = (
    ("role", "## Role"),
    ("content", "## Task"),
    ("input_desc", "## Given Input"),
    ("output_desc", "## Expected Output"),
    ("output_fmt", "## Output Format"),
)


def system_prompt(instr: Instruction) -> str:
    """Deterministic system prompt text for an instruction. Constant per
    instruction — byte-identical across all rows, which is what keeps
    server-side prefix caching effective (reference README.md:85)."""
    parts: list[str] = []
    for attr, header in _SECTIONS:
        val = getattr(instr, attr)
        if val:
            parts.append(f"{header}\n{val}")
    for header, vals in (("## External Knowledge", instr.knowledge), ("## Examples", instr.examples)):
        if vals:
            parts.append(header + "\n" + "\n".join(vals))
    return "\n\n".join(parts)


def user_message(schema: T.StructType, scope: tuple[str, ...]) -> Column:
    """Scope projection serialized as ``# field\\nvalue`` markdown, dropping
    semantic-null fields (build_inputs, instructions_runners.py:42-61).
    ``schema`` is the frame's schema: scope fields it lacks are skipped."""
    sections = []
    for name in scope:
        if name not in schema.names:
            continue
        body = stringify(schema, name)
        sections.append(F.when(is_valid(F.col(name)), F.concat(F.lit(f"# {name}\n"), body)))
    if not sections:
        return F.lit("")
    return F.concat_ws("\n\n", *sections)


def build_prompt(schema: T.StructType, instr: Instruction) -> Column:
    """Full prompt: system prompt + blank line + scope markdown."""
    return F.concat(F.lit(system_prompt(instr)), F.lit("\n\n"), user_message(schema, instr.scope))


def _resolve(llm: LlmClient | dict[str, LlmClient], instr: Instruction) -> LlmClient:
    """Multi-model routing (L3): per-instruction ``model`` picks the client
    from a dict keyed by model name (reference instructions_runners.py:83-86)."""
    if isinstance(llm, dict):
        if instr.model is not None:
            return llm[instr.model]
        return next(iter(llm.values()))
    return llm


def _ref(name: str) -> Column:
    """A column by its literal name: a bare ``a.b`` would resolve as a
    struct field."""
    return F.col("`" + name.replace("`", "``") + "`")


#: A compiled plan: binds a frame of the schema it was compiled for.
Bind = Callable[[DataFrame], DataFrame]


def compile_stage(
    schema: T.StructType,
    instructions: tuple[Instruction, ...],
    llm: LlmClient | dict[str, LlmClient] = MockLlm(),
    lineage: bool = False,
) -> tuple[Bind, T.StructType]:
    """Compile one map-or-reduce stage for input ``schema``; returns the
    stage's bind and its output schema.

    A column per instruction name holds the completion; with
    ``lineage=True`` a ``<name>__msgs`` column holds its ChatML. Every
    instruction reads the stage INPUT, as the reference's per-record gather
    does. Output columns keep the order of adding them one instruction at a
    time: a name already present is replaced in place, a new one is
    appended. Answers are strings and lineage is :data:`CHATML_TYPE`, which
    is all the next stage's compile needs to know of this one's output.

    Empty scopes / all-null scopes yield an empty user message; the empty-
    instruction predicate (P6) nulls the completion instead of calling the
    model.
    """
    # P6 empty-instruction predicate: no scoped input content -> no model
    # call (reference llm_cli.py:91-99). Guard on the USER message — the
    # system prompt is constant and would defeat the check (and trim() does
    # not strip newlines). The guarded column is exactly the user message
    # SENT: wire clients post it as its own user-roled turn next to the
    # system message (llm_cli.py:114); expression clients hash the canonical
    # system+"\n\n"+user concat (NULL user propagates through concat, so
    # the guard holds there too).
    umsgs: dict[str, Column] = {}
    groups: dict[int, tuple[LlmClient, list]] = {}
    lineage_cols: dict[str, Column] = {}
    # Insertion-ordered: re-adding an existing name keeps its position.
    fields = {f.name: f for f in schema.fields}
    for instr in instructions:
        umsg_col, sys_text = f"__umsg_{instr.name}", system_prompt(instr)
        umsg = user_message(schema, instr.scope)
        umsgs[umsg_col] = F.when(F.length(umsg) > 0, umsg)
        client = _resolve(llm, instr)
        groups.setdefault(id(client), (client, []))[1].append((umsg_col, instr.name, sys_text))
        fields[instr.name] = T.StructField(instr.name, T.StringType())
        if lineage:
            msgs_col = f"{instr.name}__msgs"
            fields[msgs_col] = T.StructField(msgs_col, CHATML_TYPE)
            lineage_cols[msgs_col] = chatml(
                msg("system", F.lit(sys_text)),
                msg("user", F.col(umsg_col)),
                msg("assistant", F.col(instr.name)),
            ).alias(msgs_col)
    calls = list(groups.values())
    select = [lineage_cols.get(n, _ref(n)) for n in fields]

    def bind(df: DataFrame) -> DataFrame:
        out = df.withColumns(umsgs)
        for client, specs in calls:
            out = client.complete_columns(out, specs)
        return out.select(*select)

    return bind, T.StructType(list(fields.values()))


def run_stage(
    df: DataFrame,
    instructions: tuple[Instruction, ...],
    llm: LlmClient | dict[str, LlmClient] = MockLlm(),
    lineage: bool = False,
) -> DataFrame:
    """One map-or-reduce stage over ``df`` (:func:`compile_stage`, bound).

    The stage is one projection of user messages, one
    :meth:`~LlmClient.complete_columns` call per distinct resolved client
    (a kernel client answers all its instructions in one ``mapInPandas``,
    concurrently), and one final projection."""
    bind, _ = compile_stage(df.schema, instructions, llm, lineage)
    return bind(df)


def final_markdown(instructions: tuple[Instruction, ...]) -> Column:
    """instructions_to_md (F3): ``# name\\ncompletion`` sections of the last
    stage, skipping instructions that produced nothing."""
    parts = [
        F.when(F.col(i.name).isNotNull(), F.concat(F.lit(f"# {i.name}\n"), F.col(i.name)))
        for i in instructions
    ]
    return F.concat_ws("\n\n", *parts)


def compile_pipeline(
    schema: T.StructType,
    pipeline: Pipeline,
    llm: LlmClient | dict[str, LlmClient] = MockLlm(),
    lineage: bool = False,
    result_col: str = "result",
    session_col: str = "session_id",
) -> Bind:
    """Compile all stages for input ``schema``, plus the final markdown
    ``result`` and a content-addressed ``session_id`` (deterministic
    replacement for the reference's uuid lineage stamp, v0.py:54-60) over
    the input columns. Returns the plan's bind: ``plan(df)`` for any frame
    of ``schema``. Builds Columns only; no DataFrame is analyzed."""
    stages, stage_schema = [], schema
    for instructions in pipeline.stages:
        bind, stage_schema = compile_stage(stage_schema, instructions, llm, lineage)
        stages.append(bind)
    markdown = final_markdown(pipeline.stages[-1])
    # The hash reads the input columns as they stand once result_col is
    # set, so a result_col naming an input column hashes the markdown.
    hashed = [markdown.alias(c) if c == result_col else _ref(c) for c in schema.names]
    tail = {result_col: markdown, session_col: F.sha2(F.to_json(F.struct(*hashed)), 256)}

    def plan(df: DataFrame) -> DataFrame:
        for bind in stages:
            df = bind(df)
        return df.withColumns(tail)

    return plan


def run_pipeline(
    df: DataFrame,
    pipeline: Pipeline,
    llm: LlmClient | dict[str, LlmClient] = MockLlm(),
    lineage: bool = False,
    result_col: str = "result",
    session_col: str = "session_id",
) -> DataFrame:
    """Run all stages over ``df``: :func:`compile_pipeline` for its schema,
    bound to it."""
    return compile_pipeline(df.schema, pipeline, llm, lineage, result_col, session_col)(df)
