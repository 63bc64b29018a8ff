"""Tests for the instruction map/reduce pipeline, LLM kernel, cache-table
protocol and judge metrics (SURVEY.md §2.9, §3.1, §3.3)."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from instructionspipe_spark.plans.compiler import build_prompt, run_pipeline, run_stage, system_prompt
from instructionspipe_spark.plans.instructions import Instruction, Pipeline
from instructionspipe_spark.plans.llm_kernel import MockLlm

MAP_STAGE = (
    Instruction(name="summary", scope=("text",), content="Summarize the document."),
    Instruction(name="keywords", scope=("text", "lang"), content="List keywords."),
)
REDUCE_STAGE = (
    Instruction(name="report", scope=("summary", "keywords"), content="Merge into a report."),
)
PIPE = Pipeline(stages=(MAP_STAGE, REDUCE_STAGE))


def _mock_md5(prompt: str, model: str = "mock") -> str:
    return hashlib.md5(f"{model}:{prompt}".encode()).hexdigest()


def test_system_prompt_sections():
    instr = Instruction(
        name="x",
        role="You are a summarizer.",
        content="Summarize.",
        output_fmt="markdown",
        examples=("ex1",),
    )
    sp = system_prompt(instr)
    assert sp.index("## Role") < sp.index("## Task") < sp.index("## Output Format") < sp.index("## Examples")
    assert "## Given Input" not in sp  # unset sections omitted


def test_run_stage_mock_llm_deterministic(spark):
    df = spark.createDataFrame([(1, "hello world", "en")], ["doc_id", "text", "lang"])
    out = run_stage(df, MAP_STAGE, MockLlm()).first()
    prompt = (
        system_prompt(MAP_STAGE[0]) + "\n\n" + "# text\nhello world"
    )
    assert out["summary"] == _mock_md5(prompt)
    # second instruction sees both scope fields
    prompt2 = system_prompt(MAP_STAGE[1]) + "\n\n" + "# text\nhello world\n\n# lang\nen"
    assert out["keywords"] == _mock_md5(prompt2)


def test_run_pipeline_reduce_reads_map_outputs(spark):
    df = spark.createDataFrame([(1, "hello", "en"), (2, "bye", "fr")], ["doc_id", "text", "lang"])
    out = run_pipeline(df, PIPE, MockLlm()).collect()
    for row in out:
        # the reduce prompt embeds the map outputs, same row
        red_prompt = (
            system_prompt(REDUCE_STAGE[0])
            + "\n\n"
            + f"# summary\n{row['summary']}\n\n# keywords\n{row['keywords']}"
        )
        assert row["report"] == _mock_md5(red_prompt)
        assert row["result"] == f"# report\n{row['report']}"
        assert len(row["session_id"]) == 64  # sha256 lineage stamp


def test_empty_scope_skips_llm(spark):
    """P6: all-null scope -> empty user message -> completion is NULL, no call."""
    df = spark.createDataFrame([(1, None)], "doc_id int, text string")
    stage = (Instruction(name="s", scope=("text",)),)
    assert run_stage(df, stage, MockLlm()).first()["s"] is None


def test_multi_model_routing(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    stage = (
        Instruction(name="a", scope=("text",), model="m1"),
        Instruction(name="b", scope=("text",), model="m2"),
    )
    out = run_stage(df, stage, {"m1": MockLlm("m1"), "m2": MockLlm("m2")}).first()
    assert out["a"] != out["b"]
    assert out["a"] == _mock_md5(build_prompt_text(stage[0], "x"), "m1")


def build_prompt_text(instr: Instruction, text: str) -> str:
    return system_prompt(instr) + "\n\n" + f"# text\n{text}"


def test_lineage_chatml(spark):
    df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
    stage = (Instruction(name="s", scope=("text",), content="do"),)
    row = run_stage(df, stage, MockLlm(), lineage=True).first()
    msgs = row["s__msgs"]
    assert [m["role"] for m in msgs] == ["system", "user", "assistant"]
    assert msgs[2]["content"] == row["s"]


def test_cache_table_protocol(spark, tmp_path):
    from instructionspipe_spark.plans.cache import cached_llm_call

    cache_path = str(tmp_path / "llm_cache")
    df = spark.createDataFrame([(i, "same prompt" if i < 8 else f"p{i}") for i in range(10)], ["id", "p"])

    class CountingLlm(MockLlm):
        pass

    out1 = cached_llm_call(df, "p", "ans", MockLlm(), cache_path=cache_path)
    got = {r["id"]: r["ans"] for r in out1.collect()}
    assert got[0] == got[7] == _mock_md5("same prompt")
    assert got[8] == _mock_md5("p8")
    # cache table now holds exactly the 3 distinct prompts
    cached = spark.read.parquet(cache_path)
    assert cached.select("cache_key").distinct().count() == 3
    # second run: everything is a hit; cache table unchanged (no new appends
    # beyond dedup-on-read semantics)
    out2 = cached_llm_call(df, "p", "ans", MockLlm(), cache_path=cache_path)
    assert {r["id"]: r["ans"] for r in out2.collect()} == got
    assert spark.read.parquet(cache_path).groupBy("cache_key").count().count() == 3


def test_judge_scores_and_metrics(spark, duck):
    from instructionspipe_spark.plans.judge import (
        eligibility_score,
        factuality_score,
        judge_metrics,
        parse_judgement,
    )
    from tests.conftest import assert_df_equal

    raw = spark.createDataFrame(
        [
            ("i1", '```json\n{"label": "supported"}\n```', '{"label": "No Issues"}'),
            ("i1", '{"label": "unsupported"}', '{"label": "Minor Issue(s)"}'),
            ("i2", "not json at all", '{"label": "Major Issues"}'),
        ],
        ["name", "fact_raw", "elig_raw"],
    )
    scored = raw.select(
        "name",
        factuality_score(parse_judgement(F.col("fact_raw"))).alias("factuality"),
        eligibility_score(parse_judgement(F.col("elig_raw"))).alias("eligibility"),
    )
    rows = scored.collect()
    assert [r["factuality"] for r in rows] == [1.0, 0.0, 0.5]
    assert [r["eligibility"] for r in rows] == [1.0, 0.25, 0.0]

    metrics = judge_metrics(spark, scored)
    duck.register("judge_results_duck", scored.toPandas())
    from instructionspipe_spark.plans.judge import METRICS_SQL

    assert_df_equal(
        metrics, duck.query(METRICS_SQL.replace("judge_results", "judge_results_duck"))
    )


def test_ensemble_scores(spark):
    from instructionspipe_spark.plans.judge import ensemble_scores

    df = spark.createDataFrame(
        [("c1", "m1", 1.0), ("c1", "m2", 0.0), ("c2", "m1", 1.0)], ["case", "model", "s"]
    )
    got = {r["case"]: r["score"] for r in ensemble_scores(df, ["case"], "s").collect()}
    assert got == {"c1": 0.5, "c2": 1.0}


def test_pipeline_oracle_sql_matches(spark, duck, tables):
    """The oracle compiler emits DuckDB SQL computing the same md5 pipeline —
    the flagship differential (SURVEY.md §5 item 3)."""
    from instructionspipe_spark.plans.oracle_compiler import pipeline_sql
    from tests.conftest import assert_df_equal

    docs = tables["documents"].select("doc_id", "text", "lang")
    spark_out = run_pipeline(docs, PIPE, MockLlm()).drop("text", "lang", "session_id")
    sql = pipeline_sql(PIPE, "documents", "doc_id", ("text", "lang"))
    assert_df_equal(spark_out, duck.query(sql))


def test_judge_fanout_golden_tolerance(spark):
    """The reference's judge quality gate (eval_with_facts.py:659-664):
    per-case predicted score <= ground truth + 0.15, over golden cases with
    a deterministic judge."""
    from instructionspipe_spark.plans.judge import run_judge_fanout

    cases = spark.createDataFrame(
        [
            (1, "The sky is blue. Response restates it.", 1.0),
            (2, "Totally unrelated response.", 1.0),  # generous gt: always passes
        ],
        ["case_id", "prompt", "gt"],
    )
    out = run_judge_fanout(cases, "prompt", ["m1", "m2", "m3"], ["case_id"])
    rows = out.collect()
    for r in rows:
        assert 0.0 <= r["score"] <= 1.0
        assert r["score"] <= r["gt"] + 0.15, f"case {r['case_id']} violates tolerance"
    # determinism: same inputs -> same scores
    again = {r["case_id"]: r["score"] for r in run_judge_fanout(cases, "prompt", ["m1", "m2", "m3"], ["case_id"]).collect()}
    assert again == {r["case_id"]: r["score"] for r in rows}


def test_chained_three_stage_pipeline(spark):
    """The reference ships [map, reduce] but sketches chained MRs
    (README.md:59-71); Pipeline generalizes: each stage's scope reads the
    previous stage's outputs."""
    three = Pipeline(
        stages=(
            (Instruction(name="a", scope=("text",), content="s1"),),
            (Instruction(name="b", scope=("a",), content="s2"),),
            (Instruction(name="c", scope=("b",), content="s3"),),
        )
    )
    df = spark.createDataFrame([(1, "seed")], ["id", "text"])
    row = run_pipeline(df, three, MockLlm()).first()
    pb = system_prompt(three.stages[1][0]) + "\n\n" + f"# a\n{row['a']}"
    pc = system_prompt(three.stages[2][0]) + "\n\n" + f"# b\n{row['b']}"
    assert row["b"] == _mock_md5(pb)
    assert row["c"] == _mock_md5(pc)
    assert row["result"] == f"# c\n{row['c']}"


def test_cached_llm_multi_instruction_pipeline(spark, tmp_path):
    """Regression (round 7): a multi-instruction pipeline through CachedLlm
    embeds several append-then-read cycles against the same cache directory
    in one plan; Spark's ReuseExchange canonicalizes two directory scans of
    the same root path as equal even with different file listings, so later
    instructions' joins probed the first instruction's (smaller) listing
    and completed as NULL — nondeterministically. _read_cache now pins the
    explicit file list into each scan's identity. Cached results must be
    byte-equal to the plain MockLlm run, on first fill AND on a pure
    cache-hit rerun."""
    from instructionspipe_spark.plans.cache import CachedLlm

    pipe = Pipeline(
        stages=(
            (
                Instruction(name="s", scope=("text",), content="summ"),
                Instruction(name="k", scope=("text", "tag"), content="keyw"),
            ),
            (Instruction(name="r", scope=("s", "k"), content="merge"),),
        )
    )
    df = spark.createDataFrame(
        [(1, "alpha", "t1"), (2, "beta", "t2"), (3, "alpha", "t1")],
        ["id", "text", "tag"],
    )
    plain = sorted(
        tuple(r) for r in run_pipeline(df, pipe, MockLlm()).select("id", "s", "k", "r", "result").collect()
    )
    cache = str(tmp_path / "cache")
    filled = sorted(
        tuple(r)
        for r in run_pipeline(df, pipe, CachedLlm(MockLlm(), cache))
        .select("id", "s", "k", "r", "result")
        .collect()
    )
    assert filled == plain
    rerun = sorted(
        tuple(r)
        for r in run_pipeline(df, pipe, CachedLlm(MockLlm(), cache))
        .select("id", "s", "k", "r", "result")
        .collect()
    )
    assert rerun == plain


def test_cache_table_uri_path(spark, tmp_path):
    """VERDICT r7 #7: the cache listing goes through the Hadoop FileSystem
    API, so a URI cache path (``file:///...`` here, standing in for the
    s3a://hdfs:// forms MIGRATION.md advertises) both WRITES and READS —
    os.listdir would have seen it as an always-empty, write-only cache."""
    from instructionspipe_spark.plans.cache import _list_cache_files, cached_llm_call

    cache_uri = "file://" + str(tmp_path / "uri_cache")
    df = spark.createDataFrame([(i, f"p{i % 3}") for i in range(9)], ["id", "p"])
    out1 = cached_llm_call(df, "p", "ans", MockLlm(), cache_path=cache_uri)
    got = {r["id"]: r["ans"] for r in out1.collect()}
    assert got[0] == _mock_md5("p0") and len(set(got.values())) == 3
    # the listing resolves through the FS API: fully-qualified part files
    files = _list_cache_files(spark, cache_uri)
    assert files and all(f.startswith("file:") and f.endswith(".parquet") for f in files)
    # second run is a pure cache hit: same answers, still exactly 3 keys
    # (the 0-row misses append may add an EMPTY part file; that's fine)
    out2 = cached_llm_call(df, "p", "ans", MockLlm(), cache_path=cache_uri)
    assert {r["id"]: r["ans"] for r in out2.collect()} == got
    assert set(files) <= set(_list_cache_files(spark, cache_uri))
    cached = spark.read.parquet(cache_uri)
    assert cached.select("cache_key").distinct().count() == 3


# -- compile once, bind many ---------------------------------------------------

_ROUTED_PIPE = Pipeline(
    stages=(
        (
            Instruction(name="a", scope=("text",), content="a", model="m1"),
            Instruction(name="lang", scope=("text", "lang"), content="b", model="m2"),
            Instruction(name="c", scope=("text", "lang"), content="c", model="m1"),
        ),
        (Instruction(name="r", scope=("a", "lang", "c"), content="r", model="m2"),),
    )
)
_SCOPE_PIPE = Pipeline(
    stages=(
        (
            Instruction(name="e", scope=(), content="e"),
            Instruction(name="n", scope=("missing", "lang"), content="n"),
        ),
    )
)
_ROUTED = {"m1": MockLlm("m1"), "m2": MockLlm("m2")}
_MSGS = "array<struct<role:string,content:string>>"

#: (pipeline, llm, keyword arguments) -> the schema and row digest that
#: run_pipeline produced before plans were compiled once per schema.
_PINNED = {
    "routed": (
        _ROUTED_PIPE, _ROUTED, {},
        "struct<id:int,text:string,lang:string,a:string,c:string,r:string,"
        "result:string,session_id:string>",
        "38da686979d9aac0",
    ),
    "routed_lineage": (
        _ROUTED_PIPE, _ROUTED, {"lineage": True},
        f"struct<id:int,text:string,lang:string,a:string,a__msgs:{_MSGS},"
        f"lang__msgs:{_MSGS},c:string,c__msgs:{_MSGS},r:string,r__msgs:{_MSGS},"
        "result:string,session_id:string>",
        "d0813e5c232b7a9e",
    ),
    "empty_and_null_scope": (
        _SCOPE_PIPE, MockLlm(), {"lineage": True},
        f"struct<id:int,text:string,lang:string,e:string,e__msgs:{_MSGS},"
        f"n:string,n__msgs:{_MSGS},result:string,session_id:string>",
        "6300681a81021c0f",
    ),
    "result_shadows_input": (
        _ROUTED_PIPE, _ROUTED, {"result_col": "text"},
        "struct<id:int,text:string,lang:string,a:string,c:string,r:string,session_id:string>",
        "4a88193d29e153c0",
    ),
}


def _parity_df(spark):
    # Row 4 is all-null and row 5 all semantic-null in n's scope.
    return spark.createDataFrame(
        [(1, "alpha", "en"), (2, None, "fr"), (3, "gamma", None), (4, None, None), (5, "N/A", "")],
        "id int, text string, lang string",
    )


def _digest(df) -> str:
    import json

    rows = sorted(json.dumps(r.asDict(recursive=True), sort_keys=True) for r in df.collect())
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]


@pytest.mark.parametrize("case", sorted(_PINNED))
def test_compiled_plan_matches_pinned_rows(spark, case):
    """A plan compiled from the schema alone and bound to a frame gives the
    rows and schema run_pipeline gave: lineage on and off, a two-model
    routed dict, an instruction name (``lang``) shadowing an input column,
    an empty and an all-null scope, a result column naming an input
    column. The compiled plan binds a second frame of the schema too."""
    from instructionspipe_spark.plans.compiler import compile_pipeline

    pipe, llm, kw, schema, digest = _PINNED[case]
    df = _parity_df(spark)
    plan = compile_pipeline(df.schema, pipe, llm, **kw)
    out = plan(df)
    assert out.schema.simpleString() == schema
    assert _digest(out) == digest
    assert _digest(run_pipeline(df, pipe, llm, **kw)) == digest
    again = plan(df.filter(F.col("id") <= 2))
    assert _digest(again) == _digest(out.filter(F.col("id") <= 2))


def test_compiled_stage_schema_matches_bound_frame(spark):
    """Each stage's output schema is derived in Python (answers are strings,
    lineage is ChatML); it names and types the columns the bound stage
    really has, which is what lets the next stage compile without analyzing
    a frame."""
    from instructionspipe_spark.plans.compiler import compile_stage

    df = _parity_df(spark).withColumn("tags", F.array(F.lit("x")))
    schema = df.schema
    for stage in _ROUTED_PIPE.stages:
        bind, schema = compile_stage(schema, stage, _ROUTED, lineage=True)
        df = bind(df)
        assert schema.simpleString() == df.schema.simpleString()  # nullability aside


def test_dotted_input_column(spark):
    """A dotted input column (``doc.id``) passes a stage by its literal name
    (rows pinned as for the other parity cases), and the pipeline's
    session_id hashes it under that name."""
    import json

    from instructionspipe_spark.plans.compiler import compile_pipeline, compile_stage

    df = _parity_df(spark).withColumnRenamed("id", "doc.id")
    bind, _ = compile_stage(df.schema, _ROUTED_PIPE.stages[0], _ROUTED, lineage=True)
    out = bind(df)
    assert out.columns[:3] == ["doc.id", "text", "lang"]
    assert _digest(out) == "1a1f334743e60e0b"
    [row] = compile_pipeline(df.schema, _ROUTED_PIPE, _ROUTED)(df).filter("`doc.id` = 1").collect()
    hashed = json.dumps({"doc.id": 1, "text": "alpha", "lang": row["lang"]}, separators=(",", ":"))
    assert row["session_id"] == hashlib.sha256(hashed.encode()).hexdigest()
