"""Drop-in twin of the reference's inference CLI
(``apps/instructions-mapreduce/inf.py``): one call takes the SAME config
JSON — ``in_data_path`` / ``out_data_path`` / ``chatml_path`` / ``llms`` /
``pipe`` (inline stages or a string path, ``inf.py:40-41``) — and runs
JSONL -> compiled pipeline -> JSONL outputs plus the two ChatML sidecars.

Differences from the reference, by design:

- Outputs are written by Spark, so each path becomes a DIRECTORY of part
  files (the distributed form of the reference's single append-mode file);
  read them back with ``spark.read.json(path)`` or any JSONL-glob reader.
- The reference's per-record try/except-continue becomes PERMISSIVE JSONL
  parsing (malformed lines null out instead of killing the job; pass
  ``corrupt_col`` through ``schema`` handling for a quarantine split).
- ``session_id`` is content-addressed (deterministic) rather than a uuid,
  so reruns are reproducible and the meta sidecar joins exactly.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from instructionspipe_spark.plans.compiler import run_pipeline
from instructionspipe_spark.plans.instructions import Pipeline, load_pipeline
from instructionspipe_spark.plans.llm_kernel import LlmClient, OpenAiLlm
from instructionspipe_spark.sources.io import multi_sink, read_jsonl, write_jsonl


def llms_from_config(configs: list[dict]) -> dict[str, LlmClient]:
    """The reference's ``utils.llms_init`` twin: a list of client configs
    (``api_url`` / ``model`` / ``temperature`` / ``top_p`` / ``seed`` —
    demo_configs/mapreduce_summ/ehr.json's ``llms`` section) becomes a
    ``{model_name: OpenAiLlm}`` dict, which ``run_pipeline`` uses for
    per-instruction multi-model routing (L3) exactly like the reference
    (``instructions_runners.py:83-86``)."""
    out: dict[str, LlmClient] = {}
    for c in configs:
        # None-checks, not `or`: explicit falsy values (top_p=0, seed=0,
        # temperature=0) must pass through verbatim like the reference's
        # llms_init does; `or` would silently replace them with defaults.
        out[c["model"]] = OpenAiLlm(
            model=c["model"],
            base_url=(c.get("api_url") or None),
            temperature=float(c["temperature"]) if c.get("temperature") is not None else 0.0,
            top_p=float(c["top_p"]) if c.get("top_p") is not None else 0.01,
            seed=int(c["seed"]) if c.get("seed") is not None else 2,
        )
    return out


def run_config(
    spark: SparkSession,
    config_path: str,
    llm: LlmClient | dict[str, LlmClient] | None = None,
    append_mode: bool = True,
    schema=None,
) -> DataFrame:
    """Execute one reference-shaped config end-to-end. The pipeline runs
    once and its result fans out to the out, chatml and meta sinks through
    ``multi_sink``. The returned DataFrame is lazy: an action on it re-runs
    the pipeline and its LLM calls, so read the sinks instead. ``llm``
    overrides the config's ``llms`` section (tests pass ``MockLlm()``);
    ``append_mode=False`` refuses to run if any output path already exists
    (reference CLI, ``inf.py:45-55``)."""
    with open(config_path) as f:
        cfg = json.load(f)
    pipe: Pipeline = load_pipeline(config_path)
    if not any(pipe.stages):
        raise ValueError(
            f"config {config_path!r} compiled to a zero-instruction pipe — "
            "nothing to run (and no ChatML sidecar rows to write)"
        )
    out_path = cfg["out_data_path"]
    chatml_path = cfg["chatml_path"]
    meta_path = chatml_path + ".meta.jsonl"
    if not append_mode:
        for p in (out_path, chatml_path, meta_path):
            if os.path.exists(p):
                raise FileExistsError(
                    f"output path exists (append_mode=False, reference inf.py:45-55): {p}"
                )
    if llm is None:
        llm = llms_from_config(cfg["llms"])

    records = read_jsonl(spark, cfg["in_data_path"], schema=schema)
    in_cols = list(records.columns)
    result = run_pipeline(records, pipe, llm, lineage=True)

    mode = "append" if append_mode else "overwrite"
    names = [i.name for stage in pipe.stages for i in stage]
    lineage_cols = {f"{n}__msgs" for n in names}
    # ChatML sidecar: one row per (record, instruction), like the
    # reference's outputs["chatmls"] stream — session_id ties rows to meta.
    chatml = F.inline(F.array(*[
        F.struct(F.lit(n).alias("name"), F.col(f"{n}__msgs").alias("chatml")) for n in names
    ]))
    multi_sink(result, {
        out_path: ([c for c in result.columns if c not in lineage_cols], mode),
        chatml_path: (["session_id", chatml], mode),
        meta_path: ([*in_cols, "session_id"], mode),
    }, write=write_jsonl)
    return result


def run_judge_config(
    spark: SparkSession,
    config_path: str,
    factuality_factory=None,
    eligibility_factory=None,
    schema=None,
):
    """Drop-in twin of the judge CLI (``apps/llm_as_a_judge/
    eval_with_facts.py``): the SAME config JSON — in/out paths, the
    field-name mapping (``in_text_field`` / ``out_text_field`` /
    ``instruction_field`` / ``gt_*_field``), ``max_sample_size``,
    ``extra_cols``, ``llms`` — judges every case for factuality AND
    eligibility with a per-model fan-out + mean ensemble, writes the
    result rows (reference output shape: scores, ground truths, texts,
    per-model rationale arrays, extras), and returns
    ``(results_df, metrics_df)`` where metrics is the ported per-name
    aggregation (``plans/judge.py::judge_metrics``).

    The two factories build the judge clients per model name; they default
    to the deterministic ``MockJudgeLlm`` twins (offline runs, tests) —
    pass factories wrapping ``OpenAiLlm`` with your judge system prompts
    for live judging."""
    from instructionspipe_spark.plans.judge import (
        MockJudgeLlm,
        eligibility_score,
        factuality_score,
        judge_metrics,
        run_judge_fanout,
    )

    with open(config_path) as f:
        cfg = json.load(f)
    factuality_factory = factuality_factory or MockJudgeLlm
    eligibility_factory = eligibility_factory or (
        lambda m: MockJudgeLlm(m, labels=("No Issues", "Minor Issue(s)"))
    )

    if not cfg.get("llms"):
        raise ValueError(
            f"config {config_path!r} has no 'llms' section — at least one "
            "judge model is required (the ensemble is a mean over models)"
        )
    cases = read_jsonl(spark, cfg["in_data_path"], schema=schema)
    if cfg.get("max_sample_size"):
        cases = cases.limit(int(cfg["max_sample_size"]))
    in_f, out_f, instr_f = (
        cfg["in_text_field"], cfg["out_text_field"], cfg["instruction_field"],
    )
    models = [c["model"] for c in cfg["llms"]]
    prompt = F.concat(
        F.lit("## Instruction\n"), F.coalesce(F.col(instr_f), F.lit("")),
        F.lit("\n\n## Source\n"), F.coalesce(F.col(in_f), F.lit("")),
        F.lit("\n\n## Generated\n"), F.coalesce(F.col(out_f), F.lit("")),
    )
    judged = cases.withColumn("__judge_prompt", prompt)
    judged = run_judge_fanout(
        judged, "__judge_prompt", models, id_cols=[],
        score_fn=factuality_score, llm_factory=factuality_factory,
        raw_col_out="factuality_rationales",
    ).withColumnRenamed("score", "factuality")
    judged = run_judge_fanout(
        judged, "__judge_prompt", models, id_cols=[],
        score_fn=eligibility_score, llm_factory=eligibility_factory,
        raw_col_out="eligibility_rationales",
    ).withColumnRenamed("score", "eligibility")

    gt_f, gt_e = cfg.get("gt_factuality_field"), cfg.get("gt_eligibility_field")
    cols = [
        F.col("factuality"),
        F.col("eligibility"),
        (F.col(gt_f) if gt_f and gt_f in cases.columns else F.lit(None).cast("double")).alias("gt_factuality"),
        (F.col(gt_e) if gt_e and gt_e in cases.columns else F.lit(None).cast("double")).alias("gt_eligibility"),
        F.col(in_f).alias("src_text"),
        F.col(out_f).alias("gen_text"),
        F.col(instr_f).alias("instruction"),
        F.col("factuality_rationales"),
        F.col("eligibility_rationales"),
    ]
    # extra_cols that are absent from the input are skipped (the reference
    # indexes the case dict and would KeyError; permissive here), and ones
    # colliding with a fixed output name are skipped too — a duplicate
    # column name would poison every downstream select.
    fixed = {
        "factuality", "eligibility", "gt_factuality", "gt_eligibility",
        "src_text", "gen_text", "instruction", "factuality_rationales",
        "eligibility_rationales", "name",
    }
    cols += [
        F.col(c) for c in dict.fromkeys(cfg.get("extra_cols") or ())
        if c in cases.columns and c not in fixed
    ]
    if "name" not in cases.columns:  # reference fallback: out["name"] = "n/a"
        cols.append(F.lit("n/a").alias("name"))
    else:
        cols.append(F.col("name"))
    results = judged.select(*cols)
    write_jsonl(results, cfg["out_data_path"], mode="overwrite")
    return results, judge_metrics(spark, results)


def run_etl_sampling_config(
    spark: SparkSession, config_path: str, schema=None
) -> DataFrame:
    """Drop-in twin of ``apps/etl/etl_sampling_by_key.py``: sequential
    single-key dedup over ``deduplication_keys`` (the reference's
    ``multi_deduplication``), then per-key capped sampling over
    ``sampling_keys`` at ``max_group_size`` (reference seed 2). The
    reference keeps the file-order first occurrence and draws
    ``random.sample``; a distributed engine has no file order, so both
    choices are DETERMINISTIC here (min-tiebreak survivor, seeded
    hash-order sample) — stable across runs and partitionings, which the
    reference's are not."""
    from instructionspipe_spark.operators.dedup import multi_key_dedup
    from instructionspipe_spark.operators.sampling import capped_group_sample

    with open(config_path) as f:
        cfg = json.load(f)
    df = read_jsonl(spark, cfg["in_data_path"], schema=schema)
    dedup_keys = cfg.get("deduplication_keys") or []
    if dedup_keys:
        tiebreak = [c for c in df.columns if c not in dedup_keys]
        df = multi_key_dedup(df, [[k] for k in dedup_keys], tiebreak)
    for key in cfg.get("sampling_keys") or []:
        df = capped_group_sample(
            df, [key], int(cfg["max_group_size"]), seed=int(cfg.get("seed") or 2)
        )
    write_jsonl(df, cfg["out_data_path"], mode="overwrite")
    return df


def run_etl_split_config(
    spark: SparkSession, config_path: str, schema=None
) -> DataFrame:
    """Drop-in twin of ``apps/etl/etl_split_data_by_key.py``: leak-free
    grouped train/val/test split — every ``instruction_name_col`` group
    lands wholly in one split, ratios from ``train_val_test_ratio`` —
    written to ``out_data_dir/{train,val,test}``. Returns the frame with
    its ``split`` column."""
    from instructionspipe_spark.operators.splitting import grouped_split

    with open(config_path) as f:
        cfg = json.load(f)
    df = read_jsonl(spark, cfg["in_data_path"], schema=schema)
    r = cfg["train_val_test_ratio"]
    ratios = {"train": float(r[0]), "val": float(r[1]), "test": float(r[2])}
    out = grouped_split(
        df, cfg["instruction_name_col"], ratios, seed=int(cfg.get("seed") or 2)
    )
    out.persist()  # one split pass feeds the three filtered writes
    try:
        for name in ratios:
            path = os.path.join(cfg["out_data_dir"], name)
            write_jsonl(out.filter(F.col("split") == name).drop("split"), path)
    finally:
        out.unpersist()
    return out


def run_etl_dedup_config(
    spark: SparkSession, config_path: str, schema=None
) -> DataFrame:
    """Drop-in twin of ``apps/etl/etl_slimpajama_dc_proc.py`` at its
    shipped configuration: per ``target_text_cols`` column, the
    ``low_length_filter`` minimums are applied, then MinHash-LSH
    near-dedup at ``lsh_threshold`` with ``minhash_permutation_num``
    permutations (char ``n_gram`` shingles, like the reference's
    CountVectorizer char analyzer; bands = num_perm/8 rows-per-band). The
    reference's insertion-order survivor maps to smallest synthetic
    ``__row_id`` — ``monotonically_increasing_id`` follows file/partition
    order, i.e. the same file-order semantics as the reference (stable for
    a fixed input layout; pass data with a real id column through
    ``operators.dedup`` directly when you need layout-independent
    survivors).

    ``most_dup`` semantics (etl_slimpajama_dc_proc.py:147-158): with the
    shipped ``most_dup=0`` the near-dedup is the order-free pair-drop +
    jaccard-verified :func:`minhash_lsh_dedup`; with ``most_dup > 0`` it is
    the faithful insertion-order greedy
    :func:`minhash_lsh_dedup_most_dup` — accept a doc while at most N
    previously-KEPT docs share an LSH bucket (banding-only candidates,
    exactly the reference's ``query_with_n_grams``)."""
    from instructionspipe_spark.operators.dedup import (
        minhash_lsh_dedup,
        minhash_lsh_dedup_most_dup,
    )

    with open(config_path) as f:
        cfg = json.load(f)
    most_dup = int(cfg.get("most_dup") or 0)
    df = read_jsonl(spark, cfg["in_data_path"], schema=schema) if "in_data_path" in cfg \
        else read_jsonl(spark, cfg["data_path_or_name"], schema=schema)
    for col, min_len in (cfg.get("low_length_filter") or {}).items():
        df = df.filter(F.length(F.coalesce(F.col(col), F.lit(""))) >= int(min_len))
    id_col = "__row_id"
    df = df.withColumn(id_col, F.monotonically_increasing_id())
    num_perm = int(cfg.get("minhash_permutation_num") or 128)
    bands = max(1, num_perm // 8)
    ngram = int(cfg.get("n_gram") or 3)
    for col in cfg.get("target_text_cols") or []:
        if most_dup > 0:
            df = minhash_lsh_dedup_most_dup(
                df, id_col, col,
                most_dup=most_dup, num_perm=num_perm, bands=bands, ngram=ngram,
            )
        else:
            df = minhash_lsh_dedup(
                df, id_col, col,
                num_perm=num_perm, bands=bands, ngram=ngram,
                threshold=float(cfg.get("lsh_threshold") or 0.5),
            )
    df = df.drop(id_col)
    write_jsonl(df, cfg["output_path"], mode="overwrite")
    return df


def run_agentic_config(
    spark: SparkSession,
    config_path: str,
    df: DataFrame | None = None,
    llms: dict[str, LlmClient] | None = None,
    scope_cols: tuple[str, ...] = ("request",),
) -> DataFrame:
    """Drop-in twin of the agentic-MR PoC (``apps/poc-agentic-mr/
    agentic_mr.py``): the config's ``demo.instructions`` (name / content /
    task) become Instructions, ``demo.agents`` wires each task to its LLM
    (resolved from the ``llms`` section by model name, or the ``llms``
    override), and :func:`plans.agentic.agentic_map` fans the instructions
    out per task kernel, merging per-record ``agent_results``.

    The reference PoC has no input records (each instruction IS the
    workload); with ``df=None`` a single marker record is used, so each
    instruction produces one completion — pass a real frame plus
    ``scope_cols`` to run the same agent graph over data. The config's
    ``langchain``/LangSmith tracing block has no engine analog: lineage
    here is the ChatML columns and the content-addressed session ids."""
    from instructionspipe_spark.plans.agentic import agentic_map
    from instructionspipe_spark.plans.compiler import run_stage

    with open(config_path) as f:
        cfg = json.load(f)
    demo = cfg["demo"]
    instructions = tuple(
        Pipeline.from_dict({"pipe": [[
            dict(i, scope=list(scope_cols)) for i in demo["instructions"]
        ]]}).stages[0]
    )
    task_of = {i["name"]: i.get("task", "default") for i in demo["instructions"]}
    clients = llms or llms_from_config(cfg.get("llms") or [])
    if not clients:
        raise ValueError(
            f"config {config_path!r} has no 'llms' section and no llms= "
            "override was passed — at least one client is required to run "
            "the agent graph"
        )
    if not demo.get("instructions"):
        raise ValueError(
            f"config {config_path!r} has an empty 'demo.instructions' list"
        )
    agents = demo.get("agents") or {}

    def kernel_for(task: str):
        model = (agents.get(task) or {}).get("llm")
        task_llm = clients.get(model) if model else None
        if task_llm is None:  # unconfigured agent: first client, like llms_init
            task_llm = next(iter(clients.values()))
        return lambda d, instrs, _llm, __llm=task_llm: run_stage(d, instrs, __llm)

    kernels = {t: kernel_for(t) for t in agents}
    if df is None:
        df = spark.createDataFrame([("go",)], list(scope_cols))
    return agentic_map(
        df,
        instructions,
        next(iter(clients.values())),
        kernels=kernels,
        task_of=lambda i: task_of.get(i.name, "default"),
    )


def run_cost_config(
    spark: SparkSession, config_path: str, token_counter=None, schema=None
) -> DataFrame:
    """Drop-in twin of ``apps/cost_estimator_inf.py``: the SAME config
    (tokenizer, in_data_path, encoding_cols, io_length_ratio,
    max_sample_size, inf_sample_size, per-1M prices) estimates inference
    cost from a sample. Encoding text per row mirrors the reference's
    extraction exactly — string columns verbatim; ChatML-array columns as
    ``role:\\ncontent`` turns WITHOUT the last turn (the assistant slot
    being priced, ``cost_estimator_inf.py:27-30``); columns joined by
    blank lines. ``token_counter`` maps a text Column to a token count —
    default is the engine's expression token heuristic
    (``operators.token_count``); pass
    ``textstats.token_count_hf(tokenizer_factory=...)``-style counters
    for exact HF tokenization. Returns the 1-row estimate frame."""
    from instructionspipe_spark.operators import token_count

    with open(config_path) as f:
        cfg = json.load(f)
    token_counter = token_counter or token_count
    df = read_jsonl(spark, cfg["in_data_path"], schema=schema)
    if cfg.get("max_sample_size"):
        df = df.limit(int(cfg["max_sample_size"]))

    parts = []
    for col in cfg["encoding_cols"]:
        if col not in df.columns:
            continue
        dt = df.schema[col].dataType.simpleString()
        if dt.startswith("array"):
            turns = F.slice(F.col(col), 1, F.greatest(F.size(F.col(col)) - 1, F.lit(0)))
            parts.append(
                F.concat_ws(
                    "",
                    F.transform(
                        turns,
                        lambda t: F.concat(t["role"], F.lit(":\n"), t["content"], F.lit("\n\n")),
                    ),
                )
            )
        else:
            parts.append(F.coalesce(F.col(col).cast("string"), F.lit("")))
    text = F.regexp_replace(
        F.regexp_replace(F.concat_ws("\n\n", *parts), r"\n+$", ""), r"^\n+", ""
    )
    toks = df.select(token_counter(text).cast("double").alias("__n"))

    ratio = float(cfg["io_length_ratio"])
    n_inf = float(cfg["inf_sample_size"])
    enc_p, dec_p = float(cfg["encoding_price_per_1m"]), float(cfg["decoding_price_per_1m"])
    return toks.agg(
        F.avg("__n").alias("avg_encoding_tokens"),
        (F.avg("__n") * ratio).alias("avg_decoding_tokens"),
        (F.lit(n_inf) * F.avg("__n") / F.lit(1e6) * F.lit(enc_p)).alias("estimated_encoding_cost"),
        (F.lit(n_inf) * F.avg("__n") * ratio / F.lit(1e6) * F.lit(dec_p)).alias("estimated_decoding_cost"),
    )


def run_example2template_config(
    spark: SparkSession,
    config_path: str,
    llm: LlmClient | None = None,
    pdf_fn=None,
) -> DataFrame:
    """Drop-in twin of the instruction-generation PoC
    (``apps/poc-instruction-gen/run_example2template.py``): the config's
    ``in_data_path`` PDF is rendered to per-page images
    (``operators.multimodal.pdf_to_page_images`` — pypdfium2 when present,
    else pass ``pdf_fn``), each page runs a pdf->markdown instruction
    (the reference's ``agent_pdf2md``), pages reassemble into one document
    in page order, and a plan-generation instruction produces the
    instruction template from it (``agent_plan_gen``). Returns one row per
    source PDF: ``(path, doc_md, template)``.

    The reference posts page images to a MULTIMODAL chat model; this twin
    scopes the base64 page into the prompt through the standard compiler
    seam — swap ``llm`` for a vision-capable client and the same plan
    carries the payload. The config's LangSmith block has no engine analog."""
    from instructionspipe_spark.operators.multimodal import pdf_to_page_images
    from instructionspipe_spark.plans.compiler import run_stage
    from instructionspipe_spark.plans.instructions import Instruction
    from instructionspipe_spark.plans.llm_kernel import MockLlm

    with open(config_path) as f:
        cfg = json.load(f)
    if llm is None:
        clients = llms_from_config(cfg.get("llms") or [])
        llm = next(iter(clients.values())) if clients else MockLlm()

    pdfs = spark.read.format("binaryFile").load(cfg["in_data_path"]).select(
        "path", "content"
    )
    pages = pdf_to_page_images(pdfs, "content", pdf_fn=pdf_fn)
    pages = pages.withColumn("page_b64", F.base64(F.col("content")))
    pdf2md = Instruction(
        name="page_md",
        scope=("page_b64",),
        role="document transcriber",
        content="Convert this report page image to markdown.",
        output_fmt="markdown",
    )
    with_md = run_stage(pages, (pdf2md,), llm)
    docs = with_md.groupBy("path").agg(
        F.concat_ws(
            "\n\n", F.array_sort(F.collect_list(F.struct("page_index", "page_md"))).page_md
        ).alias("doc_md")
    )
    plan_gen = Instruction(
        name="template",
        scope=("doc_md",),
        role="instruction designer",
        content="Generate a reusable instruction template from this example report.",
        output_fmt="json",
    )
    return run_stage(docs, (plan_gen,), llm).select("path", "doc_md", "template")


def run_tableqa_config(
    spark: SparkSession,
    config_path: str,
    code_fn=None,
    run_fn=None,
    schema=None,
) -> DataFrame:
    """Drop-in twin of the TableQA CodeAct PoC's OFFLINE mode
    (``apps/poc-codaact-tableqa/tableqa_codeact.py`` + its config's
    ``inf_offline`` block): ``in_data_path`` rows carry a table/context
    column (``in_text_col``) and a question (``instruction_col``); each
    runs the CodeAct write-code / observe / retry loop
    (``plans/codeact.py::codeact_qa``) and the answers append-write to
    ``out_data_path``. ``code_fn`` maps the ChatML history to the next
    code attempt (an LLM client in production, a deterministic stub in
    tests); ``run_fn`` overrides the subprocess sandbox (which is
    feature-flagged off the data plane: ``SPARK_GRAFT_ENABLE_CODEACT=1``).
    The config's ``serving_http`` block maps to ``serving.py`` (same
    compiled plan behind HTTP); LangSmith has no engine analog."""
    from instructionspipe_spark.plans.codeact import codeact_qa

    with open(config_path) as f:
        cfg = json.load(f)
    off = cfg["inf_offline"]
    df = read_jsonl(spark, off["in_data_path"], schema=schema)
    out = codeact_qa(
        df,
        question_col=off["instruction_col"],
        context_col=off["in_text_col"],
        code_fn=code_fn,
        run_fn=run_fn,
    )
    write_jsonl(out, off["out_data_path"], mode="append")
    return out
