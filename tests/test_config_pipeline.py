"""Golden test: JSON config -> Pipeline -> DataFrame plan, mirroring the
reference's demo config shape (demo_configs/mapreduce_summ/ehr.json: a
"pipe" of [map_conf, reduce_conf] instruction lists — SURVEY.md §3.1)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from instructionspipe_spark.plans.compiler import run_pipeline
from instructionspipe_spark.plans.instructions import load_pipeline
from instructionspipe_spark.plans.llm_kernel import MockLlm

# Same structure as the reference's EHR config, content our own: two map
# instructions over record fields, one reduce over the map outputs.
CONFIG = {
    "pipe": [
        [
            {
                "name": "medication_history",
                "scope": ["encounters", "labs"],
                "role": "clinical summarizer",
                "content": "Summarize the medication history.",
                "output_fmt": "markdown",
            },
            {
                "name": "allergies",
                "scope": ["notes"],
                "content": "List known allergies.",
            },
        ],
        [
            {
                "name": "summary",
                "scope": ["medication_history", "allergies"],
                "role": "editor",
                "content": "Merge into a patient summary.",
            }
        ],
    ]
}


def test_config_roundtrip_and_run(spark, tmp_path):
    path = tmp_path / "config.json"
    path.write_text(json.dumps(CONFIG))
    pipe = load_pipeline(str(path))
    assert len(pipe.stages) == 2
    assert [i.name for i in pipe.stages[0]] == ["medication_history", "allergies"]
    assert pipe.stages[1][0].scope == ("medication_history", "allergies")

    records = spark.createDataFrame(
        [
            (1, "visit 2024-01-01: prescribed X", "lab ok", "allergic to penicillin"),
            (2, "visit 2024-02-02: prescribed Y", None, ""),
        ],
        ["patient_id", "encounters", "labs", "notes"],
    )
    out = run_pipeline(records, pipe, MockLlm())
    rows = {r["patient_id"]: r for r in out.collect()}
    # map outputs exist wherever scope had valid content
    assert rows[1]["medication_history"] is not None
    assert rows[1]["allergies"] is not None
    # patient 2: notes is semantic-null "" -> allergies skipped (P6)
    assert rows[2]["allergies"] is None
    assert rows[2]["medication_history"] is not None
    # reduce consumed the map outputs of the same row; final markdown report
    assert rows[1]["result"] == f"# summary\n{rows[1]['summary']}"
    # lineage stamp is stable and content-addressed
    assert rows[1]["session_id"] != rows[2]["session_id"]
    again = {r["patient_id"]: r["session_id"] for r in run_pipeline(records, pipe, MockLlm()).collect()}
    assert again[1] == rows[1]["session_id"]


def test_config_directory_mode(spark, tmp_path):
    """S5 directory mode (reference inf.py:90-102): a directory of *.json
    configs loads every pipeline (sorted by filename), non-json entries
    skipped; each loaded pipeline runs end-to-end."""
    from instructionspipe_spark.plans.instructions import load_pipelines

    second = {
        "pipe": [
            [{"name": "keywords", "scope": ["notes"], "content": "List keywords."}]
        ]
    }
    cdir = tmp_path / "configs"
    cdir.mkdir()
    (cdir / "b_second.json").write_text(json.dumps(second))
    (cdir / "a_first.json").write_text(json.dumps(CONFIG))
    (cdir / "README.txt").write_text("not a config")

    pipes = load_pipelines(str(cdir))
    assert len(pipes) == 2
    # sorted filename order: a_first (the 2-stage EHR config) then b_second
    assert len(pipes[0].stages) == 2 and len(pipes[1].stages) == 1
    assert pipes[1].stages[0][0].name == "keywords"

    records = spark.createDataFrame(
        [(1, "visit: prescribed X", "lab ok", "allergic to penicillin")],
        ["patient_id", "encounters", "labs", "notes"],
    )
    for pipe in pipes:
        assert run_pipeline(records, pipe, MockLlm()).first()["result"] is not None

    # single-file path still yields exactly one pipeline
    single = tmp_path / "one.json"
    single.write_text(json.dumps(second))
    assert len(load_pipelines(str(single))) == 1

    import pytest

    empty = tmp_path / "empty"
    empty.mkdir()
    with pytest.raises(FileNotFoundError):
        load_pipelines(str(empty))


def test_reference_demo_configs_load_verbatim(spark):
    """Config-compat regression: the REFERENCE's actual shipped demo
    configs (demo_configs/mapreduce_summ/ehr.json, ehr_v1.json — read-only
    fixtures, not copies) must parse through load_pipeline with every
    instruction, scope, and stage intact, and the parsed pipeline must
    compile and run end-to-end under MockLlm. This is the literal
    switch-over path of MIGRATION.md's core example."""
    import os

    ref_dir = "/root/reference/demo_configs/mapreduce_summ"
    if not os.path.isdir(ref_dir):  # reference checkout absent: nothing to pin
        import pytest

        pytest.skip("reference demo configs not present")

    for fname in ("ehr.json", "ehr_v1.json"):
        raw = json.load(open(os.path.join(ref_dir, fname)))
        if isinstance(raw["pipe"], str):  # ehr_v1's indirection (inf.py:40-41)
            raw["pipe"] = json.load(
                open(os.path.join(ref_dir, os.path.basename(raw["pipe"])))
            )
        pipe = load_pipeline(os.path.join(ref_dir, fname))
        assert len(pipe.stages) == len(raw["pipe"])
        for stage, raw_stage in zip(pipe.stages, raw["pipe"]):
            assert [i.name for i in stage] == [c["name"] for c in raw_stage]
            for instr, conf in zip(stage, raw_stage):
                if conf.get("scope"):
                    assert list(instr.scope) == list(conf["scope"])

    pipe = load_pipeline(os.path.join(ref_dir, "ehr.json"))
    map_scopes = sorted({c for s in pipe.stages[0] for c in s.scope})
    df = spark.createDataFrame(
        [tuple(f"val {c}" for c in map_scopes)], map_scopes
    )
    out = run_pipeline(df, pipe, MockLlm()).first()
    final_names = [i.name for i in pipe.stages[-1]]
    assert all(out[n] is not None for n in final_names)
    assert out["result"].startswith("# " + final_names[0])


def test_run_config_cli_twin(spark, tmp_path, monkeypatch):
    """plans/runner.py run_config = the reference CLI
    (apps/instructions-mapreduce/inf.py) in one call: a reference-shaped
    config (in/out/chatml paths + llms + pipe) runs JSONL -> pipeline ->
    JSONL + ChatML sidecars, compiling the pipeline once. MockLlm override;
    outputs are Spark part-file directories."""
    from instructionspipe_spark.plans import compiler
    from instructionspipe_spark.plans.runner import llms_from_config, run_config

    compiles = []
    real = compiler.compile_pipeline
    monkeypatch.setattr(
        compiler, "compile_pipeline", lambda *a, **k: compiles.append(a[0]) or real(*a, **k)
    )

    src = tmp_path / "in.jsonl"
    src.write_text(
        '{"id": 1, "notes": "peanut allergy", "encounters": "er visit", "labs": "a1c"}\n'
        '{"id": 2, "notes": "none", "encounters": "checkup", "labs": "cbc"}\n'
    )
    cfg = {
        "in_data_path": str(src),
        "out_data_path": str(tmp_path / "out.jsonl"),
        "chatml_path": str(tmp_path / "chatml.jsonl"),
        "llms": [
            {"api_type": "openai", "api_url": "http://0.0.0.0:1/v1",
             "api_key": "null", "model": "m1", "temperature": 0.05,
             "top_p": 0.05, "seed": 2}
        ],
        "pipe": CONFIG["pipe"],
    }
    cfg_path = tmp_path / "run.json"
    cfg_path.write_text(json.dumps(cfg))

    # llms section parses into routing clients (not called here).
    clients = llms_from_config(cfg["llms"])
    assert set(clients) == {"m1"} and clients["m1"].temperature == 0.05

    result = run_config(spark, str(cfg_path), llm=MockLlm(), append_mode=False)
    assert len(compiles) == 1
    rows = {r["id"]: r for r in result.collect()}
    assert set(rows) == {1, 2}
    assert rows[1]["summary"] is not None and rows[1]["result"].startswith("# summary")

    out_back = spark.read.json(cfg["out_data_path"])
    assert out_back.count() == 2 and "summary" in out_back.columns
    assert "summary__msgs" not in out_back.columns  # lineage lives in the sidecar
    chatml = spark.read.json(cfg["chatml_path"])
    # one row per (record, instruction): 2 records x 3 instructions
    assert chatml.count() == 6
    assert set(r["name"] for r in chatml.select("name").distinct().collect()) == {
        "medication_history", "allergies", "summary"
    }
    meta = spark.read.json(cfg["chatml_path"] + ".meta.jsonl")
    assert meta.count() == 2 and "session_id" in meta.columns
    # meta joins chatml on the content-addressed session_id
    assert chatml.join(meta, "session_id").count() == 6

    # append_mode=False refuses to clobber (reference inf.py:45-55)
    import pytest

    with pytest.raises(FileExistsError):
        run_config(spark, str(cfg_path), llm=MockLlm(), append_mode=False)


def test_run_judge_config_cli_twin(spark, tmp_path):
    """plans/runner.py run_judge_config = the judge CLI
    (apps/llm_as_a_judge/eval_with_facts.py) in one call, over its
    reference-shaped config (field mapping, max_sample_size, extra_cols,
    llms). MockJudgeLlm fan-out; metrics from the ported per-name SQL."""
    from instructionspipe_spark.plans.runner import run_judge_config

    src = tmp_path / "cases.jsonl"
    src.write_text(
        '{"id": 1, "name": "summ", "in_text": "src a", "out_text": "gen a", "instruction": "summarize", "gt_factuality": 1.0, "gt_eligibility": 1.0}\n'
        '{"id": 2, "name": "summ", "in_text": "src b", "out_text": "gen b", "instruction": "summarize", "gt_factuality": null, "gt_eligibility": null}\n'
        '{"id": 3, "name": "kw", "in_text": "src c", "out_text": "gen c", "instruction": "keywords", "gt_factuality": 0.0, "gt_eligibility": 0.25}\n'
    )
    cfg = {
        "in_data_path": str(src),
        "out_data_path": str(tmp_path / "results.jsonl"),
        "in_text_field": "in_text",
        "out_text_field": "out_text",
        "instruction_field": "instruction",
        "gt_factuality_field": "gt_factuality",
        "gt_eligibility_field": "gt_eligibility",
        "max_sample_size": 10,
        "extra_cols": ["id"],
        "llms": [{"model": "judge-a"}, {"model": "judge-b"}],
    }
    cfg_path = tmp_path / "judge.json"
    cfg_path.write_text(json.dumps(cfg))

    results, metrics = run_judge_config(spark, str(cfg_path))
    rows = {r["id"]: r for r in results.collect()}
    assert set(rows) == {1, 2, 3}
    for r in rows.values():
        # 2-model mean of {0, 1} scores -> {0.0, 0.5, 1.0}
        assert r["factuality"] in (0.0, 0.5, 1.0)
        assert 0.0 <= r["eligibility"] <= 1.0
        assert len(r["factuality_rationales"]) == 2
        assert len(r["eligibility_rationales"]) == 2
    assert rows[1]["gt_factuality"] == 1.0 and rows[2]["gt_factuality"] is None
    assert rows[1]["src_text"] == "src a" and rows[1]["gen_text"] == "gen a"

    m = {r["name"]: r for r in metrics.collect()}
    assert set(m) == {"summ", "kw"} and m["summ"]["n"] == 2 and m["kw"]["n"] == 1
    for r in m.values():
        assert 0.0 <= r["avg_factuality"] <= 1.0

    # results landed on disk in the reference's output shape
    back = spark.read.json(cfg["out_data_path"])
    assert back.count() == 3 and {"factuality", "eligibility", "name"} <= set(back.columns)

    # determinism: a second run reproduces scores exactly
    results2, _ = run_judge_config(spark, str(cfg_path))
    assert sorted((r["id"], r["factuality"], r["eligibility"]) for r in results2.collect()) == \
           sorted((r["id"], r["factuality"], r["eligibility"]) for r in results.collect())


def test_run_etl_configs_cli_twins(spark, tmp_path):
    """plans/runner.py ETL twins over reference-shaped configs:
    sampling-by-key (sequential dedup + capped groups), split-by-key
    (leak-free grouped train/val/test into out_data_dir subdirs), and the
    slimpajama dedup processor (length filter + MinHash near-dedup)."""
    from instructionspipe_spark.plans.runner import (
        run_etl_dedup_config,
        run_etl_sampling_config,
        run_etl_split_config,
    )

    # --- sampling by key ---------------------------------------------------
    src = tmp_path / "samp.jsonl"
    src.write_text(
        "\n".join(
            json.dumps({"col1": f"g{i % 2}", "col2": f"d{i % 4}", "v": i})
            for i in range(12)
        )
    )
    cfg = {
        "in_data_path": str(src),
        "out_data_path": str(tmp_path / "samp_out.jsonl"),
        "sampling_keys": ["col1"],
        "deduplication_keys": ["col2"],
        "max_group_size": 3,
    }
    p = tmp_path / "samp.json"
    p.write_text(json.dumps(cfg))
    out = run_etl_sampling_config(spark, str(p))
    rows = out.collect()
    # dedup on col2 leaves 4 rows (one per d0..d3); caps are then no-ops
    assert len(rows) == 4
    assert spark.read.json(cfg["out_data_path"]).count() == 4
    # cap enforcement: without dedup, each col1 group (6 rows) caps at 3
    cfg2 = dict(cfg, deduplication_keys=[], out_data_path=str(tmp_path / "samp_out2.jsonl"))
    p2 = tmp_path / "samp2.json"
    p2.write_text(json.dumps(cfg2))
    out2 = run_etl_sampling_config(spark, str(p2))
    by_g = {r["col1"]: 0 for r in out2.collect()}
    for r in out2.collect():
        by_g[r["col1"]] += 1
    assert by_g == {"g0": 3, "g1": 3}

    # --- split by key ------------------------------------------------------
    src2 = tmp_path / "split.jsonl"
    src2.write_text(
        "\n".join(
            json.dumps({"name": f"instr{i % 10}", "v": i}) for i in range(100)
        )
    )
    cfg3 = {
        "in_data_path": str(src2),
        "out_data_dir": str(tmp_path / "tvt"),
        "seed": 2,
        "instruction_name_col": "name",
        "train_val_test_ratio": [0.8, 0.1, 0.1],
    }
    p3 = tmp_path / "split.json"
    p3.write_text(json.dumps(cfg3))
    out3 = run_etl_split_config(spark, str(p3))
    # leak-free: each name lands wholly in one split
    leaks = (
        out3.groupBy("name").agg(F.count_distinct("split").alias("n"))
        .filter(F.col("n") > 1).count()
    )
    assert leaks == 0
    import os as _os

    total = 0
    for name in ("train", "val", "test"):
        d = _os.path.join(cfg3["out_data_dir"], name)
        assert _os.path.isdir(d)
        total += spark.read.json(d).count()
    assert total == 100

    # --- slimpajama dedup processor -----------------------------------------
    src3 = tmp_path / "dc.jsonl"
    docs = [
        {"findings": "the quick brown fox jumps over the lazy dog " * 3 + "v1"},
        {"findings": "the quick brown fox jumps over the lazy dog " * 3 + "v2"},  # near-dup
        {"findings": "completely different clinical findings text entirely"},
        {"findings": "x"},  # below low_length_filter
    ]
    src3.write_text("\n".join(json.dumps(d) for d in docs))
    cfg4 = {
        "data_path_or_name": str(src3),
        "target_text_cols": ["findings"],
        "n_gram": 7,
        "minhash_permutation_num": 128,
        "lsh_threshold": 0.6,
        "most_dup": 0,
        "low_length_filter": {"findings": 2},
        "output_path": str(tmp_path / "dc_out.jsonl"),
    }
    p4 = tmp_path / "dc.json"
    p4.write_text(json.dumps(cfg4))
    out4 = run_etl_dedup_config(spark, str(p4))
    texts = [r["findings"] for r in out4.collect()]
    assert len(texts) == 2  # short doc filtered, one of the near-dup pair removed
    assert any(t.startswith("completely different") for t in texts)
    assert sum(t.startswith("the quick brown fox") for t in texts) == 1

    # most_dup=2 (implemented r8): every doc in this corpus has at most
    # 1 previously-kept near-match, so nothing beyond the length filter drops
    cfg5 = dict(cfg4, most_dup=2, output_path=str(tmp_path / "dc_out2.jsonl"))
    p5 = tmp_path / "dc2.json"
    p5.write_text(json.dumps(cfg5))
    out5 = run_etl_dedup_config(spark, str(p5))
    texts5 = [r["findings"] for r in out5.collect()]
    assert sum(t.startswith("the quick brown fox") for t in texts5) == 2


def test_run_agentic_config_cli_twin(spark, tmp_path):
    """plans/runner.py run_agentic_config over the agentic-MR PoC's config
    shape (demo.instructions with task routing + demo.agents): each
    instruction completes through its task's agent; with no input frame a
    single marker record stands in for the reference's record-free PoC."""
    from instructionspipe_spark.plans.llm_kernel import MockLlm
    from instructionspipe_spark.plans.runner import run_agentic_config

    cfg = {
        "langchain": {"langsmith_tracing": True},
        "llms": [{"model": "m-default", "api_url": "http://0.0.0.0:1/v1"}],
        "demo": {
            "instructions": [
                {"name": "tell story", "content": "tell me a story.", "task": "content_gen"},
                {"name": "one plus one", "content": "1 + 1", "task": "basic_math"},
            ],
            "agents": {
                "content_gen": {"llm": "gen-model"},
                "basic_math": {"llm": "math-model"},
            },
        },
    }
    p = tmp_path / "agentic.json"
    p.write_text(json.dumps(cfg))
    llms = {"gen-model": MockLlm("gen-model"), "math-model": MockLlm("math-model")}
    out = run_agentic_config(spark, str(p), llms=llms)
    row = out.first()
    results = row["agent_results"]
    assert set(results) == {"tell story", "one plus one"}
    # task routing is observable: same user message, different model hashes
    assert results["tell story"] != results["one plus one"]
    # rerun reproduces exactly (deterministic agents)
    assert run_agentic_config(spark, str(p), llms=llms).first()["agent_results"] == results


def test_run_cost_config_cli_twin(spark, tmp_path):
    """plans/runner.py run_cost_config over the reference cost-estimator
    config shape: string + ChatML-array encoding columns (last turn
    dropped, reference cost_estimator_inf.py:27-30), sample cap, and the
    avg-tokens -> scaled-price arithmetic."""
    from instructionspipe_spark.plans.runner import run_cost_config

    src = tmp_path / "cases.jsonl"
    src.write_text(
        json.dumps({
            "context": "four words of context",
            "chatmls": [
                {"role": "system", "content": "be brief"},
                {"role": "user", "content": "hello there"},
                {"role": "assistant", "content": "DROPPED LAST TURN"},
            ],
        }) + "\n" +
        json.dumps({"context": "two words", "chatmls": []}) + "\n"
    )
    cfg = {
        "tokenizer": "whatever/unused-by-expression-counter",
        "in_data_path": str(src),
        "encoding_cols": ["context", "chatmls"],
        "io_length_ratio": 0.7,
        "max_sample_size": 500,
        "inf_sample_size": 20000,
        "encoding_price_per_1m": 0.15,
        "decoding_price_per_1m": 0.60,
    }
    p = tmp_path / "cost.json"
    p.write_text(json.dumps(cfg))
    row = run_cost_config(spark, str(p)).first()
    assert row["avg_encoding_tokens"] > 0
    assert abs(row["avg_decoding_tokens"] - 0.7 * row["avg_encoding_tokens"]) < 1e-9
    assert abs(
        row["estimated_encoding_cost"]
        - 20000 * row["avg_encoding_tokens"] / 1e6 * 0.15
    ) < 1e-9
    assert abs(
        row["estimated_decoding_cost"]
        - 20000 * row["avg_decoding_tokens"] / 1e6 * 0.60
    ) < 1e-9

    # the dropped last ChatML turn is genuinely excluded: pricing with an
    # extra assistant turn appended must NOT change the token count
    src2 = tmp_path / "cases2.jsonl"
    src2.write_text(
        json.dumps({
            "context": "four words of context",
            "chatmls": [
                {"role": "system", "content": "be brief"},
                {"role": "user", "content": "hello there"},
                {"role": "assistant", "content": "A DIFFERENT, MUCH LONGER FINAL TURN ENTIRELY"},
            ],
        }) + "\n" +
        json.dumps({"context": "two words", "chatmls": []}) + "\n"
    )
    cfg2 = dict(cfg, in_data_path=str(src2))
    p2 = tmp_path / "cost2.json"
    p2.write_text(json.dumps(cfg2))
    row2 = run_cost_config(spark, str(p2)).first()
    assert row2["avg_encoding_tokens"] == row["avg_encoding_tokens"]


def test_run_example2template_config_cli_twin(spark, tmp_path):
    """plans/runner.py run_example2template_config over the PoC's config
    shape: PDF binary -> per-page render (injected fake) -> per-page
    pdf2md instruction -> page-ordered reassembly -> plan-gen template.
    Deterministic under MockLlm; page order is pinned by the sort."""
    from instructionspipe_spark.plans.llm_kernel import MockLlm
    from instructionspipe_spark.plans.runner import run_example2template_config

    pdf = tmp_path / "example.pdf"
    pdf.write_bytes(b"%PDF-fake-report")
    cfg = {
        "in_data_path": str(pdf),
        "workspace": str(tmp_path / "ws"),
        "langchain": {"langsmith_tracing": False},
        "llms": [],
    }
    p = tmp_path / "e2t.json"
    p.write_text(json.dumps(cfg))

    def fake_pdf(data: bytes, dpi: int):
        return [data + b"-page0", data + b"-page1", data + b"-page2"]

    out = run_example2template_config(
        spark, str(p), llm=MockLlm(), pdf_fn=fake_pdf
    ).collect()
    assert len(out) == 1
    row = out[0]
    # three pages transcribed, reassembled in page order (md5 hashes differ
    # per page, joined by blank lines)
    assert row["doc_md"].count("\n\n") == 2
    assert len(set(row["doc_md"].split("\n\n"))) == 3
    assert row["template"] is not None
    # deterministic rerun
    again = run_example2template_config(
        spark, str(p), llm=MockLlm(), pdf_fn=fake_pdf
    ).first()
    assert again["doc_md"] == row["doc_md"] and again["template"] == row["template"]


def test_run_tableqa_config_cli_twin(spark, tmp_path):
    """plans/runner.py run_tableqa_config over the TableQA PoC's
    inf_offline config block: context + question columns through the
    CodeAct loop kernel (deterministic stub code_fn/run_fn — the real
    sandbox stays feature-flagged), answers appended to out_data_path."""
    from instructionspipe_spark.plans.runner import run_tableqa_config

    src = tmp_path / "vitals.jsonl"
    src.write_text(
        '{"id": 1, "vitals_note": "hr 60 bp 120/80", "query_task": "max hr?"}\n'
        '{"id": 2, "vitals_note": "hr 90 bp 130/85", "query_task": "min bp?"}\n'
    )
    cfg = {
        "llms": [],
        "inf_offline": {
            "in_data_path": str(src),
            "out_data_path": str(tmp_path / "state.jsonl"),
            "in_text_col": "vitals_note",
            "instruction_col": "query_task",
            "model": "stub",
        },
        "serving_http": {"port": 0},
    }
    p = tmp_path / "tqa.json"
    p.write_text(json.dumps(cfg))
    out = run_tableqa_config(
        spark, str(p),
        code_fn=lambda msgs: "answer: " + msgs[1]["content"].split("?")[0].split("\n")[-1],
        run_fn=lambda code: "",
    )
    got = {r["id"]: r for r in out.collect()}
    assert set(got) == {1, 2}
    assert all(r["answer"].startswith("answer: ") and r["rounds"] == 1 for r in got.values())
    back = spark.read.json(cfg["inf_offline"]["out_data_path"])
    assert back.count() == 2 and "answer" in back.columns


def test_llms_from_config_honors_explicit_falsy_values():
    """ADVICE r7: explicit top_p=0 / seed=0 / temperature=0 must pass
    through verbatim (the reference's llms_init does not default them)."""
    from instructionspipe_spark.plans.runner import llms_from_config

    clients = llms_from_config(
        [{"model": "m0", "temperature": 0, "top_p": 0, "seed": 0}]
    )
    c = clients["m0"]
    assert c.temperature == 0.0 and c.top_p == 0.0 and c.seed == 0
    # absent keys still get the documented defaults
    d = llms_from_config([{"model": "m1"}])["m1"]
    assert d.top_p == 0.01 and d.seed == 2


def test_load_pipeline_subdir_string_pipe(tmp_path):
    """ADVICE r7: a string pipe path WITH a subdirectory must resolve
    against the config's own directory using the full relative path —
    and must not silently load a same-named sibling file."""
    cdir = tmp_path / "cfg"
    (cdir / "pipes").mkdir(parents=True)
    stage = [[{"name": "kw", "scope": ["notes"], "content": "List keywords."}]]
    (cdir / "pipes" / "instr.json").write_text(json.dumps(stage))
    # decoy sibling with the same basename but different content
    (cdir / "instr.json").write_text(
        json.dumps([[{"name": "decoy", "scope": ["notes"], "content": "x"}]])
    )
    cfg = cdir / "main.json"
    cfg.write_text(json.dumps({"pipe": "pipes/instr.json"}))
    pipe = load_pipeline(str(cfg))
    assert pipe.stages[0][0].name == "kw"

    # missing path raises a descriptive error instead of loading the decoy
    import pytest

    cfg2 = cdir / "main2.json"
    cfg2.write_text(json.dumps({"pipe": "pipes/nope.json"}))
    with pytest.raises(FileNotFoundError, match="nope.json"):
        load_pipeline(str(cfg2))


def test_runner_validation_errors(spark, tmp_path):
    """ADVICE r7: descriptive ValueErrors instead of StopIteration /
    write_jsonl(None) crashes for degenerate configs."""
    import pytest

    from instructionspipe_spark.plans.runner import run_agentic_config, run_config

    agentic = tmp_path / "agentic.json"
    agentic.write_text(
        json.dumps({"demo": {"instructions": [{"name": "a", "scope": ["request"], "content": "x"}], "agents": {}}})
    )
    with pytest.raises(ValueError, match="llms"):
        run_agentic_config(spark, str(agentic))

    empty_pipe = tmp_path / "empty_pipe.json"
    empty_pipe.write_text(
        json.dumps(
            {
                "pipe": [],
                "in_data_path": str(tmp_path / "in.jsonl"),
                "out_data_path": str(tmp_path / "out.jsonl"),
                "chatml_path": str(tmp_path / "chatml.jsonl"),
                "llms": [],
            }
        )
    )
    with pytest.raises(ValueError, match="zero-instruction"):
        run_config(spark, str(empty_pipe), llm=MockLlm())


def test_run_etl_dedup_config_most_dup(spark, tmp_path):
    """VERDICT r7 #3 close-out: most_dup > 0 in the slimpajama twin —
    a near-dup cluster of 3 keeps exactly most_dup+1 docs, and the
    NotImplementedError is gone."""
    from instructionspipe_spark.plans.runner import run_etl_dedup_config

    a = "The quick brown fox jumps over the lazy dog near the river bank today"
    c = "Completely different content about quantum computing and linear algebra"
    src = tmp_path / "md.jsonl"
    src.write_text("\n".join(json.dumps({"text": t}) for t in [a, a, a, c]))
    cfg = {
        "data_path_or_name": str(src),
        "output_path": str(tmp_path / "md_out.jsonl"),
        "target_text_cols": ["text"],
        "low_length_filter": {"text": 3},
        "lsh_threshold": 0.5,
        "minhash_permutation_num": 16,
        "n_gram": 3,
        "most_dup": 1,
        "debug": False,
    }
    p = tmp_path / "md.json"
    p.write_text(json.dumps(cfg))
    out = run_etl_dedup_config(spark, str(p))
    texts = sorted(r["text"] for r in out.collect())
    # one duplication tolerated: two copies of `a` survive, plus `c`
    assert texts == sorted([a, a, c])
    assert spark.read.json(cfg["output_path"]).count() == 3
