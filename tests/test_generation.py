"""Generation surface (#62) + JSON sinks (#10/#11)."""

from __future__ import annotations

import tempfile

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from rag_vector_database_spark.operators import generation, ingest


def test_prompt_assembly_and_stub_determinism(spark):
    df = spark.createDataFrame(
        [("ctx A", "hist", "why?"), ("ctx B", None, "how?")],
        "context string, history string, question string")
    out = df.select(
        generation.assemble_prompt(
            F.col("context"), F.col("history"), F.col("question"))
        .alias("prompt"))
    prompts = [r["prompt"] for r in out.collect()]
    assert prompts[0] == ("Answer using ONLY the context below.\n\n"
                          "Context:\nctx A\n\nChat history:\nhist\n\n"
                          "Question: why?\nAnswer:")
    # null history -> empty section, not a null prompt
    assert "Chat history:\n\n" in prompts[1]

    ans = out.select(generation.answer_stub(F.col("prompt")).alias("a"))
    a1 = [r["a"] for r in ans.collect()]
    a2 = [r["a"] for r in ans.collect()]
    assert a1 == a2 and all(a.startswith("ANSWER[") for a in a1)


# prompt parts: None, '', format directives of both engines, newlines
# and any encodable character
_part = st.none() | st.lists(
    st.sampled_from(["%s", "%", "%%", "%n", "{}", "{context}", "{0}",
                     "\n", "\r\n", "é", "日本", "\U0001F600", ""])
    | st.text(st.characters(codec="utf-8", exclude_categories=("Cs",)),
              max_size=8),
    max_size=6).map("".join)


@settings(max_examples=25, deadline=None)
@given(st.lists(st.tuples(_part, _part, _part), min_size=1, max_size=20))
def test_python_prompt_and_stub_equal_spark(spark, parts):
    """``prompt_text``/``answer_text`` (the interactive turn's driver
    path) equal ``assemble_prompt``/``answer_stub`` evaluated in Spark."""
    df = spark.createDataFrame([(k, *p) for k, p in enumerate(parts)],
                               "k long, c string, h string, q string")
    prompt = generation.assemble_prompt(F.col("c"), F.col("h"), F.col("q"))
    got = (df.select("k", prompt.alias("p"))
           .select("k", "p", generation.answer_stub(F.col("p")).alias("a"))
           .orderBy("k").collect())
    want = [generation.prompt_text(*p) for p in parts]
    assert [r["p"] for r in got] == want
    assert [r["a"] for r in got] == [generation.answer_text(w)
                                     for w in want]


def test_generate_with_backend(spark):
    df = spark.createDataFrame([("p1",), ("p2",)], "prompt string")

    def backend(prompts: list[str]) -> list[str]:
        return [f"echo:{p}" for p in prompts]

    out = generation.generate_with(df, backend)
    got = {r["prompt"]: r["ai_response"] for r in out.collect()}
    assert got == {"p1": "echo:p1", "p2": "echo:p2"}


def test_jsonl_append_sink_unions_runs(spark):
    with tempfile.TemporaryDirectory() as d:
        path = f"{d}/corpus"
        a = spark.range(3).select(F.col("id"), F.lit("runA").alias("run"))
        b = spark.range(2).select(F.col("id"), F.lit("runB").alias("run"))
        ingest.append_jsonl(a, path)
        ingest.append_jsonl(b, path)
        back = spark.read.json(path)
        assert back.count() == 5
        assert back.where(F.col("run") == "runB").count() == 2


def test_grouped_json_sink_prunes_on_key(spark):
    with tempfile.TemporaryDirectory() as d:
        df = spark.range(10).select(
            F.col("id"),
            F.concat(F.lit("ch"), (F.col("id") % 2).cast("string"))
             .alias("channel_folder"))
        ingest.write_grouped_json(df, f"{d}/videos", "channel_folder")
        back = (spark.read.json(f"{d}/videos")
                .where(F.col("channel_folder") == "ch1"))
        plan = back._jdf.queryExecution().executedPlan().toString()
        assert "PartitionFilters" in plan
        assert back.count() == 5
