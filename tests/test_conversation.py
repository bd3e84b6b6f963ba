"""#60-61: conversation memory + follow-up retrieval reuse.

The key assertion: a follow-up turn reuses the rows turn 1 collected,
runs no Spark job and never rescans the embeddings table — the Spark
analog of the reference's ``last_retrieved_docs_for_follow_up`` reuse
(Auto_query_rag_database.py:542-563)."""

from __future__ import annotations

import uuid

import pytest

from rag_vector_database_spark.operators.conversation import (
    RagConversation, context_text, history_fold)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def convo(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c = RagConversation(docs, emb, k_candidates=10, top_n=3)
    yield c
    c.close()


def test_two_turn_exchange(spark, convo, job_count):
    qv = list(spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
              .where("vec_id = 0").select("embedding").first()[0])

    t1 = convo.ask("what is in document zero", qv)
    r1 = t1.collect()[0]
    assert (r1["turn"], r1["mode"]) == (1, "new_query")
    assert "Chat history:\n\n" in r1["prompt"]  # empty history on turn 1
    assert r1["ai_response"].startswith("ANSWER[")
    assert len(convo.memory) == 1

    rows1 = convo.last_retrieval
    group = f"followup-{uuid.uuid4()}"
    spark.sparkContext.setJobGroup(group, "follow-up turn")
    t2 = convo.ask("tell me more", follow_up=True)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    # #61: the follow-up runs no Spark job and keeps turn 1's rows
    assert job_count(group) == 0
    assert convo.last_retrieval is rows1
    r2 = t2.collect()[0]
    assert (r2["turn"], r2["mode"]) == (2, "follow_up")
    # #60: turn 1 folded into the history block, ConversationBufferMemory form
    assert "Human: what is in document zero" in r2["prompt"]
    assert f"AI: {r1['ai_response']}" in r2["prompt"]
    # turn 1's context, unchanged, in the follow-up prompt
    ctx1 = r1["prompt"].split("Context:\n")[1].split("\n\nChat history")[0]
    ctx2 = r2["prompt"].split("Context:\n")[1].split("\n\nChat history")[0]
    assert ctx1 == ctx2
    assert ctx1.startswith(f"Source 1 [doc {rows1[0]['doc_id']}]: ")
    assert ctx1.count("Source ") == len(rows1) == 3
    # the returned frame reads neither a table nor a cache of one
    plan = t2._jdf.queryExecution().optimizedPlan()
    leaves = plan.collectLeaves()
    names = {leaves.apply(i).nodeName() for i in range(leaves.length())}
    assert not names & {"LogicalRelation", "InMemoryRelation"}
    assert "embedding" not in plan.toString()

    # a fresh new-query turn runs a NEW retrieval
    group = f"new-{uuid.uuid4()}"
    spark.sparkContext.setJobGroup(group, "new-query turn")
    convo.ask("new topic", qv)
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert job_count(group) >= 1
    assert convo.last_retrieval is not rows1
    assert len(convo.memory) == 3


def test_history_fold_format():
    assert history_fold([]) == ""
    assert history_fold([("q1", "a1"), ("q2", "a2")]) == \
        "Human: q1\nAI: a1\nHuman: q2\nAI: a2"


def test_context_text_format():
    assert context_text([]) == ""
    # a NULL snippet (NULL document text) drops its block, not its rank
    assert context_text([(7, "a b"), (3, None), (5, "")]) == \
        "Source 1 [doc 7]: a b\n\nSource 3 [doc 5]: "


def test_followup_without_cache_raises(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c = RagConversation(docs, emb)
    with pytest.raises(ValueError):
        c.ask("no first turn yet", follow_up=True)


def test_conversation_session_log(spark):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    c = RagConversation(docs, emb, k_candidates=5, top_n=2,
                        session_id="s-42")
    qv = list(emb.where("vec_id = 0").select("embedding").first()[0])
    c.ask("first question", qv)
    c.ask("follow up", follow_up=True)
    nested = c.log.nested_log().collect()
    assert len(nested) == 1 and nested[0]["n_turns"] == 2
    turns = nested[0]["conversation_turns"]
    assert [t["mode"] for t in turns] == ["new_query", "follow_up"]
    assert all(t["ai_response"].startswith("ANSWER[") for t in turns)
    c.close()
