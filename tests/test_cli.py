"""CLI session tests: drive full interactive sessions headlessly.

The loops take injectable input_fn/print_fn (the reference's CLIs are
input()-driven; query_rag_database.py:229-650,
Auto_query_rag_database.py:387-391), so a scripted session exercises
the real turn loop — retrieval, follow-up reuse, memory fold,
commands, session-log teardown — without a TTY.
"""

from __future__ import annotations

import uuid

import pytest

from rag_vector_database_spark import cli


def scripted(lines):
    """input_fn feeding a fixed list then signalling session end."""
    it = iter(lines)

    def input_fn(prompt: str) -> str:
        try:
            return next(it)
        except StopIteration:
            return "exit"
    return input_fn


@pytest.fixture()
def sink():
    out: list[str] = []
    return out, out.append


def test_query_loop_two_turns_with_follow_up(spark, sf_dir, sink):
    out, print_fn = sink
    turns = cli.run_query_loop(
        spark, sf_dir,
        input_fn=scripted(["what is in the corpus?",
                           "tell me more", "y",  # turn 2: follow-up
                           "exit"]),
        print_fn=print_fn)
    assert turns == 2
    answers = [l for l in out if l.startswith("AI: ANSWER[")]
    assert len(answers) == 2
    # follow-up notice printed (query_rag_database.py:438)
    assert any("previous context" in l for l in out)


def test_query_loop_deterministic_answers(spark, sf_dir, sink):
    """Same scripted session twice -> identical transcript (stub
    backend is a pure function of prompt; retrieval deterministic)."""
    runs = []
    for _ in range(2):
        out: list[str] = []
        cli.run_query_loop(spark, sf_dir,
                           input_fn=scripted(["alpha question", "exit"]),
                           print_fn=out.append)
        runs.append([l for l in out if l.startswith("AI:")])
    assert runs[0] == runs[1] and runs[0]


def test_query_loop_chat_mode_no_retrieval(spark, sf_dir, sink):
    out, print_fn = sink
    turns = cli.run_query_loop(
        spark, sf_dir, mode="chat",
        input_fn=scripted(["hello there", "quit"]),
        print_fn=print_fn)
    assert turns == 1
    assert any(l.startswith("AI: ANSWER[") for l in out)


def grouped(spark, lines, prefix):
    """``scripted`` that also starts job group ``{prefix}-{i}`` when it
    returns line ``i``, so each group holds the jobs run between two
    prompts."""
    feed = scripted(lines)
    calls = iter(range(len(lines) + 1))

    def input_fn(prompt: str) -> str:
        spark.sparkContext.setJobGroup(f"{prefix}-{next(calls)}", prompt)
        return feed(prompt)
    return input_fn


def record_collects(spark, monkeypatch):
    """Runs every ``DataFrame.collect`` under a job group of its own and
    returns the list it appends ``(job group around the call, the
    collect's own group, embeddings scans in its plan)`` to."""
    sc = spark.sparkContext
    frame = type(spark.range(1))
    plain_collect = frame.collect
    collects = []

    def collect(self):
        outer = sc.getLocalProperty("spark.jobGroup.id")
        group = f"collect-{uuid.uuid4()}"
        sc.setJobGroup(group, "retrieval collect")
        try:
            return plain_collect(self)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", outer)
            leaves = self._jdf.queryExecution().optimizedPlan() \
                .collectLeaves()
            scans = sum(1 for i in range(leaves.size())
                        if leaves.apply(i).getClass().getSimpleName()
                        == "LogicalRelation"
                        and "embedding#" in leaves.apply(i).toString())
            collects.append((outer, group, scans))

    monkeypatch.setattr(frame, "collect", collect)
    return collects


@pytest.mark.parametrize("loop", ["query", "auto"])
def test_loop_start_runs_no_job(spark, sf_dir, job_count, loop):
    """Opening ``documents`` and ``embeddings`` and learning the vector
    width read footers on the driver: no job runs before the first
    prompt."""
    sc = spark.sparkContext
    p = f"start-{uuid.uuid4()}"
    prompts = []

    def first_prompt(prompt):
        prompts.append(prompt)
        sc.setJobGroup(f"{p}-turns", prompt)
        return "exit"

    run = cli.run_query_loop if loop == "query" else cli.run_auto_loop
    sc.setJobGroup(f"{p}-open", "loop start")
    try:
        run(spark, sf_dir, input_fn=first_prompt, print_fn=lambda s: None)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert prompts == ["You: "]
    assert job_count(f"{p}-open") == 0


def test_chat_and_follow_up_turns_run_no_job(spark, sf_dir, job_count):
    """A chat-mode turn builds prompt and answer on the driver, and a
    follow-up turn reuses the rows the previous turn collected: neither
    launches a Spark job."""
    p = f"chat-{uuid.uuid4()}"
    try:
        cli.run_query_loop(spark, sf_dir, mode="chat",
                           input_fn=grouped(spark, ["hello", "again"], p),
                           print_fn=lambda s: None)
        r = f"rag-{uuid.uuid4()}"
        out: list[str] = []
        cli.run_query_loop(spark, sf_dir, show_chunks=True,
                           input_fn=grouped(spark, ["what is in the corpus?",
                                                    "tell me more", "y"], r),
                           print_fn=out.append)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert [job_count(f"{p}-{i}") for i in (0, 1)] == [0, 0]
    assert job_count(f"{r}-0") >= 1   # the new-query turn retrieves
    assert job_count(f"{r}-2") == 0   # the follow-up turn
    assert sum(l.startswith("AI: ANSWER[") for l in out) == 2
    # the follow-up printed the same chunks as turn 1
    chunks = [l for l in out if l.startswith("  [doc ")]
    assert chunks and chunks[:len(chunks) // 2] == chunks[len(chunks) // 2:]


def test_auto_loop_answer_runs_no_job(spark, sf_dir, job_count,
                                      monkeypatch):
    """Every job of a rerank or a direct auto-loop turn runs inside its
    one retrieval ``collect``: the prompt and answer step add none."""
    sc = spark.sparkContext
    collect_groups = record_collects(spark, monkeypatch)
    p = f"auto-{uuid.uuid4()}"
    out: list[str] = []
    try:
        turns = cli.run_auto_loop(
            spark, sf_dir, show_stats=False, show_chunks=True,
            base_threshold=0.0,
            input_fn=grouped(spark, ["a query about data", "/mode",
                                     "a direct query"], p),
            print_fn=out.append)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # one collect per turn
    turn_collects = [g for outer, g, _ in collect_groups
                     if outer in (f"{p}-0", f"{p}-2")]
    assert turns == 2 and len(turn_collects) == 2
    assert [job_count(f"{p}-{i}") for i in (0, 2)] == [0, 0]
    assert all(job_count(g) >= 1 for g in turn_collects)
    assert sum(l.startswith("AI: ANSWER[") for l in out) == 2


def test_rerank_turn_one_scan_two_jobs(spark, sf_dir, job_count,
                                       monkeypatch):
    """A rerank turn with score stats runs at most 2 jobs, all inside
    its one retrieval ``collect``, and scans the embeddings table once:
    the stats are observed in the funnel's own scan. Its printed stats
    equal a separate ``score_stats`` over the same scores."""
    sc = spark.sparkContext
    collects = record_collects(spark, monkeypatch)
    q = "a query about data"
    p = f"rerank-{uuid.uuid4()}"
    out: list[str] = []
    try:
        turns = cli.run_auto_loop(
            spark, sf_dir, show_stats=True,
            input_fn=grouped(spark, [q], p), print_fn=out.append)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert turns == 1
    turn = [(g, n) for outer, g, n in collects if outer == f"{p}-0"]
    assert len(turn) == 1 and job_count(f"{p}-0") == 0
    assert 1 <= job_count(turn[0][0]) <= 2
    assert turn[0][1] == 1

    stats = [line for line in out if line.startswith("[Scores:")]
    assert stats == [_separate_stats_line(spark, sf_dir, q)]
    assert out.index(stats[0]) < out.index(
        next(line for line in out if line.startswith("AI: ")))


def _separate_stats_line(spark, sf_dir, q):
    """The ``[Scores: …]`` line of a separate ``score_stats`` pass."""
    from pyspark.sql import functions as F

    from rag_vector_database_spark.operators import retrieval

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    dim = emb.select(F.size("embedding")).first()[0]
    s = retrieval.score_stats(retrieval.score_against(
        emb, cli.embed_query(spark, q, dim))).first()
    return (f"[Scores: min={s['min_score']:.4f} max={s['max_score']:.4f} "
            f"avg={s['avg_score']:.4f} n={s['n_candidates']}]")


@pytest.mark.parametrize("limits", [{"top_n": 0}, {"k_rerank": 0}])
def test_rerank_stats_when_a_zero_limit_prunes_the_scan(spark, sf_dir,
                                                        limits):
    """A limit of 0 lets Spark drop the funnel's scan, and its
    observation with it; the stats line still covers every row."""
    q = "a query about data"
    out: list[str] = []
    cli.run_auto_loop(spark, sf_dir, input_fn=scripted([q]),
                      print_fn=out.append, **limits)
    assert [line for line in out if line.startswith("[Scores:")] == \
        [_separate_stats_line(spark, sf_dir, q)]


@pytest.mark.parametrize("loop", ["query", "auto"])
def test_loops_on_empty_store_raise_value_error(spark, sf_dir, tmp_path,
                                                job_count, loop):
    """A store whose embeddings table has no rows is a clear error
    naming that table, not a TypeError from the dimension probe, and
    the footers tell it without a job."""
    store = str(tmp_path / "store")
    spark.read.parquet(f"{sf_dir}/documents.parquet") \
        .write.parquet(f"{store}/documents.parquet")
    spark.read.parquet(f"{sf_dir}/embeddings.parquet").limit(0) \
        .write.parquet(f"{store}/embeddings.parquet")
    run = cli.run_query_loop if loop == "query" else cli.run_auto_loop
    group = f"empty-{uuid.uuid4()}"
    spark.sparkContext.setJobGroup(group, "loop start")
    try:
        with pytest.raises(ValueError, match="embeddings.parquet"):
            run(spark, store, input_fn=scripted(["a question"]),
                print_fn=lambda s: None)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert job_count(group) == 0


def test_query_loop_exit_keywords_all_work(spark, sf_dir):
    for kw in sorted(cli.EXIT_KEYWORDS):
        n = cli.run_query_loop(spark, sf_dir, input_fn=scripted([kw]),
                               print_fn=lambda s: None)
        assert n == 0


def test_query_loop_writes_session_log(spark, sf_dir, tmp_path, sink):
    out, print_fn = sink
    log_path = str(tmp_path / "session_log")
    cli.run_query_loop(spark, sf_dir,
                       input_fn=scripted(["one question", "exit"]),
                       print_fn=print_fn, session_log_path=log_path)
    logged = spark.read.json(log_path)
    row = logged.first()
    assert row["n_turns"] == 1
    assert row["conversation_turns"][0]["question"] == "one question"


def test_auto_loop_commands_and_threshold(spark, sf_dir, sink):
    out, print_fn = sink
    turns = cli.run_auto_loop(
        spark, sf_dir,
        input_fn=scripted(["/help", "/set_rerank_threshold 0.5",
                           "/mode", "/mode", "/showchunks",
                           "a query about data", "exit"]),
        print_fn=print_fn)
    assert turns == 1
    assert any(l.startswith("Cmds:") for l in out)
    assert any("Rerank threshold: 0.50" in l for l in out)
    # stats line printed before answering (Auto...py:328-331)
    assert any(l.startswith("[Scores:") for l in out)
    assert any(l.startswith("AI: ANSWER[") for l in out)


def test_auto_loop_direct_mode_threshold_filters(spark, sf_dir, sink):
    """Direct mode with an impossible base threshold retrieves zero
    docs; the loop still answers (from empty context) and records the
    no-docs status (Auto...py:343-346 retrieve-then-filter)."""
    out, print_fn = sink
    turns = cli.run_auto_loop(
        spark, sf_dir, rerank=False, base_threshold=2.0, show_stats=False,
        input_fn=scripted(["anything", "stop"]),
        print_fn=print_fn)
    assert turns == 1
    assert any(l.startswith("AI: ANSWER[") for l in out)


def test_ingest_idempotent(spark, sf_dir, tmp_path, sink):
    out, print_fn = sink
    store = str(tmp_path / "store")
    r1 = cli.run_ingest(spark, sf_dir, store, print_fn=print_fn)
    r2 = cli.run_ingest(spark, sf_dir, store, print_fn=print_fn)
    assert r1["added"] > 0
    assert r2["added"] == 0  # run-twice-adds-zero
    assert r2["total"] == r1["total"] == r1["added"]
    stored = spark.read.parquet(store)
    assert {"chunk_id", "chunk_text", "embedding"} <= set(stored.columns)
    # the second run offered every chunk again and skipped them all
    n = r1["added"]
    assert r1["offered"] == r2["offered"] == r2["skipped"] == n
    assert out[-1] == (f"[Ingest] rows added: 0; skipped: {n} of {n} "
                       f"offered; store total: {n}")


def test_ingest_batch_job_counts(spark, sf_dir, tmp_path, job_count):
    """One write job per batch, no count job and no schema-inference
    job (``read_parquet`` reads the documents' and the store's schemas
    from a footer on the driver): a first batch runs the write (1 job);
    a later one adds the store's key broadcast (2 jobs), whether it
    adds rows or none."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    half, full = str(tmp_path / "half"), str(tmp_path / "full")
    docs.where("doc_id % 2 = 0").write.parquet(f"{half}/documents.parquet")
    docs.write.parquet(f"{full}/documents.parquet")
    store = str(tmp_path / "store")
    sc = spark.sparkContext
    p = f"ingest-{uuid.uuid4()}"
    res = []
    try:
        for i, d in enumerate((half, full, full)):
            sc.setJobGroup(f"{p}-{i}", "run_ingest")
            res.append(cli.run_ingest(spark, d, store,
                                      print_fn=lambda s: None))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert res[1]["added"] > 0 and res[2]["added"] == 0
    assert res[2]["total"] == res[1]["total"] == res[2]["offered"]
    assert res[1]["total"] == res[0]["added"] + res[1]["added"]
    assert job_count(f"{p}-0") <= 1
    assert job_count(f"{p}-1") <= 2
    assert job_count(f"{p}-2") <= 2


def _files(path):
    """Every file under ``path`` (hidden ones too) and its bytes."""
    return {p: p.read_bytes() for p in sorted(path.rglob("*"))
            if p.is_file()}


def test_ingest_dimension_mismatch_is_value_error(spark, sf_dir, tmp_path,
                                                  job_count):
    """A batch whose vector width differs from the store's is refused
    before any job, naming both widths; the store's files stay as they
    were, and a batch of the store's width still appends."""
    store = tmp_path / "store"
    first = cli.run_ingest(spark, sf_dir, str(store), dim=8,
                           print_fn=lambda s: None)
    before = _files(store)
    group = f"mismatch-{uuid.uuid4()}"
    spark.sparkContext.setJobGroup(group, "run_ingest")
    try:
        with pytest.raises(ValueError, match=r"width 8; .* 16 wide"):
            cli.run_ingest(spark, sf_dir, str(store), dim=16,
                           print_fn=lambda s: None)
    finally:
        spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    assert job_count(group) == 0
    assert _files(store) == before
    again = cli.run_ingest(spark, sf_dir, str(store), dim=8,
                           print_fn=lambda s: None)
    assert again["added"] == 0 and again["total"] == first["total"]


def test_main_argparse_ingest(tmp_path, monkeypatch, capsys):
    """End-to-end through main(): the argparse surface itself."""
    store = str(tmp_path / "cli_store")
    rc = cli.main(["--sf-dir", "/root/testdata/sf0.001", "--cpus", "4",
                   "ingest", store, "--dim", "8"])
    assert rc == 0
    assert "[Ingest] rows added:" in capsys.readouterr().out


def test_auto_loop_bad_threshold_does_not_crash(spark, sf_dir, sink):
    out, print_fn = sink
    turns = cli.run_auto_loop(
        spark, sf_dir, show_stats=False,
        input_fn=scripted(["/set_rerank_threshold abc",
                           "/set_base_threshold 0,5",
                           "still works?", "exit"]),
        print_fn=print_fn)
    assert turns == 1  # session survived the malformed commands
    assert sum("Invalid threshold" in l for l in out) == 2
    assert any(l.startswith("AI: ANSWER[") for l in out)
