"""The three workloads (``corpus_batch`` runs by hand only; see the
README's run budget). Each drives the package only through the
functions its users call and records one entry per operation:

    {"kind", "request", "latency_s", "cpu_s", "ok", "why", ...}

``measure`` runs operations until ``seconds`` have passed (always at
least one; rag_turns always whole cycles, so the turn mix stays fixed),
taking inputs from the workload's generated pool; a pool used up before
the first operation is an error, not an empty measurement.
``check`` compares recorded outputs with the oracles afterwards, outside
the timed region, and marks mismatches as failed.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import subprocess
import sys
import time

import numpy as np
import pyarrow.parquet as pq

import gen
import oracle
from tracing import NullTracer


def _now() -> float:
    return time.perf_counter()


_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")  # 15-char comm


def _stat(path: str) -> tuple[str, list[str]]:
    """(command name, fields after it) of a /proc stat file."""
    with open(path) as fh:
        head, tail = fh.read().rsplit(")", 1)
    return head.split("(", 1)[1], tail.split()


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants (the JVM, Spark's Python workers, and children they
    have reaped), minus the JVM's JIT compiler threads. Unlike wall time
    it does not grow while the host runs other guests on this guest's
    CPUs (steal time); the compiler threads are left out because their
    work is warm-up, not the program's."""
    root = os.getpid() if root is None else root
    stats = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            _, f = _stat(f"/proc/{name}/stat")
        except OSError:  # exited while listing
            continue
        # fields after the name: state ppid ... utime stime cutime cstime
        stats[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in stats.items():
        kids.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        ticks += stats[pid][1]
        todo.extend(kids.get(pid, ()))
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue
        for tid in tids:
            try:
                comm, f = _stat(f"/proc/{pid}/task/{tid}/stat")
            except OSError:
                continue
            if comm.startswith(_JIT_THREADS):
                ticks -= int(f[11]) + int(f[12])
    return ticks / os.sysconf("SC_CLK_TCK")


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pool_check(ops, name):
    if not ops:
        raise RuntimeError(f"{name}: the generated input pool is used up; "
                           f"lower --seconds or enlarge the pool in gen.py")


def _fail(op, why):
    op["ok"] = False
    op.setdefault("why", why)


def _spark_per_op(tracer, ops) -> dict:
    """Spark accounting summed over each op's spans, averaged over ops."""
    keys = ("jobs", "tasks", "executor_run_s", "scheduler_wait_s",
            "shuffle_write_bytes", "spill_bytes")
    tot = dict.fromkeys(keys, 0.0)
    build = 0.0
    for op in ops:
        for s in tracer.request_spans(op["request"]):
            for k in keys:
                tot[k] += s["spark"][k]
            build += s["attrs"].get("build_s", 0.0)
    n = max(len(ops), 1)
    out = {f"spark.{k}": v / n for k, v in tot.items()}
    out["driver.build_ms"] = build / n * 1e3
    return out


def _span_ms(tracer, name) -> float:
    return _median([tracer.duration(s) for s in tracer.named(name)]) * 1e3


_SEARCH_SPANS = ("retrieval.knn", "retrieval.funnel", "retrieval.direct",
                 "retrieval.knn_batch")


def _rows_scanned_per_result(tracer) -> float:
    """Input records of every search span's stages per row returned by
    the outermost search spans."""
    spans = [s for name in _SEARCH_SPANS for s in tracer.named(name)]
    ids = {s["id"] for s in spans}
    scanned = sum(s["spark"]["input_records"] for s in spans)
    results = sum(s["attrs"].get("rows", 0) for s in spans
                  if s["parent"] not in ids)
    return scanned / results if results else 0.0


class Workload:
    name = ""
    # the detail metric gated as op_cpu_ms, which every workload reports
    op_cpu_metric = ""

    def __init__(self, work_dir: str, seed: int):
        self.dir = os.path.join(work_dir, "inputs")
        self.seed = seed
        self.requests = 0

    def _generate(self) -> dict:
        """Inputs from gen.py in a child process (its memory stays out of
        this process's peak RSS); returns their description."""
        subprocess.run([sys.executable, gen.__file__, "--workload", self.name,
                        "--seed", str(self.seed), "--out", self.dir],
                       check=True)
        with open(os.path.join(self.dir, "meta.json")) as fh:
            return json.load(fh)

    def _op(self, kind, **kw) -> dict:
        self.requests += 1
        return {"kind": kind, "request": self.requests, "ok": True, **kw}

    def instrument(self, tracer) -> None:
        pass

    def detail(self, ops) -> dict:
        """The workload's named metrics over the measured operations."""
        return {}

    def setup(self, session):
        """Restart the session and do the workload's pre-operation work.
        Returns (wall s, CPU s) of the session start and (wall s, CPU s)
        from session start to where the first operation would begin."""
        raise NotImplementedError


# ---------------------------------------------------------------------------

class _Script:
    """input_fn/print_fn pair for a CLI loop: plays scripted answers,
    checks each prompt is the expected one, and times every turn from
    the answer that starts it to the loop's next ``You:`` prompt."""

    def __init__(self, entries, tracer, ops):
        self.entries = iter(entries)
        self.tracer = tracer
        self.ops = ops
        self.open = None
        self.preamble: list[str] = []

    def _close(self, now):
        op, self.open = self.open, None
        if op is not None:
            op["latency_s"] = now - op["t0"]
            op["cpu_s"] = tree_cpu_s() - op["cpu0"]
            self.tracer.end(op["sid"])

    def input_fn(self, prompt: str) -> str:
        now = _now()
        if prompt.startswith("You:"):
            self._close(now)
        try:
            expect, answer, op = next(self.entries)
        except StopIteration:
            return "exit"
        if not prompt.startswith(expect):
            raise RuntimeError(f"expected prompt {expect!r}, got {prompt!r}")
        if op is not None:
            self.ops.append(op)
            self.tracer.request = op["request"]
            op["sid"] = self.tracer.begin("cli.turn", kind=op["kind"])
            self.open = op
            op["cpu0"] = tree_cpu_s()
            op["t0"] = _now()
        return answer

    def print_fn(self, line: str) -> None:
        (self.open["out"] if self.open else self.preamble).append(line)


class RagTurns(Workload):
    """One interactive session: scripted cycles of run_query_loop
    (new-query and follow-up turns) then run_auto_loop (rerank turns
    with score stats, /mode, direct turns)."""

    name = "rag_turns"
    # a mean over whole cycles: the turn kinds differ in cost, and the
    # slow auto turns, the tail, must move it
    op_cpu_metric = "turn_cpu_ms"
    K_QUERY, K_RERANK, K_DIRECT, TOP_N = 10, 50, 20, 5
    WARMUP = (("Q", "new"), ("Q", "followup"), ("A", "rerank"),
              ("A", "direct"))

    def generate(self):
        from rag_vector_database_spark import cli
        self.cli = cli
        self.inp = self._generate()
        self.store = self.inp["store"]
        self.cycles = self.inp["cycles"]
        self.next = 1  # cycle 0 supplies the warm-up queries

    def warmup(self, spark):
        texts = {kind: [t for _, k, t in self.cycles[0] if k == kind]
                 for kind in ("new", "followup", "rerank", "direct")}
        cyc = [(loop, kind, texts[kind].pop()) for loop, kind in self.WARMUP]
        self._cycle(spark, cyc, _NULL, [])

    def setup(self, session):
        """Session start, then run_query_loop up to its first prompt."""
        start = session.restart()
        first = []

        def input_fn(prompt):
            first.append(session.since_start())
            return "exit"
        self.cli.run_query_loop(session.spark, self.store,
                                input_fn=input_fn, print_fn=lambda s: None)
        return start, first[0]

    def measure(self, spark, tracer, seconds):
        ops: list[dict] = []
        t_end = _now() + seconds
        while self.next < len(self.cycles) and (not ops or _now() < t_end):
            self._cycle(spark, self.cycles[self.next], tracer, ops)
            self.next += 1
        _pool_check(ops, self.name)
        return ops

    def _cycle(self, spark, cycle, tracer, ops):
        q = [t for t in cycle if t[0] == "Q"]
        entries = []
        for i, (_, kind, text) in enumerate(q):
            op = self._op(kind, loop="Q", query=text, out=[])
            if i == 0:
                entries.append(("You:", text, op))
            else:
                entries.append(("You:", text, None))
                entries.append(("Follow-up", "y" if kind == "followup"
                                else "n", op))
        self._play(entries, tracer, ops, lambda s: self.cli.run_query_loop(
            spark, self.store, k=self.K_QUERY, top_n=self.TOP_N,
            show_chunks=True, input_fn=s.input_fn, print_fn=s.print_fn))

        a = [t for t in cycle if t[0] == "A"]
        entries = [("You:", f"/set_base_threshold {gen.DIRECT_BASE_THRESHOLD}",
                    None)]
        for _, kind, text in a:
            if kind == "direct" and entries[-1][2] is not None \
                    and entries[-1][2]["kind"] == "rerank":
                entries.append(("You:", "/mode", None))
            entries.append(("You:", text, self._op(kind, loop="A",
                                                   query=text, out=[])))
        self._play(entries, tracer, ops, lambda s: self.cli.run_auto_loop(
            spark, self.store, k_rerank=self.K_RERANK,
            k_direct=self.K_DIRECT, top_n=self.TOP_N, show_chunks=True,
            input_fn=s.input_fn, print_fn=s.print_fn))

    def _play(self, entries, tracer, ops, run):
        s = _Script(entries, tracer, ops)
        try:
            run(s)
        except Exception as e:  # a failing session must not end the run
            why = f"session raised {type(e).__name__}: {e}"
            if s.open is not None:  # the turn that raised
                _fail(s.open, why)
                s._close(_now())
            for _, _, op in entries:
                if op is not None and "t0" not in op:  # never started
                    ops.append(op)
                    op["latency_s"] = float("nan")
                    _fail(op, why)

    def check(self, spark, ops):
        docs = pq.read_table(os.path.join(self.store, "documents.parquet"))
        texts = dict(zip(docs["doc_id"].to_pylist(),
                         docs["text"].to_pylist()))
        emb = pq.read_table(os.path.join(self.store, "embeddings.parquet"))
        ids = np.asarray(emb["vec_id"].to_pylist())
        vecs = np.asarray(emb["embedding"].combine_chunks().flatten()) \
            .reshape(len(ids), gen.DIM)
        last_new = None
        doc_re = re.compile(r"^  \[doc (\d+)\]")
        for op in ops:
            if not op["ok"]:
                continue
            got = [int(m.group(1)) for m in map(doc_re.match, op["out"]) if m]
            if not any(line.startswith("AI: ANSWER[") for line in op["out"]):
                _fail(op, "no answer printed")
                continue
            q = oracle.query_embedding(op["query"], gen.DIM)
            if op["kind"] == "new":
                want = last_new = oracle.funnel(
                    ids, vecs, texts, op["query"], q, self.K_QUERY,
                    self.TOP_N)
            elif op["kind"] == "followup":
                want = last_new
            elif op["kind"] == "rerank":
                want = oracle.funnel(ids, vecs, texts, op["query"], q,
                                     self.K_RERANK, self.TOP_N, 0.0)
                top = oracle.topk(ids, oracle.raw_scores(vecs, q), 1)[0][1]
                stats = [x for x in op["out"] if x.startswith("[Scores:")]
                if not stats or f"max={top:.4f}" not in stats[0] \
                        or f"n={len(ids)}]" not in stats[0]:
                    _fail(op, f"score stats {stats} != max {top:.4f}")
            else:
                want = oracle.direct(ids, vecs, q, self.K_DIRECT,
                                     gen.DIRECT_BASE_THRESHOLD)
            op["n_docs"] = len(got)
            if got != want:
                _fail(op, f"doc ids {got} != oracle {want}")

    def instrument(self, tracer):
        from rag_vector_database_spark.operators import retrieval
        from rag_vector_database_spark.operators.conversation import \
            RagConversation

        def ask_name(convo, query_text, query_vec=None, follow_up=False):
            return ("conversation.ask_followup"
                    if follow_up and convo.last_retrieval is not None
                    else "conversation.ask_new")

        def scans_embeddings(attrs, out, *args, **kwargs):
            plan = out._jdf.queryExecution().optimizedPlan()
            leaves = plan.collectLeaves()
            attrs["embedding_scans"] = sum(
                1 for i in range(leaves.size())
                if leaves.apply(i).getClass().getSimpleName()
                == "LogicalRelation"
                and "embedding#" in leaves.apply(i).toString())

        tracer.wrap(self.cli, "embed_query", "embedding.query")
        tracer.wrap(RagConversation, "ask", ask_name,
                    attrs_fn=scans_embeddings)
        tracer.wrap(retrieval, "knn", "retrieval.knn", force=True)
        tracer.wrap(retrieval, "retrieval_funnel", "retrieval.funnel",
                    force=True)
        tracer.wrap(retrieval, "direct_retrieval", "retrieval.direct",
                    force=True)
        tracer.wrap(retrieval, "score_stats", "retrieval.score_stats",
                    force=True)

    def layers(self, tracer, ops) -> dict:
        turns = [tracer.spans[op["sid"]] for op in ops
                 if op.get("sid") is not None]
        out = {
            "embedding.query_ms": _span_ms(tracer, "embedding.query"),
            "retrieval.knn_ms": _span_ms(tracer, "retrieval.knn"),
            "retrieval.funnel_ms": _span_ms(tracer, "retrieval.funnel"),
            "retrieval.direct_ms": _span_ms(tracer, "retrieval.direct"),
            "retrieval.score_stats_ms":
                _span_ms(tracer, "retrieval.score_stats"),
            "retrieval.rows_scanned_per_result":
                _rows_scanned_per_result(tracer),
            "conversation.ask_new_ms":
                _span_ms(tracer, "conversation.ask_new"),
            "conversation.ask_followup_ms":
                _span_ms(tracer, "conversation.ask_followup"),
            "conversation.followup_embedding_scans": sum(
                s["attrs"].get("embedding_scans", 0)
                for s in tracer.named("conversation.ask_followup")),
            "cli.turn_glue_ms": _median(
                [tracer.self_time(s["id"]) for s in turns]) * 1e3,
        }
        out.update(_spark_per_op(tracer, ops))
        return out

    def detail(self, ops) -> dict:
        lat = sorted(op["latency_s"] * 1e3 for op in ops)
        n = len(lat)
        kinds = {k: _median([op["latency_s"] * 1e3 for op in ops
                             if op["kind"] == k])
                 for k in ("new", "followup", "rerank", "direct")}
        return {
            "turn_p50_ms": _median(lat),
            "turn_p90_ms": statistics.quantiles(lat, n=10)[8]
            if n >= 2 else lat[0],
            "turn_samples": n,
            "turn_samples_beyond_p90": n - int(np.ceil(0.9 * n)),
            "turn_p50_ms_by_kind": kinds,
            "turns_per_s": n / sum(lat) * 1e3,
            "turn_cpu_ms": sum(op["cpu_s"] for op in ops) / n * 1e3,
            "store_rows": gen.RAG_ROWS, "dim": gen.DIM,
        }


# ---------------------------------------------------------------------------

def _listing(path: str) -> dict[str, int]:
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(base, f)
                out[p] = os.path.getsize(p)
    return out


class IngestBatches(Workload):
    """A sequence of document batches through cli.run_ingest onto one
    growing parquet store; each batch re-sends keys already stored."""

    name = "ingest_batches"
    op_cpu_metric = "ingest_batch_cpu_p50_ms"
    MIN_BATCHES = 3  # the median then skips a first, still warming batch

    def generate(self):
        from rag_vector_database_spark import cli
        self.cli = cli
        self.inp = self._generate()
        self.store = self.inp["store"]
        self.batches = self.inp["batches"]
        self.next = 0
        self.stored: set[int] = set()  # doc ids whose chunks are stored
        self.expected_total = 0

    def _run(self, spark, tracer, ops):
        b = self.batches[self.next]
        self.next += 1
        fresh = [d for d in b["doc_ids"] if d not in self.stored]
        chunks = {d: oracle.n_chunks(n)
                  for d, n in zip(b["doc_ids"], b["lengths"])}
        op = self._op("batch", docs=len(b["doc_ids"]),
                      offered=sum(chunks.values()),
                      expected=sum(chunks[d] for d in fresh))
        tracer.request = op["request"]
        cpu0 = tree_cpu_s()
        t0 = _now()
        try:
            with tracer.span("cli.run_ingest"):
                res = self.cli.run_ingest(spark, b["dir"], self.store,
                                          print_fn=lambda s: None)
            op["latency_s"] = _now() - t0
            op["cpu_s"] = tree_cpu_s() - cpu0
        except Exception as e:
            op["latency_s"] = _now() - t0
            res = {"added": 0, "total": -1}
            _fail(op, f"{type(e).__name__}: {e}")
        self.stored.update(fresh)
        self.expected_total += op["expected"]
        op["added"] = res["added"]
        op["total"] = res["total"]
        op["expected_total"] = self.expected_total
        ops.append(op)

    def warmup(self, spark):
        for _ in range(gen.INGEST_WARMUP_BATCHES):
            self._run(spark, _NULL, [])

    def setup(self, session):
        start = session.restart()
        return start, start

    def measure(self, spark, tracer, seconds):
        ops: list[dict] = []
        t_end = _now() + seconds
        while self.next < len(self.batches) \
                and (len(ops) < self.MIN_BATCHES or _now() < t_end):
            self._run(spark, tracer, ops)
        _pool_check(ops, self.name)
        return ops

    def check(self, spark, ops):
        for op in ops:
            if op["ok"] and (op["added"] != op["expected"]
                             or op["total"] != op["expected_total"]):
                _fail(op, f"added/total {op['added']}/{op['total']} != "
                          f"{op['expected']}/{op['expected_total']}")
        # whole store: chunk ids unique and exactly the chunk-count law's
        want = set()
        for b in self.batches[:self.next]:
            for d, n in zip(b["doc_ids"], b["lengths"]):
                want.update(f"{d}_chunk_{i}"
                            for i in range(1, oracle.n_chunks(n) + 1))
        got = [r[0] for r in spark.read.parquet(self.store)
               .select("chunk_id").collect()]
        if len(got) != len(set(got)) or set(got) != want:
            for op in ops:
                _fail(op, f"store holds {len(got)} rows, {len(set(got))} "
                          f"distinct ids; chunk law wants {len(want)}")

    def store_bytes_per_input_byte(self) -> float:
        seen, inp = set(), 0
        for b in self.batches[:self.next]:
            for d, n in zip(b["doc_ids"], b["lengths"]):
                if d not in seen:
                    seen.add(d)
                    inp += n  # ASCII text: chars == bytes
        return sum(_listing(self.store).values()) / inp

    def instrument(self, tracer):
        from rag_vector_database_spark.operators import chunking
        from rag_vector_database_spark.operators import ingest

        def docs_in(attrs, out, docs, *a, **kw):
            attrs["docs"] = docs.count()

        tracer.wrap(chunking, "chunk_documents", "chunking.chunk_documents",
                    force=True, attrs_fn=docs_in)
        orig = ingest.idempotent_append

        def append(incoming, store_path, key, spark=None):
            # the embedding column is lazy: materialize it in its own
            # span, then the append works on the embedded rows
            embedded = tracer.call("embedding.embed_expr", lambda: incoming,
                                   force=True)
            before = _listing(store_path)
            added, attrs = tracer.call_attrs(
                "ingest.idempotent_append", orig,
                (embedded, store_path, key), {"spark": spark})
            after = _listing(store_path)
            new = [p for p in after if p not in before]
            attrs.update(added=added, files=len(new),
                         bytes=sum(after[p] for p in new))
            return added

        tracer.patch(ingest, "idempotent_append", append)

    def layers(self, tracer, ops) -> dict:
        emb = tracer.named("embedding.embed_expr")
        chk = tracer.named("chunking.chunk_documents")
        app = tracer.named("ingest.idempotent_append")
        n = max(len(app), 1)
        offered = sum(s["attrs"]["rows"] for s in emb)
        out = {
            "embedding.chunks_per_s": offered / max(
                sum(tracer.duration(s) for s in emb), 1e-9),
            "chunking.chunk_s": _median([tracer.duration(s) for s in chk]),
            "chunking.chunks_per_doc":
                sum(s["attrs"]["rows"] for s in chk)
                / max(sum(s["attrs"]["docs"] for s in chk), 1),
            "ingest.append_s": _median([tracer.duration(s) for s in app]),
            "ingest.rows_added_ratio":
                sum(s["attrs"]["added"] for s in app) / max(offered, 1),
            "ingest.files_written": sum(s["attrs"]["files"] for s in app) / n,
            "ingest.bytes_written": sum(s["attrs"]["bytes"] for s in app) / n,
        }
        out.update(_spark_per_op(tracer, ops))
        return out

    def detail(self, ops) -> dict:
        return {
            "ingest_chunks_per_s": sum(op["added"] for op in ops)
            / sum(op["latency_s"] for op in ops),
            "ingest_batch_p50_s": _median([op["latency_s"] for op in ops]),
            "ingest_batch_cpu_p50_ms":
                _median([op["cpu_s"] for op in ops]) * 1e3,
            "store_bytes_per_input_byte": self.store_bytes_per_input_byte(),
            "batches": len(ops), "docs_per_batch": gen.INGEST_DOCS_PER_BATCH,
            "resent_per_batch": gen.INGEST_RESEND,
        }


# ---------------------------------------------------------------------------

class CorpusBatch(Workload):
    """Offline passes over one corpus: batch kNN for a fresh query set,
    exact dedup, and MinHash-LSH near-dup pairs -> connected components."""

    name = "corpus_batch"
    op_cpu_metric = "pass_cpu_p50_ms"
    K = 10
    JACCARD = 0.5

    def generate(self):
        self.inp = self._generate()
        self.next = 1  # query set 0 is the warm-up's

    def _pass(self, spark, tracer, qpath, tables=None):
        from rag_vector_database_spark.operators import dedup, retrieval
        tables = tables or self.inp
        corpus = spark.read.parquet(tables["corpus"])
        queries = spark.read.parquet(qpath)
        docs = spark.read.parquet(tables["dedup"])
        op = self._op("pass", queries=qpath)
        tracer.request = op["request"]
        cpu0 = tree_cpu_s()
        t0 = _now()
        with tracer.span("corpus.pass"):
            top = tracer.call("retrieval.knn_batch", retrieval.knn_batch_topk,
                              corpus, queries, self.K, force=True).collect()
            t1 = _now()
            exact = tracer.call("dedup.exact", dedup.exact_duplicates, docs,
                                force=True).where("group_size > 1").collect()
            pairs_df = tracer.call("dedup.minhash", dedup.minhash_lsh_pairs,
                                   docs, jaccard_threshold=self.JACCARD,
                                   force=True)
            labels = tracer.call("dedup.components",
                                 dedup.connected_components, pairs_df,
                                 force=True).collect()
        t2 = _now()
        op.update(latency_s=t2 - t0, cpu_s=tree_cpu_s() - cpu0,
                  knn_s=t1 - t0, dedup_s=t2 - t1,
                  top=[tuple(r) for r in top], exact=[tuple(r) for r in exact],
                  labels={r["id"]: r["cluster_id"] for r in labels})
        with tracer.bookkeeping():
            op["pairs"] = [tuple(r) for r in pairs_df.collect()]
        dedup.release_caches()
        return op

    def warmup(self, spark):
        self._pass(spark, _NULL, self.inp["queries"][0], self.inp["warm"])

    def setup(self, session):
        start = session.restart()
        for p in (self.inp["corpus"], self.inp["queries"][0],
                  self.inp["dedup"]):
            session.spark.read.parquet(p)
        return start, session.since_start()

    def measure(self, spark, tracer, seconds):
        ops: list[dict] = []
        t_end = _now() + seconds
        while self.next < len(self.inp["queries"]) \
                and (not ops or _now() < t_end):
            try:
                ops.append(self._pass(spark, tracer,
                                      self.inp["queries"][self.next]))
            except Exception as e:
                op = self._op("pass", latency_s=float("nan"))
                _fail(op, f"{type(e).__name__}: {e}")
                ops.append(op)
            self.next += 1
        _pool_check(ops, self.name)
        return ops

    def check(self, spark, ops):
        def vectors(path, id_col, vec_col):
            t = pq.read_table(path)
            ids = np.asarray(t[id_col].to_pylist())
            v = np.asarray(t[vec_col].combine_chunks().flatten())
            return ids, v.reshape(len(ids), gen.DIM)

        ids, vecs = vectors(self.inp["corpus"], "vec_id", "embedding")
        dd = pq.read_table(self.inp["dedup"])
        sh = {i: oracle.shingles(t) for i, t in
              zip(dd["doc_id"].to_pylist(), dd["text"].to_pylist())}
        want_groups = self.inp["exact_groups"]
        near_pairs = [tuple(p) for p in self.inp["near_pairs"]]
        for op in ops:
            if not op["ok"]:
                continue
            qids, qv = vectors(op["queries"], "qid", "qv")
            got: dict[int, list] = {}
            for qid, vid, score in op["top"]:
                got.setdefault(qid, []).append((vid, score))
            for qid, q in zip(qids, qv):
                want = oracle.topk(ids, oracle.raw_scores(vecs, q), self.K)
                if sorted(got.get(int(qid), []),
                          key=lambda t: (-t[1], t[0])) != want:
                    _fail(op, f"knn_batch_topk differs for query {qid}")
                    break
            groups: dict[int, list] = {}
            for doc_id, _, canon, size in op["exact"]:
                groups.setdefault(canon, []).append(doc_id)
            if sorted(sorted(g) for g in groups.values()) != want_groups \
                    or any(min(g) != c for c, g in groups.items()):
                _fail(op, "exact duplicate groups differ from planted")
            for a, b, j in op["pairs"]:
                true = oracle.jaccard(sh[a], sh[b])
                if not (a < b and true >= self.JACCARD and true == j):
                    _fail(op, f"pair ({a},{b}) jaccard {j} vs true {true}")
                    break
            if op["labels"] != oracle.components(
                    [(a, b) for a, b, _ in op["pairs"]]):
                _fail(op, "connected components differ from oracle")
            found = {(a, b) for a, b, _ in op["pairs"]}
            op["near_recall"] = sum(p in found for p in near_pairs) \
                / max(len(near_pairs), 1)

    def instrument(self, tracer):
        from rag_vector_database_spark.operators import dedup
        tracer.wrap(dedup, "_lsh_candidates", "dedup.lsh_candidates",
                    force=True)

    def layers(self, tracer, ops) -> dict:
        knn = [tracer.duration(s) for s in tracer.named("retrieval.knn_batch")]
        cand = tracer.named("dedup.lsh_candidates")
        ver = tracer.named("dedup.minhash")
        n_cand = sum(s["attrs"]["rows"] for s in cand)
        n_ver = sum(s["attrs"]["rows"] for s in ver)
        out = {
            "retrieval.knn_batch_s": _median(knn),
            "retrieval.scored_pairs_per_s":
                gen.CORPUS_QUERIES * gen.CORPUS_ROWS / _median(knn)
                if knn else 0.0,
            "retrieval.rows_scanned_per_result":
                _rows_scanned_per_result(tracer),
            "dedup.exact_s": _span_ms(tracer, "dedup.exact") / 1e3,
            "dedup.minhash_s": _span_ms(tracer, "dedup.minhash") / 1e3,
            "dedup.components_s": _span_ms(tracer, "dedup.components") / 1e3,
            "dedup.lsh_candidates": n_cand / max(len(cand), 1),
            "dedup.verified_pairs": n_ver / max(len(ver), 1),
            "dedup.lsh_precision": n_ver / n_cand if n_cand else 0.0,
        }
        out.update(_spark_per_op(tracer, ops))
        return out

    def detail(self, ops) -> dict:
        return {
            "knn_queries_per_s": gen.CORPUS_QUERIES
            / _median([op["knn_s"] for op in ops]),
            "dedup_docs_per_s": gen.DEDUP_DOCS
            / _median([op["dedup_s"] for op in ops]),
            "pass_p50_ms": _median([op["latency_s"] for op in ops]) * 1e3,
            "pass_cpu_p50_ms": _median([op["cpu_s"] for op in ops]) * 1e3,
            "corpus_rows": gen.CORPUS_ROWS, "dim": gen.DIM,
            "queries_per_pass": gen.CORPUS_QUERIES,
            "dedup_docs": gen.DEDUP_DOCS, "passes": len(ops),
            "near_dup_recall": _median([op.get("near_recall", 0.0)
                                        for op in ops]),
        }


_NULL = NullTracer()

WORKLOADS = {w.name: w for w in (RagTurns, IngestBatches, CorpusBatch)}
