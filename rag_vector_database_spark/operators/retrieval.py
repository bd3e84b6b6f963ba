"""Retrieval operators: k-NN similarity search + the two-stage funnel.

Reference semantics (SURVEY.md section 2 #46-55):
- similarity search = cosine top-k over normalized vectors, so score is
  a plain dot product (query_rag_database.py:361,371,
  Auto_query_rag_database.py:299-301,343).
- two-stage funnel = cheap ANN (k=50) -> expensive cross-encoder rerank
  -> score threshold -> top-n (query_rag_database.py:358-376,
  Auto_query_rag_database.py:296-348). The cheap-first ordering is an
  explicit pipeline shape: Catalyst cannot know the reranker is 1000x
  the dot product's cost, so the funnel stays a fixed composition.

Scale notes:
- ``knn`` is scan + TakeOrderedAndProject: the literal query vector is
  part of the plan (no join), and top-k never materializes a global
  sort. At 100 TB this is embarrassingly parallel over parquet row
  groups.
- An interactive turn does little executor work, so its driver-side
  build cost counts: each per-row expression (score, rerank, snippet)
  is one SQL string parsed by one ``F.expr`` call, and each turn is
  composed from the fewest DataFrame calls (each is one more analysis
  round trip).
- ``ivf_knn`` is the scale path: a coarse sign-bit quantizer prunes the
  scan to one bucket. With the bucket id as a parquet partition/cluster
  column, partition pruning skips ~(1 - 1/2^bits) of the data before
  any vector math. Exact ``knn`` stays the correctness reference
  (SURVEY.md section 7 "both paths live behind one API").
- The reranker here is the deterministic lexical-overlap stand-in for
  the cross-encoder (SURVEY.md section 5.2): Jaccard overlap between
  query and document token sets — built-ins only, oracle-checkable.
  A real cross-encoder drops in as a pandas UDF behind the same column
  contract (score double).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..functions import vectors as V
from ..functions import text as T

# Reference defaults (BASELINE.md)
DEFAULT_K_CANDIDATES = 50       # Auto_query_rag_database.py:64
DEFAULT_K_DIRECT = 20           # Auto_query_rag_database.py:65
DEFAULT_TOP_N = 5               # query_rag_database.py:72
DEFAULT_SIM_THRESHOLD = 0.75    # #22, Auto_query_rag_database.py:67
DEFAULT_RERANK_THRESHOLD = 0.0  # #23, Auto_query_rag_database.py:66


def _score_sql(query_vec: Sequence[float], vec_col: str,
               ndigits: int) -> str:
    dot = V.dot_sql(T.quote_ident(vec_col), V.sql_array(query_vec))
    return f"round({dot}, {int(ndigits)})"


def score_against(df: DataFrame, query_vec: Sequence[float],
                  vec_col: str = "embedding",
                  score_col: str = "score",
                  ndigits: int = 6) -> DataFrame:
    """Attach a rounded dot-product similarity column."""
    return df.withColumn(score_col,
                         F.expr(_score_sql(query_vec, vec_col, ndigits)))


def knn(df: DataFrame, query_vec: Sequence[float], k: int,
        vec_col: str = "embedding", id_col: str = "vec_id",
        score_col: str = "score",
        stats: Observation | None = None) -> DataFrame:
    """Exact brute-force top-k by dot product (deterministic tie-break on
    id). Physical plan: scan -> project(score) -> TakeOrderedAndProject,
    built as select -> orderBy -> limit.

    ``stats``, when given, observes ``score_stat_columns`` over EVERY
    scored row, before the limit, inside the same scan: after an action
    on the result (or on a plan that contains it),
    ``observe.observed(stats)`` holds what ``score_stats`` of
    ``score_against`` would return (the average up to summation order),
    without a second scan."""
    scored = df.selectExpr(
        T.quote_ident(id_col),
        f"{_score_sql(query_vec, vec_col, 6)} AS {T.quote_ident(score_col)}")
    if stats is not None:
        scored = scored.observe(stats, *score_stat_columns(score_col))
    return scored.orderBy(F.desc(score_col), F.col(id_col)).limit(k)


def ivf_knn(df: DataFrame, query_vec: Sequence[float], k: int,
            vec_col: str = "embedding", id_col: str = "vec_id",
            score_col: str = "score", sign_bits: int = 3) -> DataFrame:
    """IVF-style approximate top-k: coarse-quantize vectors by the sign
    pattern of their first ``sign_bits`` dims, then search only the
    query's cell. Recall < 1 by design; exact ``knn`` is the oracle for
    the scan-pruning structure, not the result set."""
    if len(query_vec) < sign_bits:
        raise ValueError(
            f"query vector has {len(query_vec)} dims; the sign quantizer "
            f"needs at least sign_bits={sign_bits}")
    bucket = _sign_bucket(F.col(vec_col), sign_bits)
    qbucket = sum((1 << i) for i in range(sign_bits) if float(query_vec[i]) >= 0)
    scored = score_against(df.where(bucket == F.lit(qbucket)),
                           query_vec, vec_col, score_col)
    return (scored.select(id_col, score_col)
            .orderBy(F.desc(score_col), F.col(id_col)).limit(k))


def ivf_knn_multiprobe(df: DataFrame, query_vec: Sequence[float], k: int,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       score_col: str = "score",
                       sign_bits: int = 3) -> DataFrame:
    """Multiprobe IVF: search the query's sign-bucket PLUS every bucket
    at Hamming distance 1 (one flipped sign bit) — recall recovers the
    near-boundary vectors single-probe IVF misses, while still pruning
    ~(1 - (sign_bits+1)/2^sign_bits) of the data. The probe predicate
    is ``bucket XOR q_bucket in {0, 1, 2, 4, ...}`` — a pushable filter
    on a stored bucket column, i.e. partition pruning at rest."""
    if len(query_vec) < sign_bits:
        raise ValueError(
            f"query vector has {len(query_vec)} dims; the sign quantizer "
            f"needs at least sign_bits={sign_bits}")
    bucket = _sign_bucket(F.col(vec_col), sign_bits)
    qbucket = sum((1 << i) for i in range(sign_bits)
                  if float(query_vec[i]) >= 0)
    probes = [0] + [1 << i for i in range(sign_bits)]
    pruned = df.where(bucket.bitwiseXOR(F.lit(qbucket)).isin(probes))
    scored = score_against(pruned, query_vec, vec_col, score_col)
    return (scored.select(id_col, score_col)
            .orderBy(F.desc(score_col), F.col(id_col)).limit(k))


def _sign_bucket(vec: Column, sign_bits: int) -> Column:
    b = F.lit(0)
    for i in range(sign_bits):
        b = b + F.when(F.element_at(vec, i + 1) >= 0, F.lit(1 << i)).otherwise(F.lit(0))
    return b


def ivf_partitioned_knn(spark, df: DataFrame, query_vec: Sequence[float],
                        k: int, path: str,
                        vec_col: str = "embedding", id_col: str = "vec_id",
                        score_col: str = "score",
                        sign_bits: int = 3) -> DataFrame:
    """``ivf_knn`` with the coarse cell as a PHYSICAL partition column.

    ``ivf_knn`` computes the bucket per row at scan time, so every file
    is still opened. This variant materializes the index layout: the
    corpus is written once partitioned by its sign bucket, and the
    query reads back with ``bucket == q_bucket`` — a partition-column
    predicate that Spark resolves at FILE LISTING time
    (``PartitionFilters`` in the scan node), so ~(1 - 1/2^bits) of the
    files are never opened, let alone decoded. That is the at-rest
    shape of a 100 TB IVF index; same result set as ``ivf_knn`` on the
    same data (identical oracle).
    """
    if len(query_vec) < sign_bits:
        raise ValueError(
            f"query vector has {len(query_vec)} dims; the sign quantizer "
            f"needs at least sign_bits={sign_bits}")
    layout = df.withColumn("bucket", _sign_bucket(F.col(vec_col), sign_bits))
    layout.write.mode("overwrite").partitionBy("bucket").parquet(path)
    qbucket = sum((1 << i) for i in range(sign_bits)
                  if float(query_vec[i]) >= 0)
    cell = spark.read.parquet(path).where(F.col("bucket") == F.lit(qbucket))
    scored = score_against(cell, query_vec, vec_col, score_col)
    return (scored.select(id_col, score_col)
            .orderBy(F.desc(score_col), F.col(id_col)).limit(k))


def lexical_overlap_score(query_text: str, text_col: str,
                          ndigits: int = 6) -> Column:
    """Deterministic cross-encoder stand-in: Jaccard overlap of distinct
    whitespace tokens between the query and column ``text_col``. One
    ``F.expr`` parse over ``text.tokens_sql``; the query enters through
    ``sql_regex``, so quotes, backslashes and ``${`` are plain text."""
    q = f"array_distinct({T.tokens_sql(T.sql_regex(query_text))})"
    d = f"array_distinct({T.tokens_sql(T.quote_ident(text_col))})"
    inter = f"CAST(size(array_intersect({d}, {q})) AS DOUBLE)"
    union = f"CAST(size(array_union({d}, {q})) AS DOUBLE)"
    return F.expr(f"round(CASE WHEN {union} > 0 THEN {inter} / {union} "
                  f"ELSE 0.0D END, {int(ndigits)})")


def rerank(df: DataFrame, query_text: str, text_col: str = "text",
           score_col: str = "relevance_score") -> DataFrame:
    """Attach the rerank score column (#49)."""
    return df.withColumn(score_col,
                         lexical_overlap_score(query_text, text_col))


def retrieval_funnel(embeddings: DataFrame, documents: DataFrame,
                     query_vec: Sequence[float], query_text: str,
                     k_candidates: int = DEFAULT_K_CANDIDATES,
                     top_n: int = DEFAULT_TOP_N,
                     rerank_threshold: float = DEFAULT_RERANK_THRESHOLD,
                     vec_col: str = "embedding", vec_id: str = "vec_id",
                     doc_id: str = "doc_id",
                     stats: Observation | None = None) -> DataFrame:
    """The reference's full two-stage funnel (#51):

    knn(k) |> join docs |> rerank + snippet |> orderBy desc |> limit n
           |> filter(score >= theta)

    The candidate set is tiny (k rows) after stage 1, so the doc join is
    a broadcast of the candidates into the documents scan. The rerank
    score and the snippet are computed in one ``select``. ``stats`` is
    passed to ``knn``: the score stats of all scored rows ride the
    funnel's own embeddings scan (2 jobs, where a separate
    ``score_stats`` scanned the embeddings a second time).

    The threshold sits AFTER the limit, and that is what keeps the
    reranker on the k joined rows: a filter below the limit only reads
    documents columns, so Catalyst pushes it (the whole rerank
    expression) into the documents scan and scores every document.
    A filter cannot move below a limit. The result is the same as
    filter-then-limit: the threshold is on the leading sort key, and
    a NULL score sorts last and fails it, so the rows that pass are a
    prefix of the ordered rows, and the first n of them are the same
    either way."""
    candidates = knn(embeddings, query_vec, k_candidates, vec_col, vec_id,
                     stats=stats)
    joined = documents.join(F.broadcast(candidates),
                            documents[doc_id] == candidates[vec_id])
    return (joined
            .select(doc_id, "score",
                    lexical_overlap_score(query_text, "text")
                    .alias("relevance_score"),
                    T.snippet("text", 80).alias("snippet"))
            .orderBy(F.desc("relevance_score"), F.desc("score"), F.col(doc_id))
            .limit(top_n)
            # #23: rerank-score threshold (interactive override in the
            # reference = this parameter; Auto_query_rag_database.py:327-341)
            .where(f"relevance_score >= {V.sql_double(rerank_threshold)}"))


def direct_retrieval(df: DataFrame, query_vec: Sequence[float],
                     k: int = DEFAULT_K_DIRECT,
                     sim_threshold: float = DEFAULT_SIM_THRESHOLD,
                     vec_col: str = "embedding",
                     id_col: str = "vec_id") -> DataFrame:
    """The no-reranker branch (#48 + #22): similarity search WITH scores
    (k=20) then the base similarity threshold sigma(score >= 0.75)
    (Auto_query_rag_database.py:343-346). Threshold applies AFTER top-k,
    matching the reference's retrieve-then-filter order."""
    return knn(df, query_vec, k, vec_col, id_col) \
        .where(F.col("score") >= F.lit(sim_threshold))


def estimate_rows(df: DataFrame, fallback_row_bytes: int = 3200) -> int:
    """Estimated row count from Catalyst plan statistics — NO job runs.
    Uses the optimizer's rowCount when available (CBO / AQE-collected),
    else sizeInBytes divided by an assumed row width (the default suits
    a 768-float embedding row). Estimates only steer strategy dispatch,
    so being off by 2x is harmless; running df.count() on a 100 TB table
    just to pick a strategy is not."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    rc = stats.rowCount()
    if rc.isDefined():
        return int(str(rc.get()))
    return max(int(str(stats.sizeInBytes())) // fallback_row_bytes, 1)


def topk_by_similarity(df: DataFrame, query_vec: Sequence[float], k: int,
                       vec_col: str = "embedding", id_col: str = "vec_id",
                       approx_threshold_rows: int = 10_000_000,
                       n_rows: int | None = None) -> DataFrame:
    """The one-call API from SURVEY.md section 4: picks brute-force
    (exact, scan-parallel) for small tables and sign-bucket IVF pruning
    for large ones. ``n_rows`` may be passed when the caller knows the
    table size; otherwise the dispatch reads Catalyst plan statistics
    (estimate_rows) — never an eager count job."""
    n = n_rows if n_rows is not None else estimate_rows(df)
    if n <= approx_threshold_rows:
        return knn(df, query_vec, k, vec_col, id_col)
    return ivf_knn(df, query_vec, k, vec_col, id_col)


def score_stat_columns(score_col: str = "score",
                       ndigits: int = 6) -> list[Column]:
    """The four score-stat aggregates (min, max, avg rounded to
    ``ndigits``, and the row count), shared by ``score_stats`` and the
    observation ``knn`` attaches."""
    s, n = T.quote_ident(score_col), int(ndigits)
    return [F.expr(f"round(min({s}), {n}) AS min_score"),
            F.expr(f"round(max({s}), {n}) AS max_score"),
            F.expr(f"round(avg({s}), {n}) AS avg_score"),
            F.expr("CAST(count(1) AS BIGINT) AS n_candidates")]


def score_stats(scored: DataFrame, score_col: str = "score",
                ndigits: int = 6) -> DataFrame:
    """min/max/avg score stats shown before thresholding (#52,
    Auto_query_rag_database.py:328-331), as a separate aggregate over
    ``scored``. The auto loop gets the same values without this extra
    scan from the observation ``knn(stats=...)`` attaches."""
    return scored.agg(*score_stat_columns(score_col, ndigits))


def knn_batch_topk(corpus: DataFrame, queries: DataFrame, k: int,
                   vec_col: str = "embedding", id_col: str = "vec_id",
                   query_id_col: str = "qid", query_vec_col: str = "qv",
                   n_salts: int = 8, ndigits: int = 6,
                   pair_filter: Column | None = None) -> DataFrame:
    """Batched kNN: top-k corpus neighbors for MANY query vectors in one
    pass (the offline scoring shape — the reference answers one query at
    a time, Auto_query_rag_database.py:64; batch scoring is its
    N-query generalization).

    Scale design: the query set is broadcast against the corpus scan,
    so scoring is shuffle-free. A naive per-query window would then
    concentrate EVERY scored row in one partition per query (q
    partitions for the whole job); instead top-k runs in two phases —
    phase 1 ranks each (query, salt) sub-group with a row_number
    window, an external (disk-spilling) sort over 1/n_salts of the
    scored rows per query, and keeps its top-k; phase 2 re-ranks the
    ``n_salts * k`` survivors per query with a tiny array fold. (An
    earlier phase 1 folded through collect_list, which materializes a
    (query, salt) sub-group — corpus/n_salts scored rows — as ONE
    aggregation-buffer array; the window spills instead.) The
    phase-2 shuffle carries k rows per salt, never the corpus.

    Ties break to the lower corpus id (scores are rounded BEFORE
    ranking so both engines rank the same values).

    ``pair_filter`` prunes (corpus row, query row) pairs before any
    scoring — e.g. a label-mismatch predicate turns this into
    hard-negative mining. It runs inside the broadcast join, so
    pruned pairs never cost a dot product."""
    joined = corpus.crossJoin(F.broadcast(queries))
    if pair_filter is not None:
        joined = joined.where(pair_filter)
    scored = (joined
              .select(F.col(query_id_col),
                      F.col(id_col),
                      F.round(V.dot(vec_col, query_vec_col),
                              ndigits).alias("score")))

    def fold(df: DataFrame, keys: list) -> DataFrame:
        # sort_array(desc) over struct(score, -id) = score desc, id asc
        item = F.struct(F.col("score"), (-F.col(id_col)).alias("nid"))
        return (df.groupBy(*keys)
                .agg(F.slice(F.sort_array(F.collect_list(item), False),
                             1, k).alias("top"))
                .select(*keys, F.explode("top").alias("t"))
                .select(*keys, (-F.col("t.nid")).alias(id_col),
                        F.col("t.score").alias("score")))

    # phase 1: spill-safe per-(query, salt) ranking; (score desc,
    # id asc) is exactly the fold's struct(score, -id) comparator,
    # so the kept set — and hence the result — is unchanged.
    w = (Window.partitionBy(query_id_col, "__salt")
         .orderBy(F.desc("score"), F.asc(id_col)))
    partial = (scored
               .withColumn("__salt",
                           F.pmod(F.col(id_col), F.lit(n_salts)))
               .withColumn("__rn", F.row_number().over(w))
               .where(F.col("__rn") <= k)
               .select(query_id_col, id_col, "score"))
    return fold(partial, [query_id_col])


def bm25_topk(docs: DataFrame, query_text: str, k: int,
              text_col: str = "text", id_col: str = "doc_id",
              k1: float = 1.2, b: float = 0.75,
              ndigits: int = 6) -> DataFrame:
    """Sparse lexical retrieval: BM25 top-k over a tokenized corpus —
    the term-match complement to the dense cosine path (the reference
    retrieves dense-only, query_rag_database.py:144; BM25 is the
    standard hybrid partner).

    Plan: one explode+groupBy pass builds per-(doc,term) tf; document
    frequency and the global (N, avgdl) scalars are one-row aggregates
    cross-joined into the plan (no driver collect); the query's term
    set is a broadcast semi-filter, so scoring touches only postings
    of query terms. Final top-k is TakeOrderedAndProject."""
    q_terms = sorted(set(query_text.split()))
    toks = T.tokens(F.col(text_col))
    # NO widen gate, on measurement (r15): an isolated interleaved A/B
    # (explode_outer held constant, 8 samples/leg, both orders) put the
    # widened build at min 1.364 / med 1.817 s vs plain min 1.060 /
    # med 1.357 s at sf0.1 local[32] — the round-robin exchange costs
    # more than the tokenize parallelism buys because the per-pass
    # kernel here (split + count) is cheap, the same negative result
    # the curation_pipeline widen A/B measured. The driver's r14 bench
    # saw the same (+25% vs r13). At 100 TB the scan is already wide,
    # so the gate would be a no-op there anyway — removing it loses
    # nothing at scale.
    base = docs.select(F.col(id_col), F.col(text_col)) \
        .select(F.col(id_col), toks.alias("__toks")) \
        .withColumn("dl", F.size("__toks").cast("double"))
    # explode_OUTER: plain explode lets InferFiltersFromGenerate push a
    # size(__toks) > 0 filter down to the scan, re-evaluating the
    # tokenizer there (see contamination_overlap_dict). The only extra
    # rows are (id, dl, NULL), and NULL never satisfies the isin()
    # term filter below — results identical.
    tf = (base.select(id_col, "dl", F.explode_outer("__toks").alias("term"))
          .groupBy(id_col, "dl", "term")
          .agg(F.count(F.lit(1)).cast("double").alias("tf"))
          .where(F.col("term").isin(q_terms)))
    df_t = (tf.groupBy("term")
            .agg(F.countDistinct(id_col).cast("double").alias("df")))
    glob = base.agg(F.count(F.lit(1)).cast("double").alias("n_docs"),
                    F.avg("dl").alias("avgdl"))
    idf = F.log((F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5) + 1.0)
    contrib = idf * (F.col("tf") * (k1 + 1.0)
                     / (F.col("tf") + k1 * (1.0 - b + b * F.col("dl")
                                            / F.col("avgdl"))))
    return (tf.join(F.broadcast(df_t), "term")
            .crossJoin(F.broadcast(glob))
            .groupBy(id_col)
            .agg(F.round(F.sum(contrib), ndigits).alias("bm25"))
            .orderBy(F.desc("bm25"), F.col(id_col))
            .limit(k))


def mmr_rerank(candidates: DataFrame, k: int = 5, lam: float = 0.7,
               vec_col: str = "embedding", id_col: str = "vec_id",
               score_col: str = "score") -> DataFrame:
    """Maximal-marginal-relevance diversity rerank (Carbonell &
    Goldstein 1998) over a scored candidate set: greedily pick the
    candidate maximizing ``lam*score - (1-lam)*max_sim_to_selected``
    so near-duplicate passages don't crowd the context window — the
    diversity step the reference's plain top-n rerank (#50) lacks.

    Scale shape: the corpus-sized work is candidate GENERATION
    (scan + TakeOrderedAndProject upstream); this loop is bounded by
    the candidate count (tens), never the corpus. Each of the k-1
    steps joins the candidate set against the one-row collected
    selection (broadcast) and takes a 1-row TakeOrdered — tiny jobs
    on k-bounded data, no driver collect of anything larger than the
    final result. Pick 1 defines mmr = score (empty selection).
    Ties break on the id, matching the oracle's unrolled CTEs."""
    # the diversity coefficient must be the SAME double both engines
    # parse from a decimal literal — 1.0 - 0.7 in binary float is NOT
    # the double nearest 0.3, and near-duplicate candidates sit within
    # that 5e-17 of each other by construction
    mu = round(1.0 - lam, 6)
    # materialize the candidate set once: the greedy loop references it
    # k-1 times (and the growing selection twice per step) — without
    # truncation the final plan re-runs the corpus scan ~2^k times
    candidates = candidates.localCheckpoint(eager=True)
    cols = [id_col, vec_col, score_col, "pick_order", "mmr"]
    sel = (candidates.orderBy(F.desc(score_col), id_col).limit(1)
           .withColumn("pick_order", F.lit(1))
           .withColumn("mmr", F.col(score_col)).select(cols))
    for i in range(2, k + 1):
        sel = sel.localCheckpoint(eager=True)  # k-bounded rows
        sel_agg = sel.agg(
            F.collect_list(F.struct(F.col(vec_col).alias("v"))).alias("__sel"),
            F.collect_list(id_col).alias("__ids"))
        rem = (candidates.crossJoin(F.broadcast(sel_agg))
               .where(~F.array_contains(F.col("__ids"), F.col(id_col))))
        maxsim = F.expr(
            "array_max(transform(__sel, s -> "
            f"{V.dot_sql(T.quote_ident(vec_col), 's.v')}))")
        pick = (rem.withColumn(
                    "mmr", F.lit(lam) * F.col(score_col) - F.lit(mu) * maxsim)
                .orderBy(F.desc("mmr"), id_col).limit(1)
                .withColumn("pick_order", F.lit(i)).select(cols))
        sel = sel.unionByName(pick)
    return sel.select(id_col, "pick_order", score_col,
                      F.round("mmr", 6).alias("mmr"))


def dcg_discounts(k: int) -> list[float]:
    """Positional DCG discounts 1/log2(rank+1) for ranks 1..k, rounded
    to 12 decimal digits. BOTH engines consume these as parsed decimal
    literals (never re-deriving log2 at runtime), because libm log2 is
    not correctly-rounded and a 1-ulp disagreement between the JVM and
    DuckDB would sit exactly where a 6dp round could flip."""
    import math
    return [round(1.0 / math.log2(r + 1), 12) for r in range(1, k + 1)]


def dcg_cum_discounts(k: int) -> list[float]:
    """Ideal-DCG prefix sums of ``dcg_discounts`` (rank 1..k), rounded
    to 12dp so the IDCG denominator is a shared literal too."""
    disc = dcg_discounts(k)
    out, acc = [], 0.0
    for d in disc:
        acc += d
        out.append(round(acc, 12))
    return out


def ranking_metrics(topk: DataFrame, relevant: DataFrame,
                    rel_counts: DataFrame, k: int,
                    query_id_col: str = "qid", id_col: str = "vec_id",
                    score_col: str = "score",
                    ndigits: int = 6) -> DataFrame:
    """Offline retrieval-quality evaluation: nDCG@k, MRR, precision@k
    and recall@k per query over a ranked candidate list — the metric
    layer every embedding-pipeline change is judged by (the reference
    eyeballs similarity scores per query, Auto_query_rag_database.py;
    this is that check made into a measurable, per-query scorecard).

    Inputs: ``topk`` (query_id, candidate id, score — e.g. from
    knn_batch_topk), ``relevant`` (query_id, candidate id) the graded-
    relevant pairs, ``rel_counts`` (query_id, n_rel) TOTAL relevant
    per query in the corpus (recall / ideal-DCG denominator).

    Ranks are assigned on (score desc, id asc) — the same tie order
    knn_batch_topk emits — and every transcendental constant
    (1/log2(r+1), its prefix sums) enters as a shared 12dp literal,
    so both engines rank and discount identical values. Scale: the
    window partitions by query id over q*k rows (the corpus was
    already folded away upstream); ``relevant`` joins on (query,
    candidate) — at 100 TB of judgments that join shuffles q*k rows
    against it, never the corpus."""
    disc = F.array(*[F.lit(d) for d in dcg_discounts(k)])
    cum = F.array(*[F.lit(c) for c in dcg_cum_discounts(k)])
    w = Window.partitionBy(query_id_col).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc())
    rel = (relevant.select(F.col(query_id_col).alias("__rq"),
                           F.col(id_col).alias("__ri"))
           .withColumn("__rel", F.lit(1)))
    ranked = (topk.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= k)
              .join(rel, (F.col(query_id_col) == F.col("__rq"))
                    & (F.col(id_col) == F.col("__ri")), "left")
              .select(query_id_col, "rn",
                      F.coalesce(F.col("__rel"), F.lit(0)).alias("rel")))
    per_q = (ranked.groupBy(query_id_col)
             .agg(F.sum(F.col("rel")
                        * F.element_at(disc, F.col("rn"))).alias("dcg"),
                  F.min(F.when(F.col("rel") == 1, F.col("rn"))).alias("best"),
                  F.sum("rel").cast("long").alias("hits")))
    m = F.least(F.col("n_rel"), F.lit(k)).cast("int")
    return (per_q.join(rel_counts, query_id_col)
            .select(
                query_id_col,
                F.col("n_rel").cast("long").alias("n_rel"),
                F.round(F.when(m >= 1, F.col("dcg") / F.element_at(cum, m))
                        .otherwise(F.lit(0.0)), ndigits).alias("ndcg_at_k"),
                F.round(F.when(F.col("best").isNotNull(),
                               F.lit(1.0) / F.col("best"))
                        .otherwise(F.lit(0.0)), ndigits).alias("mrr"),
                F.round(F.col("hits") / F.lit(float(k)), ndigits)
                 .alias("p_at_k"),
                F.round(F.when(F.col("n_rel") > 0,
                               F.col("hits") / F.col("n_rel").cast("double"))
                        .otherwise(F.lit(0.0)), ndigits)
                 .alias("recall_at_k")))
