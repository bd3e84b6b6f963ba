"""Text analysis operators for training-data pipelines.

The reference's corpus has no quality gates at all — every chunk is
embedded and stored. A 100 TB pipeline filters first: language ID,
quality scoring, token accounting, fingerprinting (the north-star ops
in BASELINE.json). All pure built-ins: per-row, scan-local, zero
shuffle, oracle-checkable.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.scanwidth import widen_narrow_scan
from ..functions.text import distinct_tokens, tokens
from .dedup import fingerprint

# Tiny stopword lists for the n-gram/stopword language heuristic.
# Deliberately short — the heuristic's structure (overlap argmax), not
# linguistic coverage, is the operator under test.
STOPWORDS = {
    "en": ["the", "a", "of", "and", "to", "in", "is", "for", "on", "with"],
    "de": ["der", "die", "das", "und", "zu", "in", "ist", "mit", "von", "ein"],
    "fr": ["le", "la", "de", "et", "les", "en", "est", "pour", "dans", "une"],
}


def stopword_hits(text: Column, lang: str) -> Column:
    """How many distinct tokens of ``text`` are stopwords of ``lang``."""
    stops = F.array(*[F.lit(w) for w in STOPWORDS[lang]])
    return F.size(F.array_intersect(distinct_tokens(F.lower(text)), stops))


def lang_guess(text: Column) -> Column:
    """Argmax language by stopword overlap; ties resolve in en>de>fr
    order; no hits at all -> 'und' (undetermined)."""
    scores = {lg: stopword_hits(text, lg) for lg in STOPWORDS}
    best = F.greatest(*scores.values())
    out = F.lit("und")
    for lg in reversed(list(STOPWORDS)):  # earlier langs win ties
        out = F.when(scores[lg] == best, F.lit(lg)).otherwise(out)
    return F.when(best > 0, out).otherwise(F.lit("und"))


# BPE-ish lexical segmentation: letter runs, digit runs, single other
BPE_RE = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]"


def token_stats(df: DataFrame, text_col: str = "text",
                key_col: str = "doc_id") -> DataFrame:
    """Token accounting: whitespace tokens, distinct tokens, type-token
    ratio, BPE-ish segment count, chars per token."""
    text = F.col(text_col)
    toks = tokens(text)
    n_tok = F.size(toks)
    n_dis = F.size(F.array_distinct(toks))
    return df.select(
        F.col(key_col),
        n_tok.alias("n_tokens"),
        n_dis.alias("n_distinct"),
        F.round(F.when(n_tok > 0, n_dis.cast("double") / n_tok).otherwise(0.0), 6)
         .alias("ttr"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_RE), 0)).alias("n_bpe"),
        F.round(F.when(n_tok > 0,
                       F.length(F.regexp_replace(text, r"\s+", "")).cast("double") / n_tok)
                .otherwise(0.0), 6).alias("chars_per_token"))


def _quality_parts(text: Column) -> dict[str, Column]:
    """The quality composite's ingredient expressions, shared by
    quality_score (the DataFrame view) and quality_expr (the
    embeddable column)."""
    toks = tokens(text)
    n_tok = F.size(toks)
    n_chars = F.length(text)
    punct = (F.length(text)
             - F.length(F.regexp_replace(text, r"[^A-Za-z0-9\s]", "")))
    return {
        "n_chars": n_chars,
        "punct_ratio": F.when(n_chars > 0,
                              punct.cast("double") / n_chars).otherwise(0.0),
        "stop_ratio": F.when(n_tok > 0,
                             stopword_hits(text, "en").cast("double")
                             / n_tok).otherwise(0.0),
        "ttr": F.when(n_tok > 0,
                      F.size(F.array_distinct(toks)).cast("double")
                      / n_tok).otherwise(0.0),
        "len_sat": F.least(n_chars.cast("double") / 400.0, F.lit(1.0)),
    }


def quality_expr(text: Column) -> Column:
    """The composite quality score in [0, 1] as a COLUMN EXPRESSION
    (6dp-rounded), so callers can thread it through another kernel's
    struct key — kernels pass key_col verbatim, which yields
    one-scan/zero-join compositions (see
    quality_gate_calibration_matrix). quality_score is the DataFrame
    wrapper over the same formula."""
    p = _quality_parts(text)
    score = (F.lit(0.4) * p["len_sat"] + F.lit(0.3) * p["ttr"]
             + F.lit(0.3) * F.least(p["stop_ratio"] * 5.0, F.lit(1.0))
             - F.lit(0.2) * p["punct_ratio"])
    return F.round(F.greatest(F.least(score, F.lit(1.0)), F.lit(0.0)), 6)


def quality_score(df: DataFrame, text_col: str = "text",
                  key_col: str = "doc_id") -> DataFrame:
    """Heuristic quality features + composite score in [0,1]:
    length saturation, stopword ratio, type-token ratio, punctuation
    penalty — the shape of production quality filters (exact weights
    are a policy knob, not a semantic)."""
    text = F.col(text_col)
    p = _quality_parts(text)
    return df.select(
        F.col(key_col),
        p["n_chars"].alias("n_chars_q"),
        F.round(p["punct_ratio"], 6).alias("punct_ratio"),
        F.round(p["stop_ratio"], 6).alias("stop_ratio"),
        F.round(p["ttr"], 6).alias("ttr"),
        quality_expr(text).alias("quality"))


def doc_fingerprints(df: DataFrame, text_col: str = "text",
                     key_col: str = "doc_id") -> DataFrame:
    """Content fingerprint + coarse length bucket (rolling-hash family
    stand-in; md5 for oracle portability)."""
    return df.select(
        F.col(key_col),
        fingerprint(F.col(text_col)).alias("fingerprint"),
        (F.length(F.col(text_col)) - F.length(F.col(text_col)) % 50)
        .alias("len_bucket"))


def word_frequencies(df: DataFrame, text_col: str = "text",
                     top_k: int = 20) -> DataFrame:
    """Corpus-level term frequencies, top-k (count desc, token asc)."""
    return (df.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("token"))
            .groupBy("token")
            .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
            .orderBy(F.desc("cnt"), F.col("token"))
            .limit(top_k))


ROLL_B = 1000003          # polynomial base
ROLL_P = (1 << 31) - 1    # Mersenne modulus keeps acc * B inside int64


def rolling_hash(hv_array: Column) -> Column:
    """Rabin-Karp polynomial hash over a token-hash array:
    h_i = (h_{i-1} * B + x_i) mod P, strictly left-to-right — exact
    integer arithmetic, portable to any engine with a list fold."""
    return F.aggregate(
        hv_array, F.lit(0).cast("long"),
        lambda acc, x: (acc * ROLL_B + x) % ROLL_P)


def rolling_fingerprints(df: DataFrame, text_col: str = "text",
                         key_col: str = "doc_id",
                         window: int = 4) -> DataFrame:
    """True rolling-hash fingerprinting (the doc_fingerprints md5
    stand-in upgraded): per doc, the full-sequence Rabin-Karp hash and
    the MINIMUM windowed hash over ``window``-token windows (the
    winnowing signature used for local plagiarism/near-dup matching —
    two docs sharing any w-token run share window hashes).
    Short docs (< window tokens) fall back to the full hash."""
    from ..functions.hashing import md5_long
    from ..functions.text import tokens
    tk = df.select(F.col(key_col), tokens(F.col(text_col)).alias("tk"))
    hv = F.transform(F.col("tk"), lambda t: md5_long(t))
    with_hv = tk.select(key_col, hv.alias("hv"))
    n = F.size("hv")
    windows = F.when(
        n >= window,
        F.transform(F.sequence(F.lit(1), n - (window - 1)),
                    lambda i: rolling_hash(F.slice(F.col("hv"), i, window)))
    ).otherwise(F.array(rolling_hash(F.col("hv"))))
    return with_hv.select(
        key_col,
        rolling_hash(F.col("hv")).alias("rk_hash"),
        F.array_min(windows).alias("winnow_min"))


def unigram_logprob_quality(docs: DataFrame, vocab_size: int = 200,
                            text_col: str = "text",
                            key_col: str = "doc_id") -> DataFrame:
    """Unigram language-model quality signal (the cheap stand-in for
    KenLM perplexity filters in web-corpus pipelines): fit an add-one-
    smoothed unigram model on the corpus itself, then score every doc
    by mean token log-probability and out-of-vocabulary rate. Low
    avg_logp / high oov_rate flags boilerplate, non-language, and
    junk docs for the quality gate.

    Model: vocab = top ``vocab_size`` tokens by corpus frequency (count
    desc, token asc); p(tok) = (cnt+1)/(N+V+1) for vocab tokens and
    1/(N+V+1) for any OOV token, N = corpus token count, V = vocab_size.

    Scale shape: token counts are one map-side-combined shuffle; the
    vocab (top-V) is TakeOrderedAndProject and BROADCASTs with its
    log-probs back onto the token stream, as does the single-row N —
    so scoring is a scan-local broadcast join plus one groupBy on the
    doc key, where partial aggregation collapses each doc's tokens
    map-side (a doc's tokens never span partitions)."""
    tk = (docs
          .select(F.col(key_col),
                  F.explode(tokens(F.lower(F.col(text_col)))).alias("tok")))
    cnts = tk.groupBy("tok").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = cnts.agg(F.sum("cnt").cast("long").alias("n_total"))
    vocab = (cnts.orderBy(F.desc("cnt"), "tok").limit(vocab_size)
             .crossJoin(F.broadcast(tot))
             .select("tok",
                     F.log((F.col("cnt") + 1)
                           / (F.col("n_total") + vocab_size + 1))
                     .alias("logp")))
    scored = (tk.join(F.broadcast(vocab), "tok", "left")
              .crossJoin(F.broadcast(tot))
              .select(key_col,
                      F.coalesce(
                          F.col("logp"),
                          F.log(1.0 / (F.col("n_total") + vocab_size + 1)))
                      .alias("logp"),
                      F.col("logp").isNull().cast("int").alias("oov")))
    return (scored.groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_tok"),
                 F.sum("oov").cast("long").alias("n_oov"),
                 F.round(F.avg("logp"), 6).alias("avg_logp"))
            .withColumn("oov_rate",
                        F.round(F.col("n_oov") / F.col("n_tok"), 6)))


def bpe_merge_ranks(docs: DataFrame, iters: int = 2, top_n: int = 5,
                    text_col: str = "text") -> DataFrame:
    """Byte-pair-encoding merge learning (Sennrich et al. 2016), the
    tokenizer-training step of an LLM data pipeline: count adjacent
    symbol pairs weighted by word frequency, merge the most frequent
    pair, repeat. Returns the top ``top_n`` pairs of each iteration
    as (iteration, rank, pair, freq) — iteration i's table is the
    pair distribution AFTER applying the first i-1 merges.

    Scale design (the HF-tokenizers shape): iterations run over the
    WORD-FREQUENCY table, not the corpus — one corpus scan builds it
    (Heaps' law keeps it tiny relative to 100 TB of text), after which
    each iteration is a pair-explode + map-side-combined groupBy on
    that small table plus a ONE-ROW broadcast of the winning pair; the
    merge itself is a scan-local string replace (left-to-right
    non-overlapping, which IS the greedy BPE merge order).

    Symbols are space-delimited chars with a '</w>' end-of-word mark;
    a merged pair concatenates its symbols. Ties rank freq desc then
    pair asc, matching the oracle."""
    words = (docs
             .select(F.explode(tokens(F.lower(F.col(text_col))))
                     .alias("word"))
             .groupBy("word")
             .agg(F.count(F.lit(1)).cast("long").alias("freq"))
             .withColumn("symstr",
                         F.concat(F.lit(" "),
                                  F.regexp_replace("word", "(.)", "$1 "),
                                  F.lit("</w> "))))
    out = None
    for it in range(1, iters + 1):
        syms = F.split(F.trim(F.col("symstr")), " ")
        pair = F.explode(F.transform(
            F.sequence(F.lit(0), F.size(syms) - 2),
            lambda i: F.concat(F.get(syms, i), F.lit(" "),
                               F.get(syms, i + 1))))
        pc = (words.select("freq", pair.alias("pair"))
              .groupBy("pair")
              .agg(F.sum("freq").cast("long").alias("freq")))
        ranked = (pc.orderBy(F.desc("freq"), "pair").limit(top_n)
                  .select(F.lit(it).alias("iteration"),
                          F.row_number().over(
                              Window.orderBy(F.desc("freq"), "pair"))
                          .cast("int").alias("rank"),
                          "pair", "freq"))
        out = ranked if out is None else out.unionByName(ranked)
        if it < iters:
            best = (pc.orderBy(F.desc("freq"), "pair").limit(1)
                    .select(F.col("pair").alias("__bp"),
                            F.regexp_replace("pair", " ", "")
                            .alias("__merged")))
            words = (words.crossJoin(F.broadcast(best))
                     .withColumn(
                         "symstr",
                         F.expr("replace(symstr, ' ' || __bp || ' ', "
                                "' ' || __merged || ' ')"))
                     .drop("__bp", "__merged"))
    return out


def bigrams_all(toks: Column) -> Column:
    """All adjacent token bigrams (with repeats — an LM counts
    occurrences, unlike the distinct shingle sets used for dedup).
    Same slice+join construction as dedup.shingles_from_tokens, minus
    the array_distinct; the same sequence(1,0)-descends guard applies."""
    return F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(1), F.size(toks) - 1),
                    lambda i: F.array_join(F.slice(toks, i, 2), " "))
    ).otherwise(F.array().cast("array<string>"))


def bigram_logprob_quality(docs: DataFrame, vocab_size: int = 200,
                           text_col: str = "text",
                           key_col: str = "doc_id") -> DataFrame:
    """Bigram language-model quality signal — one order up from
    unigram_logprob_quality and the closest built-in stand-in for the
    KenLM n-gram perplexity filters of CCNet-style pipelines: fit an
    add-one-smoothed bigram model on the corpus, then score every doc
    by mean bigram log-probability and out-of-vocabulary-bigram rate.
    Word-salad documents score near the OOV floor even when every
    individual token is common — exactly the junk a unigram model
    cannot see.

    Model: vocab = top ``vocab_size`` bigrams by corpus frequency
    (count desc, bigram asc); p(bg) = (cnt+1)/(N+V+1) for vocab
    bigrams, 1/(N+V+1) otherwise, N = corpus bigram count.

    Scale shape (same as the unigram operator): bigram formation is
    scan-local (a doc's bigrams never cross partitions); counts are
    one map-side-combined shuffle; the top-V vocab is
    TakeOrderedAndProject and BROADCASTs back onto the bigram stream
    with the single-row N; final per-doc groupBy partial-aggregates
    map-side."""
    bg = (docs
          .select(F.col(key_col),
                  F.explode(bigrams_all(tokens(F.lower(F.col(text_col)))))
                  .alias("big")))
    cnts = bg.groupBy("big").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    tot = cnts.agg(F.sum("cnt").cast("long").alias("n_total"))
    vocab = (cnts.orderBy(F.desc("cnt"), "big").limit(vocab_size)
             .crossJoin(F.broadcast(tot))
             .select("big",
                     F.log((F.col("cnt") + 1)
                           / (F.col("n_total") + vocab_size + 1))
                     .alias("logp")))
    scored = (bg.join(F.broadcast(vocab), "big", "left")
              .crossJoin(F.broadcast(tot))
              .select(key_col,
                      F.coalesce(
                          F.col("logp"),
                          F.log(1.0 / (F.col("n_total") + vocab_size + 1)))
                      .alias("logp"),
                      F.col("logp").isNull().cast("int").alias("oov")))
    return (scored.groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.sum("oov").cast("long").alias("n_oov"),
                 F.round(F.avg("logp"), 6).alias("avg_logp"))
            .withColumn("oov_rate",
                        F.round(F.col("n_oov") / F.col("n_bigrams"), 6)))


def gopher_quality_flags(docs: DataFrame, min_words: int = 50,
                         max_words: int = 100_000,
                         min_mean_len: float = 3.0,
                         max_mean_len: float = 10.0,
                         max_symbol_ratio: float = 0.1,
                         min_alpha_frac: float = 0.8,
                         min_stop_hits: int = 2,
                         text_col: str = "text",
                         key_col: str = "doc_id") -> DataFrame:
    """Gopher-style document quality rules (Rae et al. 2021, table A1
    — the rule set MassiveText filtered with, reused by RefinedWeb and
    Dolma): word-count bounds, mean-word-length window, symbol-to-word
    ratio (# and ellipsis), fraction of words containing an alphabetic
    character, and a minimum stopword hit count. Returns the metrics,
    one 0/1 flag per rule, and the conjunction ``pass_gopher`` — kept
    separate so downstream can audit WHICH rule rejected a document
    (the flags are the monitoring dashboard of a filtering run).

    Plan: pure per-row expressions over one scan — no UDF, no shuffle
    beyond the narrow-scan widen gate (a one-split local corpus would
    otherwise evaluate ~0.3 ms/row of rule expressions in ONE task —
    measured 1.8 s serial vs ~0.3 s wide at sf0.1; at 100 TB the scan
    is already wide and the gate is a no-op, so this runs at
    parquet-read speed with the projection pushed down to
    (key, text). Flags are integers; partitioning cannot perturb
    values.

    The rule block is constructed as SQL strings (12 F.expr parses
    instead of ~350 py4j round trips — the Column-API construction
    alone cost 0.34 s of driver wall per call; see the r14
    expression-construction notes). Verified row- and
    schema-identical against the Column-API build, including
    empty/whitespace-only/symbol-edge documents."""
    from ..functions.text import quote_ident, sql_regex, tokens_sql

    docs = widen_narrow_scan(docs)
    T = quote_ident(text_col)

    # the SQL tokenizer: ONE definition in functions.text.tokens_sql
    # (shared with the dedup shingle chain; tests pin it row-identical
    # to the Column-API tokens under both escapedStringLiterals
    # settings — r15, replaces the local copy and the conf-dependent
    # '\\s+' literal)
    TOKS = tokens_sql(T)
    LTOKS = tokens_sql(f"lower({T})")
    n_words = f"size({TOKS})"
    sum_len = f"aggregate({TOKS}, 0, (acc, t) -> acc + length(t))"
    mean_len = (f"CASE WHEN {n_words} > 0 THEN CAST({sum_len} AS DOUBLE)"
                f" / {n_words} ELSE 0.0D END")
    n_hash = f"(length({T}) - length(regexp_replace({T}, '#', '')))"
    n_ell = (f"((length({T}) - length(regexp_replace({T},"
             " " + sql_regex(r"\.\.\.") + ", ''))) / 3)")
    symbol_ratio = (f"CASE WHEN {n_words} > 0 THEN "
                    f"CAST(({n_hash} + {n_ell}) AS DOUBLE) / {n_words} "
                    f"ELSE 0.0D END")
    n_alpha = f"size(filter({TOKS}, t -> t rlike '[A-Za-z]'))"
    alpha_frac = (f"CASE WHEN {n_words} > 0 THEN CAST({n_alpha} AS "
                  f"DOUBLE) / {n_words} ELSE 0.0D END")
    stops = ",".join(sql_regex(w) for w in STOPWORDS["en"])
    n_stop = (f"size(array_intersect(array_distinct({LTOKS}), "
              f"array({stops})))")
    f_words = (f"CAST({n_words} >= {int(min_words)} AND "
               f"{n_words} <= {int(max_words)} AS INT)")
    f_len = (f"CAST({mean_len} >= {float(min_mean_len)!r}D AND "
             f"{mean_len} <= {float(max_mean_len)!r}D AS INT)")
    f_sym = f"CAST({symbol_ratio} <= {float(max_symbol_ratio)!r}D AS INT)"
    f_alpha = f"CAST({alpha_frac} >= {float(min_alpha_frac)!r}D AS INT)"
    f_stop = f"CAST({n_stop} >= {int(min_stop_hits)} AS INT)"
    return docs.select(
        F.col(key_col),
        F.expr(f"{n_words} AS n_words"),
        F.expr(f"round({mean_len}, 6) AS mean_word_len"),
        F.expr(f"round({symbol_ratio}, 6) AS symbol_ratio"),
        F.expr(f"round({alpha_frac}, 6) AS alpha_frac"),
        F.expr(f"{n_stop} AS n_stop"),
        F.expr(f"{f_words} AS flag_words"),
        F.expr(f"{f_len} AS flag_mean_len"),
        F.expr(f"{f_sym} AS flag_symbol"),
        F.expr(f"{f_alpha} AS flag_alpha"),
        F.expr(f"{f_stop} AS flag_stop"),
        F.expr(f"{f_words} * {f_len} * {f_sym} * {f_alpha} * {f_stop}"
               " AS pass_gopher"))


def c4_quality_flags(docs: DataFrame, min_words: int = 5,
                     min_sentences: int = 3,
                     text_col: str = "text",
                     key_col: str = "doc_id") -> DataFrame:
    """C4-style cleaning rules (Raffel et al. 2020 §2.2 — the filters
    that produced the Colossal Clean Crawled Corpus, complementary to
    the Gopher rule set above): terminal-punctuation ending, minimum
    sentence count, minimum word count, and the content blockers —
    "lorem ipsum" placeholder text, curly braces (code), and the token
    "javascript" (script-disabled boilerplate). Returns the metrics,
    one 0/1 flag per rule, and the conjunction ``pass_c4`` so a
    filtering run can audit which rule fired.

    Plan: per-row expressions over one scan — no UDF, no shuffle
    beyond the narrow-scan widen gate (same rationale and measured
    evidence as gopher_quality_flags above); projection pushes down
    to (key, text)."""
    docs = widen_narrow_scan(docs)
    text = F.col(text_col)
    lower = F.lower(text)
    n_words = F.size(tokens(text))
    n_sentences = F.size(F.regexp_extract_all(text, F.lit(r"[.!?]"), 0))
    f_terminal = text.rlike('[.!?"]\\s*$').cast("int")
    f_sent = (n_sentences >= min_sentences).cast("int")
    f_words = (n_words >= min_words).cast("int")
    f_lorem = (~lower.contains("lorem ipsum")).cast("int")
    f_brace = (~text.contains("{")).cast("int")
    f_js = (~F.array_contains(tokens(lower), "javascript")).cast("int")
    return docs.select(
        F.col(key_col),
        n_words.alias("n_words"),
        n_sentences.alias("n_sentences"),
        f_terminal.alias("flag_terminal"),
        f_sent.alias("flag_sentences"),
        f_words.alias("flag_min_words"),
        f_lorem.alias("flag_lorem"),
        f_brace.alias("flag_brace"),
        f_js.alias("flag_js"),
        (f_terminal * f_sent * f_words * f_lorem * f_brace * f_js)
        .alias("pass_c4"))


def _word_freq_symstr(docs: DataFrame, text_col: str) -> DataFrame:
    """Word-frequency table with the space-delimited BPE symbol string
    (' c h a r s </w> ') that merge learning and encoding both start
    from. One corpus scan; Heaps' law keeps the result tiny."""
    return (docs
            .select(F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
            .groupBy("word")
            .agg(F.count(F.lit(1)).cast("long").alias("freq"))
            .withColumn("symstr",
                        F.concat(F.lit(" "),
                                 F.regexp_replace("word", "(.)", "$1 "),
                                 F.lit("</w> "))))


def _apply_best_merge(words: DataFrame) -> DataFrame:
    """One BPE merge step over the word table: count adjacent symbol
    pairs (freq-weighted), broadcast the single winning pair, and
    apply it as a scan-local left-to-right string replace. The
    size>=2 guard matters once merges can collapse a short word to a
    single symbol — Spark's sequence(0, -1) DESCENDS instead of
    yielding empty, which would fabricate null pairs."""
    syms = F.split(F.trim(F.col("symstr")), " ")
    pairs = F.when(
        F.size(syms) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(syms) - 2),
                    lambda i: F.concat(F.get(syms, i), F.lit(" "),
                                       F.get(syms, i + 1)))
    ).otherwise(F.array().cast("array<string>"))
    pc = (words.select("freq", F.explode(pairs).alias("pair"))
          .groupBy("pair")
          .agg(F.sum("freq").cast("long").alias("pfreq")))
    best = (pc.orderBy(F.desc("pfreq"), "pair").limit(1)
            .select(F.col("pair").alias("__bp"),
                    F.regexp_replace("pair", " ", "").alias("__merged")))
    return (words.crossJoin(F.broadcast(best))
            .withColumn("symstr",
                        F.expr("replace(symstr, ' ' || __bp || ' ', "
                               "' ' || __merged || ' ')"))
            .drop("__bp", "__merged"))


def bpe_word_segments(docs: DataFrame, n_merges: int = 4,
                      text_col: str = "text") -> DataFrame:
    """BPE ENCODING side of the tokenizer (bpe_merge_ranks is the
    training side): apply ``n_merges`` learned merges in rank order
    and return each word's final segmentation — (word, freq,
    segments, n_symbols).

    Scale shape: everything after the initial corpus scan runs on the
    word-frequency table; each merge is one map-side-combined pair
    count plus a ONE-ROW broadcast. The returned vocab is the
    broadcast side of bpe_token_counts."""
    words = _word_freq_symstr(docs, text_col)
    for _ in range(n_merges):
        words = _apply_best_merge(words)
    seg = F.trim(F.col("symstr"))
    return words.select(
        "word", "freq", seg.alias("segments"),
        F.size(F.split(seg, " ")).cast("int").alias("n_symbols"))


def bpe_token_counts(docs: DataFrame, n_merges: int = 4,
                     text_col: str = "text",
                     key_col: str = "doc_id") -> DataFrame:
    """Per-document token accounting under the LEARNED BPE tokenizer:
    join the corpus token stream to the encoded vocab and sum symbol
    counts — the real token-budget meter of a training-data pipeline
    (whitespace counts under-estimate; this is what the packer and
    the cost model consume).

    Plan: vocab is Heaps-law small -> BROADCAST join onto the token
    stream; one groupBy on the doc key with map-side partials. The
    corpus is scanned twice (once to fit the vocab, once to score);
    at 100 TB fit on a sample or persist the token stream."""
    vocab = bpe_word_segments(docs, n_merges, text_col) \
        .select("word", "n_symbols")
    tk = docs.select(F.col(key_col),
                     F.explode(tokens(F.lower(F.col(text_col)))).alias("word"))
    return (tk.join(F.broadcast(vocab), "word")
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_words"),
                 F.sum("n_symbols").cast("long").alias("n_bpe_tokens"))
            .withColumn("symbols_per_word",
                        F.round(F.col("n_bpe_tokens") / F.col("n_words"), 6)))


def dsir_importance(docs: DataFrame, target: Column, n_buckets: int = 64,
                    text_col: str = "text",
                    key_col: str = "doc_id") -> DataFrame:
    """DSIR data-selection weights (Xie et al. 2023, "Data Selection
    for Language Models via Importance Resampling"): score every doc
    by the mean log importance ratio of its hashed bigram features
    under an add-one model of the TARGET slice vs the RAW corpus.
    High avg_log_ratio = looks like the target distribution; feed the
    weights to weighted sampling to tilt a 100 TB crawl toward a
    quality/domain target.

    Feature space: bigrams hashed into ``n_buckets`` buckets (the
    paper's hashed n-gram generative model), so both models are
    ``n_buckets``-row tables regardless of corpus size.

    Plan: one pass builds both bucket-count tables (map-side-combined
    groupBy over the bigram stream, target side filtered); the
    log-ratio table BROADCASTs back onto the stream; final per-doc
    groupBy partial-aggregates map-side. Nothing larger than
    ``n_buckets`` rows ever sits on the driver side of a join."""
    from ..functions import hashing as H
    bg = (docs
          .select(F.col(key_col), target.cast("int").alias("__t"),
                  F.explode(bigrams_all(tokens(F.lower(F.col(text_col)))))
                  .alias("big"))
          .withColumn("b", H.md5_long(F.col("big")) % n_buckets)
          .drop("big"))
    rc = bg.groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("rc"))
    tc = (bg.where(F.col("__t") == 1)
          .groupBy("b").agg(F.count(F.lit(1)).cast("long").alias("tc")))
    tots = (rc.agg(F.sum("rc").cast("long").alias("nr"))
            .crossJoin(tc.agg(F.sum("tc").cast("long").alias("nt"))))
    wt = (rc.join(tc, "b", "left")
          .crossJoin(F.broadcast(tots))
          .select("b",
                  (F.log((F.coalesce(F.col("tc"), F.lit(0)) + 1)
                         / (F.col("nt") + n_buckets))
                   - F.log((F.col("rc") + 1) / (F.col("nr") + n_buckets)))
                  .alias("lw")))
    return (bg.join(F.broadcast(wt), "b")
            .groupBy(key_col)
            .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
                 F.round(F.avg("lw"), 6).alias("avg_log_ratio")))


def cms_heavy_hitters(docs: DataFrame, depth: int = 3, width: int = 32,
                      top_k: int = 10,
                      text_col: str = "text") -> DataFrame:
    """Count-min-sketch heavy hitters (Cormode & Muthukrishnan 2005):
    build a depth x width counter sketch over the corpus token stream,
    then report the true top-``top_k`` tokens with BOTH their exact
    counts and their CMS estimates — the overestimate column is the
    sketch's one-sided error made visible (est >= exact always; the
    eval run before trusting a width at scale).

    Why a sketch at 100 TB: the cells are SUMS, so partial aggregation
    merges them map-side and the full sketch is depth*width counters
    regardless of corpus size — same mergeability argument as the
    HLL/percentile sketches in approx_sketches, but for point
    frequency queries. Hash row r salts md5 with the row index, so
    rows are independent in both engines.

    Plan: one explode of the token stream x depth rows -> groupBy of
    depth*width cells (map-side combined); the sketch and the exact
    top-k are both tiny and BROADCAST into the estimate join."""
    from ..functions import hashing as H
    tok = docs.select(F.explode(tokens(F.lower(F.col(text_col)))).alias("t"))
    rows = F.explode(F.array(*[F.lit(r) for r in range(depth)])).alias("r")
    cells = (tok.select("t", rows)
             .select("r",
                     (H.md5_long(F.concat(F.col("r").cast("string"),
                                          F.col("t"))) % width).alias("b"))
             .groupBy("r", "b")
             .agg(F.count(F.lit(1)).cast("long").alias("cnt")))
    exact = (tok.groupBy("t")
             .agg(F.count(F.lit(1)).cast("long").alias("exact_cnt"))
             .orderBy(F.desc("exact_cnt"), "t").limit(top_k))
    probes = (exact.select("t", "exact_cnt", rows)
              .withColumn("b", H.md5_long(
                  F.concat(F.col("r").cast("string"), F.col("t"))) % width))
    est = (probes.join(F.broadcast(cells), ["r", "b"])
           .groupBy("t", "exact_cnt")
           .agg(F.min("cnt").cast("long").alias("cms_est")))
    return (est.select(F.col("t").alias("token"), "exact_cnt", "cms_est",
                       (F.col("cms_est") - F.col("exact_cnt")).cast("long")
                       .alias("overestimate"))
            .orderBy(F.desc("exact_cnt"), "token"))


def rank_normalize(df: DataFrame, signal_cols: list[str],
                   ndigits: int = 6) -> DataFrame:
    """Percent-rank-normalize each signal column onto [0, 1] —
    ``pr = (rank - 1) / (N - 1)`` with min-rank ties, exactly SQL's
    ``percent_rank()`` — WITHOUT the empty-window trap: a bare
    ``percent_rank() OVER (ORDER BY s)`` collapses the whole corpus
    into one task. Instead each signal is reduced to its VALUE
    HISTOGRAM (groupBy value -> count), ranks are prefix-summed over
    that tiny distinct-value table, and the (value -> pr) map is
    broadcast-joined back to the rows. Cost per signal: one partial
    agg shuffle over the value domain + one broadcast — continuous
    signals are quantized (round to ``ndigits``) before ranking,
    which both engines do identically. NOTE the resulting domain
    bound is ``range(signal) * 10^ndigits`` — i.e. round() bounds the
    domain only for RANGE-BOUNDED signals (ratios, scores on [0, 1],
    already-rounded means; all graded callers qualify). A wide-range
    raw signal (say values spanning 1e9) still yields up to ~N
    distinct quantized values; normalize or bucket such a signal
    BEFORE ranking it through this helper.

    Adds ``pr_<col>`` per input column, each rounded to ``ndigits``.
    N comes from the histogram's own count sum (no eager driver
    count; the plan stays lazy end-to-end).

    NULL signals: the lookup join is null-SAFE, so a row whose signal
    is NULL (e.g. a divide-by-zero upstream) is kept, not silently
    dropped; its group ranks lowest (Spark's ``ASC NULLS FIRST``,
    matching Spark's own ``percent_rank()``). Engines disagree on
    null ordering (DuckDB defaults to NULLS LAST), so oracle-paired
    queries must either exclude NULL-signal rows explicitly on both
    sides (quality_blend_rank does) or mirror the ordering."""
    out = df
    for c in signal_cols:
        # the quantization the docstring promises is ENFORCED here,
        # not assumed of the caller (round-10 broadcast audit): a raw
        # continuous signal has ~N distinct values, which would make
        # this histogram corpus-sized — the exact
        # bounded-thing-turns-out-corpus-proportional class the 100x
        # probe caught in the export flagship. Rounding both the
        # histogram key and the lookup key bounds the domain at
        # range(signal) * 10^ndigits — sufficient for range-bounded
        # signals (ratios/scores/rounded means; all graded callers),
        # NOT for wide-range raw signals, which must be normalized
        # before ranking (see docstring). No-op for callers that
        # already pass ndigits-rounded signals.
        qc = F.round(F.col(c), ndigits)
        hist = df.groupBy(qc.alias("__v")) \
                 .agg(F.count(F.lit(1)).alias("__cnt"))
        w = Window.orderBy(F.col("__v").asc())  # distinct values: bounded
        ranks = (hist
                 .withColumn("__below",
                             F.coalesce(
                                 F.sum("__cnt").over(
                                     w.rowsBetween(Window.unboundedPreceding,
                                                   -1)),
                                 F.lit(0)))
                 .withColumn("__n", F.sum("__cnt").over(
                     Window.rowsBetween(Window.unboundedPreceding,
                                        Window.unboundedFollowing)))
                 .select("__v",
                         F.round(F.col("__below")
                                 / F.greatest(F.col("__n") - 1, F.lit(1))
                                   .cast("double"), ndigits)
                          .alias(f"pr_{c}")))
        out = out.join(F.broadcast(ranks),
                       F.round(out[c], ndigits).eqNullSafe(ranks["__v"])) \
                 .drop("__v")
    return out


def token_yield_by_source(df: DataFrame,
                          neardup_losers: DataFrame | None = None,
                          text_col: str = "text",
                          key_col: str = "doc_id",
                          source_col: str = "source") -> DataFrame:
    """Per-source token accounting BEFORE vs AFTER dedup — the "how
    many unique training tokens does this source actually contribute"
    planner. A source whose yield is 0.3 is 70% re-crawl of content
    already owned elsewhere; its acquisition budget should say so.
    Survivors are keep-first by lowest key over the GLOBAL exact-
    fingerprint space, optionally minus ``neardup_losers`` (a 1-column
    DataFrame of keys a near-dup detector decided to drop — e.g. the
    id_b side of verified MinHash pairs, the O(pairs) single-hop
    policy; transitive-exact removal is dedup_keep_best's job).
    Tokens are attributed to the surviving row's source, so
    cross-source duplicates are credited once, to the first source.

    Plan shape: token counts and fingerprints are scan-local; the one
    wide exchange is the fingerprint window (row_number, external
    sort — a viral fingerprint spills rather than buffering); the
    loser anti-join's small side is pair-bounded; both per-source
    rollups are map-side-combined groupBys over a tiny source domain,
    joined at |sources| rows."""
    toks = df.select(
        F.col(key_col).alias("k"), F.col(source_col).alias("source"),
        F.size(tokens(F.col(text_col))).cast("long").alias("n_tok"),
        fingerprint(F.col(text_col)).alias("fp"))
    w = Window.partitionBy("fp").orderBy("k")
    surv = (toks.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1))
    if neardup_losers is not None:
        drop = neardup_losers.select(
            F.col(neardup_losers.columns[0]).alias("k"))
        surv = surv.join(drop, "k", "left_anti")
    raw = (toks.groupBy("source")
           .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_tok").cast("long").alias("tokens_raw")))
    uniq = (surv.groupBy("source")
            .agg(F.sum("n_tok").cast("long").alias("tokens_unique")))
    return (raw.join(uniq, "source", "left")
            .select("source", "n_docs", "tokens_raw",
                    F.coalesce("tokens_unique", F.lit(0)).cast("long")
                    .alias("tokens_unique"),
                    F.round(F.when(F.col("tokens_raw") > 0,
                                   F.coalesce("tokens_unique", F.lit(0))
                                   / F.col("tokens_raw"))
                            .otherwise(F.lit(0.0)), 6)
                    .alias("token_yield")))


def kmv_distinct_by_group(df: DataFrame, value_col: str, group_col: str,
                          k: int = 64) -> DataFrame:
    """KMV (k-minimum-values) distinct-count sketch per group, plus a
    global "__ALL__" row computed ONLY from the merged per-group
    sketches — the mergeable-sketch discipline that makes distinct
    counting free at 100 TB: each partition/group ships k 8-byte
    hashes, never its value set, and union-then-retake-k-smallest IS
    the combine step (the same algebra HLL/theta sketches use, here
    in a form that is value-exact to replay, because the k smallest
    of a union of per-group k-smallest sets equals the k smallest of
    the global set). The estimator is the classic (k-1)/u_k on
    md5-derived 32-bit uniform hashes; groups with fewer than k
    distinct values report exactly.

    An external checker can compute every row NAIVELY from the raw
    values (no merge) and must get identical numbers — that equality
    is the proof the distributed merge loses nothing.

    Plan shape: one distinct on (group, hash); per-group k-selection
    via a row_number window (external sort, spill-safe on a hot
    group); the global rank runs on <= k x |groups| rows (the merged
    sketches — bounded because the group domain is bounded), and the
    one global exact count is a single countDistinct used only to
    report the sketch's realized error."""
    from ..functions.hashing import md5_long

    two32 = 4294967296.0
    hv = (df.select(F.col(group_col).alias("grp"),
                    md5_long(F.col(value_col)).alias("h"))
          .distinct())
    w = Window.partitionBy("grp").orderBy("h")
    sketch = (hv.withColumn("rn", F.row_number().over(w))
              .where(F.col("rn") <= k))
    sketch = sketch.localCheckpoint(eager=False)  # feeds 2 consumers
    exact = hv.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_exact"))
    kth = sketch.where(F.col("rn") == k).select(
        "grp", F.col("h").alias("hk"))
    per = exact.join(kth, "grp", "left")
    merged = sketch.select("h").distinct()
    gk = (merged.withColumn("rn", F.row_number().over(Window.orderBy("h")))
          .where(F.col("rn") == k).select(F.col("h").alias("hk")))
    gexact = hv.agg(F.countDistinct("h").cast("long").alias("n_exact"))
    # left join on TRUE, not crossJoin: when the global sketch holds
    # fewer than k hashes (tiny value domain) gk is EMPTY and a cross
    # join would silently drop the __ALL__ row instead of reporting it
    # exactly (hk null -> exact path)
    gtotal = (gexact.join(gk, F.lit(True), "left")
              .select(F.lit("__ALL__").alias("grp"), "n_exact", "hk"))

    def finish(d: DataFrame) -> DataFrame:
        est = F.when(
            F.col("hk").isNotNull() & (F.col("hk") > 0),
            (F.lit(float(k - 1)) * F.lit(two32)) / F.col("hk"))
        est = est.otherwise(F.col("n_exact").cast("double"))
        return d.select(
            F.col("grp"), "n_exact",
            F.round(est, 6).alias("n_est"),
            F.round(F.abs(est - F.col("n_exact"))
                    / F.col("n_exact"), 6).alias("rel_err"))

    return finish(per).unionByName(finish(gtotal))


def tokenizer_fertility_by_lang(docs: DataFrame,
                                text_col: str = "text") -> DataFrame:
    """Tokenizer fertility (subword tokens per whitespace word) by
    language slice — the pretraining budget metric that says which
    languages cost more tokens per word under a given tokenizer (the
    classic multilingual-tokenizer fairness readout). Composes the
    stopword-argmax language guess with the BPE-ish lexical segmenter
    so the whole thing stays scan-local built-ins: per doc the only
    work is two regex passes and the stopword intersections, then ONE
    |langs|-row map-side-combined groupBy. Fertility and
    chars-per-token are single divisions of exact long sums —
    summation-order independent by construction, no scaled-long fold
    needed."""
    text = F.col(text_col)
    per = docs.select(
        lang_guess(text).alias("lang"),
        F.size(tokens(text)).cast("long").alias("w"),
        F.size(F.regexp_extract_all(text, F.lit(BPE_RE), 0)).cast("long")
        .alias("b"),
        F.length(F.regexp_replace(text, r"\s+", "")).cast("long")
        .alias("c"))
    sw, sb, sc = F.sum("w"), F.sum("b"), F.sum("c")
    return (per.groupBy("lang")
            .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
                 sw.cast("long").alias("n_words"),
                 sb.cast("long").alias("n_bpe"),
                 F.round(F.when(sw > 0, sb.cast("double") / sw)
                         .otherwise(F.lit(0.0)), 6).alias("fertility"),
                 F.round(F.when(sb > 0, sc.cast("double") / sb)
                         .otherwise(F.lit(0.0)), 6)
                 .alias("chars_per_token")))


def hashed_sample_quantile_by_group(df: DataFrame, value_col: str,
                                    group_col: str, key_col: str,
                                    k: int = 128,
                                    q: float = 0.5) -> DataFrame:
    """Mergeable QUANTILE sketch per group plus a global "__ALL__" row
    computed ONLY from the merged per-group sketches — the KMV
    algebra (kmv_distinct_by_group) carrying a value payload: each
    group ships its k rows with the smallest key-hashes (a uniform
    row sample, because the hash is uniform and independent of the
    value), and union-then-retake-k-smallest IS the combine step (the
    k hash-smallest rows of a union of per-group k-smallest sets are
    exactly the k hash-smallest rows overall). The estimate is the
    type-1 discrete quantile of the sample; ``q`` must be an exact
    binary fraction (0.5, 0.25, 0.75) so ceil(q*n) computes
    identically in every engine. An external checker computing every
    row naively from the raw values must get identical numbers — that
    equality proves the merge.

    This is what per-domain length/quality distribution accounting
    costs at 100 TB: k rows per group over the wire, never the
    corpus. The exact quantile is computed alongside ONLY to report
    the sketch's realized error; at scale you'd drop that leg (it is
    the expensive one — a per-group external-sort window).

    Plan shape: one row_number window per group on (hash, key)
    (external sort, spill-safe); the merged-sketch rank runs on
    <= k x |groups| rows; the exact leg is a per-group window plus
    ONE global rank over the same bounded merged set's complement —
    implemented as a direct window for the per-group rows and a
    count-based rank for the global row so nothing ever single-
    partition-sorts the full table."""
    from ..functions.hashing import md5_long

    hv = df.select(F.col(group_col).alias("grp"),
                   F.col(key_col).alias("kk"),
                   md5_long(F.col(key_col).cast("string")).alias("h"),
                   F.col(value_col).cast("long").alias("v"))
    wsamp = Window.partitionBy("grp").orderBy("h", "kk")
    samp = (hv.withColumn("rn", F.row_number().over(wsamp))
            .where(F.col("rn") <= k)
            .localCheckpoint(eager=False))  # feeds per-group + merged

    def _type1(d: DataFrame, parts: list[str]) -> DataFrame:
        """Value at rank ceil(q*n) of d's rows ordered by (v, kk)."""
        wv = Window.partitionBy(*parts).orderBy("v", "kk")
        wn = Window.partitionBy(*parts)
        return (d.withColumn("rv", F.row_number().over(wv))
                .withColumn("ns", F.count(F.lit(1)).over(wn))
                .where(F.col("rv") == F.ceil(F.lit(q) * F.col("ns")))
                .select(*parts, F.col("v").alias("qv")))

    est = _type1(samp, ["grp"]).withColumnRenamed("qv", "q_est")
    exact = _type1(hv, ["grp"]).withColumnRenamed("qv", "q_exact")
    n_rows = hv.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"))
    per = n_rows.join(est, "grp").join(exact, "grp")

    # global row: merged sketch = retake the k hash-smallest rows of
    # the unioned per-group sketches (bounded: <= k x |groups| rows)
    merged = (samp.select("grp", "kk", "h", "v")
              .withColumn("rn", F.row_number().over(
                  Window.orderBy("h", "kk")))
              .where(F.col("rn") <= k)
              .select(F.lit("__ALL__").alias("grp"), "kk", "v"))
    gest = _type1(merged, ["grp"]).withColumnRenamed("qv", "q_est")
    # global exact quantile WITHOUT a single-partition sort of the
    # table: per distinct value, count rows <= it via a histogram +
    # running sum over the (bounded) distinct-value domain
    ghist = hv.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))
    gcum = ghist.withColumn(
        "cum", F.sum("cnt").over(
            Window.orderBy("v")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    gn = hv.agg(F.count(F.lit(1)).cast("long").alias("n_rows"))
    gexact = (gcum.join(gn, F.lit(True), "left")
              .where(F.col("cum") >= F.ceil(F.lit(q) * F.col("n_rows")))
              .agg(F.min("v").alias("q_exact")))
    gtotal = (gn.join(gest, F.lit(True), "left")
              .join(gexact, F.lit(True), "left")
              .select(F.lit("__ALL__").alias("grp"), "n_rows",
                      "q_est", "q_exact"))

    out = per.select("grp", "n_rows", "q_est", "q_exact") \
             .unionByName(gtotal)
    return out.select(
        "grp", "n_rows",
        F.col("q_est").cast("long").alias("q_est"),
        F.col("q_exact").cast("long").alias("q_exact"),
        F.round(F.when(F.col("q_exact") > 0,
                       F.abs(F.col("q_est") - F.col("q_exact"))
                       / F.col("q_exact"))
                .otherwise(F.lit(0.0)), 6).alias("rel_err"))


def kmv_group_sketch(df: DataFrame, value_col: str, group_col: str,
                     k: int = 64) -> DataFrame:
    """The raw per-group KMV sketch: the k smallest 32-bit value
    hashes per group as (grp, h) rows — the mergeable state object
    behind kmv_distinct_by_group, exposed on its own so a streaming
    job can maintain it incrementally: union two sketches (or a
    sketch and a new batch's sketch) and retake the k smallest per
    group, and the result equals the sketch of the union of the raw
    inputs. Merging is idempotent (re-merging the same batch is a
    set union with itself), which is what makes a stream-maintained
    sketch exactly-once under re-delivery WITHOUT any dedup
    bookkeeping."""
    from ..functions.hashing import md5_long

    hv = (df.select(F.col(group_col).alias("grp"),
                    md5_long(F.col(value_col)).alias("h"))
          .distinct())
    w = Window.partitionBy("grp").orderBy("h")
    return (hv.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") <= k).select("grp", "h"))


def kmv_estimate_from_sketch(sketch: DataFrame, k: int = 64) -> DataFrame:
    """Distinct-count estimates from a (grp, h) KMV sketch table,
    plus the "__ALL__" row from the merged per-group sketches. A
    group holding fewer than k hashes is reported exactly (its sketch
    IS its distinct hash set); otherwise the classic (k-1)/u_k
    estimator on the 32-bit hash space. Everything here runs on
    <= k x |groups| rows."""
    two32 = 4294967296.0

    def finish(d: DataFrame) -> DataFrame:
        est = F.when(F.col("hk").isNotNull() & (F.col("hk") > 0),
                     (F.lit(float(k - 1)) * F.lit(two32)) / F.col("hk"))
        est = est.otherwise(F.col("n_in_sketch").cast("double"))
        return d.select("grp", "n_in_sketch",
                        F.round(est, 6).alias("n_est"))

    w = Window.partitionBy("grp").orderBy("h")
    ranked = sketch.withColumn("rn", F.row_number().over(w))
    per = (ranked.groupBy("grp")
           .agg(F.count(F.lit(1)).cast("long").alias("n_in_sketch"),
                F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk")))
    merged = sketch.select("h").distinct()
    granked = merged.withColumn(
        "rn", F.row_number().over(Window.orderBy("h")))
    gtotal = (granked.agg(
        F.least(F.count(F.lit(1)), F.lit(k)).cast("long")
        .alias("n_in_sketch"),
        F.max(F.when(F.col("rn") == k, F.col("h"))).alias("hk"))
        .select(F.lit("__ALL__").alias("grp"), "n_in_sketch", "hk"))
    return finish(per).unionByName(finish(gtotal))


def quality_gate_source_matrix(docs: DataFrame,
                               source_col: str = "source") -> DataFrame:
    """Acquisition QA crosstab: per source, how much of the crawl
    survives each quality gate (Gopher rules, C4 rules) — the number
    that turns a per-document filter into a per-SOURCE acquisition
    decision (a feed passing 20% of Gopher is bought at 5x its
    sticker price in tokens). Composes the two graded rule kernels
    unchanged by keying them on the source column: each is one
    scan-local flag pass folded by a map-side-combined groupBy over
    the tiny source domain, and the two legs meet in a |sources|-row
    join. The full-gate conjunction per document is curation_
    pipeline's one-scan job; this matrix is the per-gate view."""
    g = (gopher_quality_flags(docs, key_col=source_col)
         .groupBy("source")
         .agg(F.count(F.lit(1)).cast("long").alias("n_docs"),
              F.sum("pass_gopher").cast("long").alias("n_pass_gopher")))
    c = (c4_quality_flags(docs, key_col=source_col)
         .groupBy("source")
         .agg(F.sum("pass_c4").cast("long").alias("n_pass_c4")))
    return (g.join(c, "source")
            .select("source", "n_docs", "n_pass_gopher", "n_pass_c4",
                    F.round(F.col("n_pass_gopher") / F.col("n_docs"), 6)
                    .alias("gopher_rate"),
                    F.round(F.col("n_pass_c4") / F.col("n_docs"), 6)
                    .alias("c4_rate")))
