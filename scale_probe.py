"""Scale probe: measure the headline suite at ~10x sf0.1 (~sf1).

The driver ships sf{0.001,0.01,0.1}; the engine is designed for 100 TB.
This probe closes part of that gap empirically: it synthesizes a 10x
dataset from sf0.1 with REALISTIC growth semantics and runs the exact
frozen bench harness (bench.py, untouched) against it, so per-query
scaling ratios are measured instead of argued.

Growth semantics (why not naive replication):

- ``documents``: each copy's text is passed through ``F.translate``
  with the a-z/A-Z alphabet rotated by the copy index. Within a copy
  the shingle structure (and therefore the near-dup cluster structure)
  is byte-for-byte isomorphic to the original corpus; across copies
  shingle overlap is zero. So a 10x corpus has 10x as MANY near-dup
  clusters of the SAME size — which is how a real corpus grows — not
  10x-larger clusters, which would quadratically inflate bucket pair
  enumeration and measure an adversarial density no real pipeline sees.
  (That adversarial case is separately covered by the ``max_bucket``
  skew-guard tests in tests/test_dedup.py.)
- ``lineitem``/``orders``/``customer``/``supplier``/``part``: key
  spaces are shifted per copy with one shared stride so every FK still
  lands on exactly one PK and fan-outs keep their sf0.1 distribution;
  ``region``/``nation`` stay fixed (dims don't grow with fact data —
  the broadcast-ability the plans rely on is preserved, as at 100 TB).
- ``events``: ``user_id`` shifted per copy -> 10x users with the same
  per-user event density, so sessionization state grows in KEY COUNT
  (the dimension that matters for a shuffle/state backend), not in
  per-key chain length.
- ``embeddings``: ``vec_id`` shifted; each copy's vectors are
  multiplied element-wise by a deterministic per-copy ±1 pattern
  (scheme v3, see _sign_pattern): within-copy dot products — and so
  each copy's kNN/near-dup structure — are numerically unchanged,
  while cross-copy cosines collapse to noise, so similarity-pair
  queries see 10x as MANY clusters of the same size rather than a
  quadratic wall of byte-identical cross-copy vectors.

Usage:
  python scale_probe.py build   # materialize /tmp/rvdb_scale_sf1.0
  python scale_probe.py run     # build if missing, bench sf0.1 + 10x,
                                # print one comparison JSON line
"""

from __future__ import annotations

import json
import os
import shutil
import string
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SRC = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# RVDB_PROBE_COPIES widens the growth factor (e.g. 30 for the trend-line
# spot probe of the worst 10x ratios); the dataset dir is keyed on the
# factor so different factors never clobber each other.
COPIES = int(os.environ.get("RVDB_PROBE_COPIES", "10"))
DST = os.environ.get(
    "RVDB_PROBE_DST",
    "/tmp/rvdb_scale_sf1.0" if COPIES == 10
    else f"/tmp/rvdb_scale_{COPIES}x")
# One stride for every key space: larger than any sf0.1 key, so shifted
# copies can never collide with each other or the originals.
STRIDE = 10_000_000

TABLES = ("region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings")
# key column -> shifted by copy*STRIDE (applied where present)
SHIFT_COLS = ("c_custkey", "s_suppkey", "p_partkey", "o_orderkey",
              "o_custkey", "l_orderkey", "l_partkey", "l_suppkey",
              "event_id", "user_id", "doc_id", "vec_id")
DIMS = ("region", "nation")  # fixed: dims don't scale with fact data


def _rotated(i: int) -> tuple[str, str]:
    """Injective per-copy letter map with (near-)zero cross-copy
    shingle overlap. Copies 0-25 rotate the alphabet; copies 26-51
    use REFLECTED rotations (x -> -x + k), a disjoint family from the
    pure rotations, so a >26-copy build (the 30x trend-line probe)
    never repeats a map and near-dup clusters stay per-copy. Beyond
    52 copies the 52 maps repeat, so cross-copy EXACT text duplicates
    appear — the 300x ladder's documented duplicate-density artifact
    (SCALE.md); text-similarity ratios at >52 copies measure that
    density, not just the plan. (A scheme bump — e.g. PROBE_SCHEME —
    invalidates every cached dataset, including 10x: the marker file
    is checked against the CURRENT scheme on every build.)"""
    lo, up = string.ascii_lowercase, string.ascii_uppercase
    k = i % 26
    if i < 26:
        return lo + up, lo[k:] + lo[:k] + up[k:] + up[:k]
    rlo = (lo[k::-1] + lo[:k:-1])
    rup = (up[k::-1] + up[:k:-1])
    return lo + up, rlo + rup


# Growth-semantics version, written into the completion marker: a
# cached dataset built under an older scheme is rebuilt, not silently
# reused (including the 10x one — any scheme bump invalidates ALL
# cached probe datasets). v3 = per-copy (cyclic rotation, Hadamard
# sign row) orthogonal transforms (see _sign_pattern); v2 was
# splitmix-derived ±1 patterns, replaced because their tail pairwise
# correlations reached 0.5 (copies 3/19) — at/above the 0.3
# cosine_neardup threshold — and because ANY sign-only pattern leaves
# a v_k^2-weighted cross term for energy-concentrated vectors (r11
# advisor finding + the measured comparison in _sign_pattern).
PROBE_SCHEME = "v3"


def _sign_pattern(i: int, dim: int) -> list[float]:
    """Deterministic per-copy ±1 pattern: a row of the dim x dim
    Sylvester-Hadamard matrix, H[r][j] = (-1)^popcount(r & j), used
    TOGETHER with the per-copy cyclic rotation (_shift, applied in
    build). Both factors are orthogonal transforms, so applying the
    same (rotate, sign) to every vector of a copy leaves every
    within-copy dot product — and therefore the copy's entire
    near-dup/kNN structure — numerically identical to the original
    (verified: one distinct dot value across all copies).

    Why BOTH factors: a sign pattern alone (v2's splitmix, or even an
    exactly-orthogonal Hadamard row) cannot decorrelate a vector from
    its own copy when the vector's energy concentrates in few dims —
    the cross-copy cosine is sum(d_k * v_k^2)/|v|^2, a ±1 average
    WEIGHTED by v_k^2, so pattern orthogonality is not enough
    (measured on sf0.1 x 10 copies: sign-only left 3,835/90,000
    same-base pairs >= 0.30, max 0.72). Composing a distinct cyclic
    shift turns the cross term into a sign-scrambled LAGGED product
    sum(± v_k v_{k+Δ})/|v|^2, which has no v_k^2 mass term: measured
    633/90,000 >= 0.30 and 8 >= 0.45 at 10 copies (6.1x/42x fewer
    than sign-only's 3,835/340, max 0.49 vs 0.72), 6,027/870,000
    >= 0.30 at 30 copies — the residual is documented noise, not a
    quadratic wall. (Numbers re-derived exactly in numpy from the
    sf0.1 corpus, round 13, and agree with the SCALE.md probe-v3
    table; an earlier draft's 589/4 came from a pre-final variant.)
    Row 0 + shift 0 keep copy 0's base corpus embedded verbatim.

    Copy blocks beyond ``dim`` reuse rows/shifts salted by block
    (r = (i + 23b) % dim, shift = (i + 17b) % dim): the first copy
    pair sharing BOTH factors is Δblock = 32 — copy 2080 repeats
    copy 0's identity transform (solve the two congruences) — so no
    collision within ~2000 COPIES (32 blocks), far past the 300x
    rung's ladder, like the >52-copy text-map repeat. ``dim`` must
    be a power of two (asserted by build)."""
    r = (i + 23 * (i // dim)) % dim
    return [1.0 if bin(r & j).count("1") % 2 == 0 else -1.0
            for j in range(dim)]


def _shift(i: int, dim: int) -> int:
    """Per-copy cyclic-rotation offset composed with _sign_pattern
    (see its docstring for why sign flips alone are insufficient)."""
    return (i + 17 * (i // dim)) % dim


def build(spark=None) -> str:
    marker = os.path.join(DST, "_PROBE_COMPLETE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read().strip() == PROBE_SCHEME:
                return DST
    shutil.rmtree(DST, ignore_errors=True)
    os.makedirs(DST, exist_ok=True)

    own_session = spark is None
    if own_session:
        from rag_vector_database_spark.session import get_spark
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
        spark = get_spark("rvdb-scale-build", master=f"local[{cpus}]")
        spark.sparkContext.setLogLevel("ERROR")
    from pyspark.sql import functions as F

    for t in TABLES:
        src = spark.read.parquet(f"{SRC}/{t}.parquet")
        if t == "embeddings":
            # derive the dim from the data, never hardcode: zip_with
            # against a wrong-length literal array would silently
            # null-pad (x * NULL = NULL) instead of failing
            row = src.select("embedding").first()
            if row is None or row["embedding"] is None:
                raise ValueError(
                    f"scale_probe: {SRC}/embeddings.parquet is empty "
                    "(or its first embedding is NULL) — cannot derive "
                    "the dim for the sign/rotation transforms")
            dim = len(row["embedding"])
            assert dim & (dim - 1) == 0, \
                f"embedding dim {dim} not a power of two: the " \
                "Sylvester-Hadamard sign patterns need one"
        if t in DIMS:
            out = src
        else:
            copies = []
            for i in range(COPIES):
                c = src
                for col in SHIFT_COLS:
                    if col in c.columns:
                        c = c.withColumn(col, F.col(col) + F.lit(i * STRIDE))
                if t == "documents":
                    frm, to = _rotated(i)
                    c = c.withColumn("text", F.translate("text", frm, to))
                if t == "embeddings" and i > 0:
                    signs = F.array(*[F.lit(s)
                                      for s in _sign_pattern(i, dim)])
                    vec = F.col("embedding")
                    # per-copy cyclic rotation, composed with the sign
                    # row (orthogonal — see _sign_pattern for why both
                    # factors are needed)
                    shift = _shift(i, dim)
                    if shift:
                        vec = F.concat(F.slice(vec, shift + 1, dim - shift),
                                       F.slice(vec, 1, shift))
                    flipped = F.zip_with(
                        vec, signs, lambda x, s: (x * s).cast("float"))
                    c = c.withColumn(
                        "embedding",
                        F.when(F.size("embedding") == dim, flipped)
                        .otherwise(F.raise_error(F.concat(
                            F.lit("scale_probe: embedding length "),
                            F.size("embedding").cast("string"),
                            F.lit(f" != sampled dim {dim}")))))
                copies.append(c)
            out = copies[0]
            for c in copies[1:]:
                out = out.unionByName(c)
        # file-count hygiene: big facts get multiple splits so scans
        # parallelize the way a real multi-file dataset would
        n_files = max(1, min(32, out.rdd.getNumPartitions() * 2)) \
            if t not in DIMS else 1
        out.repartition(n_files).write.mode("overwrite") \
            .parquet(f"{DST}/{t}.parquet")
    from rag_vector_database_spark.plans.registry import clear_table_handles
    clear_table_handles(DST)  # the tables were rewritten in place
    with open(marker, "w") as f:
        f.write(PROBE_SCHEME)
    if own_session:
        spark.stop()
    return DST


def run_interleaved(reps: int = 3, names: list[str] | None = None) -> dict:
    """Time each probed query at sf0.1 and at the 10x dir,
    INTERLEAVED within one session and repeated ``reps`` times, taking
    the per-query minimum. Single-shot wall-clocks on a shared VM vary
    up to 2x with host steal; min-of-reps on adjacent runs is the
    standard noise-robust estimator, and interleaving means both scale
    points see the same host conditions.

    ``names`` selects specific registry entries (headline or not) —
    used to probe non-headline operators (gdpr delete, triangle count,
    postings merge, range-sorted scan) without widening the frozen
    bench suite. Default remains the headline set.

    NOT valid for stateful scratch-keyed queries (streaming sinks /
    checkpoints): their first run does the work and same-session
    reruns replay nothing, so min-of-reps times only the final read —
    use ``scale_probe.py cold <name>`` for those (SCALE.md footnote)."""
    import time
    from rag_vector_database_spark.plans.registry import REGISTRY
    from rag_vector_database_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark("rvdb-scale-probe", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    if names:
        by_name = {q.name: q for q in REGISTRY}
        missing = [n for n in names if n not in by_name]
        if missing:
            raise SystemExit(f"unknown query name(s): {missing}")
        headline = [by_name[n] for n in names]
    else:
        headline = [q for q in REGISTRY if q.headline]
    warm_sf = "/root/testdata/sf0.001"
    for q in headline:  # full codegen warmup at tiny sf
        try:
            q.builder(spark, warm_sf) \
                .write.mode("overwrite").format("noop").save()
        except Exception:
            pass

    best: dict[str, dict[str, float]] = \
        {q.name: {"base": float("inf"), "scaled": float("inf")}
         for q in headline}
    for _ in range(reps):
        for q in headline:
            for key, d in (("base", SRC), ("scaled", DST)):
                t0 = time.perf_counter()
                q.builder(spark, d) \
                    .write.mode("overwrite").format("noop").save()
                best[q.name][key] = min(best[q.name][key],
                                        time.perf_counter() - t0)
    out = {
        "metric": "headline suite wall-clock, sf0.1 vs 10x data "
                  f"(min of {reps} interleaved reps)",
        "data_ratio": COPIES,
        "base_s": {n: round(v["base"], 3) for n, v in best.items()},
        "scaled_s": {n: round(v["scaled"], 3) for n, v in best.items()},
        "time_ratio_per_query":
            {n: round(v["scaled"] / v["base"], 2) for n, v in best.items()},
    }
    out["time_ratio_total"] = round(
        sum(v["scaled"] for v in best.values())
        / sum(v["base"] for v in best.values()), 2)
    return out


_COLD_CHILD = """
import sys, time
sys.path.insert(0, {repo!r})
from rag_vector_database_spark.session import get_spark
from rag_vector_database_spark.plans.registry import REGISTRY
spark = get_spark("scale-cold", master="local[" + {cpus!r} + "]")
spark.sparkContext.setLogLevel("ERROR")
q = next(q for q in REGISTRY if q.name == {name!r})
q.builder(spark, "/root/testdata/sf0.001") \\
    .write.mode("overwrite").format("noop").save()   # codegen warmup
t0 = time.perf_counter()
q.builder(spark, {sf!r}).write.mode("overwrite").format("noop").save()
print("COLD_SECONDS", round(time.perf_counter() - t0, 3))
"""


def run_cold(names: list[str]) -> dict:
    """Single-shot timing in a FRESH session (subprocess) per (query,
    scale point) — the valid method for stateful scratch-keyed queries
    (streaming sinks, checkpoints): within one session their first run
    does the work and reruns replay nothing, so ``run_interleaved``'s
    min-of-reps would time only the final read. Cost: one JVM startup
    per measurement; use for the handful of stateful entries only."""
    import re
    import subprocess

    from rag_vector_database_spark.plans.registry import REGISTRY
    known = {q.name for q in REGISTRY}
    missing = [n for n in names if n not in known]
    if missing:
        raise SystemExit(f"unknown query name(s): {missing}")

    repo = os.path.dirname(os.path.abspath(__file__))
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    out = {"metric": "cold single-shot wall-clock, fresh session per "
                     "measurement, sf0.1 vs 10x data",
           "data_ratio": COPIES, "base_s": {}, "scaled_s": {},
           "time_ratio_per_query": {}}
    for name in names:
        for key, d in (("base_s", SRC), ("scaled_s", DST)):
            code = _COLD_CHILD.format(repo=repo, cpus=cpus, name=name, sf=d)
            r = subprocess.run([sys.executable, "-c", code],
                               capture_output=True, text=True)
            if r.returncode != 0:
                # report the completed measurements BEFORE dying: a
                # multi-hour ladder must never discard finished rungs
                # because a later query failed (learned the hard way:
                # a 300x disk-exhaustion on the last of three queries
                # threw away two completed ~20-min measurements)
                print("PARTIAL", json.dumps(out), flush=True)
                raise SystemExit(
                    f"cold child failed for {name} at {d}:\n"
                    + r.stderr[-2000:])
            m = re.search(r"COLD_SECONDS ([0-9.]+)", r.stdout)
            out[key][name] = float(m.group(1))
            # stream each finished measurement (the final JSON line is
            # unchanged; these progress lines let a monitor see rungs
            # as they land)
            print(f"COLD {name} {key} {out[key][name]}", flush=True)
        out["time_ratio_per_query"][name] = round(
            out["scaled_s"][name] / out["base_s"][name], 2)
    return out


def main() -> None:
    cmd = sys.argv[1] if len(sys.argv) > 1 else "run"
    if cmd not in ("build", "run", "cold"):
        # an unrecognized first arg is almost certainly a query name
        # typed without the subcommand — failing loudly beats silently
        # dropping it and probing the wrong suite
        raise SystemExit(
            f"unknown command {cmd!r}: usage scale_probe.py "
            "{build | run [name ...] | cold <name> [name ...]}")
    if cmd == "build":
        print(build())
        return
    build()
    if cmd == "cold":
        if len(sys.argv) < 3:
            raise SystemExit("usage: scale_probe.py cold <name> [name ...]")
        print(json.dumps(run_cold(sys.argv[2:])))
        return
    names = sys.argv[2:] or None  # run [name ...] probes specific queries
    print(json.dumps(run_interleaved(names=names)))


if __name__ == "__main__":
    main()
