"""Zero-cost pipeline metrics via Dataset.observe (CollectMetrics).

The reference counts successes/failures/skips by incrementing Python
counters as it loops (ingest_chunks_to_chromadb.py:150-239); the
engine's single-pass counter queries (validation_filter) do it with
conditional aggregation — but both shapes run the metrics AS the
query. ``observe`` is the third, production shape: metrics ride the
SAME physical scan as the real query (a CollectMetrics node in the
plan), cost no extra job, and are delivered out-of-band on action
completion. On a 100 TB run this is how you get row counts, null
rates, and domain violations for every batch WITHOUT a second pass or
a sacrificial count job.

Batch: ``pyspark.sql.Observation`` + ``Observation.get`` after any
action. Streaming: the same ``observe`` call surfaces per-micro-batch
under ``progress.observedMetrics`` — one definition, both runtimes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Observation
from pyspark.sql import functions as F


def ingest_metrics(text_col: str = "text") -> list[Column]:
    """The standard ingest health metrics: row count, empty-text count
    (the reference's 'skipped' counter), null-text count, and total
    characters — all computable as a single conditional-agg pass."""
    c = F.col(text_col)
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(c.isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum(F.when(F.trim(c) == "", 1).otherwise(0)).alias("n_empty"),
        F.sum(F.length(c)).alias("total_chars"),
    ]


def with_observation(df: DataFrame, metrics: list[Column],
                     name: str | None = None
                     ) -> tuple[DataFrame, Observation]:
    """Attach an Observation to ``df``: returns (df', obs) where df'
    computes identically and ``obs.get`` (after any action on df')
    yields the metric dict, collected during df's own execution.
    ``name`` defaults to a fresh unique one, so several observations
    can ride one query."""
    obs = Observation(name)
    return df.observe(obs, *metrics), obs


def observed(obs: Observation) -> dict | None:
    """``obs.get`` after the action, or None when the executed plan no
    longer held the observed subtree. Spark prunes a subtree it proves
    empty (statically, or adaptively once a stage has run) and a join
    side that an empty other side makes unneeded, and then reports an
    empty row, which ``obs.get`` cannot convert."""
    if obs._jo.getRow().size() == 0:  # blocks until the action reports
        return None
    return obs.get
