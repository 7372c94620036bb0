"""Workload definitions: which calls one pass makes, and how each call's
output is checked.

A pass is a list of steps. Each step is one call into the program's public
surface, split into ``build`` (the call itself — eager actions inside it
included) and ``materialize`` (``collect()`` of the returned DataFrame),
followed by ``release`` (the consumer-cache release the registry asks its
consumers to make).
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from typing import Any

#: the reference's two clustering flows (PAPER.md)
PIPELINE_QUERIES = ("pipeline_tfidf_kmeans", "pipeline_word2vec_dbscan")

#: a sub-second scan of bench.py's cold tier (per-job overhead, no ML),
#: then one query per operator module of the curation family — the
#: cheapest member of each module, so that a run fits its time budget
INGEST_CURATE_QUERIES = (
    "count_filtered_events",     # relational
    "doc_quality_scores",        # textstats
    "canonical_by_quality",      # dedup
    "split_leakage_counts",      # curation
    "part_affinity_lift",        # graph
    "bpe_merge_table",           # bpe
    "ann_bruteforce_topk",       # similarity
    "incremental_dedup_counts",  # retrieval
)


@dataclass(frozen=True)
class Workload:
    """One workload; BENCHMARK.json and README.md say why each exists."""
    name: str
    queries: tuple[str, ...]
    #: base tables pinned in the session table cache during set-up (none:
    #: the table cache stays off and every scan reads parquet)
    cached_tables: tuple[str, ...]
    #: run the raw-JSON ingest steps at the head of every pass
    ingest: bool
    #: timed passes made even when ``--seconds`` have gone by: three where
    #: the first timed pass is sometimes much slower than the next ones,
    #: so that the median does not take it
    min_timed_passes: int


WORKLOADS = {w.name: w for w in (
    Workload("pipelines", PIPELINE_QUERIES, cached_tables=("documents",),
             ingest=False, min_timed_passes=1),
    Workload("ingest_curate", INGEST_CURATE_QUERIES, cached_tables=(),
             ingest=True, min_timed_passes=3),
)}


def _collect(df) -> list:
    return df.collect()


@dataclass
class Step:
    name: str
    #: layer the step's time is charged to, e.g. ``operators.dedup``
    layer: str
    build: Callable[[], Any]
    materialize: Callable[[Any], list] = _collect
    release: Callable[[], Any] = lambda: None
    #: check of the checked pass's rows; returns an error string or None
    check: Callable[[list], str | None] | None = None
    #: DuckDB SQL the rows must match (oracle-backed registry queries)
    oracle: str | None = None
    #: the step's output differs between passes by design (no hash check)
    volatile: bool = False


def registry_steps(spark, sf_dir: str, names: tuple[str, ...],
                   checks: dict[str, Callable[[list], str | None]]
                   ) -> list[Step]:
    from fts_errors_clustering_spark.plans.registry import (
        all_queries, release_consumer_caches)
    defs = all_queries()
    steps = []
    for q in names:
        d = defs[q]
        module = d.fn.__wrapped__.__module__.rsplit(".", 1)[1]
        steps.append(Step(q, f"operators.{module}",
                          build=lambda fn=d.fn: fn(spark, sf_dir),
                          release=lambda q=q: release_consumer_caches(q),
                          check=checks.get(q), oracle=d.oracle))
    return steps


def ingest_steps(spark, corpus_dir: str, publish_root: str,
                 expected_failed: int) -> list[Step]:
    """Read the raw-event corpus, keep the failures, count them per
    (event_type, activity), publish them as a versioned snapshot and read
    the latest snapshot back."""
    from pyspark.sql import functions as F

    from fts_errors_clustering_spark.sources.readers import read_events_json
    from fts_errors_clustering_spark.sources.sinks import (
        publish_versioned_parquet, read_versioned)

    def failures():
        return (read_events_json(spark, corpus_dir)
                .where(F.col("data.event_type").endswith("-failed"))
                .select("data.*", F.col("metadata.timestamp").alias("ts_ms")))

    def counts(df):
        return df.groupBy("event_type", "activity").agg(F.count("*").alias("n"))

    def total_is_expected(rows):
        n = sum(r["n"] for r in rows)
        return None if n == expected_failed else (
            f"{n} failures counted, the corpus has {expected_failed}")

    return [
        Step("ingest.json_read", "sources.json_read",
             build=lambda: counts(failures()), check=total_is_expected),
        Step("ingest.publish", "sources.publish",
             build=lambda: publish_versioned_parquet(failures(), publish_root),
             materialize=lambda version: [], volatile=True),
        Step("ingest.readback", "sources.readback",
             build=lambda: counts(read_versioned(spark, publish_root)),
             check=total_is_expected),
    ]


# --- output checks ------------------------------------------------------------

def _check_tfidf_kmeans(rows):
    if len(rows) != 1:
        return f"{len(rows)} evaluation rows, expected 1"
    r = rows[0]
    for m in ("homogeneity", "completeness", "v_measure"):
        if not 0.0 <= r[m] <= 1.0:
            return f"{m}={r[m]} outside [0, 1]"
    if not -1.0 <= r["ari"] <= 1.0:
        return f"ari={r['ari']} outside [-1, 1]"
    return None


def pipeline_checks(tables_dir: str) -> dict[str, Callable[[list], str | None]]:
    """Invariants of the two pipelines' outputs on ``tables_dir``: one
    evaluation row with metrics in range, and DBSCAN cluster sizes that sum
    to the number of non-blank documents."""
    import pyarrow.parquet as pq
    texts = pq.read_table(os.path.join(tables_dir, "documents.parquet"),
                          columns=["text"]).column("text").to_pylist()
    n_docs = sum(1 for t in texts if t is not None and t.strip())

    def check_word2vec_dbscan(rows):
        n = sum(r["n_docs"] for r in rows)
        return None if n == n_docs else (
            f"n_docs sums to {n}, the corpus has {n_docs} non-blank docs")

    return {"pipeline_tfidf_kmeans": _check_tfidf_kmeans,
            "pipeline_word2vec_dbscan": check_word2vec_dbscan}
