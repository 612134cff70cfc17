"""Session-scoped shared tiers: one kernel pass per corpus.

The tier chain, each tier materialized once per (SparkContext, source
dir) and built from the one above it:

    docs        process_corpus(corpus_from_documents(...)): the Python
                kernel pass (parse/encode/decode/verify/expand) with
                its per-document flags and triple arrays
      triples   triples_table(docs)
        canonical     canonical_triples(triples)
        entity edges  entity_edges(triples)

Every consumer (the doc-flag queries, BGP/SPARQL, canonical dedup, the
graph family) reads a tier, so the kernel runs once per session and
corpus dir, and ``ok`` has the same value in every table derived from
it.  ``jobs/build_kg.py`` and ``plans/bucketed.py`` are the production
analogue: a checkpointed parquet stage or bucketed tables per corpus
snapshot.

``localCheckpoint(eager=True)`` is the session-scale analogue of the
bucketed write: one materializing job, lineage cut (no kernel re-run on
any downstream action), blocks stored MEMORY_AND_DISK so a large tier
spills instead of OOMing, and the ContextCleaner reclaims the blocks
once the memo entry is dropped and GC'd.  One memo holds every tier,
keyed (applicationId, sf_dir, tier); entries of stopped SparkContexts
are evicted on the next miss so a long-lived driver process never pins
dead-session storage.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from cbor_ld_spark.plans.partitioning import tier_partitions

_MEMO: dict[tuple[str, str, str], DataFrame] = {}


def _tier(spark: SparkSession, sf_dir: str, name: str,
          build: Callable[[], DataFrame]) -> DataFrame:
    """The memoized, eagerly checkpointed ``build()`` for this
    (session, corpus dir, tier)."""
    key = (spark.sparkContext.applicationId, str(sf_dir), name)
    df = _MEMO.get(key)
    if df is None:
        for stale in [k for k in _MEMO if k[0] != key[0]]:
            del _MEMO[stale]
        df = _MEMO[key] = build().localCheckpoint(eager=True)
    return df


def shared_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document kernel results (``DOC_RESULT_SCHEMA``), identical
    to ``process_corpus(corpus_from_documents(spark, sf_dir))``;
    callers needing non-default kernel options derive their own."""
    from cbor_ld_spark.operators import process_corpus
    from cbor_ld_spark.sources import corpus_from_documents

    # narrow the CHECKPOINT, not the kernel: the Python kernel stage
    # upstream runs at machine width (its own exchange), while the
    # checkpoint that ~30 downstream queries scan is coalesced to a
    # row-scaled width — a 32-partition checkpoint of a small tier
    # taxes every consumer's first stage with per-task overhead
    # (measured +0.3-0.5 s across the BGP/SPARQL family), while at
    # larger SFs the target grows with the corpus
    return _tier(spark, sf_dir, "docs", lambda: process_corpus(
        corpus_from_documents(spark, sf_dir)).coalesce(
            tier_partitions(spark, sf_dir)))


def shared_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The triples table of ``shared_docs`` (it keeps that tier's
    partitioning)."""
    from cbor_ld_spark.operators import triples_table

    return _tier(spark, sf_dir, "triples",
                 lambda: triples_table(shared_docs(spark, sf_dir)))


def shared_canonical_triples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``canonical_triples`` over the shared triples tier — the
    canonicalization mapInArrow pass is the second-most expensive
    stage after the kernel, and both the component histogram and the
    canonical-dedup counts consume its output."""
    from cbor_ld_spark.operators.canonicalize import canonical_triples

    # narrow checkpoint via a real repartition: a coalesce would
    # collapse the (Python-heavy) canonicalization mapInArrow stage
    # itself, while the shuffle moves only the small canonical triple
    # rows once
    return _tier(spark, sf_dir, "canonical", lambda: canonical_triples(
        shared_triples(spark, sf_dir)).repartition(
            tier_partitions(spark, sf_dir)))


def shared_entity_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (src, dst) entity edges over the shared triples tier.
    Every graph consumer (PageRank x4, k-hop, reachability, triangles,
    overlap x2, communities, k-core, ANF, HITS) starts from this frame
    instead of re-running the IRI filter + DISTINCT shuffle per
    query."""
    from cbor_ld_spark.operators.graph import entity_edges

    return _tier(spark, sf_dir, "edges",
                 lambda: entity_edges(shared_triples(spark, sf_dir)))


def clear_shared_triples() -> None:
    """Drop every memo entry (tests / explicit storage release)."""
    _MEMO.clear()
