"""Session-scoped shared triples tier (plans/shared.py): one kernel
materialization feeds the whole graph-query family."""

import pytest  # noqa: F401


def test_shared_triples_single_materialization(spark):
    from cbor_ld_spark.plans import clear_shared_triples, shared_triples

    clear_shared_triples()
    try:
        a = shared_triples(spark, "/root/testdata/sf0.001")
        b = shared_triples(spark, "/root/testdata/sf0.001")
        assert a is b  # cache hit: the SAME materialized frame
        # lineage is cut: downstream actions scan the checkpointed RDD,
        # the Python kernel never re-runs
        plan = a._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan, plan
        assert "MapInArrow" not in plan and "BatchEvalPython" not in plan
    finally:
        clear_shared_triples()


def test_shared_triples_matches_direct_derivation(spark):
    from cbor_ld_spark.operators import process_corpus, triples_table
    from cbor_ld_spark.plans import clear_shared_triples, shared_triples
    from cbor_ld_spark.sources import corpus_from_documents

    clear_shared_triples()
    try:
        shared = shared_triples(spark, "/root/testdata/sf0.001")
        direct = triples_table(
            process_corpus(corpus_from_documents(
                spark, "/root/testdata/sf0.001")))
        assert shared.columns == direct.columns
        key = [c for c in shared.columns]
        assert (sorted(map(tuple, shared.select(*key).collect()))
                == sorted(map(tuple, direct.select(*key).collect())))
    finally:
        clear_shared_triples()


def test_shared_triples_keyed_by_dir_and_clearable(spark):
    from cbor_ld_spark.plans import clear_shared_triples, shared_triples
    from cbor_ld_spark.plans.shared import _MEMO

    def n_triples():
        return sum(1 for k in _MEMO if k[2] == "triples")

    clear_shared_triples()
    try:
        a = shared_triples(spark, "/root/testdata/sf0.001")
        b = shared_triples(spark, "/root/testdata/sf0.01")
        assert a is not b
        assert n_triples() == 2
        clear_shared_triples()
        assert not n_triples()
        c = shared_triples(spark, "/root/testdata/sf0.001")
        assert c is not a  # fresh materialization after clear
    finally:
        clear_shared_triples()


def test_shared_canonical_triples_single_materialization(spark):
    from cbor_ld_spark.plans import (
        clear_shared_triples,
        shared_canonical_triples,
    )

    clear_shared_triples()
    try:
        a = shared_canonical_triples(spark, "/root/testdata/sf0.001")
        b = shared_canonical_triples(spark, "/root/testdata/sf0.001")
        assert a is b
        plan = a._jdf.queryExecution().executedPlan().toString()
        assert "Scan ExistingRDD" in plan, plan
        assert "MapInArrow" not in plan and "BatchEvalPython" not in plan
    finally:
        clear_shared_triples()


def test_shared_canonical_matches_direct(spark):
    from cbor_ld_spark.operators import process_corpus, triples_table
    from cbor_ld_spark.operators.canonicalize import canonical_triples
    from cbor_ld_spark.plans import (
        clear_shared_triples,
        shared_canonical_triples,
    )
    from cbor_ld_spark.sources import corpus_from_documents

    clear_shared_triples()
    try:
        shared = shared_canonical_triples(spark, "/root/testdata/sf0.001")
        direct = canonical_triples(triples_table(process_corpus(
            corpus_from_documents(spark, "/root/testdata/sf0.001"))))
        assert shared.columns == direct.columns
        assert (sorted(map(tuple, shared.collect()))
                == sorted(map(tuple, direct.collect())))
    finally:
        clear_shared_triples()


def test_one_kernel_pass_per_session(spark):
    """The doc-flag queries and the first triples consumer all read the
    shared docs tier: built once, after which no executed plan re-runs
    the Python kernel."""
    import __spark_entry__ as E
    from cbor_ld_spark.plans import clear_shared_triples

    qs, sf_dir = E.queries(), E._oracle_sf_dir()
    clear_shared_triples()
    try:
        for name in ("kg_doc_results", "kg_roundtrip_violations",
                     "kg_compression_stats", "kg_triples_by_pred"):
            df = qs[name](spark, sf_dir)
            df.collect()
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "MapInArrow" not in plan, (name, plan)
        from cbor_ld_spark.plans.shared import _MEMO
        assert sorted(k[2] for k in _MEMO) == ["docs", "triples"]
    finally:
        clear_shared_triples()
