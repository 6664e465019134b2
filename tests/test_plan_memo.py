"""The registry plan memo (plans/__init__.py ``_build_checked``): a
query's built frame is reused per (session, sf_dir) only when its build
ran no Spark job and every plan leaf is recomputed on each execution.
Driver actions, cached or checkpointed intermediates and streaming
sinks keep a query out; execution of a memoized plan still recomputes
from the parquet inputs (no InMemoryRelation in the executed plan)."""

from __future__ import annotations

import pytest

from kafka_connect_ftp_spark import plans
from kafka_connect_ftp_spark.plans import register, registry
from kafka_connect_ftp_spark.session import _MEMO, MEMO_MAX

SF = "/root/testdata/sf0.001"
SF2 = "/root/testdata/sf0.01"

# what the rule admits at sf0.001: the registry's pure plan constructors
MEMOIZED = frozenset(
    {
        "q1_pricing_summary",
        "q3_shipping_priority",
        "q5_local_supplier_volume",
        "q10_returned_items",
        "q4_order_priority_checking",
        "q18_large_volume_customers",
        "q6_q14_scalar_family",
        "q7_nation_volume",
        "join_broadcast_dim",
        "anti_join_idle_customers",
        "window_rank_family",
        "window_events_range_lag",
        "changelog_latest_state",
        "sessionize_events",
        "asof_join_click_purchase",
        "sliding_window_counts",
        "cube_returnflag_linestatus",
        "setop_family",
        "pivot_event_type_counts",
        "order_rollup_family",
        "argmax_order_per_customer",
        "region_nation_lists",
        "text_profile",
        "dedup_exact",
        "simhash_fingerprint",
        "embedding_near_dup_pairs",
        "chunk_documents",
        "quality_filter_flags",
        "repetition_profile",
        "governance_profile",
        "span_dedup_decision",
        "sequence_packing",
        "multimodal_binary_meta",
        "corpus_report",
        "ingest_snapshot_delta",
        "scalar_funcs",
        "lineitem_reshape_family",
    }
)


@pytest.fixture(scope="module")
def reg():
    return registry()


def _stored(spark, sf_dir, name):
    return any(s is spark and k == ("plan", sf_dir, name) for s, k, _ in _MEMO)


@pytest.fixture(scope="module")
def builds(spark, reg):
    """Every query built twice at SF: name -> (first, second frame). Two
    builds, because a first build in a process may pay one-time work
    (text_profile trains its lang-id profiles)."""
    return {name: (spec.fn(spark, SF), spec.fn(spark, SF)) for name, spec in reg.items()}


def _leaves(df):
    plan = df._jdf.queryExecution().withCachedData()
    leaves = plan.collectLeaves()
    return [leaves.apply(i) for i in range(leaves.size())]


def test_derived_memo_set(spark, builds):
    derived = {name for name in builds if _stored(spark, SF, name)}
    assert derived == MEMOIZED
    for name, (a, b) in builds.items():
        if name not in MEMOIZED:
            assert a is not b, name
        elif name != "text_profile":  # stored on the first or second build
            assert a is b, name


def test_memoized_query_returns_same_plan_object(spark, reg):
    fn = reg["q1_pricing_summary"].fn
    a = fn(spark, SF)
    b = fn(spark, SF)
    assert a is b


def test_memo_keyed_by_sf_dir(spark, reg):
    fn = reg["dedup_exact"].fn
    a = fn(spark, SF)
    c = fn(spark, SF2)
    assert a is not c
    assert fn(spark, SF) is a  # the SF entry survives the SF2 build


def test_memo_keyed_by_session_identity(spark, reg):
    fn = reg["window_rank_family"].fn
    a = fn(spark, SF)
    # a different session object (newSession shares the context but is a
    # distinct session) must get a fresh plan — plans hold session state
    other = spark.newSession()
    b = fn(other, SF)
    assert a is not b


def test_driver_action_keeps_a_query_out(spark, reg, monkeypatch):
    # a memoized constructor with a .count() added: the build runs a job,
    # so its frame would freeze data-derived state and must not be kept
    monkeypatch.setattr(plans, "_REGISTRY", dict(plans._REGISTRY))
    base = reg["dedup_exact"].fn.__wrapped__

    @register("memo_control", None)
    def control(spark, sf_dir):
        return base(spark, sf_dir)

    @register("memo_mutant_count", None)
    def mutant(spark, sf_dir):
        df = base(spark, sf_dir)
        df.count()
        return df

    assert control(spark, SF) is control(spark, SF)
    assert mutant(spark, SF) is not mutant(spark, SF)
    assert not _stored(spark, SF, "memo_mutant_count")


def test_streaming_and_checkpointed_queries_are_not_memoized(spark, builds):
    # streaming_rollup_family reads a memory sink; crawl_corpus_family's
    # warm build runs no job, but its plan holds checkpointed LogicalRDDs
    a, b = builds["streaming_rollup_family"]
    assert a is not b
    assert not _stored(spark, SF, "streaming_rollup_family")
    assert "MemoryPlan" in {leaf.nodeName() for leaf in _leaves(b)}
    a, b = builds["crawl_corpus_family"]
    assert a is not b
    assert not _stored(spark, SF, "crawl_corpus_family")
    rdds = [leaf.rdd() for leaf in _leaves(b) if leaf.nodeName() == "LogicalRDD"]
    assert any(r.isCheckpointed() or r.isLocallyCheckpointed() for r in rdds)


def test_impure_queries_are_not_memoized(spark, builds):
    # ngram_jaccard_pairs / minhash_lsh_pairs lazily localCheckpoint an
    # intermediate; memoizing them would reuse materialized blocks
    # across invocations (result caching). Guard the EXCLUSION, not
    # just the inclusion.
    for name in ("ngram_jaccard_pairs", "minhash_lsh_pairs"):
        a, b = builds[name]
        assert a is not b, name
        assert not _stored(spark, SF, name)
    # and the side-effecting / driver-action families stay out
    for name in (
        "crawl_corpus_family",
        "dedup_cluster_decision",
        "pq_adc_topk",
        "ann_ivf_family",
        "bpe_train_tokenize",
        "vocab_coverage",
        "streaming_rollup_family",
        "embedding_cosine_topk",
        "embedding_norms",
        "decontamination_flags",
        "quality_model_flags",
    ):
        assert not _stored(spark, SF, name), name


def test_memoized_plan_recomputes_from_inputs(spark, reg):
    # the memoized frame must not acquire cached/materialized state: its
    # executed plan reads the parquet scan every time (no
    # InMemoryRelation / LogicalRDD anywhere in the optimized plan)
    df = reg["dedup_exact"].fn(spark, SF)
    df.write.format("noop").mode("overwrite").save()
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "InMemoryRelation" not in optimized
    assert "LogicalRDD" not in optimized


def test_corpus_report_memoized_and_pure(spark, builds):
    # corpus_report is a pure plan constructor (overlap pair arithmetic
    # + rates bridge in-plan). Pin BOTH properties: the memo hit, and
    # that the memoized plan holds no materialized/driver-local state (a
    # LocalRelation would mean data-derived rows were frozen at build
    # time — result caching).
    a, b = builds["corpus_report"]
    assert _stored(spark, SF, "corpus_report")
    assert a is b
    analyzed = a._jdf.queryExecution().analyzed().toString()
    assert "InMemoryRelation" not in analyzed
    assert "LogicalRDD" not in analyzed
    assert "LocalRelation" not in analyzed


@pytest.mark.parametrize(
    "name",
    ["ingest_snapshot_delta", "scalar_funcs", "lineitem_reshape_family"],
)
def test_literal_logicalrdd_queries_memoized_and_pure(spark, builds, name):
    # these queries' analyzed plans DO carry LogicalRDD nodes — but only
    # from createDataFrame over compile-time literal fixtures (empty
    # ingest state / paired-duplicate diff rows / the 4-entry blocklist
    # / the price-band table), never sf-data-derived rows; pin that the
    # memo hit exists and nothing MATERIALIZED (InMemoryRelation) or
    # checkpoint-scanned rides the plan.
    a, b = builds[name]
    assert _stored(spark, SF, name)
    assert a is b
    analyzed = a._jdf.queryExecution().analyzed().toString()
    assert "InMemoryRelation" not in analyzed
    assert "Checkpoint" not in analyzed
    # the parquet scan is live lineage (recomputed per execution)
    assert "parquet" in analyzed.lower()


def test_ngram_no_cross_invocation_cache_reuse(spark, reg):
    # round 12: ngram_jaccard_pairs' counts intermediate was .cache()d —
    # CacheManager matches plan-identical frames across invocations
    # (sameResult canonicalization), so invocation 2 silently read
    # invocation 1's materialized counts (its plan carried an
    # InMemoryTableScan): cross-invocation result reuse, the exact
    # thing the memo exclusion exists to prevent. Now a lazy
    # localCheckpoint: fresh RDD per invocation. Pin it: execute one
    # invocation (materializing whatever it materializes), then a
    # second build must be a distinct frame whose plan holds no
    # CacheManager substitution.
    fn = reg["ngram_jaccard_pairs"].fn
    a = fn(spark, SF)
    a.write.format("noop").mode("overwrite").save()
    b = fn(spark, SF)
    assert a is not b
    # optimizedPlan, not analyzed (ADVICE r12): CacheManager substitution
    # happens in QueryExecution.withCachedData, AFTER analysis — an
    # analyzed() assertion can never see InMemoryRelation and guards
    # nothing. optimizedPlan() and executedPlan() are both post-
    # substitution, so either would carry the cache hit.
    for plan in (
        b._jdf.queryExecution().optimizedPlan().toString(),
        b._jdf.queryExecution().executedPlan().toString(),
    ):
        assert "InMemoryRelation" not in plan
        assert "InMemoryTableScan" not in plan


def test_memo_bounded(spark, reg):
    assert len(_MEMO) <= MEMO_MAX


def test_memo_list_matches_registry_names(spark, reg, builds):
    # every memoized plan is a live registry entry — a renamed query
    # silently losing its memo would re-pay build cost unnoticed
    assert MEMOIZED <= set(reg.keys())
    names = {k[2] for s, k, _ in _MEMO if s is spark and k[:2] == ("plan", SF)}
    assert MEMOIZED <= names
