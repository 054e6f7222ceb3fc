"""Plan-shape audits: the scale-pattern operators must never degrade to
quadratic joins. A BroadcastNestedLoopJoin or CartesianProduct in any of
these plans means the banding/bucketing trick silently stopped working
(Spark falls back to nested-loop for non-equi join conditions), which is
exactly the failure mode that kills these operators at 100 TB.
"""

from __future__ import annotations

import contextlib
import io

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    from agnostic_blockchain_etl_spark.session import get_session
    yield get_session(master="local[8]",
                      conf={"spark.sql.shuffle.partitions": "8"})

# Queries whose entire point is avoiding the quadratic plan. The inequality
# (doc_a < doc_b / tolerance) predicates must ride an equi-join, not drive
# the join strategy.
# (emb_ivf_topk is exempt: its corpus × codebook crossJoin is a broadcast
# nested loop BY DESIGN, bounded to nlist=16 rows on the broadcast side —
# the quadratic risk banding protects against does not apply to a
# constant-size codebook.)
LINEAR_PLAN_QUERIES = [
    "dedup_cluster_components",
    "dedup_simhash_pairs",
    "dedup_minhash_lsh_pairs",
    "dedup_ngram_jaccard",
    "decontamination_overlap",
    "emb_near_dup_pairs",
    "emb_lsh_bucketed_search",
    "range_join_banded",
    "skew_salted_join",
    "asof_join_last_click",
    "doc_fingerprint_repetition",
    "dedup_paragraphs",
    "token_budget_prefix",
    "semantic_decontamination",
]


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", LINEAR_PLAN_QUERIES)
def test_no_quadratic_join(spark, name):
    import __spark_entry__ as entry

    df = entry.queries()[name](spark, SF_DIR)
    plan = _plan_of(df)
    assert "CartesianProduct" not in plan, f"{name} plans a cartesian:\n{plan}"
    assert "BroadcastNestedLoopJoin" not in plan, \
        f"{name} plans a nested loop join:\n{plan}"


def test_span_dedup_linear_plan(spark):
    """duplicate_spans over an arbitrary doc frame: digest-keyed equi-join
    only (never cartesian), and the gram scan is read from the in-memory
    cache on both sides rather than recomputed."""
    from agnostic_blockchain_etl_spark.operators.spans import duplicate_spans
    from agnostic_blockchain_etl_spark.operators.tables import load_tables
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    plan = _plan_of(duplicate_spans(docs, 5))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "InMemoryTableScan" in plan  # cached gram scan is reused


def test_span_dedup_digest_is_codegen_longs_no_remark_distinct(spark):
    """r11 optimization pins: (a) the k-gram digest is the two-long
    xxhash64 form computed AFTER the explode in whole-stage codegen —
    an md5 in this plan means someone reverted to the 32-char string
    key (2× the shuffle bytes) or moved hashing back inside the
    interpreted transform() lambda (measured 2.4× slower); (b) the
    marked-position frame flows join → window with NO re-distinct
    (grams are unique per (doc_id, pos), dups unique per digest), so
    the plan carries exactly two aggregate groupings (dup grouping +
    span aggregate), not three."""
    import re

    from agnostic_blockchain_etl_spark.operators.spans import duplicate_spans
    from agnostic_blockchain_etl_spark.operators.tables import load_tables
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    plan = _plan_of(duplicate_spans(docs, 5))
    assert "xxhash64" in plan, plan
    assert "md5" not in plan, plan
    # tree line + details header name each node twice: 2 aggregations
    # (HashAggregate pairs partial+final → ≤ 8 mentions), a third
    # grouping (the old distinct) would push this past the bound
    n_agg = len(re.findall(r"^\s*\(\d+\)\s+HashAggregate", plan, re.M))
    assert n_agg <= 8, f"{n_agg} HashAggregates — distinct crept back?\n{plan}"


def test_term_cooccurrence_has_no_corpus_distinct_shuffle(spark):
    """r11 optimization pin: the (doc_id, term) incidence dedup happens
    per-document via array_distinct BEFORE the explode (doc_id is
    unique in the corpus convention), so the plan must show
    array_distinct and must NOT contain a corpus-wide (doc_id, term)
    hash-aggregate distinct feeding dfreq — that was the query's only
    corpus-sized shuffle."""
    import __spark_entry__ as entry
    plan = _plan_of(entry.queries()["term_cooccurrence_pmi"](
        spark, SF_DIR))
    assert "array_distinct" in plan, plan
    assert "Exchange hashpartitioning(doc_id" not in plan, plan


def test_pii_scrub_is_single_scan(spark):
    """pii_scrub is pure column work: one scan, no shuffle, no join."""
    from agnostic_blockchain_etl_spark.operators.pii import pii_scrub
    from agnostic_blockchain_etl_spark.operators.tables import load_tables
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    plan = _plan_of(pii_scrub(docs))
    assert "Exchange" not in plan and "Join" not in plan
    # formatted output names each node twice (tree + details): 2 == 1 scan
    assert plan.count("Scan parquet") == 2


def test_mixture_weights_single_aggregation(spark):
    """mixture_weights: ONE corpus aggregation, materialized into a
    bounded (|strata|-row) literal at plan-build time — since round 9
    the returned plan frame must carry NO corpus lineage at all (zero
    parquet scans in its plan: collecting or joining the plan N times
    re-evaluates an N-row literal, never the corpus; the
    evaluated-once property itself is pinned by the accumulator test
    in test_mixture.py) and no join."""
    from agnostic_blockchain_etl_spark.operators.mixture import (
        mixture_weights)
    from agnostic_blockchain_etl_spark.operators.tables import load_tables
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    plan = _plan_of(mixture_weights(docs, {"en": 1, "de": 1}))
    assert plan.count("Scan parquet") == 0
    assert "Join" not in plan
    assert "ExistingRDD" in plan          # the collected literal


def test_dsir_scoring_join_is_broadcast(spark):
    """DSIR's corpus-sized joins must be broadcasts of the B-row
    log-ratio table — the only nested loops are the 1-row distribution
    totals crossJoined onto the B-row dense frames (bounded by
    construction, the emb_ivf_topk exemption class)."""
    import __spark_entry__ as entry
    plan = _plan_of(entry.queries()["dsir_log_weights"](spark, SF_DIR))
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    # every nested loop in the plan is a Cross of a broadcast single row
    import re
    for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
        assert m.group(1) == "Cross", plan


def test_quality_score_model_join_is_broadcast(spark):
    """The 100 TB scoring pass must broadcast the (B+1)-row model — a
    shuffled model join would add a corpus-sized exchange keyed on the
    bucket id. The only nested-loop is the 1-row bias crossJoin (bounded
    by construction)."""
    import __spark_entry__ as entry
    plan = _plan_of(entry.queries()["quality_score_fixed_model"](
        spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_shard_assign_range_never_shuffles_the_data(spark):
    """The range-strategy shard assignment's corpus-sized side must
    meet ONLY a broadcast join: its exchanges are all over the
    ≤ n_buckets bucket summary (one hash partitioning into the
    aggregate, one SinglePartition for the cumulative window) — a
    data-sized shuffle here would make the 100 TB write pay a full
    repartition just to learn its shard ids."""
    import __spark_entry__ as entry
    plan = _plan_of(entry.queries()["shard_assign_balanced"](
        spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    # the window over the bucket summary is the only SinglePartition
    assert plan.count("Exchange SinglePartition") <= 2  # tree + details


def test_mixture_apply_data_side_is_broadcast_only(spark):
    """Applying a mixture plan to the 100 TB corpus must be a
    zero-shuffle projection plus a broadcast join against the |strata|-
    row plan: mixture_weights materializes the stratum table (bounded
    by lang×source cardinality) into a literal frame, so the only
    exchanges in the apply plan are over that literal (one hash, one
    SinglePartition window) — never over the corpus."""
    import __spark_entry__ as entry
    plan = _plan_of(entry.queries()["mixture_apply"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    # the corpus is scanned once, projected to the join columns only;
    # the plan side is a Scan ExistingRDD (the collected literal), so a
    # reintroduced corpus lineage in the plan frame shows up here as a
    # second parquet scan (formatted output names each node twice:
    # tree line + details header)
    assert plan.count("Scan parquet") <= 2


def test_curate_default_path_plans_no_disabled_stage_joins(spark):
    """The default curate_corpus (every optional stage off) must not pay
    for what it doesn't run: disabled stages attach neutral flags via
    withColumn(lit), never doc_id-keyed joins, and the trained LM's
    lineage is severed (localCheckpoint) so vocab broadcasts don't
    replay the curation DAG. Before the round-5 fix the default plan
    held 80 Exchanges / 91 parquet scans / 40 sort-merge joins; pin the
    fixed shape with headroom so a reintroduced neutral-flag join (or a
    resurrected model lineage) fails loudly."""
    import re

    from agnostic_blockchain_etl_spark.operators.curate import curate_corpus
    from agnostic_blockchain_etl_spark.operators.tables import load_tables
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"] \
        .select("doc_id", "text", "lang")
    ann, _ = curate_corpus(docs, vocab_size=2000)
    plan = _plan_of(ann)

    def count(kind):
        return len(re.findall(r"^\s*\(\d+\)\s+" + kind, plan, re.M))

    n_joins = (count("SortMergeJoin") + count("ShuffledHashJoin")
               + count("BroadcastHashJoin"))
    assert count("Exchange") <= 20, f"{count('Exchange')} Exchanges:\n{plan}"
    assert count("Scan parquet") <= 20, \
        f"{count('Scan parquet')} parquet scans:\n{plan}"
    assert n_joins <= 18, f"{n_joins} joins in the default path:\n{plan}"
    assert "CartesianProduct" not in plan


def test_source_cap_salted_form_is_two_bounded_windows(spark):
    """salt_buckets > 1 must plan TWO row_number windows — level one
    partitioned by (source, salt bucket) so no partition sorts more
    than ~n_source/salt_buckets rows, level two over the pre-capped
    candidates — and never a cartesian."""
    from agnostic_blockchain_etl_spark.operators.sourcecap import source_cap
    from agnostic_blockchain_etl_spark.operators.tables import load_tables
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"] \
        .select("doc_id", "source")
    plan = _plan_of(source_cap(docs, 5, salt_buckets=32))
    assert plan.count("Window") >= 2, plan
    assert "_b" in plan            # level-one partitioning carries the salt
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_winnow_selection_scan_is_spread(spark):
    """Pin the winnow spread() decision (r10 verdict advisory #3) in
    its r11 keyed form: the k-gram construction is CPU-heavy per row,
    so the selection scan must be healed off the single-row-group scan
    — and the healing repartition is HASHED BY doc_id so it doubles as
    the selection window's exchange (no second, per-GRAM exchange
    between the Generate and the Window). The selection subtree must
    also appear ONCE: the fingerprint frame is scoped-cached, so the
    guard and both self-join sides read the cache instead of
    re-running the md5-per-k-gram selection (the r11 before-plan
    carried FOUR full Scan→Generate→Window subtrees). A refactor that
    drops the spread() re-inflicts the measured 4.6 s one-core scan;
    one that drops the key or the cache re-inflicts the 4× selection."""
    import __spark_entry__ as entry
    df = entry.queries()["winnow_dup_pairs"](spark, SF_DIR)
    plan = _plan_of(df)
    assert "hashpartitioning(doc_id" in plan, plan   # keyed healing
    assert "RoundRobinPartitioning" not in plan, plan
    assert "InMemoryTableScan" in plan, plan         # selection cached
    # exactly one selection subtree: formatted explain numbers each
    # UNIQUE node once in the detail section, so one "(n) Generate"
    # detail means the k-gram explode exists only inside the single
    # cached relation, however many consumers print its tree.
    # NOTE (r11 advice): the "(n) Node" regex is coupled to Spark's
    # formatted-explain numbering — a Spark upgrade that reformats
    # explain output could fail this pin without a real regression;
    # re-derive the counts from the new format rather than deleting
    # the assertion if that happens.
    import re
    assert len(re.findall(r"\(\d+\) Generate", plan)) == 1, plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1, plan
    from agnostic_blockchain_etl_spark.operators.tables import (load_tables,
                                                                spread)
    docs = load_tables(spark, SF_DIR, ("documents",))["documents"]
    cores = spark.sparkContext.defaultParallelism
    assert spread(docs).rdd.getNumPartitions() >= cores
    assert spread(docs, "doc_id").rdd.getNumPartitions() >= cores


def test_bm25_plan_has_no_healing_exchange(spark):
    """Pin the BM25 NON-spread decision (r10 verdict advisory #3): the
    per-row work (one split + a literal-set filter) is too light to
    pay for the healing shuffle (measured +0.8 s at sf0.1 WITH it), so
    the feature scan must carry NO RoundRobinPartitioning exchange —
    every exchange in the plan is hash-partitioned aggregation/window
    shuffle. A refactor that adds spread() here flips a measured win."""
    import __spark_entry__ as entry
    plan = _plan_of(entry.queries()["bm25_topk_search"](spark, SF_DIR))
    assert "RoundRobinPartitioning" not in plan, plan


def test_bm25_data_side_joins_are_broadcast_only(spark):
    """BM25's corpus-sized tf frame must meet ONLY broadcasts (the
    |terms|-row idf table and the query-term map); the one nested loop
    is the 1-row corpus-stats crossJoin onto the |terms|-row df frame
    (bounded by construction, the emb_ivf_topk exemption class). A
    shuffled idf join would add a corpus-sized exchange keyed on term."""
    import re

    import __spark_entry__ as entry
    for name in ("bm25_topk_search", "bm25_store_scoring"):
        plan = _plan_of(entry.queries()[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
            assert m.group(1) == "Cross", (name, plan)


def test_event_and_sketch_family_no_quadratic_plans(spark):
    """The funnel/retention/transition/trend, PMI, PageRank, HLL, and
    KMV-set additions: no cartesian anywhere; every nested loop must
    be a broadcast Cross (the 1-row-or-bounded-frame exemption class
    the bm25/emb_ivf pins established — N totals, span frames, rho
    counts); data-sized frames meet each other only in hash joins."""
    import re

    import __spark_entry__ as entry
    for name in ("funnel_conversion_report", "cohort_retention_matrix",
                 "event_transition_matrix", "event_trend_report",
                 "term_cooccurrence_pmi", "pagerank_supplier_part",
                 "hll_distinct_estimate", "hll_group_distinct",
                 "kmv_set_overlap", "km_survival_curve"):
        plan = _plan_of(entry.queries()[name](spark, SF_DIR))
        assert "CartesianProduct" not in plan, (name, plan)
        for m in re.finditer(r"BroadcastNestedLoopJoin (\w+)", plan):
            assert m.group(1) == "Cross", (name, plan)


def test_cooc_vocab_filter_is_broadcast(spark):
    """The PMI incidence frame must meet the top-V vocabulary as a
    BROADCAST join BEFORE the doc_id self-join — a shuffled vocab
    join would key a corpus-sized exchange on term, and an unfiltered
    self-join would explode every document's full vocabulary."""
    import __spark_entry__ as entry
    plan = _plan_of(
        entry.queries()["term_cooccurrence_pmi"](spark, SF_DIR))
    assert "BroadcastHashJoin" in plan, plan


def test_shj_guardrails_pinned(spark):
    """The r11 shuffled-hash preference and its r12-validated skew
    guard travel TOGETHER (SCALE.md "r12: the SHJ preference
    validated"): preferSortMergeJoin=false is only safe because AQE
    skew-join splitting covers gate-passing-but-skewed build sides.
    Removing the guard while keeping the preference must fail here
    before it can OOM a cluster. Also pins the r12 ContextCleaner
    cadence (dead shuffle/broadcast/checkpoint state measured 5x on
    mid-session heavy rows with the stock 30min GC)."""
    from agnostic_blockchain_etl_spark.session import DEFAULT_CONF
    assert DEFAULT_CONF["spark.sql.join.preferSortMergeJoin"] == "false"
    assert DEFAULT_CONF["spark.sql.adaptive.skewJoin.enabled"] == "true"
    assert DEFAULT_CONF["spark.sql.adaptive.enabled"] == "true"
    assert DEFAULT_CONF["spark.cleaner.periodicGC.interval"] == "2min"
    # and the live session actually carries them
    assert spark.conf.get("spark.sql.join.preferSortMergeJoin") == "false"
    assert spark.conf.get("spark.sql.adaptive.skewJoin.enabled") == "true"


def test_logs_ingest_fetches_receipts_once_per_block(spark):
    """Catalyst must not copy ``eth_getBlockReceipts`` into a
    ``size(receipts) > 0`` filter inferred under ``explode(receipts)``:
    that plans the call twice and fetches every block's receipts twice
    (the session excludes InferFiltersFromGenerate)."""
    from agnostic_blockchain_etl_spark.plans.templates import render_string
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "examples", "logs_ingest",
                           "create_buffer.sql")) as f:
        spark.sql(render_string(f.read(), {"START": 0, "END": 19,
                                           "RPC_ENDPOINT": "mock://chain"}))
    df = spark.table("buffer_0_19")
    assert df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ethereum_rpc(eth_getBlockReceipts") == 1, plan
    assert plan.count("ethereum_rpc(eth_getBlockByNumber") == 1, plan
    # the RPC UDF stays deterministic, so aggregates may wrap it
    assert spark.sql(
        "SELECT count(ethereum_rpc('eth_getBlockByNumber', "
        "array('0x0', 'false'), 'mock://chain')) AS c FROM range(2)"
    ).first().c == 2
