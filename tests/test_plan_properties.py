"""Positive plan assertions — the properties that make the plans hold at
100 TB, asserted so a regression is caught, not re-discovered in a bench:

- dimension-sized join sides BROADCAST (no shuffle of the big fact side);
- point-lookup predicates reach the parquet scan as PushedFilters;
- aggregations read only the columns they use (column pruning) and
  partial-aggregate map-side before the exchange.
"""

import contextlib
import io
import re

import __spark_entry__ as entrymod

from tests.conftest import SF0001

QUERIES = entrymod.queries()


def _plan(spark, qid: str) -> str:
    df = QUERIES[qid](spark, SF0001)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("simple")
    return buf.getvalue()


def test_m2m_denormalize_broadcasts_dimension(spark):
    plan = _plan(spark, "join_denormalize_m2m")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_nest_one_to_many_joins_aggregated_child_hash(spark):
    # The child is aggregated to one row per FK before the join; the join
    # itself must be a hash join (broadcast locally; never nested-loop).
    plan = _plan(spark, "join_nest_one_to_many")
    assert "HashJoin" in plan, plan
    assert "NestedLoop" not in plan, plan


def test_indexed_lookup_pushes_key_predicate_to_scan(spark):
    plan = _plan(spark, "src_indexed_lookup")
    assert "EqualTo(o_custkey" in plan, plan


def test_pricing_summary_prunes_and_partial_aggregates(spark):
    plan = _plan(spark, "agg_pricing_summary")
    # Column pruning: the lineitem scan must not read unused wide columns.
    scan_lines = [ln for ln in plan.splitlines() if "FileScan" in ln]
    assert scan_lines and all(
        "l_comment" not in ln and "l_orderkey" not in ln
        for ln in scan_lines
    ), plan
    # Map-side partial aggregation before the exchange (two HashAggregate
    # levels around one hashpartitioning exchange).
    assert plan.count("HashAggregate") >= 2, plan
    assert "partial_" in plan, plan


def test_filter_fk_match_pushes_join_null_filter(spark):
    # The FK semi filter must not plan a nested loop and must prune
    # columns at the scan.
    plan = _plan(spark, "filter_fk_match")
    assert "NestedLoop" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_basket_pairs_packs_pair_key(spark):
    # r13 (guide §2.3 narrower types): with 31-bit-provable part keys the
    # ordered pair rides the rollup exchange as ONE packed BIGINT
    # (part_a << 32 | part_b), decoded after the aggregation.
    plan = _plan(spark, "ext_basket_pairs")
    assert "shiftleft" in plan, plan
    assert "shiftrightunsigned" in plan, plan


def test_dedup_containment_expands_pairs_in_bucket(spark):
    # r13 (guide §2.4): the capped posting SELF-JOIN on the shingle key
    # was replaced by in-bucket ordered-pair expansion (collect_list per
    # shingle + in-array ordered-pair explode). The plan print copies the
    # shared `rare` subtree once per consumer, so the SMJ count is a
    # bound, not an exact figure: 5 today (3 df-cap-join copies + the
    # doc_a and doc_b sizes joins); the superseded self-join shape
    # printed 7.
    plan = _plan(spark, "ext_dedup_containment")
    assert plan.count("SortMergeJoin") <= 5, plan
    assert "collect_list" in plan, plan
    # the pair expansion happens in-array (one Generate over the bucket
    # arrays), feeding the pair-count aggregation in-stage.
    assert "flatten(transform(ids" in plan, plan
    # No shingle-keyed self-join: the s-keyed joins are the df-cap joins,
    # which carry no pair condition (the self-join printed
    # `SortMergeJoin [s#..], [s#..], Inner, (doc_a#.. < doc_b#..)`).
    s_joins = re.findall(r"SortMergeJoin \[s#\d+\], \[s#\d+\].*", plan)
    assert s_joins and not any("doc_" in j for j in s_joins), plan


def test_fuzzy_join_spread_is_name_keyed(spark):
    # r13: the customer spread hashes on c_name (every downstream step
    # is name-keyed — distinct over nm, id-expansion joins on na/nb),
    # replacing the keyless round-robin whose layout none of them could
    # use (and whose sortBeforeRepartition local sort was pure cost).
    plan = _plan(spark, "ext_fuzzy_join_names")
    assert "RoundRobinPartitioning" not in plan, plan
    assert "hashpartitioning(c_name" in plan, plan


def test_text_entropy_is_aggregation_free(spark):
    # r13 (guide §2.4): the char histogram is computed in-array per
    # document (sorted-run diffs), so the plan holds NO aggregation at
    # all — the only exchange is the deliberate spread repartition.
    plan = _plan(spark, "ext_text_entropy")
    assert "HashAggregate" not in plan, plan
    assert plan.count("Exchange") == 1, plan
