"""Plan-shape regression gate (VERDICT r8 #4).

``tools/explain_audit.py`` audits ~160 physical plans at round close;
this thin pytest executes its assertions for the LOAD-BEARING subset so
a plan regression fails CI immediately instead of surfacing at the
manual gate. The expectation/forbid patterns are imported FROM the tool
(single source of truth — the test cannot drift from the audit).

The pinned expectations (SURVEY.md §4 / the 100 TB design brief):
- no Python eval (BatchEvalPython/ArrowEvalPython) on the fact-table
  paths of the flagship pipeline stages (P2 normalize, A1/A2/W2 flat
  most-populars);
- J1/J2 zone-dim joins broadcast (BroadcastHashJoin, never SMJ);
- T1 top-k plans as TakeOrderedAndProject (per-partition heaps), never
  a global range sort;
- trend_slope's scalar epoch rides the sanctioned 1-row broadcast BNLJ
  — any hash/sort-merge join or true cartesian is a regression;
- decontamination stays a gram equi-join, never doc×doc.
"""

from __future__ import annotations

import importlib.util
import os
import re

import pytest

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_spec = importlib.util.spec_from_file_location(
    "explain_audit", os.path.join(_ROOT, "tools", "explain_audit.py")
)
_audit = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_audit)

def _auditable_names() -> set:
    """Every name the audit tool sweeps: registry entries plus the
    flagship pipeline (audited via run_taxi_pipeline, not the
    registry). Single definition — four allowlist tests check
    membership against this set, and a drift between copies would make
    one of them wrongly report dangling entries."""
    from taxi_trips_etl_spark.queries import all_queries

    return set(all_queries()) | {"flagship_most_populars"}


# The load-bearing subset: reference-surface operators (the flagship
# path) + the two shapes the r7/r8 verdicts called out by name.
_LOAD_BEARING = (
    "normalize_filter",
    "most_populars_flat",
    "broadcast_left_join",
    "multihop_join",
    "topk_limit",
    "trend_slope_by_event_type",
    "corpus_decontaminate",
    "flagship_known_zones",
)


@pytest.mark.parametrize("name", _LOAD_BEARING)
def test_plan_shape_pinned(spark, sf_dir, name):
    from taxi_trips_etl_spark.queries import all_queries

    df = all_queries()[name](spark, sf_dir)
    plan = _audit.plan_of(df)
    for pat in _audit.EXPECT.get(name, []):
        assert re.search(pat, plan), (
            f"{name}: expected {pat!r} not in physical plan"
        )
    for pat in _audit.FORBID.get(name, []):
        assert not re.search(pat, plan), (
            f"{name}: forbidden {pat!r} present in physical plan"
        )


def test_load_bearing_names_still_audited():
    """Every pinned name must still carry patterns in the tool's maps —
    a rename there would silently turn this gate vacuous."""
    for name in _LOAD_BEARING:
        assert name in _audit.EXPECT or name in _audit.FORBID, (
            f"{name} lost its audit patterns in tools/explain_audit.py"
        )


def test_scan_allowance_names_are_registered():
    """A typo'd or stale SCAN_ALLOWANCE key would grant its extra
    fan-out allowance to nothing while looking justified — every key
    must be a live registry name."""
    from taxi_trips_etl_spark.queries import all_queries

    registered = set(all_queries())
    dangling = set(_audit.SCAN_ALLOWANCE) - registered
    assert not dangling, (
        f"SCAN_ALLOWANCE entries not in the registry: {sorted(dangling)}"
    )
    # r13 shape: allowances are keyed per (name, table) so one entry's
    # justified fan-out cannot leak to other tables in the same plan.
    # Every table key must be a real testdata table, and every cap must
    # EXCEED the default; an entry at/below it is stale bookkeeping
    # that would mask a future fan-out regression.
    for name, per_table in _audit.SCAN_ALLOWANCE.items():
        assert isinstance(per_table, dict) and per_table, (
            f"{name}: allowance must be a non-empty table→cap dict"
        )
        for t, cap in per_table.items():
            assert t in _audit.TESTDATA_TABLES, (
                f"{name}: allowance table {t!r} is not a testdata table"
            )
            assert cap > _audit.DEFAULT_SCAN_ALLOWANCE, (
                f"{name}.{t}: allowance {cap} <= default "
                f"{_audit.DEFAULT_SCAN_ALLOWANCE} — remove the entry"
            )


# CI pin (VERDICT r11 #3): the r11 fan-out fixes are one lazy
# materialize() call each (queries/_round7.py assortativity,
# queries/_round6c.py markov) — value-level pytests would stay green if
# a refactor silently dropped the call, and the 12×/~8× fact-spine
# recompute would return with zero test failures. Ceilings are the
# audit-run exchange counts of the FIXED plans (10 and 24, re-measured
# r12; pre-fix plans read 58 and 52, so a dropped materialize blows
# straight through). The checkpoint scan node is asserted too: plan
# shape must start at the truncated lineage, not a rebuilt spine.
# r12 adds tfidf_cosine_pairs: vec fans out to 4 consumers; the
# materialize holds its plan at 14 exchanges (unfixed: 46).
# Ceilings measured on pyspark 4.1.2 with the repo session config (AQE
# on, spark.sql.shuffle.partitions=32): exchange counts are a property
# of that planner version, so a harness upgrade that trips a ceiling
# is a deliberate re-measure-and-bump, not a loosen-in-place — the
# exact-zero raw-scan assertion below is the version-independent half
# of the pin (r12 ADVICE).
_FANOUT_PINS = {
    "graph_degree_assortativity": 10,
    "markov_stationary_micro": 24,
    "tfidf_cosine_pairs": 14,
    # r13 optimization round: the most-populars family's three
    # group-count-rank branches now share ONE materialized route-count
    # pass (operators/popularity.route_counts) instead of re-running
    # the fact spine per branch (unfixed plans read 16/42/42 exchange
    # hits and 3 raw lineitem scans each; plans/r13/*_before.txt).
    # The route-count checkpoint is also read as one partition, so the
    # windows and re-aggregations plan no shuffle and the only
    # exchanges left are the two rank-side broadcasts: 4 hits (tree +
    # detail rendering). Without the coalesce the plans read 14
    # (plans/r15/*_before.txt).
    "most_populars_flat": 4,
    "flagship_known_zones": 4,
    "flagship_most_populars": 4,
}


@pytest.mark.parametrize("name,ceiling", sorted(_FANOUT_PINS.items()))
def test_fanout_materialize_pinned(spark, sf_dir, name, ceiling):
    from taxi_trips_etl_spark.queries import all_queries

    df = all_queries()[name](spark, sf_dir)
    plan = _audit.plan_of(df)
    n_exchanges = plan.count("Exchange")
    assert n_exchanges <= ceiling, (
        f"{name}: {n_exchanges} exchanges > pinned ceiling {ceiling} — "
        "was the materialize() lazy checkpoint dropped?"
    )
    assert "Scan ExistingRDD" in plan, (
        f"{name}: no checkpoint scan in plan — the materialized spine "
        "is being recomputed from raw lineage"
    )


@pytest.mark.parametrize("name", sorted(_FANOUT_PINS))
def test_fanout_fix_within_global_scan_allowance(spark, sf_dir, name):
    """The fixed plans must also pass the audit tool's global fan-out
    rule without a SCAN_ALLOWANCE entry — and more than that: the
    materialize() checkpoint truncates the entire raw lineage, so the
    pinned plans read ZERO testdata scans (r13 sweep), making this an
    exact, Spark-version-independent twin of the exchange ceilings: a
    dropped materialize resurfaces the raw spine scans immediately."""
    from taxi_trips_etl_spark.queries import all_queries

    assert name not in _audit.SCAN_ALLOWANCE
    df = all_queries()[name](spark, sf_dir)
    plan = _audit.plan_of(df)
    for t in _audit.TESTDATA_TABLES:
        assert plan.count(f"{t}.parquet") == 0, (
            f"{name}: raw {t} scan in a checkpointed plan — "
            "was the materialize() lazy checkpoint dropped?"
        )


def test_topk_is_heap_not_global_sort(spark, sf_dir):
    """T1 specifically: TakeOrderedAndProject AND no range-partition
    exchange — the global-sort plan would shuffle everything to sort
    100 rows out."""
    from taxi_trips_etl_spark.queries import all_queries

    plan = _audit.plan_of(all_queries()["topk_limit"](spark, sf_dir))
    assert "TakeOrderedAndProject" in plan
    assert "Exchange rangepartitioning" not in plan


def test_lineage_truncated_names_are_registered():
    """r13: the ExistingRDD allowlist closes the fan-out gate's blind
    spot by enumeration — a typo'd or stale name would allowlist
    nothing while looking justified. Every name must be a live registry
    entry (or the audited flagship pipeline), and the three pinned
    fan-out fixes must be in it (their checkpoints are the reason their
    plans read zero raw scans)."""
    dangling = _audit.LINEAGE_TRUNCATED - _auditable_names()
    assert not dangling, (
        f"LINEAGE_TRUNCATED entries not in the registry: {sorted(dangling)}"
    )
    for name in _FANOUT_PINS:
        assert name in _audit.LINEAGE_TRUNCATED, (
            f"{name} is exchange-pinned as a checkpointed plan but "
            "missing from LINEAGE_TRUNCATED"
        )


def test_bnlj_allowlist_names_are_registered():
    """r13: BNLJ_ALLOWED pins where the sanctioned scalar-broadcast
    nested-loop joins live; dangling names would allowlist nothing.
    Counts must be positive and even ('formatted' explain renders each
    node twice), and every name must be a live registry entry."""
    dangling = set(_audit.BNLJ_ALLOWED) - _auditable_names()
    assert not dangling, (
        f"BNLJ_ALLOWED entries not in the registry: {sorted(dangling)}"
    )
    for name, cap in _audit.BNLJ_ALLOWED.items():
        assert cap > 0 and cap % 2 == 0, (
            f"{name}: BNLJ count {cap} must be a positive even "
            "string-hit count (tree + detail rendering)"
        )


# --- negative tests: each audit rule must actually FIRE -------------------
# audit_plan() is pure text→findings logic, so synthetic plan fragments
# prove the gates trip. Before r13 the rules lived inline in main() and
# only ever saw passing real plans — a broken comparison would have
# passed CI forever.


def _findings(name, plan, check_stale=True):
    return _audit.audit_plan(name, plan, check_stale=check_stale)


def test_audit_fires_on_cartesian_product():
    bad = _findings("dedup_exact", "CartesianProduct")
    assert any("CartesianProduct" in b for b in bad)


def test_audit_fires_on_unlisted_bnlj_and_stale_pin():
    # unlisted name, any BNLJ → fail
    bad = _findings("dedup_exact", "BroadcastNestedLoopJoin")
    assert any("BroadcastNestedLoopJoin" in b for b in bad)
    # listed name over its pin → fail
    over = "BroadcastNestedLoopJoin " * (
        _audit.BNLJ_ALLOWED["theil_sen_slope"] + 1
    )
    bad = _findings("theil_sen_slope", over)
    assert any("exceed the allowed" in b for b in bad)
    # listed name under its pin at the measured sf → stale finding;
    # elsewhere (check_stale=False) under-pin is fine
    assert any(
        "below the pinned" in b for b in _findings("theil_sen_slope", "")
    )
    # (plan carries the EXPECTed HashAggregate so only the BNLJ rule
    # is in play)
    assert not _findings(
        "theil_sen_slope", "HashAggregate", check_stale=False
    )


def test_audit_fires_on_unlisted_python_node():
    bad = _findings("dedup_exact", "MapInPandas")
    assert any("PY_NODE_ALLOWED" in b for b in bad)
    # row-at-a-time eval trips BOTH the r11 whitelist rule and the
    # r13 enumeration rule for an unlisted name
    bad = _findings("dedup_exact", "BatchEvalPython")
    assert any("PY_EVAL_WHITELIST" in b for b in bad)
    assert any("PY_NODE_ALLOWED" in b for b in bad)
    # a listed name with a NEW kind still fails
    bad = _findings("multimodal_meta", "MapInPandas FlatMapGroupsInPandas")
    assert any("FlatMapGroupsInPandas" in b for b in bad)
    # exact kind at measured sf → clean
    assert not _findings("multimodal_meta", "MapInPandas")


def test_audit_fires_on_unlisted_lineage_truncation():
    bad = _findings("dedup_exact", "Scan ExistingRDD")
    assert any("LINEAGE_TRUNCATED" in b for b in bad)
    # allowlisted name → no lineage finding (tfidf entry: give it its
    # allowed plan shape so no other rule trips)
    assert not _findings("tfidf_cosine_pairs", "Scan ExistingRDD")


def test_audit_fires_on_scan_fanout():
    over = "lineitem.parquet " * (_audit.DEFAULT_SCAN_ALLOWANCE + 1)
    bad = _findings("dedup_exact", over)
    assert any("fan-out allowance" in b for b in bad)
    # a per-(name, table) allowance covers ONLY its named table: the
    # same count on customer passes for scd2_customer_history (cap 9)
    # but the identical count on lineitem must still fail (r12 ADVICE).
    # (scd2 chosen because its only other audit entry is the
    # HashAggregate EXPECT, satisfied by the synthetic plan prefix.)
    n = _audit.SCAN_ALLOWANCE["scd2_customer_history"]["customer"]
    ok_plan = "HashAggregate " + "customer.parquet " * n
    assert not _findings("scd2_customer_history", ok_plan)
    bad = _findings(
        "scd2_customer_history", "HashAggregate " + "lineitem.parquet " * n
    )
    assert any("lineitem.parquet" in b for b in bad)
    # staleness arm: a listed allowance whose plan scans fewer than the
    # cap at the measured sf is flagged (a loose cap would mask a later
    # regression); elsewhere the same plan passes
    under = "HashAggregate " + "customer.parquet " * (n - 1)
    assert any("below the allowance" in b
               for b in _findings("scd2_customer_history", under))
    assert not _findings("scd2_customer_history", under, check_stale=False)


def test_audit_fires_on_stale_lineage_allowlist_entry():
    """The cross-plan staleness arm (audit_lineage_staleness) must flag
    allowlisted names whose plans stopped truncating — and stay silent
    when every entry was seen."""
    stale = _audit.audit_lineage_staleness(set())
    assert len(stale) == len(_audit.LINEAGE_TRUNCATED)
    assert all("LINEAGE_TRUNCATED" in s for s in stale)
    assert _audit.audit_lineage_staleness(set(_audit.LINEAGE_TRUNCATED)) == []
    # one missing name → exactly that finding
    (some,) = {"tfidf_cosine_pairs"}
    seen = set(_audit.LINEAGE_TRUNCATED) - {some}
    stale = _audit.audit_lineage_staleness(seen)
    assert len(stale) == 1 and stale[0].startswith(some)


def test_py_eval_whitelist_names_exist():
    """The global Python-eval rule (tools/explain_audit.py, round 11) is
    only as good as its whitelist: a renamed entry would silently turn a
    whitelisted name into dead config while the renamed query escapes
    the rule until the next tool run. Pin the names to the registry."""
    auditable = _auditable_names()
    for name in _audit.PY_EVAL_WHITELIST:
        assert name in auditable, (
            f"PY_EVAL_WHITELIST name {name!r} is not a registry entry"
        )


def test_py_node_allowlist_consistent():
    """r13: PY_NODE_ALLOWED enumerates every plan allowed to carry ANY
    Python-eval node flavor. Names must be live registry entries; the
    row-at-a-time whitelist must agree with it (a name allowed
    BatchEvalPython/ArrowEvalPython here must be in PY_EVAL_WHITELIST
    and vice versa — two sources of truth drifting apart would let one
    gate contradict the other); kinds must come from the sweep regex."""
    import re

    dangling = set(_audit.PY_NODE_ALLOWED) - _auditable_names()
    assert not dangling, (
        f"PY_NODE_ALLOWED entries not in the registry: {sorted(dangling)}"
    )
    row_at_a_time = {"BatchEvalPython", "ArrowEvalPython"}
    allows_raw = {
        n for n, kinds in _audit.PY_NODE_ALLOWED.items()
        if kinds & row_at_a_time
    }
    assert allows_raw == set(_audit.PY_EVAL_WHITELIST), (
        "PY_NODE_ALLOWED and PY_EVAL_WHITELIST disagree on which plans "
        f"may carry row-at-a-time eval: {sorted(allows_raw)} vs "
        f"{sorted(_audit.PY_EVAL_WHITELIST)}"
    )
    for name, kinds in _audit.PY_NODE_ALLOWED.items():
        assert kinds, f"{name}: empty kind set — remove the entry"
        for k in kinds:
            assert re.fullmatch(_audit.PY_NODE_PAT, k), (
                f"{name}: kind {k!r} is not matched by PY_NODE_PAT — "
                "the audit could never see it"
            )
