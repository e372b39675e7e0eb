"""The compiled CDC path does its plan work once per subscription set.

Plan shape (load-independent): on the compiled match, match -> RLS ->
projection with column privileges runs with no shuffle, no join, no
broadcast and no scan of a Python-built frame, also with each stage
materialized as the benchmark's traced mode does. A dim over
COMPILE_MAX_SUBS takes the join path, with one shuffle and the same output.
Memo: matched_pairs / match_changes reuse the compiled expressions for the
same dim and the same change columns, and recompile when either changes or
the frame is a typed source; parse_wal2json and project_output reuse their
Column lists across batches and rebuild them under a new SparkContext.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

import __spark_entry__ as em
from realtime_spark.functions.scalar import context_memo
from realtime_spark.operators import cdc, projection
from realtime_spark.operators.auth import apply_rls_policies, rls_policies_df
from realtime_spark.operators.cdc import match_changes, matched_pairs
from realtime_spark.operators.projection import (
    ERR_401, privileges_df, project_output,
)
from realtime_spark.sources import wal2json
from realtime_spark.sources.testdata import ORDERS_PG_TYPES, changes_from_orders
from tests.conftest import SF_DIR

_SPECS = em._MULTI_SPECS + [
    {"subscription_id": "sub-anon", "table": "orders", "claims_role": "anon",
     "selected_columns": ["o_orderstatus"]},
]
_POLICY = (
    "element_at(c.record, 'o_orderstatus') = 'O' "
    "OR element_at(c.old_record, 'o_orderstatus') = 'O'"
)


def _plan_nodes(df) -> list[str]:
    """Class names of the physical operators df would run (with AQE: the
    initial plan, exchanges included)."""
    out, stack = [], [df._jdf.queryExecution().executedPlan()]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        out.append(name)
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
            continue
        kids = node.children()
        stack.extend(kids.apply(i) for i in range(kids.size()))
    return out


def _privileges(spark):
    return privileges_df(
        spark,
        {
            ("authenticated", "public", "orders"): list(ORDERS_PG_TYPES),
            ("anon", "public", "orders"): ["o_orderkey", "o_orderstatus"],
        },
    )


def _no_join_or_broadcast(nodes: list[str]) -> bool:
    return not any("Join" in n or n == "BroadcastExchangeExec" for n in nodes)


def _pipeline(spark, changes, subs=None, between=lambda df: df):
    """match -> RLS -> projection; `between` runs on each stage's output."""
    subs = subs if subs is not None else em.subscriptions_df(spark, _SPECS)
    pols = rls_policies_df(
        spark, [{"table": "orders", "claims_role": "authenticated", "policy_expr": _POLICY}]
    )
    priv = _privileges(spark)
    sets = between(matched_pairs(changes, subs))
    return project_output(
        between(apply_rls_policies(sets, pols)), privileges=priv, rls_enabled=True
    )


def _rows(df) -> list[str]:
    return sorted(r[0] for r in df.select(F.to_json(F.struct("*"))).collect())


def _pairs(df) -> list[tuple]:
    pairs = df.select("c", F.explode("subs").alias("s"))
    return sorted(tuple(r) for r in pairs.select("c.change_id", "s.subscription_id").collect())


@pytest.mark.parametrize("typed", [True, False], ids=["typed_source", "plain_frame"])
def test_compiled_pipeline_has_no_shuffle_and_no_python_scan(spark, typed):
    changes = changes_from_orders(spark, SF_DIR)
    if not typed:
        changes = changes.select("*")  # drops the typed-source contract
    nodes = _plan_nodes(_pipeline(spark, changes))
    assert "ShuffleExchangeExec" not in nodes, nodes
    # RDDScanExec is the scan of a frame built by createDataFrame(list)
    # (ExistingRDD over a PythonRDD): every scan of it starts Python workers
    assert "RDDScanExec" not in nodes, nodes
    # the privileges are a literal map: no dim scan, no broadcast, no join
    assert "LocalTableScanExec" not in nodes, nodes
    assert _no_join_or_broadcast(nodes), nodes


def test_checkpointed_stages_plan_as_untraced(spark):
    """The benchmark's traced mode materializes each stage with
    localCheckpoint(eager=True): the later stages must still run the
    untraced plan (no shuffle) and return the same rows."""
    changes = changes_from_orders(spark, SF_DIR).select("*")
    traced = _pipeline(spark, changes, between=lambda df: df.localCheckpoint(eager=True))
    nodes = _plan_nodes(traced)
    assert "ShuffleExchangeExec" not in nodes, nodes
    assert _no_join_or_broadcast(nodes), nodes
    want = _rows(_pipeline(spark, changes))
    assert want and _rows(traced) == want


def test_dim_over_compile_max_subs_takes_the_join_path(spark, monkeypatch):
    changes = changes_from_orders(spark, SF_DIR).select("*")
    # the filtered specs plus filterless ones (a small compiled tree)
    specs = _SPECS + [
        {"subscription_id": f"sub-{i}", "table": "orders",
         "action": ("INSERT", "UPDATE", "DELETE")[i % 3],
         "claims_role": ("authenticated", "anon")[i % 2]}
        for i in range(cdc.COMPILE_MAX_SUBS + 1 - len(_SPECS))
    ]
    joined = _pipeline(spark, changes, em.subscriptions_df(spark, specs))
    nodes = _plan_nodes(joined)
    # the match's broadcast join: nested-loop here, as this change frame's
    # literal schema and table fold the equi-join keys into filters
    assert any(n.startswith("Broadcast") and n.endswith("JoinExec") for n in nodes), nodes
    assert nodes.count("ShuffleExchangeExec") == 1, nodes  # the group by change

    monkeypatch.setattr(cdc, "COMPILE_MAX_SUBS", len(specs))
    compiled = _pipeline(spark, changes, em.subscriptions_df(spark, specs))
    assert "ShuffleExchangeExec" not in _plan_nodes(compiled)
    want = _rows(compiled)
    assert want and _rows(joined) == want


def test_both_match_plans_return_the_same_frame(spark, monkeypatch):
    changes = changes_from_orders(spark, SF_DIR).select("*")
    subs = em.subscriptions_df(spark, _SPECS)
    compiled = matched_pairs(changes, subs)
    monkeypatch.setattr(cdc, "COMPILE_MAX_SUBS", 0)
    joined = matched_pairs(changes, subs)
    assert compiled.columns == joined.columns == ["c", "subs"]
    assert [f.dataType.simpleString() for f in compiled.schema] == [
        f.dataType.simpleString() for f in joined.schema
    ]

    def sets(df):  # the order within `subs` is the plan's
        subs_json = F.sort_array(F.transform("subs", lambda s: F.to_json(s)))
        return _rows(df.select("c", subs_json.alias("subs")))

    want = sets(compiled)
    assert want and sets(joined) == want
    priv = _privileges(spark)
    out = _rows(project_output(compiled, privileges=priv))
    assert out and _rows(project_output(joined, privileges=priv)) == out


def test_rls_keeps_match_sets_on_compiled_path(spark, monkeypatch):
    changes = changes_from_orders(spark, SF_DIR).select("*")
    subs = em.subscriptions_df(spark, _SPECS)
    pols = rls_policies_df(
        spark, [{"table": "orders", "claims_role": "authenticated", "policy_expr": _POLICY}]
    )
    compiled = apply_rls_policies(matched_pairs(changes, subs), pols)
    assert "subs" in compiled.columns
    monkeypatch.setattr(cdc, "COMPILE_MAX_SUBS", 0)
    joined = apply_rls_policies(matched_pairs(changes, subs), pols)

    got = _pairs(compiled)
    assert got == _pairs(joined)
    # authenticated subscribers only see open orders; anon has no policy
    anon = {cid for cid, sid in got if sid == "sub-anon"}
    authed = {cid for cid, sid in got if sid != "sub-anon"}
    assert anon and authed and authed < anon


def _count_compiles(monkeypatch) -> list:
    built = []
    real = cdc._sub_pred

    def spy(*args, **kwargs):
        built.append(args[0]["subscription_id"])
        return real(*args, **kwargs)

    monkeypatch.setattr(cdc, "_sub_pred", spy)
    return built


def _ids(df):
    return sorted((r["change_id"], tuple(r["subscription_ids"])) for r in df.collect())


def test_memo_reuses_compiled_match_across_batches(spark, monkeypatch):
    built = _count_compiles(monkeypatch)
    base = changes_from_orders(spark, SF_DIR).select("*")
    batch1 = base.filter(F.col("change_id") % 2 == 0)
    batch2 = base.filter(F.col("change_id") % 2 == 1)
    subs = em.subscriptions_df(spark, _SPECS)

    first = _ids(match_changes(batch1, subs))
    assert len(built) == len(_SPECS)
    # a later micro-batch: same dim, same columns, another frame (and, as in
    # foreachBatch, another SparkSession over the same SparkContext)
    batch2 = spark.newSession().createDataFrame(batch2.collect(), batch2.schema)
    reused = _ids(match_changes(batch2, subs))
    pairs = matched_pairs(batch2, subs)
    assert len(built) == len(_SPECS), "second batch recompiled the match"
    assert first and reused

    fresh = em.subscriptions_df(spark, _SPECS)  # new dim: compiles afresh
    assert reused == _ids(match_changes(batch2, fresh))
    assert len(built) == 2 * len(_SPECS)
    assert _pairs(pairs) == _pairs(matched_pairs(batch2, fresh))


def test_memo_recompiles_on_changed_subscriptions_columns_or_typed_source(
    spark, monkeypatch
):
    built = _count_compiles(monkeypatch)
    changes = changes_from_orders(spark, SF_DIR).select("*")
    subs = em.subscriptions_df(spark, _SPECS)
    match_changes(changes, subs)
    assert len(built) == len(_SPECS)

    # changed subscription set: a dim carrying the old set's memo must not
    # reuse it (the key includes the subscription rows)
    smaller = em.subscriptions_df(spark, _SPECS[:2])
    smaller._rs_compiled = subs._rs_compiled
    got = match_changes(changes, smaller)
    assert len(built) == len(_SPECS) + 2
    assert {i for r in got.collect() for i in r["subscription_ids"]} <= {
        s["subscription_id"] for s in _SPECS[:2]
    }

    # changed columns: same dim, one more change column
    wider = changes.withColumn("extra", F.lit(1))
    out = match_changes(wider, subs)
    assert len(built) == 2 * len(_SPECS) + 2
    assert "extra" in out.columns

    # a typed source compiles afresh on every call and is never memoized
    typed = changes_from_orders(spark, SF_DIR)
    memo = subs._rs_compiled
    match_changes(typed, subs)
    match_changes(typed, subs)
    assert len(built) == 4 * len(_SPECS) + 2
    assert subs._rs_compiled is memo


class _Context:
    """A SparkContext stand-in for context_memo: live while `_jsc` is set."""

    _jsc = object()


def test_context_memo_rebuilds_under_a_new_or_stopped_context():
    memo, built = {}, []

    def build():
        built.append(1)
        return len(built)

    ctx = _Context()
    assert context_memo(memo, ctx, "k", build) == 1
    assert context_memo(memo, ctx, "k", build) == 1  # same live context
    assert context_memo(memo, ctx, "other", build) == 2  # another key
    assert context_memo(memo, _Context(), "k", build) == 3  # new context
    stopped = _Context()
    context_memo(memo, stopped, "k", build)
    stopped._jsc = None
    assert context_memo(memo, stopped, "k", build) == 5


def _wal2json_batch(spark, n: int):
    """A frame of `n` wal2json v2 INSERTs on public.orders, in a new
    SparkSession over the same context, as foreachBatch hands it over."""
    lines = [
        '{"action":"I","schema":"public","table":"orders",'
        '"timestamp":"2024-01-01 00:00:00+00",'
        f'"columns":[{{"name":"o_orderkey","type":"int8","value":"{i}"}},'
        '{"name":"o_orderstatus","type":"text","value":"O"}],'
        '"pk":[{"name":"o_orderkey","type":"int8"}]}'
        for i in range(n)
    ]
    return spark.newSession().createDataFrame([(x,) for x in lines], "value string")


def test_parse_and_projection_reuse_their_column_lists(spark, monkeypatch):
    built = []
    parse_columns, projection_columns = wal2json._parse_columns, projection._projection_columns
    monkeypatch.setattr(wal2json, "_PARSE_MEMO", {})
    monkeypatch.setattr(projection, "_UNCHECKED_MEMO", {})
    monkeypatch.setattr(
        wal2json, "_parse_columns", lambda *a: built.append("parse") or parse_columns(*a)
    )
    monkeypatch.setattr(
        projection, "_projection_columns",
        lambda *a: built.append("projection") or projection_columns(*a),
    )
    subs = em.subscriptions_df(spark, _SPECS)
    priv = _privileges(spark)

    def batch(n):
        sets = matched_pairs(wal2json.parse_wal2json(_wal2json_batch(spark, n)), subs)
        return project_output(sets, privileges=priv, rls_enabled=True).collect()

    first, second = batch(2), batch(3)
    assert built == ["parse", "projection"], "a later batch rebuilt a Column list"
    assert sorted(r["record"]["o_orderkey"] for r in second if r["record"]) == [
        "0", "0", "1", "1", "2", "2",  # sub-ins and sub-anon see every insert
    ]
    assert len(first) == 4

    # the lists live on the privileges frame: another frame builds its own
    assert list(priv._rs_projection) == [(projection.MAX_RECORD_BYTES, True)]
    project_output(matched_pairs(wal2json.parse_wal2json(_wal2json_batch(spark, 1)), subs),
                   privileges=_privileges(spark), rls_enabled=True)
    assert built == ["parse", "projection", "projection"]

    # other options are another memo entry
    project_output(matched_pairs(wal2json.parse_wal2json(_wal2json_batch(spark, 1)), subs))
    assert built == ["parse", "projection", "projection", "projection"]

    # entries built under a context that has since stopped are rebuilt
    for memo in (wal2json._PARSE_MEMO, projection._UNCHECKED_MEMO, priv._rs_projection):
        for k, (_, v) in list(memo.items()):
            memo[k] = (_Context(), v)
    assert len(batch(2)) == 4
    assert built == ["parse", "projection", "projection", "projection", "parse", "projection"]


@pytest.mark.parametrize("carried", [True, False], ids=["privileges_df", "collected"])
def test_missing_grants_and_null_role_fail_closed(spark, carried):
    """A role with no grants row, and a NULL claims_role, get an empty
    column whitelist: nothing of the row ships, and Error 401. Also for a
    privileges frame that does not carry its rows and is collected."""
    changes = changes_from_orders(spark, SF_DIR).select("*")
    subs = em.subscriptions_df(spark, [
        {"subscription_id": "sub-granted", "table": "orders", "claims_role": "anon"},
        {"subscription_id": "sub-nogrant", "table": "orders", "claims_role": "service"},
        {"subscription_id": "sub-nullrole", "table": "orders", "claims_role": None},
    ])
    priv = _privileges(spark) if carried else _privileges(spark).select("*")
    out = project_output(matched_pairs(changes, subs), privileges=priv)
    assert _no_join_or_broadcast(_plan_nodes(out))
    rows = out.collect()
    by_sub: dict[str, list] = {}
    for r in rows:
        by_sub.setdefault(r["subscription_ids"][0], []).append(r)
    assert set(by_sub) == {"sub-granted", "sub-nogrant", "sub-nullrole"}
    for sid in ("sub-nogrant", "sub-nullrole"):
        for r in by_sub[sid]:
            assert ERR_401 in r["errors"], r
            assert r["columns"] == []
            assert not r["record"] and not r["old_record"], r
    granted = by_sub["sub-granted"]
    assert all(not r["errors"] for r in granted)
    assert {c["name"] for r in granted for c in r["columns"]} == {
        "o_orderkey", "o_orderstatus",
    }
