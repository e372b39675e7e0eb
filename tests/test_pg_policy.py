"""Postgres policy SQL -> Spark SQL translation (P7 widening).

Translation-layer tests are pure Python; the evaluation tests drive the
translated expressions through the real apply_rls_policies /
apply_rls_exists_policy plans on a Spark frame and compare against a
row-by-row Python reimplementation of the policy.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from realtime_spark.functions.pg_policy import (
    CompiledPolicy,
    PolicyTranslationError,
    compile_pg_policy,
    translate_pg_policy,
)

TM = {
    "o_custkey": "int8",
    "o_orderstatus": "text",
    "o_totalprice": "numeric",
    "o_orderdate": "timestamp",
    "user_id": "uuid",
    "tenant": "text",
    "room_id": "int8",
}
LK = {"members": {"room_id": "int8", "member_id": "uuid", "status": "text"}}


# ---------------------------------------------------------------------------
# translation
# ---------------------------------------------------------------------------

REC = "try_element_at(CASE WHEN c.action = 'DELETE' THEN c.old_record ELSE c.record END, "


@pytest.mark.parametrize(
    "pg,expected",
    [
        ("auth.uid() = user_id",
         f"(try_element_at(s.claims, 'sub') = {REC}'user_id'))"),
        ("(select auth.uid()) = user_id",
         f"(try_element_at(s.claims, 'sub') = {REC}'user_id'))"),
        ("auth.role() = 'authenticated'", "(s.claims_role = 'authenticated')"),
        ("auth.jwt() ->> 'tenant_id' = tenant",
         f"(try_element_at(s.claims, 'tenant_id') = {REC}'tenant'))"),
        ("current_setting('request.jwt.claims', true)::json ->> 'sub' = user_id",
         f"(try_element_at(s.claims, 'sub') = {REC}'user_id'))"),
        ("current_setting('request.jwt.claim.sub') = user_id",
         f"(try_element_at(s.claims, 'sub') = {REC}'user_id'))"),
        # typed column: catalog type drives the cast, int casts to BIGINT
        ("o_custkey = 7", f"(CAST({REC}'o_custkey') AS BIGINT) = 7)"),
        # ANY -> IN, both spellings
        ("o_orderstatus = ANY(ARRAY['a', 'b'])",
         f"({REC}'o_orderstatus') IN ('a', 'b'))"),
        ("o_orderstatus = ANY('{a,b}'::text[])",
         f"({REC}'o_orderstatus') IN ('a', 'b'))"),
        # pg operator spellings normalize
        ("o_orderstatus ~~* '%x%'", f"({REC}'o_orderstatus') ILIKE '%x%')"),
        ("o_orderstatus !~~ 'x'", f"({REC}'o_orderstatus') NOT LIKE 'x')"),
        ("o_orderstatus != 'F'", f"({REC}'o_orderstatus') <> 'F')"),
    ],
)
def test_translate_shapes(pg, expected):
    assert translate_pg_policy(pg, TM) == expected


def test_translate_cast_and_case_insensitive_keywords():
    out = translate_pg_policy("O_OrderStatus In ('a','b') AND o_custkey::text = '1'", TM)
    assert "IN ('a', 'b')" in out
    # ::text on an int column: the ::text cast re-renders the casted BIGINT
    assert "o_custkey" in out


def test_translate_string_escaping():
    # pg '' escape becomes a safely-escaped Spark literal (backslash rules)
    out = translate_pg_policy("o_orderstatus = 'it''s'", TM)
    assert "\\'" in out and "''" not in out


@pytest.mark.parametrize(
    "bad",
    [
        "no_such_col = 1",                    # unknown column
        "o_custkey = 5; drop table x",        # statement injection
        "delete from x",                       # not an expression
        "pg_sleep(10) = 1",                    # non-whitelisted function
        "auth.jwt() = 'x'",                    # claims map used as scalar
        "CASE WHEN true THEN true ELSE false END",  # unsupported construct
        "o_custkey / 2 = 3",  # pg int `/` truncates, Spark's is double division
        "o_custkey = (SELECT max(x) FROM t)",  # scalar subquery
        "EXISTS (SELECT 1 FROM members m WHERE m.status = 'x') AND true",
    ],
)
def test_translate_rejects_fail_closed(bad):
    with pytest.raises(PolicyTranslationError):
        translate_pg_policy(bad, TM)


def test_exists_decomposition():
    cp = compile_pg_policy(
        "EXISTS (SELECT 1 FROM members m WHERE m.room_id = orders.room_id "
        "AND m.status = 'active')",
        TM, lookup_cols=LK,
    )
    assert cp.kind == "exists"
    assert cp.table == "members"
    assert cp.keys == [("room_id", "room_id")]
    assert cp.residual_sql == "(status = 'active')"


def test_exists_unqualified_outer_and_claims_literal():
    cp = compile_pg_policy(
        "EXISTS (SELECT 1 FROM members m WHERE m.member_id = user_id "
        "AND m.status = auth.role())",
        TM, lookup_cols=LK, claims_literals={"role": "authenticated"},
    )
    assert cp.keys == [("user_id", "member_id")]
    assert cp.residual_sql == "(status = 'authenticated')"


@pytest.mark.parametrize(
    "bad",
    [
        # inner-first scoping makes the equality lookup-local -> no key
        "EXISTS (SELECT 1 FROM members m WHERE m.room_id = room_id)",
        # non-equality row reference
        "EXISTS (SELECT 1 FROM members m WHERE m.room_id > orders.room_id)",
        # claims in residual without literals
        "EXISTS (SELECT 1 FROM members m WHERE m.member_id = auth.uid())",
        # unknown probe table
        "EXISTS (SELECT 1 FROM secrets s WHERE s.k = orders.room_id)",
    ],
)
def test_exists_rejects_fail_closed(bad):
    with pytest.raises(PolicyTranslationError):
        compile_pg_policy(bad, TM, lookup_cols=LK)


def test_expr_policy_roundtrip_through_compile():
    cp = compile_pg_policy("o_orderstatus = 'O'", TM, lookup_cols=LK)
    assert cp == CompiledPolicy(
        kind="expr", spark_sql=f"({REC}'o_orderstatus') = 'O')"
    )


def test_exists_key_direction_with_shared_column_names():
    """Both relations carry BOTH column names (owner_id, user_id): the OUTER
    marker's side — not lookup-membership — must decide the key direction.
    Policy compares docs.owner_id (row) to acl.user_id (lookup); a
    membership heuristic would flip it to (user_id, owner_id) — fail-open."""
    tm = {"owner_id": "uuid", "user_id": "uuid"}
    lk = {"acl": {"user_id": "uuid", "owner_id": "uuid"}}
    for body in (
        "acl.user_id = docs.owner_id",
        "docs.owner_id = acl.user_id",
    ):
        cp = compile_pg_policy(
            f"EXISTS (SELECT 1 FROM acl WHERE {body})", tm, lookup_cols=lk
        )
        assert cp.keys == [("owner_id", "user_id")], body


def test_exists_key_must_be_lookup_column():
    # a literal on the non-OUTER side is not a join key — reject, don't guess
    with pytest.raises(PolicyTranslationError):
        compile_pg_policy(
            "EXISTS (SELECT 1 FROM members m WHERE 5 = orders.room_id)",
            TM, lookup_cols=LK,
        )


@pytest.mark.parametrize(
    "pg,want_in",
    [
        # pg double-quoting strips; quoted comma does not split
        ("""o_orderstatus = ANY('{"admin","ed,itor"}')""",
         "IN ('admin', 'ed,itor')"),
        # escaped quote and backslash inside a quoted element
        (r"""o_orderstatus = ANY('{"a\"b","c\\d"}')""",
         r"""IN ('a"b', 'c\\d')"""),
        # unquoted NULL element is SQL NULL; unquoted values trim whitespace
        ("o_orderstatus = ANY('{ a , NULL , b }')",
         "IN ('a', NULL, 'b')"),
        # quoted "NULL"/"null" is the string, not SQL NULL
        ("""o_orderstatus = ANY('{"NULL",x}')""", "IN ('NULL', 'x')"),
    ],
)
def test_any_array_literal_pg_quoting(pg, want_in):
    assert want_in in translate_pg_policy(pg, TM)


def test_any_array_literal_rejects_malformed():
    for bad in (
        "o_orderstatus = ANY('{\"unterminated}')",
        "o_orderstatus = ANY('{a\"b}')",          # quote mid-element
        "o_orderstatus = ANY('{a,,b}')",           # empty element
        "o_orderstatus = ANY('{{nested}}')",       # pg 1-D array_in errors
        "o_orderstatus = ANY('{a,{b}}')",          # nested mid-list
    ):
        with pytest.raises(PolicyTranslationError):
            translate_pg_policy(bad, TM)


def test_starts_with_renames_to_spark_startswith():
    out = translate_pg_policy("starts_with(o_orderstatus, 'O')", TM)
    assert "startswith(" in out and "starts_with(" not in out


def test_concat_keeps_pg_null_semantics():
    # pg concat() skips NULL args; Spark's is NULL-poisoning — coalesce each
    out = translate_pg_policy("concat(o_orderstatus, tenant) = 'x'", TM)
    assert out.count("coalesce(") == 2
    # direct record columns render as their RAW text inside string contexts
    # (pg's own *_out rendering, already in the wal2json value): a numeric
    # arg must NOT round-trip through its comparison cast — decimal(38,9)
    # would rescale '2.5' to '2.500000000' — and the coalesce stays
    # string-typed so ANSI mode cannot coerce the '' fallback (r5 ADVICE)
    out_num = translate_pg_policy("concat(o_custkey, o_totalprice) = 'x'", TM)
    assert out_num.count("coalesce(try_element_at(") == 2
    assert "DECIMAL" not in out_num and "BIGINT" not in out_num
    # computed args still cast to string inside the coalesce
    out_fn = translate_pg_policy("concat(lower(o_orderstatus), 'x') = 'x'", TM)
    assert out_fn.count("coalesce(cast(") == 2


def test_string_context_unwraps_record_casts():
    # ::text on a numeric/int column returns the raw record text
    out = translate_pg_policy("o_totalprice::text = '2.5'", TM)
    assert "DECIMAL" not in out and "CAST" not in out
    # || coerces both sides through the same pg string context
    out2 = translate_pg_policy("o_orderstatus || o_totalprice = 'x'", TM)
    assert "DECIMAL" not in out2 and "||" in out2
    # non-string casts are untouched
    out3 = translate_pg_policy("o_custkey::int8 = 7", TM)
    assert "CAST" in out3 and "BIGINT" in out3


def test_string_context_keeps_claims_cast_round_trip():
    """r6 ADVICE (low): a claims lookup cast to a comparison type renders
    with the same CAST(try_element_at(...)) shape as a record column, but
    string context must KEEP its typed round-trip (pg: ('+5')::int::text
    -> '5'), not unwrap to the raw claim text. Only renders produced by
    _record_col unwrap."""
    out = translate_pg_policy("(auth.jwt() ->> 'lvl')::int::text = '5'", TM)
    assert "AS BIGINT) as string)" in out and "try_element_at(s.claims, 'lvl')" in out
    # same inside concat's string context
    out2 = translate_pg_policy(
        "concat((auth.jwt() ->> 'lvl')::int, o_orderstatus) = 'x'", TM
    )
    assert "AS BIGINT) as string)" in out2 and out2.startswith("(concat(coalesce(cast(CAST(")
    # record-column unwrap is untouched by the fix
    assert "coalesce(try_element_at(" in translate_pg_policy(
        "concat(o_custkey, 'x') = 'x'", TM
    )


def test_identity_recast_keeps_raw_record_text():
    """An explicit re-cast to the column's own comparison type
    (o_totalprice::numeric) is a value identity — pg's subsequent ::text
    renders the stored text, so the unwrap carries through (r7 refinement;
    previously '2.5' re-rendered as '2.500000000' through this idiom)."""
    out = translate_pg_policy("o_totalprice::numeric::text = '2.5'", TM)
    assert "DECIMAL" not in out and "CAST" not in out
    out2 = translate_pg_policy("o_custkey::int8::text = '5'", TM)
    assert "BIGINT" not in out2 and "CAST" not in out2
    # a cast to a DIFFERENT type is a genuine conversion: round-trip kept
    out3 = translate_pg_policy("o_orderstatus::int::text = '5'", TM)
    assert "AS BIGINT) as string)" in out3


def test_eval_claims_cast_string_context(spark):
    """End-to-end: claims lvl='+05' under ::int::text must normalize to '5'
    exactly as pg's typed round-trip does — the raw-unwrap bug made this
    policy match zero rows."""
    from realtime_spark.operators.auth import apply_rls_policies, rls_policies_df

    changes, pairs = _pairs(spark, claims={"sub": "77", "lvl": "+05"})
    expr = translate_pg_policy(
        "(auth.jwt() ->> 'lvl')::int::text = '5' AND o_orderstatus = 'P'",
        {"o_orderstatus": "text"},
    )
    pols = rls_policies_df(spark, [{"table": "orders", "policy_expr": expr}])
    got = {
        r["change_id"]
        for r in apply_rls_policies(pairs, pols)
        .select("c", F.explode("subs").alias("s"))
        .select("c.change_id")
        .collect()
    }
    want = _expected_rows(changes, lambda rec: rec.get("o_orderstatus") == "P")
    assert got == want and want


def test_json_extract_on_record_column():
    tm = {"meta": "jsonb", "o_custkey": "int8"}
    out = translate_pg_policy("meta ->> 'owner' = 'u1'", tm)
    assert "get_json_object(" in out and "'$.owner'" in out
    # nested navigation chains paths through get_json_object
    out2 = translate_pg_policy("meta -> 'a' ->> 'b' = 'x'", tm)
    assert out2.count("get_json_object(") == 2
    # non-json operand (numeric catalog type casts to BIGINT) fails closed
    with pytest.raises(PolicyTranslationError):
        translate_pg_policy("o_custkey ->> 'k' = 'x'", tm)


def test_jwt_nested_claim_extraction():
    out = translate_pg_policy(
        "auth.jwt() -> 'app_metadata' ->> 'tenant' = tenant", TM
    )
    assert "get_json_object(try_element_at(s.claims, 'app_metadata'), '$.tenant')" in out


# ---------------------------------------------------------------------------
# evaluation on the real plans
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def spark():
    from realtime_spark.session import get_spark

    return get_spark("test_pg_policy", cpus=4)


SF = "/root/testdata/sf0.001"


def _pairs(spark, claims=None):
    import __spark_entry__ as em
    from realtime_spark.operators.cdc import matched_pairs
    from realtime_spark.sources.testdata import changes_from_orders

    changes = changes_from_orders(spark, SF)
    spec = {"subscription_id": "s1", "schema": "public", "table": "orders"}
    if claims:
        spec["claims"] = claims
    subs = em.subscriptions_df(spark, [spec])
    return changes, matched_pairs(changes, subs)


def _expected_rows(changes, pred):
    """Python reimplementation over collected change rows (DELETE-aware)."""
    out = set()
    for r in changes.collect():
        rec = r["old_record"] if r["action"] == "DELETE" else r["record"]
        if rec is not None and pred(rec):
            out.add(r["change_id"])
    return out


def test_eval_claims_policy(spark):
    from realtime_spark.operators.auth import apply_rls_policies, rls_policies_df

    changes, pairs = _pairs(spark, claims={"sub": "77", "tenant_id": "t-9"})
    pg = "auth.uid() = o_custkey::text OR o_orderstatus = 'P'"
    expr = translate_pg_policy(pg, {"o_custkey": "int8", "o_orderstatus": "text"})
    pols = rls_policies_df(
        spark, [{"table": "orders", "policy_expr": expr}]
    )
    got = {
        r["change_id"]
        for r in apply_rls_policies(pairs, pols)
        .select("c", F.explode("subs").alias("s"))
        .select("c.change_id")
        .collect()
    }
    want = _expected_rows(
        changes,
        lambda rec: rec.get("o_custkey") == "77" or rec.get("o_orderstatus") == "P",
    )
    assert got == want and want


def test_eval_numeric_cast_policy(spark):
    from realtime_spark.operators.auth import apply_rls_policies, rls_policies_df

    changes, pairs = _pairs(spark)
    expr = translate_pg_policy(
        "o_totalprice > 200000 AND o_orderstatus <> 'F'",
        {"o_totalprice": "numeric", "o_orderstatus": "text"},
    )
    pols = rls_policies_df(spark, [{"table": "orders", "policy_expr": expr}])
    got = {
        r["change_id"]
        for r in apply_rls_policies(pairs, pols)
        .select("c", F.explode("subs").alias("s"))
        .select("c.change_id")
        .collect()
    }
    want = _expected_rows(
        changes,
        lambda rec: float(rec.get("o_totalprice") or 0) > 200000
        and rec.get("o_orderstatus") != "F",
    )
    assert got == want and want


def test_eval_concat_numeric_policy(spark):
    """concat() over a numeric column with NULL rows present must evaluate
    (r5 ADVICE, medium: the string-typed coalesce fallback was coerced to
    BIGINT under ANSI mode and aborted the whole RLS evaluation)."""
    from realtime_spark.operators.auth import apply_rls_policies, rls_policies_df

    import __spark_entry__ as em
    from pyspark.sql import functions as F
    from realtime_spark.operators.cdc import matched_pairs
    from realtime_spark.sources.testdata import changes_from_orders

    # plant NULL o_custkey rows (the fixture never has them): drop the key
    # from every 5th record/old_record so the coalesce fallback is exercised
    drop_ck = lambda col: F.map_filter(col, lambda k, v: k != "o_custkey")
    hit = F.element_at(
        F.coalesce(F.col("record"), F.col("old_record")), "o_orderkey"
    ).cast("bigint") % 5 == 0
    changes = changes_from_orders(spark, SF)
    for c in ("record", "old_record"):
        changes = changes.withColumn(
            c, F.when(hit & F.col(c).isNotNull(), drop_ck(F.col(c))).otherwise(F.col(c))
        )
    subs = em.subscriptions_df(
        spark, [{"subscription_id": "s1", "schema": "public", "table": "orders"}]
    )
    pairs = matched_pairs(changes, subs)
    null_rows = [
        r
        for r in changes.collect()
        if (r["old_record"] if r["action"] == "DELETE" else r["record"]) is not None
        and (r["old_record"] if r["action"] == "DELETE" else r["record"]).get(
            "o_custkey"
        )
        is None
    ]
    assert null_rows, "fixture must exercise the NULL-arg branch"

    expr = translate_pg_policy(
        "concat(o_custkey, o_orderstatus) <> ''",
        {"o_custkey": "int8", "o_orderstatus": "text"},
    )
    pols = rls_policies_df(spark, [{"table": "orders", "policy_expr": expr}])
    got = {
        r["change_id"]
        for r in apply_rls_policies(pairs, pols)
        .select("c", F.explode("subs").alias("s"))
        .select("c.change_id")
        .collect()
    }

    def _pg_concat(rec):
        ck = rec.get("o_custkey")
        st = rec.get("o_orderstatus")
        return ("" if ck is None else str(int(ck))) + ("" if st is None else st)

    want = _expected_rows(changes, lambda rec: _pg_concat(rec) != "")
    assert got == want and want


def test_eval_numeric_text_policy(spark):
    """Numeric column in pg string context matches on the RAW record text:
    the decimal(38,9) round-trip would rescale every value ('123.4' ->
    '123.400000000') and flip this LIKE for every row."""
    from realtime_spark.operators.auth import apply_rls_policies, rls_policies_df

    changes, pairs = _pairs(spark)
    expr = translate_pg_policy(
        "o_totalprice::text LIKE '%4'", {"o_totalprice": "numeric"}
    )
    pols = rls_policies_df(spark, [{"table": "orders", "policy_expr": expr}])
    got = {
        r["change_id"]
        for r in apply_rls_policies(pairs, pols)
        .select("c", F.explode("subs").alias("s"))
        .select("c.change_id")
        .collect()
    }
    want = _expected_rows(
        changes, lambda rec: (rec.get("o_totalprice") or "").endswith("4")
    )
    assert got == want and want


def test_eval_exists_policy(spark):
    """The EXISTS probe end-to-end: policy text -> compile -> semi-join plan."""
    from pyspark.sql import functions as F

    from realtime_spark.operators.auth import apply_rls_exists_policy
    from realtime_spark.sources.testdata import load_table

    changes, pairs = _pairs(spark)
    cp = compile_pg_policy(
        "EXISTS (SELECT 1 FROM customer cu WHERE cu.c_custkey = orders.o_custkey "
        "AND cu.c_mktsegment = 'BUILDING')",
        {"o_custkey": "int8"},
        lookup_cols={"customer": {"c_custkey": "int8", "c_mktsegment": "text"}},
    )
    assert cp.kind == "exists" and cp.keys == [("o_custkey", "c_custkey")]
    lookup = load_table(spark, SF, "customer")
    if cp.residual_sql:
        lookup = lookup.filter(F.expr(cp.residual_sql))
    got_df = apply_rls_exists_policy(
        pairs, lookup, cp.keys, table_name="orders", claims_role="authenticated"
    )
    got = {r["change_id"] for r in got_df.select("c.change_id").collect()}
    building = {
        str(r["c_custkey"])
        for r in load_table(spark, SF, "customer")
        .filter("c_mktsegment = 'BUILDING'")
        .collect()
    }
    want = _expected_rows(changes, lambda rec: rec.get("o_custkey") in building)
    assert got == want and want


@pytest.mark.parametrize("strategy", ["auto", "join"])
def test_overlapping_permissive_policies_or_together(spark, monkeypatch, strategy):
    """Two policies on one (schema, table, role) are permissive policies:
    Postgres ORs them, so a pair passes once when either holds — never
    twice when both do, and still fail-closed when neither does. Checked on
    the compiled match and on the join path (a dim over COMPILE_MAX_SUBS)."""
    from realtime_spark.operators import cdc
    from realtime_spark.operators.auth import apply_rls_policies, rls_policies_df

    if strategy == "join":
        monkeypatch.setattr(cdc, "COMPILE_MAX_SUBS", 0)
    changes, pairs = _pairs(spark)
    tm = {"o_orderstatus": "text", "o_totalprice": "numeric"}
    pols = rls_policies_df(
        spark,
        [
            {"table": "orders", "policy_expr": translate_pg_policy(pg, tm)}
            for pg in ("o_orderstatus = 'O'", "o_totalprice > 150000")
        ],
    )
    got = [
        r["change_id"]
        for r in apply_rls_policies(pairs, pols)
        .select("c", F.explode("subs").alias("s"))
        .select("c.change_id")
        .collect()
    ]
    assert len(got) == len(set(got)), "a pair passing both policies was emitted twice"
    want = _expected_rows(
        changes,
        lambda rec: rec.get("o_orderstatus") == "O"
        or float(rec.get("o_totalprice") or 0) > 150000,
    )
    both = _expected_rows(
        changes,
        lambda rec: rec.get("o_orderstatus") == "O"
        and float(rec.get("o_totalprice") or 0) > 150000,
    )
    assert both, "fixture must have rows passing both policies"
    assert set(got) == want
