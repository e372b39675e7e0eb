"""Property-based differential test of the pg-policy translator.

Hypothesis generates random policy expressions from the translator's
documented subset as small ASTs; each AST is interpreted twice —

  1. rendered to Postgres-dialect SQL text, machine-translated by
     ``translate_pg_policy``, and evaluated by Spark over a fixture change
     frame (the production path), and
  2. evaluated by an independent pure-Python implementation of Postgres
     semantics (three-valued logic, NULL propagation, concat() NULL-skip,
     LIKE/ILIKE, IN/ANY/BETWEEN null rules, DELETE-aware record selection)

— and the sets of visible change ids must agree. This is the test shape
that would have caught all five round-4 translator findings before a human
did: the array-literal quoting, starts_with resolution, concat NULL
semantics, and json-extraction analysis crashes are reachable from the
row-expression grammar, and the EXISTS key-direction bug (the round-4
HIGH, RLS fail-open) from the two-table EXISTS grammar at the bottom —
random watched/lookup column subsets over one shared name universe,
both written key orientations, all four qualification spellings,
differentially checked against a pure-Python semi-join (both the
decomposed keys and the executed apply_rls_exists_policy plan;
sabotage-verified on each side).

The fixture rows make wrong-side reads visible: old_record values differ
from record values, so a translator that read ``record`` on DELETE (or
``old_record`` elsewhere) diverges immediately.
"""

from __future__ import annotations

import json
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from realtime_spark.functions.pg_policy import translate_pg_policy

TM = {"s1": "text", "s2": "text", "n1": "int8", "d1": "numeric"}

CLAIMS = {
    "sub": "7",
    "email": "a@b.example",
    "tenant": "t'1",
    "app_metadata": '{"tier": "gold"}',
}
CLAIMS_ROLE = "authenticated"

# row value pools (record side); old_record derives from them (see below)
_S_VALS = [None, "", "abc", "it's", "x_y%z", "zz", "t'1", "7"]
_N_VALS = [None, -3, 0, 7, 42]
_D_VALS = [None, -1.5, 0.0, 2.5, 10.0]


def _rows():
    rows = []
    i = 0
    for s1 in _S_VALS:
        for n1 in _N_VALS:
            s2 = _S_VALS[(i * 3 + 1) % len(_S_VALS)]
            d1 = _D_VALS[i % len(_D_VALS)]
            action = ("INSERT", "UPDATE", "DELETE")[i % 3]
            rows.append((i, action, {"s1": s1, "s2": s2, "n1": n1, "d1": d1}))
            i += 1
    return rows


def _old_of(vals):
    """old_record values: deliberately DIFFERENT from record values so a
    wrong-side read diverges (string cols suffixed, numerics shifted)."""
    def f(k, v):
        if v is None:
            return None
        if k.startswith("s"):
            return v + "O"
        return v + 1
    return {k: f(k, v) for k, v in vals.items()}


ROWS = _rows()


# ---------------------------------------------------------------------------
# AST: tuples ('kind', ...). Two interpreters: render (pg SQL) / pyeval.
# Typed grammar: str-expr, num-expr, bool-expr — mirrors the subset the
# translator accepts (division deliberately absent: it is rejected).
# ---------------------------------------------------------------------------

_LIKE_PATS = ["%a%", "ab%", "%z", "_bc", "%", "it''s-not-this", "x\\_y%"]


def _pg_str(v: str) -> str:
    return "'" + v.replace("'", "''") + "'"


def str_exprs():
    leaf = st.one_of(
        st.sampled_from(["abc", "", "it's", "zz", "7", "t'1"]).map(
            lambda v: ("slit", v)
        ),
        st.sampled_from(["s1", "s2"]).map(lambda c: ("scol", c)),
        st.sampled_from(["uid", "email"]).map(lambda h: ("claim", h)),
        st.just(("jwt", "tenant")),
        st.just(("jwt_nested", "app_metadata", "tier")),
        # numeric column in pg STRING context (::text): must render as the
        # RAW record text, not a decimal round-trip (r6 finding)
        st.sampled_from(["n1", "d1"]).map(lambda c: ("ntext", c)),
    )
    return st.recursive(
        leaf,
        lambda inner: st.one_of(
            st.tuples(st.sampled_from(["lower", "upper", "trim"]), inner).map(
                lambda t: ("fn1", t[0], t[1])
            ),
            st.tuples(inner, inner).map(lambda t: ("concat", t[0], t[1])),
            # bare numeric column as a concat() arg (the _render_fn string
            # context, distinct from the ::text path)
            st.tuples(st.sampled_from(["n1", "d1"]), inner).map(
                lambda t: ("concat_n", t[0], t[1])
            ),
            st.tuples(inner, inner).map(lambda t: ("strcat", t[0], t[1])),
            st.tuples(inner, st.integers(0, 4)).map(
                lambda t: ("left", t[0], t[1])
            ),
            st.tuples(inner, st.integers(1, 3), st.integers(0, 4)).map(
                lambda t: ("substr", t[0], t[1], t[2])
            ),
            st.tuples(inner, inner).map(lambda t: ("coalesce_s", t[0], t[1])),
        ),
        max_leaves=4,
    )


def num_exprs():
    leaf = st.one_of(
        st.integers(-5, 50).map(lambda v: ("nlit", v)),
        st.sampled_from([-1.5, 0.0, 2.5, 10.0]).map(lambda v: ("dlit", v)),
        st.sampled_from(["n1", "d1"]).map(lambda c: ("ncol", c)),
    )
    return st.recursive(
        leaf,
        lambda inner: st.one_of(
            st.tuples(st.sampled_from(["+", "-", "*"]), inner, inner).map(
                lambda t: ("arith", t[0], t[1], t[2])
            ),
            inner.map(lambda e: ("neg", e)),
            inner.map(lambda e: ("abs", e)),
            st.tuples(inner, inner).map(lambda t: ("greatest", t[0], t[1])),
            st.tuples(inner, inner).map(lambda t: ("least", t[0], t[1])),
        ),
        max_leaves=3,
    ) | str_exprs().map(lambda e: ("length", e))


_CMP_OPS = ["=", "<>", "<", "<=", ">", ">="]


def bool_exprs():
    leaf = st.one_of(
        st.tuples(st.sampled_from(_CMP_OPS), str_exprs(), str_exprs()).map(
            lambda t: ("cmp_s", t[0], t[1], t[2])
        ),
        st.tuples(st.sampled_from(_CMP_OPS), num_exprs(), num_exprs()).map(
            lambda t: ("cmp_n", t[0], t[1], t[2])
        ),
        st.tuples(
            str_exprs(), st.sampled_from(_LIKE_PATS), st.booleans(), st.booleans()
        ).map(lambda t: ("like", t[0], t[1], t[2], t[3])),
        st.tuples(
            str_exprs(),
            st.lists(st.sampled_from(["abc", "zz", "it's", "7", ""]), min_size=1,
                     max_size=3),
            st.booleans(),
        ).map(lambda t: ("in_s", t[0], t[1], t[2])),
        st.tuples(
            str_exprs(),
            st.lists(st.sampled_from(["abc", "zz", "it's", "a,b"]), min_size=1,
                     max_size=3),
            st.booleans(),
        ).map(lambda t: ("any_s", t[0], t[1], t[2])),
        st.tuples(num_exprs(), st.integers(-5, 10), st.integers(-1, 50),
                  st.booleans()).map(
            lambda t: ("between", t[0], t[1], t[2], t[3])
        ),
        st.tuples(st.one_of(str_exprs(), num_exprs()), st.booleans()).map(
            lambda t: ("isnull", t[0], t[1])
        ),
        st.tuples(str_exprs(), str_exprs()).map(
            lambda t: ("isdistinct", t[0], t[1])
        ),
        st.tuples(str_exprs(), st.sampled_from(["abc", "zz"])).map(
            lambda t: ("startswith", t[0], t[1])
        ),
        st.sampled_from([True, False]).map(lambda b: ("blit", b)),
    )
    return st.recursive(
        leaf,
        lambda inner: st.one_of(
            st.tuples(inner, inner).map(lambda t: ("and", t[0], t[1])),
            st.tuples(inner, inner).map(lambda t: ("or", t[0], t[1])),
            inner.map(lambda e: ("not", e)),
        ),
        max_leaves=4,
    )


# ---------------------------------------------------------------------------
# interpreter 1: render to pg SQL text
# ---------------------------------------------------------------------------


def render(ast) -> str:
    k = ast[0]
    if k == "slit":
        return _pg_str(ast[1])
    if k == "scol":
        return ast[1]
    if k == "claim":
        return f"auth.{ast[1]}()"
    if k == "jwt":
        return f"auth.jwt() ->> {_pg_str(ast[1])}"
    if k == "jwt_nested":
        return f"auth.jwt() -> {_pg_str(ast[1])} ->> {_pg_str(ast[2])}"
    if k == "ntext":
        return f"{ast[1]}::text"
    if k == "fn1":
        return f"{ast[1]}({render(ast[2])})"
    if k == "concat":
        return f"concat({render(ast[1])}, {render(ast[2])})"
    if k == "concat_n":
        return f"concat({ast[1]}, {render(ast[2])})"
    if k == "strcat":
        return f"({render(ast[1])} || {render(ast[2])})"
    if k == "left":
        return f"left({render(ast[1])}, {ast[2]})"
    if k == "substr":
        return f"substr({render(ast[1])}, {ast[2]}, {ast[3]})"
    if k == "coalesce_s":
        return f"coalesce({render(ast[1])}, {render(ast[2])})"
    if k == "nlit":
        v = ast[1]
        return str(v) if v >= 0 else f"(- {abs(v)})"
    if k == "dlit":
        v = ast[1]
        return repr(abs(v)) if v >= 0 else f"(- {repr(abs(v))})"
    if k == "ncol":
        return ast[1]
    if k == "arith":
        return f"({render(ast[2])} {ast[1]} {render(ast[3])})"
    if k == "neg":
        return f"(- {render(ast[1])})"
    if k == "abs":
        return f"abs({render(ast[1])})"
    if k in ("greatest", "least"):
        return f"{k}({render(ast[1])}, {render(ast[2])})"
    if k == "length":
        return f"length({render(ast[1])})"
    if k == "cmp_s" or k == "cmp_n":
        return f"({render(ast[2])} {ast[1]} {render(ast[3])})"
    if k == "like":
        op = ("NOT " if ast[3] else "") + ("ILIKE" if ast[4] else "LIKE")
        return f"({render(ast[1])} {op} {_pg_str(ast[2])})"
    if k == "in_s":
        items = ", ".join(_pg_str(v) for v in ast[2])
        return f"({render(ast[1])} {'NOT ' if ast[3] else ''}IN ({items}))"
    if k == "any_s":
        if ast[2] and ast[3]:
            # quoted pg array literal: exercises the array_in parser
            body = ",".join('"' + v.replace("\\", "\\\\").replace('"', '\\"') + '"'
                            for v in ast[2])
            lit = _pg_str("{" + body + "}")
            return f"({render(ast[1])} = ANY({lit}::text[]))"
        items = ", ".join(_pg_str(v) for v in ast[2])
        return f"({render(ast[1])} = ANY(ARRAY[{items}]))"
    if k == "between":
        return (
            f"({render(ast[1])} {'NOT ' if ast[4] else ''}BETWEEN "
            f"{ast[2]} AND {ast[3]})"
        )
    if k == "isnull":
        return f"({render(ast[1])} IS {'NOT ' if ast[2] else ''}NULL)"
    if k == "isdistinct":
        return f"({render(ast[1])} IS DISTINCT FROM {render(ast[2])})"
    if k == "startswith":
        return f"starts_with({render(ast[1])}, {_pg_str(ast[2])})"
    if k == "blit":
        return "true" if ast[1] else "false"
    if k == "and":
        return f"({render(ast[1])} AND {render(ast[2])})"
    if k == "or":
        return f"({render(ast[1])} OR {render(ast[2])})"
    if k == "not":
        return f"(NOT {render(ast[1])})"
    raise AssertionError(k)


# ---------------------------------------------------------------------------
# interpreter 2: pure-Python Postgres semantics (3-valued logic)
# ---------------------------------------------------------------------------


def _like_match(s, pat, ci):
    rx = ""
    i = 0
    while i < len(pat):
        ch = pat[i]
        if ch == "\\" and i + 1 < len(pat):
            rx += re.escape(pat[i + 1])
            i += 2
            continue
        if ch == "%":
            rx += ".*"
        elif ch == "_":
            rx += "."
        else:
            rx += re.escape(ch)
        i += 1
    flags = re.DOTALL | (re.IGNORECASE if ci else 0)
    return re.fullmatch(rx, s, flags) is not None


def pyeval(ast, vals):
    """Evaluate to a python value (str/num/bool) or None (SQL NULL)."""
    k = ast[0]
    if k == "slit":
        return ast[1]
    if k == "scol":
        return vals[ast[1]]
    if k == "claim":
        return CLAIMS["sub" if ast[1] == "uid" else "email"]
    if k == "jwt":
        return CLAIMS.get(ast[1])
    if k == "jwt_nested":
        doc = CLAIMS.get(ast[1])
        if doc is None:
            return None
        return json.loads(doc).get(ast[2])
    if k == "ntext":
        # pg numeric-to-text == the raw record text == str() of the fixture
        # value (the record map is built with the same str())
        v = vals[ast[1]]
        return None if v is None else str(v)
    if k == "fn1":
        v = pyeval(ast[2], vals)
        if v is None:
            return None
        return {"lower": str.lower, "upper": str.upper, "trim": str.strip}[ast[1]](v)
    if k == "concat":  # pg concat() skips NULLs
        a, b = pyeval(ast[1], vals), pyeval(ast[2], vals)
        return ("" if a is None else a) + ("" if b is None else b)
    if k == "concat_n":
        v = vals[ast[1]]
        b = pyeval(ast[2], vals)
        return ("" if v is None else str(v)) + ("" if b is None else b)
    if k == "strcat":  # || is NULL-poisoning
        a, b = pyeval(ast[1], vals), pyeval(ast[2], vals)
        return None if a is None or b is None else a + b
    if k == "left":
        v = pyeval(ast[1], vals)
        return None if v is None else v[: ast[2]]
    if k == "substr":
        v = pyeval(ast[1], vals)
        return None if v is None else v[ast[2] - 1 : ast[2] - 1 + ast[3]]
    if k == "coalesce_s":
        a = pyeval(ast[1], vals)
        return a if a is not None else pyeval(ast[2], vals)
    if k in ("nlit", "dlit"):
        return ast[1]
    if k == "ncol":
        return vals[ast[1]]
    if k == "arith":
        a, b = pyeval(ast[2], vals), pyeval(ast[3], vals)
        if a is None or b is None:
            return None
        return {"+": a + b, "-": a - b, "*": a * b}[ast[1]]
    if k == "neg":
        v = pyeval(ast[1], vals)
        return None if v is None else -v
    if k == "abs":
        v = pyeval(ast[1], vals)
        return None if v is None else abs(v)
    if k in ("greatest", "least"):  # both dialects skip NULLs
        xs = [x for x in (pyeval(ast[1], vals), pyeval(ast[2], vals))
              if x is not None]
        if not xs:
            return None
        return max(xs) if k == "greatest" else min(xs)
    if k == "length":
        v = pyeval(ast[1], vals)
        return None if v is None else len(v)
    if k in ("cmp_s", "cmp_n"):
        a, b = pyeval(ast[2], vals), pyeval(ast[3], vals)
        if a is None or b is None:
            return None
        op = ast[1]
        return {
            "=": a == b, "<>": a != b, "<": a < b,
            "<=": a <= b, ">": a > b, ">=": a >= b,
        }[op]
    if k == "like":
        v = pyeval(ast[1], vals)
        if v is None:
            return None
        hit = _like_match(v, ast[2], ci=ast[4])
        return (not hit) if ast[3] else hit
    if k in ("in_s", "any_s"):
        v = pyeval(ast[1], vals)
        if v is None:
            return None
        hit = v in ast[2]
        if k == "in_s" and ast[3]:  # NOT IN
            return not hit
        return hit
    if k == "between":
        v = pyeval(ast[1], vals)
        if v is None:
            return None
        hit = ast[2] <= v <= ast[3]
        return (not hit) if ast[4] else hit
    if k == "isnull":
        v = pyeval(ast[1], vals)
        return (v is not None) if ast[2] else (v is None)
    if k == "isdistinct":
        a, b = pyeval(ast[1], vals), pyeval(ast[2], vals)
        return a != b if (a is None) == (b is None) else True
    if k == "startswith":
        v = pyeval(ast[1], vals)
        return None if v is None else v.startswith(ast[2])
    if k == "blit":
        return ast[1]
    if k == "and":
        a, b = pyeval(ast[1], vals), pyeval(ast[2], vals)
        if a is False or b is False:
            return False
        if a is None or b is None:
            return None
        return True
    if k == "or":
        a, b = pyeval(ast[1], vals), pyeval(ast[2], vals)
        if a is True or b is True:
            return True
        if a is None or b is None:
            return None
        return False
    if k == "not":
        v = pyeval(ast[1], vals)
        return None if v is None else (not v)
    raise AssertionError(k)


# ---------------------------------------------------------------------------
# the differential property
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def pairs_df(spark):
    from pyspark.sql import functions as F

    def rec(vals):
        return {k: (None if v is None else str(v)) for k, v in vals.items()}

    rows = []
    for i, action, vals in ROWS:
        rows.append(
            (
                i,
                action,
                rec(vals) if action != "DELETE" else None,
                rec(_old_of(vals)) if action != "INSERT" else None,
            )
        )
    changes = spark.createDataFrame(
        rows,
        "change_id int, action string, record map<string,string>, "
        "old_record map<string,string>",
    )
    subs = spark.createDataFrame(
        [(CLAIMS_ROLE, CLAIMS)], "claims_role string, claims map<string,string>"
    )
    return changes.alias("c").crossJoin(subs.alias("s")).localCheckpoint()


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(ast=bool_exprs())
def test_translated_policy_matches_pg_semantics(spark, pairs_df, ast):
    from pyspark.sql import functions as F

    pg_sql = render(ast)
    expr = translate_pg_policy(pg_sql, TM)  # must translate: grammar ⊆ subset

    got = {
        r["change_id"]
        for r in pairs_df.filter(F.expr(expr)).select("c.change_id").collect()
    }
    want = set()
    for i, action, vals in ROWS:
        effective = _old_of(vals) if action == "DELETE" else vals
        if pyeval(ast, effective) is True:
            want.add(i)
    assert got == want, f"policy: {pg_sql}\nspark expr: {expr}"


# ---------------------------------------------------------------------------
# EXISTS two-table policies (the round-4 HIGH bug class: key direction under
# shared column names — RLS fail-open). Random (watched, lookup) column
# subsets drawn from ONE shared name universe (maximal overlap), random
# `EXISTS (SELECT 1 FROM lookup_t WHERE <key-pair(s)> [AND residual])`
# bodies in BOTH written orientations and all four qualification spellings,
# differentially checked: compile_pg_policy -> apply_rls_exists_policy
# (the J5 semi-join plan) vs an independent pure-Python semi-join.
# Reference probe shape: /root/reference/lib/realtime/tenants/repo/
# migrations/20211116212300_create_realtime_build_prepared_statement_sql_
# function.ex:52-61.
# ---------------------------------------------------------------------------

from realtime_spark.functions.pg_policy import compile_pg_policy

_EX_COLS_K = ["k1", "k2"]
_EX_COLS_T = ["t1", "t2"]
_EX_ALL = _EX_COLS_K + _EX_COLS_T


def _ex_type(c):
    return "int8" if c in _EX_COLS_K else "text"


def _w_rows():
    """Watched-change rows: every (k1, t1) pool combination; k2/t2 rotate.
    Key values overlap the lookup pools so hits AND misses both occur."""
    rows = []
    i = 0
    for k1 in [None, "0", "1", "2", "3"]:
        for t1 in [None, "a", "b", "it's"]:
            k2 = ["1", None, "3", "0", "2"][i % 5]
            t2 = ["b", "it's", None, "a"][i % 4]
            action = ("INSERT", "UPDATE", "DELETE")[i % 3]
            rows.append((i, action, {"k1": k1, "k2": k2, "t1": t1, "t2": t2}))
            i += 1
    return rows


def _w_old(vals):
    """old_record: k cols shifted +1, t cols suffixed 'O' — values that ALSO
    exist in the lookup pools, so a wrong-side read (record on DELETE)
    produces a different visible set, not just misses."""
    out = {}
    for k, v in vals.items():
        if v is None:
            out[k] = None
        elif k.startswith("k"):
            out[k] = str(int(v) + 1)
        else:
            out[k] = v + "O"
    return out


W_ROWS = _w_rows()

_L_K = [None, 0, 1, 2, 3, 4]
# '7' == CLAIMS['sub'] and 'authenticated' == CLAIMS_ROLE, so claims-literal
# residuals (col = auth.uid()/auth.role()) produce real hits AND misses
_L_T = [None, "a", "aO", "b", "it's", "bO", "7", "authenticated"]
L_ROWS = [
    {
        "k1": _L_K[j % 6],
        "k2": _L_K[(j * 2 + 1) % 6],
        "t1": _L_T[j % 8],
        "t2": _L_T[(j * 3 + 2) % 8],
    }
    for j in range(16)
]


@pytest.fixture(scope="module")
def exists_pairs(spark):
    from pyspark.sql import functions as F

    # record present unless DELETE; old_record present unless INSERT —
    # mirrors the wal2json shape the production pairs carry
    rows = [
        (
            i,
            action,
            "public",
            "watched",
            vals if action != "DELETE" else None,
            _w_old(vals) if action != "INSERT" else None,
        )
        for i, action, vals in W_ROWS
    ]
    changes = spark.createDataFrame(
        rows,
        "change_id int, action string, schema_name string, table_name string, "
        "record map<string,string>, old_record map<string,string>",
    )
    # the match-set shape of cdc.matched_pairs: each change with its one
    # matched subscription
    subs = spark.createDataFrame(
        [([(CLAIMS_ROLE, CLAIMS)],)],
        "subs array<struct<claims_role:string,claims:map<string,string>>>",
    )
    c = F.struct(*changes.columns).alias("c")
    return changes.select(c).crossJoin(subs).localCheckpoint()


@pytest.fixture(scope="module")
def lookup_df(spark):
    return spark.createDataFrame(
        [(r["k1"], r["k2"], r["t1"], r["t2"]) for r in L_ROWS],
        "k1 bigint, k2 bigint, t1 string, t2 string",
    ).localCheckpoint()


def _render_res(a) -> str:
    if a[0] == "rcmp":
        lit = str(a[3]) if isinstance(a[3], int) else _pg_str(a[3])
        return f"{a[2]} {a[1]} {lit}"
    if a[0] == "risnull":
        return f"{a[1]} IS {'NOT ' if a[2] else ''}NULL"
    if a[0] == "rlike":
        return f"{a[1]} LIKE {_pg_str(a[2])}"
    if a[0] == "rclaim":
        return f"{a[1]} = auth.{a[2]}()"
    raise AssertionError(a)


def _res_eval(a, lrow):
    """Residual predicate over one lookup row, pg 3VL (None = unknown)."""
    if a[0] == "rcmp":
        v = lrow[a[2]]
        if v is None:
            return None
        op, lit = a[1], a[3]
        return {
            "=": v == lit, "<>": v != lit, "<": v < lit, ">=": v >= lit,
        }[op]
    if a[0] == "risnull":
        v = lrow[a[1]]
        return (v is not None) if a[2] else (v is None)
    if a[0] == "rlike":
        v = lrow[a[1]]
        if v is None:
            return None
        return _like_match(v, a[2], ci=False)
    if a[0] == "rclaim":
        v = lrow[a[1]]
        want = CLAIMS["sub"] if a[2] == "uid" else CLAIMS_ROLE
        return None if v is None else v == want
    raise AssertionError(a)


def _semi_visible(eff, keys, res_asts) -> bool:
    """Pure-Python EXISTS: does any lookup row pass the residual AND match
    every key pair (SQL equality: NULL on either side never matches)?"""
    for lrow in L_ROWS:
        if any(_res_eval(a, lrow) is not True for a in res_asts):
            continue
        ok = True
        for rec_col, lk_col in keys:
            rv, lv = eff.get(rec_col), lrow[lk_col]
            if rv is None or lv is None or str(rv) != str(lv):
                ok = False
                break
        if ok:
            return True
    return False


@st.composite
def exists_policies(draw):
    w_sub = sorted(draw(st.sets(st.sampled_from(_EX_ALL), min_size=1, max_size=4)))
    l_sub = sorted(draw(st.sets(st.sampled_from(_EX_ALL), min_size=1, max_size=4)))
    use_alias = draw(st.booleans())
    alias = "lk" if use_alias else "lookup_t"
    keys, conjs = [], []
    for _ in range(draw(st.integers(1, 2))):
        rec = draw(st.sampled_from(w_sub))
        lk = draw(st.sampled_from(l_sub))
        keys.append((rec, lk))
        # watched side: qualified, or unqualified when the name is NOT a
        # lookup column (unqualified resolves inner-first, pg scoping)
        if draw(st.booleans()) and rec not in l_sub:
            wref = rec
        else:
            wref = f"watched.{rec}"
        lref = lk if draw(st.booleans()) else f"{alias}.{lk}"
        conjs.append(f"{lref} = {wref}" if draw(st.booleans()) else f"{wref} = {lref}")
    res_asts = []
    # claims-literal residual (the reference's members.member_id = auth.uid()
    # shape) — needs a text lookup column and claims_literals at compile time
    t_cols = [c for c in l_sub if c in _EX_COLS_T]
    use_claims = bool(t_cols) and draw(st.booleans())
    if use_claims:
        res_asts.append(
            ("rclaim", draw(st.sampled_from(t_cols)),
             draw(st.sampled_from(["uid", "role"])))
        )
    for _ in range(draw(st.integers(0, 2))):
        col = draw(st.sampled_from(l_sub))
        if col in _EX_COLS_K:
            res_asts.append(
                ("rcmp", draw(st.sampled_from(["=", "<>", "<", ">="])), col,
                 draw(st.integers(0, 4)))
            )
        else:
            kind = draw(st.integers(0, 2))
            if kind == 0:
                res_asts.append(
                    ("rcmp", draw(st.sampled_from(["=", "<>"])), col,
                     draw(st.sampled_from(["a", "aO", "it's", "zz"])))
                )
            elif kind == 1:
                res_asts.append(("risnull", col, draw(st.booleans())))
            else:
                res_asts.append(
                    ("rlike", col, draw(st.sampled_from(["%a%", "a%", "%O", "%"])))
                )
    all_conjs = conjs + [_render_res(a) for a in res_asts]
    order = draw(st.permutations(range(len(all_conjs))))
    body = " AND ".join(all_conjs[i] for i in order)
    sql = f"EXISTS (SELECT 1 FROM lookup_t {'AS lk ' if use_alias else ''}WHERE {body})"
    return sql, w_sub, l_sub, keys, res_asts


@settings(
    max_examples=50,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(pol=exists_policies())
def test_exists_policy_matches_python_semi_join(spark, exists_pairs, lookup_df, pol):
    from pyspark.sql import functions as F

    from realtime_spark.operators.auth import apply_rls_exists_policy

    sql, w_sub, l_sub, keys, res_asts = pol
    claims_lit = (
        {"sub": CLAIMS["sub"], "role": CLAIMS_ROLE}
        if any(a[0] == "rclaim" for a in res_asts)
        else None
    )
    cp = compile_pg_policy(
        sql,
        {c: _ex_type(c) for c in w_sub},
        lookup_cols={"lookup_t": {c: _ex_type(c) for c in l_sub}},
        claims_literals=claims_lit,
    )
    # the decomposition itself must recover exactly the generated key pairs
    # in (record_col, lookup_col) order — a flipped pair here IS the r4 bug
    assert cp.kind == "exists"
    assert sorted(cp.keys) == sorted(keys), f"policy: {sql}"

    lk = lookup_df
    if cp.residual_sql:
        lk = lk.filter(F.expr(cp.residual_sql))
    got_df = apply_rls_exists_policy(exists_pairs, lk, cp.keys, table_name="watched")
    got = {r["change_id"] for r in got_df.select("c.change_id").collect()}

    want = set()
    for i, action, vals in W_ROWS:
        eff = _w_old(vals) if action == "DELETE" else vals
        if _semi_visible(eff, keys, res_asts):
            want.add(i)
    assert got == want, (
        f"policy: {sql}\nkeys: {cp.keys} residual: {cp.residual_sql!r}"
    )
