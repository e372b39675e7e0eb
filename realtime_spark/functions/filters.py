"""PostgREST-style filter grammar: parse (P1), validate/canonicalize (P4),
and compile to Spark Column predicates (P2) with fail-closed conjunction (P3).

Reference semantics reproduced here:
  - grammar `col=op.value`, comma = AND, `not.` prefix = negate, quoted values,
    `in.(a,b,"c d")` lists, depth-aware top-level split
    (reference: lib/extensions/postgres_cdc_rls/subscriptions.ex:395-494)
  - 13 operators eq,neq,lt,lte,gt,gte,in,like,ilike,is,match,imatch,isdistinct,
    all negatable, compared under the column's pg type
    (reference: migrations/20260626120000_readd_postgrest_filter_ops.ex:79-153)
  - validation: `in` capped at 100 values, `is` keyword whitelist, eager regex
    validation, canonical filter sort by (column_name, op, value, negate)
    (reference: migrations/20260626120000:188-304)
  - visibility: every filter column must exist in the payload AND every
    comparison must be true; NULL comparison results fail closed
    (reference: migrations/20260626120000:158-185)

Two evaluation layers:
  * :func:`compile_filter_on_record` / :func:`compile_filters_on_record` —
    plan-time compilation of one subscription's filters against the change
    record (or typed scan columns), used by the compiled CDC match: the
    filter set is plan, one codegen'd predicate per subscription.
  * :func:`filters_match_expr` — a generic JVM-side interpreter over a
    `filters` array column + a `record` map column, used when subscriptions
    live in a broadcast dim table (the filter set is data, not plan). Pure
    higher-order-function expression: no UDF, stays in whole-stage codegen.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import Column
from pyspark.sql import functions as F

from realtime_spark.functions.casts import pg_type_family

FILTER_OPS: tuple[str, ...] = (
    "eq", "neq", "lt", "lte", "gt", "gte",
    "in", "like", "ilike", "is", "match", "imatch", "isdistinct",
)

_IS_KEYWORDS = {"null", "true", "false", "unknown"}
_IN_MAX_VALUES = 100  # reference: migrations/20260626120000:230-234

# longest-first so `isdistinct` wins over `is`, `ilike` over `i`, etc.
_OP_RE = "|".join(sorted(FILTER_OPS, key=len, reverse=True))
_FILTER_RE = re.compile(rf"^(?P<col>[^=]+)=(?P<neg>not\.)?(?P<op>{_OP_RE})\.(?P<val>.*)$", re.S)


@dataclass(frozen=True)
class Filter:
    column_name: str
    op: str
    value: str = ""
    values: tuple[str, ...] = field(default_factory=tuple)  # for `in`
    negate: bool = False

    def sort_key(self) -> tuple:
        return (self.column_name, self.op, self.value, self.negate)


class FilterValidationError(ValueError):
    """Raised for filters the reference's subscription trigger would reject."""


def _split_top_level(s: str) -> list[str]:
    """Split on commas outside parens/double-quotes (depth-aware)."""
    parts: list[str] = []
    depth = 0
    in_quote = False
    buf: list[str] = []
    i = 0
    while i < len(s):
        ch = s[i]
        if in_quote:
            if ch == "\\" and i + 1 < len(s):
                buf.append(ch)
                buf.append(s[i + 1])
                i += 2
                continue
            if ch == '"':
                in_quote = False
            buf.append(ch)
        elif ch == '"':
            in_quote = True
            buf.append(ch)
        elif ch == "(":
            depth += 1
            buf.append(ch)
        elif ch == ")":
            depth -= 1
            buf.append(ch)
        elif ch == "," and depth == 0:
            parts.append("".join(buf).strip())
            buf = []
        else:
            buf.append(ch)
        i += 1
    if buf or not parts:
        parts.append("".join(buf).strip())
    return parts


def _unquote(v: str) -> str:
    v = v.strip()
    if len(v) >= 2 and v[0] == '"' and v[-1] == '"':
        inner = v[1:-1]
        return inner.replace('\\"', '"').replace("\\\\", "\\")
    return v


def _parse_in_list(v: str) -> tuple[str, ...]:
    v = v.strip()
    if not (v.startswith("(") and v.endswith(")")):
        raise FilterValidationError(f"`in` filter value must be a parenthesized list, got: {v!r}")
    inner = v[1:-1]
    if inner.strip() == "":
        return ()
    return tuple(_unquote(p) for p in _split_top_level(inner))


def parse_filter(part: str) -> Filter:
    m = _FILTER_RE.match(part.strip())
    if not m:
        raise FilterValidationError(f"unparsable filter: {part!r}")
    col = m.group("col").strip()
    op = m.group("op")
    raw = m.group("val")
    negate = m.group("neg") is not None
    values: tuple[str, ...] = ()
    if op == "in":
        values = _parse_in_list(raw)
        if len(values) > _IN_MAX_VALUES:
            raise FilterValidationError(
                f"too many values for `in` filter ({len(values)} > {_IN_MAX_VALUES})"
            )
        value = ",".join(values)
    elif op == "is":
        value = raw.strip().lower()
        if value not in _IS_KEYWORDS:
            raise FilterValidationError(f"invalid `is` keyword: {raw!r}")
    elif op in ("match", "imatch"):
        value = raw
        try:
            re.compile(value)
        except re.error as e:
            raise FilterValidationError(f"invalid regex for {op}: {value!r}: {e}") from e
    else:
        value = _unquote(raw)
    return Filter(column_name=col, op=op, value=value, values=values, negate=negate)


def parse_filter_string(s: str | None) -> list[Filter]:
    """Parse a full filter string (comma = AND) into the canonical-sorted list.

    Empty/None -> no filters (always visible, P3).
    """
    if s is None or s.strip() == "":
        return []
    filters = [parse_filter(p) for p in _split_top_level(s) if p != ""]
    filters.sort(key=Filter.sort_key)
    return filters


# ---------------------------------------------------------------------------
# generic interpreter: filters as data (array column) over a record map
# ---------------------------------------------------------------------------

# Spark-side struct carried in the subscription dim table. `fam` is the
# comparison family resolved at subscription-load time against the relation's
# column types — the analog of the reference's `subscription_check_filters`
# trigger type-checking filter values at insert
# (reference: migrations/20260626120000:188-304). Resolving it at load keeps
# the runtime interpreter expression small (a per-type-name dispatch chain
# re-expanded at every use site made plan compilation explode).
FILTER_STRUCT_DDL = (
    "array<struct<column_name:string,op:string,value:string,"
    "values:array<string>,negate:boolean,fam:string>>"
)

from collections.abc import Mapping  # noqa: E402


def filters_to_rows(
    filters: list[Filter], types: Mapping[str, str] | None = None
) -> list[dict]:
    """Filters -> plain dicts matching FILTER_STRUCT_DDL (for dim-table rows).

    `types` maps column name -> pg typename for the subscribed relation;
    unknown columns/relations compare as text (::text semantics).
    """
    types = types or {}
    return [
        {
            "column_name": f.column_name,
            "op": f.op,
            "value": f.value,
            "values": list(f.values),
            "negate": f.negate,
            "fam": pg_type_family(types.get(f.column_name, "text")),
        }
        for f in filters
    ]


# family -> try_cast target for the runtime comparator ('binary' compares as
# its text representation, like ::text)
_FAMILY_CAST = {
    "long": "bigint",
    "double": "double",
    "decimal": "decimal(38,9)",
    "bool": "boolean",
    "timestamp": "timestamp",
    "date": "date",
    "string": "string",
}


def _typed_sign_cmp(raw: Column, val: Column, fam: Column) -> Column:
    """Three-way comparison (-1/0/1, NULL when either side fails its cast)
    dispatched over the load-time-resolved family. One cast pair per family
    branch; every comparison op derives from this single sign."""
    expr = None
    for family, target in _FAMILY_CAST.items():
        a = raw.try_cast(target)
        b = val.try_cast(target)
        cmp_ = F.when(a < b, -1).when(a == b, 0).when(a > b, 1)
        expr = F.when(fam == family, cmp_) if expr is None else expr.when(fam == family, cmp_)
    # families without a dedicated branch (e.g. 'binary' for bytea) fall
    # back to TEXT comparison — the same default the compiled path's
    # _FAMILY_CAST.get(fam, 'string') applies, so delivery cannot depend
    # on which match strategy ran
    txt = F.when(raw < val, -1).when(raw == val, 0).when(raw > val, 1)
    return expr.otherwise(txt)


def eval_filter_expr(f: Column, record: Column) -> Column:
    """Evaluate one filter struct against a record map<string,string>.

    Missing column in the record fails closed; NULL comparison results fail
    closed after negation (three-valued NOT), matching the reference's
    count/sum visibility conjunction (migrations/20260626120000:158-185).
    """
    name = f["column_name"]
    op = f["op"]
    val = f["value"]
    vals = f["values"]
    negate = f["negate"]
    fam = F.coalesce(f["fam"], F.lit("string"))
    present = F.map_contains_key(record, name)
    raw = F.try_element_at(record, name)
    sign = _typed_sign_cmp(raw, val, fam)

    is_kw = F.lower(val)
    res = (
        F.when(
            op == "is",
            F.when(is_kw.isin("null", "unknown"), raw.isNull()).otherwise(
                raw.try_cast("boolean").eqNullSafe(is_kw == "true")
            ),
        )
        .when(
            op == "isdistinct",
            # NULL-safe inequality: both NULL -> false, one NULL -> true
            F.when(raw.isNull() & val.isNull(), F.lit(False))
            .when(raw.isNull() | val.isNull(), F.lit(True))
            .otherwise(sign != 0),
        )
        .when(
            op == "in",
            F.exists(
                vals,
                lambda v: F.coalesce(_typed_sign_cmp(raw, v, fam) == 0, F.lit(False)),
            ),
        )
        .when(op == "like", F.like(raw, val))
        .when(op == "ilike", F.ilike(raw, val))
        .when(op == "match", F.rlike(raw, val))
        .when(op == "imatch", F.rlike(raw, F.concat(F.lit("(?i)"), val)))
        .when(op == "eq", sign == 0)
        .when(op == "neq", sign != 0)
        .when(op == "lt", sign < 0)
        .when(op == "lte", sign <= 0)
        .when(op == "gt", sign > 0)
        .when(op == "gte", sign >= 0)
        .otherwise(F.lit(False))
    )
    res = F.when(negate, ~res).otherwise(res)
    return present & F.coalesce(res, F.lit(False))


def filters_match_expr(filters: Column, record: Column) -> Column:
    """Conjunctive visibility check (P3) as a single JVM expression:
    NULL/empty filters -> visible; else every filter must pass."""
    return filters.isNull() | F.forall(
        filters, lambda f: eval_filter_expr(f, record)
    )


# ---------------------------------------------------------------------------
# plan-time compilation of a *known* filter row against a record map
# ---------------------------------------------------------------------------

def compile_filter_on_record(
    f: Mapping,
    record: Column,
    typed_cols: Mapping[str, Column] | None = None,
    typed_dtypes: Mapping[str, str] | None = None,
) -> Column:
    """One filter (as a plain dict/Row with op/value/fam known at plan time)
    -> non-null boolean Column over a record map<string,string>.

    Semantics are identical to :func:`eval_filter_expr` (missing column and
    NULL comparison results fail closed), but because op/value/family are
    Python constants the whole predicate collapses to a codegen'd scalar
    expression — no higher-order functions, no runtime dispatch. This is the
    Spark analog of the reference preparing one statement per subscription
    (migrations/20211116212300:36-68).

    `typed_cols`, when given, maps every record key to the typed base Column
    it was projected from; the predicate then reads the base column directly
    instead of re-building the record map per lookup. CONTRACT: the typed
    columns must carry the ACTION-APPROPRIATE values — the new row for
    INSERT/UPDATE and the delete identity for DELETE (a typed scan of a
    change feed materializes exactly that; testdata.changes_from_orders
    does). The interpreter path picks record vs old_record per action at
    runtime; the compiled path bakes the choice into the source projection. `typed_dtypes` (record
    key -> Spark dtype string of that typed column) additionally lets the
    compiler DROP the cast entirely when the column is already the
    comparison family's native type — the predicate becomes a bare
    `attr <op> literal` that Catalyst pushes into the parquet scan
    (PushedFilters) — the 100 TB-correct plan; without it the try_cast
    wrapper blocks source pushdown. String ops go through `.cast("string")`,
    matching the map representation exactly. A filter naming a key absent
    from `typed_cols` fails closed (the key set IS the record key set).
    """
    name = f["column_name"]
    op = f["op"]
    value = f["value"]
    values = f["values"] or ()
    negate = bool(f["negate"])
    fam = f["fam"] or "string"
    target = _FAMILY_CAST.get(fam, "string")

    if typed_cols is not None:
        if name not in typed_cols:
            return F.lit(False)
        base = typed_cols[name]
        present = F.lit(True)
        native = (typed_dtypes or {}).get(name)
        # identity casts dropped: try_cast(T->T) can't fail, cast(str->str)
        # is a no-op — removing them unblocks parquet predicate pushdown
        raw = base if native == "string" else base.cast("string")
        a = base if native == target else base.try_cast(target)
    else:
        present = F.map_contains_key(record, F.lit(name))
        raw = F.try_element_at(record, F.lit(name))
        a = raw.try_cast(target)

    def b(v: str) -> Column:
        return F.lit(v).try_cast(target)

    if op == "is":
        kw = value
        if kw in ("null", "unknown"):
            res = raw.isNull()
        else:
            res = raw.try_cast("boolean").eqNullSafe(F.lit(kw == "true"))
    elif op == "isdistinct":
        # raw NULL vs non-null literal -> distinct; cast failure -> NULL -> closed
        res = F.when(raw.isNull(), F.lit(True)).otherwise(a != b(value))
    elif op == "in":
        if not values:
            res = F.lit(False)
        else:
            res = F.lit(False)
            for v in values:
                res = res | F.coalesce(a == b(v), F.lit(False))
    elif op == "like":
        res = raw.like(value)
    elif op == "ilike":
        res = F.ilike(raw, F.lit(value))
    elif op == "match":
        res = raw.rlike(value)
    elif op == "imatch":
        res = raw.rlike("(?i)" + value)
    elif op == "eq":
        res = a == b(value)
    elif op == "neq":
        res = a != b(value)
    elif op == "lt":
        res = a < b(value)
    elif op == "lte":
        res = a <= b(value)
    elif op == "gt":
        res = a > b(value)
    elif op == "gte":
        res = a >= b(value)
    else:  # pragma: no cover
        raise FilterValidationError(f"unknown op {op!r}")
    if negate:
        res = ~res
    if typed_cols is not None:
        # Tri-valued result: NULL (cast failure / NULL column) means
        # "does not pass" in every consumer context — WHERE, when(), AND/OR
        # conjunctions — exactly like the coalesced FALSE, but without a
        # Coalesce wrapper, so Catalyst can translate the bare
        # `attr <op> literal` into a parquet source filter (PushedFilters).
        return res
    return present & F.coalesce(res, F.lit(False))


def compile_filters_on_record(
    filters,
    record: Column,
    typed_cols: Mapping[str, Column] | None = None,
    typed_dtypes: Mapping[str, str] | None = None,
) -> Column:
    """Conjunctive visibility (P3) with every filter known at plan time.
    None/empty -> always visible."""
    if not filters:
        return F.lit(True)
    pred = compile_filter_on_record(filters[0], record, typed_cols, typed_dtypes)
    for f in filters[1:]:
        pred = pred & compile_filter_on_record(f, record, typed_cols, typed_dtypes)
    return pred
