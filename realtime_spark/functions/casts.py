"""pg type-name -> Spark type mapping: the `realtime.cast` equivalent (F1).

The reference delegates typed filter comparison to Postgres via
``realtime.cast(val text, type_ regtype) -> jsonb``
(reference: lib/realtime/tenants/repo/migrations/20211116213355_create_realtime_cast_function.ex:7-18)
and its OID->name table covers the pg_catalog basics
(reference: lib/realtime/adapters/postgres/oid_database.ex:37-178).

Here the same coercion is a plan-time ``Column.cast`` so comparisons stay inside
whole-stage codegen (no UDF on the hot path).
"""

from __future__ import annotations

# pg typename -> (spark cast target, comparison family)
# family drives which comparison semantics apply in the generic interpreter.
_PG_TO_SPARK: dict[str, tuple[str, str]] = {
    "bool": ("boolean", "bool"),
    "boolean": ("boolean", "bool"),
    # int2/int4 cast to bigint like their comparison family: a narrower
    # 'int' target made the compiled path try_cast('3000000000') to NULL
    # (never matches) while the interpreter's long cast matched — delivery
    # would depend on which match strategy ran
    "int2": ("bigint", "long"),
    "int4": ("bigint", "long"),
    "int8": ("bigint", "long"),
    "smallint": ("bigint", "long"),
    # alias spellings pg's parser resolves before the catalog ever sees
    # them ('int' -> int4, 'serial' -> int4 + default): user-authored
    # policy SQL uses these, and the unknown-type fallback would silently
    # degrade `x::int` to a TEXT comparison (r7 review find)
    "int": ("bigint", "long"),
    "integer": ("bigint", "long"),
    "bigint": ("bigint", "long"),
    "smallserial": ("bigint", "long"),
    "serial2": ("bigint", "long"),
    "serial": ("bigint", "long"),
    "serial4": ("bigint", "long"),
    "bigserial": ("bigint", "long"),
    "serial8": ("bigint", "long"),
    "oid": ("bigint", "long"),
    "float4": ("double", "double"),
    "float8": ("double", "double"),
    "float": ("double", "double"),
    "real": ("double", "double"),
    "double precision": ("double", "double"),
    "numeric": ("decimal(38,9)", "decimal"),
    "decimal": ("decimal(38,9)", "decimal"),
    "money": ("decimal(38,9)", "decimal"),
    "text": ("string", "string"),
    "varchar": ("string", "string"),
    "character varying": ("string", "string"),
    "bpchar": ("string", "string"),
    "char": ("string", "string"),
    "name": ("string", "string"),
    "citext": ("string", "string"),
    "uuid": ("string", "string"),
    "json": ("string", "string"),
    "jsonb": ("string", "string"),
    "bytea": ("binary", "binary"),
    "date": ("date", "date"),
    "time": ("string", "string"),
    "timetz": ("string", "string"),
    "timestamp": ("timestamp", "timestamp"),
    "timestamptz": ("timestamp", "timestamp"),
    "timestamp without time zone": ("timestamp", "timestamp"),
    "timestamp with time zone": ("timestamp", "timestamp"),
    "interval": ("string", "string"),
    "inet": ("string", "string"),
    "cidr": ("string", "string"),
    "macaddr": ("string", "string"),
}

# comparison families the generic (type-is-a-column) interpreter branches over
CAST_FAMILIES: tuple[tuple[str, str], ...] = (
    ("long", "bigint"),
    ("double", "double"),
    ("decimal", "decimal(38,9)"),
    ("bool", "boolean"),
    ("timestamp", "timestamp"),
    ("date", "date"),
    ("string", "string"),
)

_FAMILY_OF: dict[str, str] = {name: fam for name, (_, fam) in _PG_TO_SPARK.items()}


def pg_type_to_spark(pg_type: str) -> str:
    """Spark SQL cast target for a pg typename; arrays (`_int4`/`int4[]`) and
    unknown types degrade to string (compare as text, like `::text`)."""
    t = pg_type.strip().lower()
    if t.startswith("_") or t.endswith("[]"):
        return "string"
    return _PG_TO_SPARK.get(t, ("string", "string"))[0]


def pg_type_family(pg_type: str) -> str:
    t = pg_type.strip().lower()
    if t.startswith("_") or t.endswith("[]"):
        return "string"
    return _FAMILY_OF.get(t, "string")

