"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Engine: realtime_spark/ — see SURVEY.md §2 for the operator inventory each
query key maps to.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from realtime_spark.operators.cdc import (
    expand_wildcards,
    match_changes,
    matched_pairs,
)
from realtime_spark.operators.cdc import subscriptions_df as _subscriptions_df
from realtime_spark.sources.testdata import (
    ORDERS_CHANGES_SQL_CTE,
    ORDERS_PG_TYPES,
    changes_from_orders,
    load_table,
)

# relation catalog for subscription-load type resolution (P4)
_TYPE_MAPS = {("public", "orders"): ORDERS_PG_TYPES}


def subscriptions_df(spark, specs):
    return _subscriptions_df(spark, specs, type_maps=_TYPE_MAPS)

# ---------------------------------------------------------------------------
# CDC filter matrix (SURVEY §2.2 P1/P2/P3/P5, §2.3 J1): one case per operator,
# mirroring the reference's postgres_changes_test.exs:407-559 matrix.
# Spark side runs the REAL engine path: parse filter string -> broadcast-join
# subscription dim -> generic JVM filter interpreter. Oracle side is the
# hand-written expected predicate over the same derived change set.
# ---------------------------------------------------------------------------

# name -> (filter string, oracle WHERE clause, action_filter)
_FILTER_CASES: dict[str, tuple[str, str, str]] = {
    "cdc_filter_eq": ("o_orderstatus=eq.F", "o_orderstatus = 'F'", "*"),
    "cdc_filter_neq": ("o_orderstatus=neq.O", "o_orderstatus <> 'O'", "*"),
    "cdc_filter_lt": ("o_totalprice=lt.50000", "o_totalprice < 50000", "*"),
    "cdc_filter_lte": ("o_totalprice=lte.50000", "o_totalprice <= 50000", "*"),
    "cdc_filter_gt": ("o_totalprice=gt.200000", "o_totalprice > 200000", "*"),
    "cdc_filter_gte": ("o_totalprice=gte.200000", "o_totalprice >= 200000", "*"),
    "cdc_filter_in": ("o_orderstatus=in.(F,P)", "o_orderstatus IN ('F','P')", "*"),
    "cdc_filter_like": ("o_orderpriority=like.%URGENT", "o_orderpriority LIKE '%URGENT'", "*"),
    "cdc_filter_ilike": ("o_orderpriority=ilike.%urgent", "o_orderpriority ILIKE '%urgent'", "*"),
    "cdc_filter_is_null": ("o_nullable=is.null", "o_nullable IS NULL", "*"),
    "cdc_filter_match": ("o_orderpriority=match.^[12]-", "regexp_matches(o_orderpriority, '^[12]-')", "*"),
    "cdc_filter_imatch": (
        "o_orderpriority=imatch.^[12]-[a-z]",
        "regexp_matches(o_orderpriority, '(?i)^[12]-[a-z]')",
        "*",
    ),
    "cdc_filter_isdistinct": (
        "o_nullable=isdistinct.1-URGENT",
        "o_nullable IS DISTINCT FROM '1-URGENT'",
        "*",
    ),
    "cdc_filter_not": ("o_orderstatus=not.eq.F", "NOT (o_orderstatus = 'F')", "*"),
    "cdc_filter_not_isnull": ("o_nullable=not.is.null", "o_nullable IS NOT NULL", "*"),
    "cdc_filter_and": (
        "o_orderstatus=eq.O,o_totalprice=gt.150000",
        "o_orderstatus = 'O' AND o_totalprice > 150000",
        "*",
    ),
    "cdc_filter_numeric_eq": ("o_custkey=eq.7", "o_custkey = 7", "*"),
    "cdc_filter_ts_gt": (
        "o_orderdate=gt.1995-06-01 00:00:00",
        "o_orderdate > TIMESTAMP '1995-06-01 00:00:00'",
        "*",
    ),
    "cdc_filter_missing_col": ("no_such_column=eq.x", "FALSE", "*"),
    "cdc_action_insert": ("", "TRUE", "INSERT"),
    "cdc_action_delete": ("", "TRUE", "DELETE"),
    "cdc_action_update_and_filter": ("o_totalprice=gte.100000", "o_totalprice >= 100000", "UPDATE"),
}


# -- `is` boolean keywords (is.true / is.false / not.is.true) ---------------
# The reference's `is` op accepts null/true/false/unknown with a
# boolean-column rule (migrations/20260626120000:188-304 keyword whitelist).
# The orders feed has no bool column, so one is derived IN the query — NULL
# every 11th change, else `o_orderpriority LIKE '1-%'` rendered as the
# wal2json text 'true'/'false'. Deriving locally (map_concat onto the record
# maps) also exercises the compiled-generic path: the frame loses its
# typed-source contract, so predicates evaluate against the record map —
# a path the typed filter matrix above never takes.

_URGENT_TYPES = {**ORDERS_PG_TYPES, "o_urgent": "bool"}


def _urgent_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    changes = changes_from_orders(spark, sf_dir)
    prio = F.coalesce(
        F.try_element_at(F.col("record"), F.lit("o_orderpriority")),
        F.try_element_at(F.col("old_record"), F.lit("o_orderpriority")),
    )
    urgent = F.when(F.col("change_id") % 11 == 0, F.lit(None).cast("string")).otherwise(
        F.when(prio.startswith("1-"), F.lit("true")).otherwise(F.lit("false"))
    )
    add = F.create_map(F.lit("o_urgent"), urgent)

    def extend(m: str) -> Column:
        return F.when(F.col(m).isNull(), F.col(m)).otherwise(
            F.map_concat(F.col(m), add)
        )

    return changes.withColumn("record", extend("record")).withColumn(
        "old_record", extend("old_record")
    )


_URGENT_SQL = "CASE WHEN change_id % 11 = 0 THEN NULL ELSE (o_orderpriority LIKE '1-%') END"

# name -> (filter string, oracle WHERE clause over o_urgent)
_IS_BOOL_CASES: dict[str, tuple[str, str]] = {
    "cdc_filter_is_true": ("o_urgent=is.true", "o_urgent = TRUE"),
    "cdc_filter_is_false": ("o_urgent=is.false", "o_urgent = FALSE"),
    # NOT (x IS TRUE): never-null in Postgres, so NULLs pass the negation
    "cdc_filter_not_is_true": (
        "o_urgent=not.is.true",
        "o_urgent IS DISTINCT FROM TRUE",
    ),
}


def _is_bool_query(filter_str: str) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        changes = _urgent_changes(spark, sf_dir)
        subs = _subscriptions_df(
            spark,
            [{
                "subscription_id": "s1",
                "schema": "public",
                "table": "orders",
                "filters": filter_str,
            }],
            type_maps={("public", "orders"): _URGENT_TYPES},
        )
        return matched_pairs(changes, subs).select("c", F.explode("subs").alias("s")).select(
            F.col("c.change_id").alias("change_id"),
            F.col("s.subscription_id").alias("subscription_id"),
        )

    return q


def _is_bool_oracle(where: str) -> str:
    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()},
_uc AS (SELECT *, {_URGENT_SQL} AS o_urgent FROM _orders_changes)
SELECT change_id, 's1' AS subscription_id FROM _uc WHERE {where}
"""


def _pairs_query(filter_str: str, action: str) -> Callable[[SparkSession, str], DataFrame]:
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        changes = changes_from_orders(spark, sf_dir)
        subs = subscriptions_df(
            spark,
            [{
                "subscription_id": "s1",
                "schema": "public",
                "table": "orders",
                "filters": filter_str,
                "action": action,
            }],
        )
        return matched_pairs(changes, subs).select("c", F.explode("subs").alias("s")).select(
            F.col("c.change_id").alias("change_id"),
            F.col("s.subscription_id").alias("subscription_id"),
        )

    return q


def _pairs_oracle(where: str, action: str) -> str:
    action_pred = "TRUE" if action == "*" else f"action = '{action}'"
    return f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, 's1' AS subscription_id
FROM _orders_changes
WHERE ({where}) AND ({action_pred})
"""


# -- multi-subscription pipeline with id aggregation (J1 + A5) --------------

_MULTI_SPECS = [
    {"subscription_id": "sub-eq-f", "table": "orders", "filters": "o_orderstatus=eq.F"},
    {"subscription_id": "sub-gt", "table": "orders", "filters": "o_totalprice=gt.150000"},
    {"subscription_id": "sub-ins", "table": "orders", "action": "INSERT"},
    {"subscription_id": "sub-and", "table": "orders",
     "filters": "o_orderstatus=eq.O,o_totalprice=lte.100000"},
    {"subscription_id": "sub-null", "table": "orders", "filters": "o_nullable=is.null",
     "action": "UPDATE"},
]

_MULTI_ORACLE_PREDS = {
    "sub-eq-f": "o_orderstatus = 'F'",
    "sub-gt": "o_totalprice > 150000",
    "sub-ins": "action = 'INSERT'",
    "sub-and": "o_orderstatus = 'O' AND o_totalprice <= 100000",
    "sub-null": "o_nullable IS NULL AND action = 'UPDATE'",
}


def q_cdc_multi_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(spark, _MULTI_SPECS)
    return matched_pairs(changes, subs).select("c", F.explode("subs").alias("s")).select(
        F.col("c.change_id").alias("change_id"),
        F.col("s.subscription_id").alias("subscription_id"),
    )


def _multi_oracle_union() -> str:
    parts = [
        f"SELECT change_id, '{sid}' AS subscription_id FROM _orders_changes WHERE {pred}"
        for sid, pred in _MULTI_ORACLE_PREDS.items()
    ]
    return "\nUNION ALL\n".join(parts)


ORACLE_CDC_MULTI_PAIRS = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
{_multi_oracle_union()}
"""


def q_cdc_subscription_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """match_changes: per-change sorted visible-id set (A5), serialized as a
    comma-joined string so the value-hash is representation-stable."""
    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(spark, _MULTI_SPECS)
    out = match_changes(changes, subs)
    return out.select(
        "change_id",
        "action",
        F.array_join("subscription_ids", ",").alias("subscription_ids"),
    )


ORACLE_CDC_SUBSCRIPTION_IDS = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()},
pairs AS (
{_multi_oracle_union()}
)
SELECT c.change_id, c.action,
       array_to_string(list_sort(list(p.subscription_id)), ',') AS subscription_ids
FROM _orders_changes c JOIN pairs p USING (change_id)
GROUP BY c.change_id, c.action
"""


def q_cdc_wildcard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6/J7: '*' wildcard expansion against publication tables."""
    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(
        spark,
        [{"subscription_id": "s-wild", "schema": "*", "table": "*",
          "filters": "o_orderstatus=eq.P"}],
    )
    subs = expand_wildcards(subs, [("public", "orders"), ("public", "nation")])
    return matched_pairs(changes, subs).select("c", F.explode("subs").alias("s")).select(
        F.col("c.change_id").alias("change_id"),
        F.col("s.subscription_id").alias("subscription_id"),
    )


ORACLE_CDC_WILDCARD = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, 's-wild' AS subscription_id
FROM _orders_changes WHERE o_orderstatus = 'P'
"""


def q_cdc_multi_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two relations with different dynamic schemas in ONE change stream
    (schema-on-read, SURVEY §1.2): orders changes unioned with nation
    changes, matched against per-table subscriptions. The union has no
    typed-source contract, so this exercises the generic map-record
    interpreter path across heterogeneous relations."""
    orders = changes_from_orders(spark, sf_dir)
    n = load_table(spark, sf_dir, "nation")
    nation = n.select(
        (F.col("n_nationkey") + 10_000_000).alias("change_id"),
        F.lit("INSERT").alias("action"),
        F.lit("public").alias("schema_name"),
        F.lit("nation").alias("table_name"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("commit_timestamp"),
        F.map_from_arrays(
            F.array(F.lit("n_nationkey"), F.lit("n_name")),
            F.array(F.col("n_nationkey").cast("string"), F.col("n_name")),
        ).alias("record"),
        F.lit(None).cast("map<string,string>").alias("old_record"),
        F.create_map(
            F.lit("n_nationkey"), F.lit("int8"), F.lit("n_name"), F.lit("text")
        ).alias("col_types"),
        F.array(F.lit("n_nationkey"), F.lit("n_name")).alias("col_names"),
        F.array(F.lit("n_nationkey")).alias("pk"),
        F.lit(None).cast("bigint").alias("record_bytes"),
    )
    changes = orders.unionByName(nation)
    subs = _subscriptions_df(
        spark,
        [
            {"subscription_id": "s-ord", "table": "orders",
             "filters": "o_orderstatus=eq.F"},
            {"subscription_id": "s-nat", "table": "nation",
             "filters": "n_name=like.%IA"},
        ],
        type_maps={
            ("public", "orders"): ORDERS_PG_TYPES,
            ("public", "nation"): {"n_nationkey": "int8", "n_name": "text"},
        },
    )
    return matched_pairs(changes, subs).select("c", F.explode("subs").alias("s")).select(
        F.col("c.change_id").alias("change_id"),
        F.col("s.subscription_id").alias("subscription_id"),
    )


ORACLE_CDC_MULTI_TABLE = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, 's-ord' AS subscription_id
FROM _orders_changes WHERE o_orderstatus = 'F'
UNION ALL
SELECT n_nationkey + 10000000 AS change_id, 's-nat' AS subscription_id
FROM nation WHERE n_name LIKE '%IA'
"""


# ---------------------------------------------------------------------------
# Projection & error semantics (SURVEY §2.2 P8-P13, §2.6 F3)
# ---------------------------------------------------------------------------

from realtime_spark.operators.projection import (  # noqa: E402
    privileges_df,
    project_output,
    record_text,
)

_REC_KEYS_SORTED = (
    "o_custkey", "o_nullable", "o_orderdate", "o_orderkey",
    "o_orderpriority", "o_orderstatus", "o_totalprice",
)

# full-record canonical text in DuckDB (sorted keys, '<null>' token, '|' join)
_ORACLE_FULL_RECORD = (
    "'o_custkey=' || CAST(o_custkey AS VARCHAR)"
    " || '|o_nullable=' || COALESCE(o_nullable, '<null>')"
    " || '|o_orderdate=' || CAST(o_orderdate AS VARCHAR)"
    " || '|o_orderkey=' || CAST(o_orderkey AS VARCHAR)"
    " || '|o_orderpriority=' || o_orderpriority"
    " || '|o_orderstatus=' || o_orderstatus"
    " || '|o_totalprice=' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)"
)


def q_cdc_selected_columns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: record keeps selected_columns ∪ pk; one group per selection set."""
    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(
        spark,
        [{"subscription_id": "s-sel", "table": "orders",
          "selected_columns": ["o_orderstatus", "o_totalprice"]}],
    )
    out = project_output(matched_pairs(changes, subs))
    return out.select(
        "change_id", "type", record_text(F.col("record")).alias("record")
    )


ORACLE_CDC_SELECTED_COLUMNS = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, action AS type,
  CASE WHEN action = 'DELETE' THEN NULL ELSE
    'o_orderkey=' || CAST(o_orderkey AS VARCHAR)
    || '|o_orderstatus=' || o_orderstatus
    || '|o_totalprice=' || CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS VARCHAR)
  END AS record
FROM _orders_changes
"""


def q_cdc_toast_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12: UPDATE records missing an (unchanged-toast) column recover the old
    value; key-presence decides, not value nullness."""
    changes = changes_from_orders(spark, sf_dir)
    toasted = changes.withColumn(
        "record",
        F.when(
            F.col("action") == "UPDATE",
            F.map_filter(F.col("record"), lambda k, v: k != "o_orderpriority"),
        ).otherwise(F.col("record")),
    )
    subs = subscriptions_df(spark, [{"subscription_id": "s-toast", "table": "orders"}])
    out = project_output(matched_pairs(toasted, subs))
    return out.filter(F.col("type") == "UPDATE").select(
        "change_id", record_text(F.col("record")).alias("record")
    )


ORACLE_CDC_TOAST_MERGE = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, {_ORACLE_FULL_RECORD} AS record
FROM _orders_changes WHERE action = 'UPDATE'
"""


def q_cdc_delete_pk_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P13: with RLS enabled, DELETE old_record is reduced to pk columns."""
    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(spark, [{"subscription_id": "s-del", "table": "orders"}])
    out = project_output(matched_pairs(changes, subs), rls_enabled=True)
    return out.filter(F.col("type") == "DELETE").select(
        "change_id", record_text(F.col("old_record")).alias("old_record")
    )


ORACLE_CDC_DELETE_PK_ONLY = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, 'o_orderkey=' || CAST(o_orderkey AS VARCHAR) AS old_record
FROM _orders_changes WHERE action = 'DELETE'
"""


def q_cdc_error_400(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: changes with no primary key carry Error 400."""
    changes = changes_from_orders(spark, sf_dir).withColumn(
        "pk", F.lit(None).cast("array<string>")
    )
    subs = subscriptions_df(spark, [{"subscription_id": "s-e400", "table": "orders"}])
    out = project_output(matched_pairs(changes, subs))
    return out.select("change_id", F.array_join("errors", ",").alias("errors"))


ORACLE_CDC_ERROR_400 = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, 'Error 400: Bad Request, no primary key' AS errors
FROM _orders_changes
"""


def q_cdc_error_401(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: a role whose SELECT privileges exclude a pk column cannot be
    authorized for the row -> Error 401 (reference:
    migrations/20260626120000_readd_postgrest_filter_ops.ex:449-488)."""
    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(
        spark, [{"subscription_id": "s-e401", "table": "orders",
                 "claims_role": "anon"}]
    )
    priv = privileges_df(
        spark, {("anon", "public", "orders"): ["o_orderstatus", "o_totalprice"]}
    )
    out = project_output(matched_pairs(changes, subs), privileges=priv)
    return out.select("change_id", F.array_join("errors", ",").alias("errors"))


ORACLE_CDC_ERROR_401 = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, 'Error 401: Unauthorized' AS errors
FROM _orders_changes
"""


def q_cdc_column_privileges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P8: per-role allowed-column mask drops unprivileged columns."""
    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(
        spark, [{"subscription_id": "s-priv", "table": "orders",
                 "claims_role": "anon"}]
    )
    priv = privileges_df(
        spark, {("anon", "public", "orders"): ["o_orderkey", "o_orderstatus"]}
    )
    out = project_output(matched_pairs(changes, subs), privileges=priv)
    return out.filter(F.col("type") != "DELETE").select(
        "change_id", "claims_role", record_text(F.col("record")).alias("record")
    )


ORACLE_CDC_COLUMN_PRIVILEGES = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, 'anon' AS claims_role,
  'o_orderkey=' || CAST(o_orderkey AS VARCHAR)
  || '|o_orderstatus=' || o_orderstatus AS record
FROM _orders_changes WHERE action <> 'DELETE'
"""


def q_cdc_payload_clamp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: oversize changes keep only values <= 64 bytes + Error 413.
    Uses `documents` (long text values) as the watched table."""
    docs = load_table(spark, sf_dir, "documents")
    changes = docs.select(
        F.col("doc_id").alias("change_id"),
        F.lit("INSERT").alias("action"),
        F.lit("public").alias("schema_name"),
        F.lit("documents").alias("table_name"),
        F.lit("2026-01-01 00:00:00").cast("timestamp").alias("commit_timestamp"),
        F.map_from_arrays(
            F.array(F.lit("doc_id"), F.lit("lang"), F.lit("source"), F.lit("text")),
            F.array(F.col("doc_id").cast("string"), F.col("lang"),
                    F.col("source"), F.col("text")),
        ).alias("record"),
        F.lit(None).cast("map<string,string>").alias("old_record"),
        F.create_map(
            F.lit("doc_id"), F.lit("int8"), F.lit("lang"), F.lit("text"),
            F.lit("source"), F.lit("text"), F.lit("text"), F.lit("text"),
        ).alias("col_types"),
        F.array(F.lit("doc_id"), F.lit("lang"), F.lit("source"), F.lit("text")).alias("col_names"),
        F.array(F.lit("doc_id")).alias("pk"),
        F.col("n_chars").alias("record_bytes"),
    )
    subs = subscriptions_df(spark, [{"subscription_id": "s-413", "table": "documents"}])
    out = project_output(matched_pairs(changes, subs), max_record_bytes=300)
    return out.select(
        "change_id",
        record_text(F.col("record")).alias("record"),
        F.array_join("errors", ",").alias("errors"),
    )


ORACLE_CDC_PAYLOAD_CLAMP = """
SELECT doc_id AS change_id,
  'doc_id=' || CAST(doc_id AS VARCHAR) || '|lang=' || lang || '|source=' || source
   || CASE WHEN n_chars > 300 AND strlen(text) > 64 THEN ''
           ELSE '|text=' || text END AS record,
  CASE WHEN n_chars > 300 THEN 'Error 413: Payload Too Large' ELSE NULL END AS errors
FROM documents
"""


def q_cdc_commit_ts_iso(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F3: UTC ISO-8601 millisecond timestamp formatting."""
    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(spark, [{"subscription_id": "s-iso", "table": "orders"}])
    out = project_output(matched_pairs(changes, subs))
    return out.select("change_id", F.col("commit_timestamp").alias("commit_ts"))


ORACLE_CDC_COMMIT_TS_ISO = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id, strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS commit_ts
FROM _orders_changes
"""


def q_pgoutput_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2: byte-level binary pgoutput decode (decoder.ex parity). The orders
    table is encoded into REAL pgoutput frames — per slot a Relation header,
    then one transaction (Begin/Insert|Update|Delete/Commit) per order row —
    and decoded back by sources/pgoutput.py's stateful per-slot fold. The
    oracle re-derives the same change facts from orders directly, so every
    byte of the frame layout is cross-checked end-to-end."""
    from realtime_spark.sources.pgoutput import (
        decode_pgoutput,
        pgoutput_frames_from_orders,
    )
    from realtime_spark.functions.scalar import iso_ms

    frames = pgoutput_frames_from_orders(spark, sf_dir)
    dec = decode_pgoutput(frames)
    tgt = F.coalesce(F.col("record"), F.col("old_record"))
    return dec.select(
        F.col("xid").alias("okey"),
        "action",
        "schema_name",
        "table_name",
        iso_ms(F.col("commit_timestamp")).alias("commit_ts"),
        tgt["o_orderpriority"].alias("priority"),
        tgt["o_nullable"].alias("nullable_v"),
        F.array_join("pk", ",").alias("pk_str"),
        F.col("record").isNotNull().alias("has_record"),
        F.col("old_record").isNotNull().alias("has_old"),
        F.size("col_names").alias("ncols"),
    )


ORACLE_PGOUTPUT_DECODE = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()}
SELECT change_id AS okey, action,
       'public' AS schema_name, 'orders' AS table_name,
       strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS commit_ts,
       o_orderpriority AS priority,
       o_nullable AS nullable_v,
       'o_orderkey' AS pk_str,
       action <> 'DELETE' AS has_record,
       action <> 'INSERT' AS has_old,
       7 AS ncols
FROM _orders_changes
"""


# ---------------------------------------------------------------------------
# Replay / messages store (SURVEY §2.1 S5/S10, §2.5 W1, §2.2 P15)
# ---------------------------------------------------------------------------

from realtime_spark.operators.messages import apply_retention  # noqa: E402
from realtime_spark.operators.replay import exclude_replayed, replay_topk  # noqa: E402
from realtime_spark.sources.testdata import MESSAGES_SQL_CTE, messages_from_events  # noqa: E402

_REPLAY_SINCE = "2024-01-05 00:00:00"
_REPLAY_UNTIL = "2024-01-20 00:00:00"


def q_replay_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from realtime_spark.functions.scalar import iso_ms

    msgs = messages_from_events(spark, sf_dir)
    out = replay_topk(msgs, since=_REPLAY_SINCE, until=_REPLAY_UNTIL)
    return out.select("topic", "id", iso_ms(F.col("inserted_at")).alias("inserted_at"))


ORACLE_REPLAY_TOPK = f"""
WITH {MESSAGES_SQL_CTE.strip()},
f AS (
  SELECT topic, id, inserted_at FROM _messages
  WHERE private AND extension = 'broadcast'
    AND inserted_at >= TIMESTAMP '{_REPLAY_SINCE}'
    AND inserted_at < TIMESTAMP '{_REPLAY_UNTIL}'
),
r AS (
  SELECT *, row_number() OVER (PARTITION BY topic
            ORDER BY inserted_at DESC, id DESC) AS rn
  FROM f
)
SELECT topic, id, strftime(inserted_at, '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS inserted_at
FROM r WHERE rn <= 25
"""


def q_replay_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P15: live messages already delivered by replay are anti-joined out."""
    msgs = messages_from_events(spark, sf_dir)
    replayed = replay_topk(msgs, since=_REPLAY_SINCE, until=_REPLAY_UNTIL)
    live = msgs.filter(
        F.col("private")
        & (F.col("inserted_at") >= F.lit("2024-01-15 00:00:00"))
        & (F.col("inserted_at") < F.lit("2024-01-25 00:00:00"))
    )
    return exclude_replayed(live, replayed).select("id", "topic")


ORACLE_REPLAY_DEDUP = f"""
WITH {MESSAGES_SQL_CTE.strip()},
f AS (
  SELECT topic, id, inserted_at FROM _messages
  WHERE private AND extension = 'broadcast'
    AND inserted_at >= TIMESTAMP '{_REPLAY_SINCE}'
    AND inserted_at < TIMESTAMP '{_REPLAY_UNTIL}'
),
r AS (
  SELECT id, row_number() OVER (PARTITION BY topic
         ORDER BY inserted_at DESC, id DESC) AS rn
  FROM f
)
SELECT id, topic FROM _messages
WHERE private
  AND inserted_at >= TIMESTAMP '2024-01-15 00:00:00'
  AND inserted_at < TIMESTAMP '2024-01-25 00:00:00'
  AND id NOT IN (SELECT id FROM r WHERE rn <= 25)
"""


def q_msg_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/ST6: 72h retention keeps only recent day partitions."""
    from datetime import datetime

    msgs = messages_from_events(spark, sf_dir)
    kept = apply_retention(msgs, now=datetime(2024, 1, 30, 23, 59, 59))
    return kept.groupBy("topic").agg(F.count(F.lit(1)).alias("n_kept"))


ORACLE_MSG_RETENTION = f"""
WITH {MESSAGES_SQL_CTE.strip()}
SELECT topic, COUNT(*) AS n_kept FROM _messages
WHERE CAST(inserted_at AS DATE) >= DATE '2024-01-27'
GROUP BY topic
"""


# ---------------------------------------------------------------------------
# Rate limiting & counters (SURVEY §2.4 A6/A7/A9, §2.2 P16)
# ---------------------------------------------------------------------------

from realtime_spark.operators.rate_limit import (  # noqa: E402
    rate_limit_flags,
    shed_rate_limited,
    sliding_rate,
)


def q_rate_sliding_60s(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: 60x1s bucket sliding sum per tenant-equivalent key."""
    events = load_table(spark, sf_dir, "events")
    out = sliding_rate(events, keys=["event_type"], ts_col="ts", window_seconds=60)
    return out.select("event_type", "sec", "bucket_count", "window_sum")


ORACLE_RATE_SLIDING_60S = """
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec, COUNT(*) AS bucket_count
  FROM events GROUP BY 1, 2
)
SELECT event_type, sec, bucket_count,
       CAST(SUM(bucket_count) OVER (PARTITION BY event_type ORDER BY sec
         RANGE BETWEEN 59 PRECEDING AND CURRENT ROW) AS BIGINT) AS window_sum
FROM b
"""


def q_rate_limit_trigger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 limit trigger over a 1h window (events are sparse at test SF)."""
    events = load_table(spark, sf_dir, "events")
    flags = rate_limit_flags(
        events, keys=["event_type"], limit_per_sec=0.0011, ts_col="ts",
        window_seconds=3600,
    )
    return flags.filter(F.col("limit_triggered")).select(
        "event_type", "sec", "window_sum"
    )


ORACLE_RATE_LIMIT_TRIGGER = """
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec, COUNT(*) AS bucket_count
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, sec,
         CAST(SUM(bucket_count) OVER (PARTITION BY event_type ORDER BY sec
           RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS BIGINT) AS window_sum
  FROM b
)
SELECT event_type, sec, window_sum FROM r WHERE window_sum / 3600.0 > 0.0011
"""


def q_rate_shed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P16: events landing in limit-triggered seconds are shed."""
    events = load_table(spark, sf_dir, "events")
    kept = shed_rate_limited(
        events, keys=["event_type"], limit_per_sec=0.0011, ts_col="ts",
        window_seconds=3600,
    )
    return kept.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_kept"))


ORACLE_RATE_SHED = """
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec, COUNT(*) AS bucket_count
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, sec,
         CAST(SUM(bucket_count) OVER (PARTITION BY event_type ORDER BY sec
           RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS BIGINT) AS window_sum
  FROM b
),
shed AS (SELECT event_type, sec FROM r WHERE window_sum / 3600.0 > 0.0011)
SELECT e.event_type, COUNT(*) AS n_kept
FROM events e
WHERE NOT EXISTS (
  SELECT 1 FROM shed s
  WHERE s.event_type = e.event_type AND s.sec = CAST(floor(epoch(e.ts)) AS BIGINT)
)
GROUP BY e.event_type
"""


def q_rate_limit_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6 hysteresis edges: the seconds where the limit flag flips, i.e.
    where the reference fires its trigger/un-trigger telemetry."""
    from realtime_spark.operators.rate_limit import rate_limit_edges

    events = load_table(spark, sf_dir, "events")
    return rate_limit_edges(
        events, keys=["event_type"], limit_per_sec=0.0011, ts_col="ts",
        window_seconds=3600,
    )


ORACLE_RATE_LIMIT_EDGES = """
WITH b AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec, COUNT(*) AS bucket_count
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type, sec,
         CAST(SUM(bucket_count) OVER (PARTITION BY event_type ORDER BY sec
           RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS BIGINT) AS window_sum
  FROM b
),
f AS (SELECT event_type, sec, (window_sum / 3600.0 > 0.0011) AS trig FROM r),
e AS (
  SELECT event_type, sec, trig,
         COALESCE(lag(trig) OVER (PARTITION BY event_type ORDER BY sec), FALSE) AS ptrig
  FROM f
)
SELECT event_type, sec,
       CASE WHEN trig AND NOT ptrig THEN 'trigger' ELSE 'untrigger' END AS edge
FROM e WHERE trig <> ptrig
"""


def q_client_window_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-tier rate limiting, client side: per-user trailing-window call
    count with accept/reject flag (5 calls / 30 s scaled to the sparse
    fixture: 2 calls / 1 h)."""
    from realtime_spark.operators.rate_limit import client_window_limit

    events = load_table(spark, sf_dir, "events")
    out = client_window_limit(
        events, client_keys=["user_id"], max_calls=2, window_seconds=3600
    )
    return out.select("event_id", "user_id", "calls_in_window", "accepted")


ORACLE_CLIENT_WINDOW_LIMIT = """
WITH e AS (
  SELECT event_id, user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
)
SELECT event_id, user_id,
       CAST(COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
         RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS BIGINT) AS calls_in_window,
       COUNT(*) OVER (PARTITION BY user_id ORDER BY sec
         RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) <= 2 AS accepted
FROM e
"""


def q_billable_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: billable event counting = pairs delivered per action type."""
    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(spark, _MULTI_SPECS)
    pairs = matched_pairs(changes, subs).select("c", F.explode("subs").alias("s"))
    return pairs.groupBy(F.col("c.action").alias("action")).agg(
        F.count(F.lit(1)).alias("n_billable")
    )


ORACLE_BILLABLE_EVENTS = f"""
WITH {ORDERS_CHANGES_SQL_CTE.strip()},
pairs AS (
{_multi_oracle_union()}
)
SELECT c.action, COUNT(*) AS n_billable
FROM pairs p JOIN _orders_changes c USING (change_id)
GROUP BY c.action
"""


def q_presence_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8 batch analog: presence state grouped per (topic, key) with meta
    count and last-writer timestamp."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy(
        F.col("event_type").alias("topic"), F.col("user_id").alias("presence_key")
    ).agg(
        F.count(F.lit(1)).alias("n_metas"),
        F.date_format(F.max("ts"), "yyyy-MM-dd'T'HH:mm:ss.SSS'Z'").alias("last_seen"),
    )


ORACLE_PRESENCE_STATE = """
SELECT event_type AS topic, user_id AS presence_key,
       COUNT(*) AS n_metas,
       strftime(MAX(ts), '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS last_seen
FROM events GROUP BY 1, 2
"""


def q_users_counter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: concurrent-user counting per tenant-equivalent key (exact)."""
    events = load_table(spark, sf_dir, "events")
    return events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("n_users")
    )


ORACLE_USERS_COUNTER = """
SELECT event_type, COUNT(DISTINCT user_id) AS n_users FROM events GROUP BY 1
"""


def q_tenant_join_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The channel-join tenant gate (tenant_rate_limiters.ex check_tenant/1)
    over tenant-equivalent keys: per-key deterministic max_concurrent_users
    thresholds (so both verdicts occur in the fixture), concurrent users
    from A9's exact count, joins-per-second trigger from A6's sliding
    window (peak semantics: ever-triggered in the replayed history).
    Connections gate wins over the joins gate (reference short-circuit)."""
    from realtime_spark.operators.rate_limit import check_tenant, rate_limit_flags

    events = load_table(spark, sf_dir, "events")
    users = events.groupBy(F.col("event_type").alias("tenant")).agg(
        F.countDistinct("user_id").alias("n_users")
    )
    # thresholds keyed off length(tenant) % 3 so ALL THREE verdicts occur
    # at every SF and the precedence is pinned: class-0 tenants sit AT
    # their connection cap (and also trip the joins limit — connections
    # must win), class-1 tenants trip only the joins limit, class-2 pass
    tenants = users.select(
        "tenant",
        F.when(F.length("tenant") % 3 == 0, F.col("n_users"))
        .otherwise(F.col("n_users") + 1000)
        .alias("max_concurrent_users"),
    )
    flags = rate_limit_flags(
        events, keys=["event_type"], limit_per_sec=1e-7, ts_col="ts",
        window_seconds=3600,
    )
    joins = flags.groupBy(F.col("event_type").alias("tenant")).agg(
        (F.max(F.col("limit_triggered")) & (F.length(F.col("event_type")) % 3 != 2))
        .alias("joins_triggered")
    )
    return check_tenant(tenants, users, joins, key="tenant")


ORACLE_TENANT_JOIN_GATE = """
WITH users AS (
  SELECT event_type AS tenant, COUNT(DISTINCT user_id) AS n_users
  FROM events GROUP BY 1
),
tenants AS (
  SELECT tenant,
         CASE WHEN length(tenant) % 3 = 0 THEN n_users
              ELSE n_users + 1000 END AS max_concurrent_users
  FROM users
),
b AS (
  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec, COUNT(*) AS c
  FROM events GROUP BY 1, 2
),
r AS (
  SELECT event_type,
         CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY sec
           RANGE BETWEEN 3599 PRECEDING AND CURRENT ROW) AS BIGINT) AS window_sum
  FROM b
),
joins AS (
  SELECT event_type AS tenant,
         MAX(CASE WHEN window_sum / 3600.0 > 0.0000001 THEN 1 ELSE 0 END) = 1
           AND length(event_type) % 3 <> 2 AS joins_triggered
  FROM r GROUP BY 1
)
SELECT t.tenant,
       COALESCE(u.n_users, 0) AS n_users,
       CASE WHEN COALESCE(u.n_users, 0) >= t.max_concurrent_users
              THEN 'too_many_connections'
            WHEN COALESCE(j.joins_triggered, false) THEN 'too_many_joins'
            ELSE 'ok' END AS verdict
FROM tenants t
LEFT JOIN users u USING (tenant)
LEFT JOIN joins j USING (tenant)
"""


# ---------------------------------------------------------------------------
# driver contract
# ---------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: the full CDC match pipeline (J1+P2+P3+P5+A5) on sf0.001."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    sf_dir = "/root/testdata/sf0.001"
    changes = changes_from_orders(spark, sf_dir)
    subs = subscriptions_df(spark, _MULTI_SPECS)
    out = match_changes(changes, subs)
    return out.select(
        "change_id", "action", "schema_name", "table_name", "commit_timestamp",
        F.array_join("subscription_ids", ",").alias("subscription_ids"),
    )


from realtime_spark.plans.realtime_extra import (  # noqa: E402
    realtime_extra_oracles,
    realtime_extra_queries,
)
from realtime_spark.plans.activity import (  # noqa: E402
    activity_oracles,
    activity_queries,
)
from realtime_spark.plans.analytics import (  # noqa: E402
    analytics_oracles,
    analytics_queries,
)
from realtime_spark.plans.corpus_lines import (  # noqa: E402
    corpus_lines_oracles,
    corpus_lines_queries,
)
from realtime_spark.plans.embeddings import embeddings_oracles, embeddings_queries  # noqa: E402
from realtime_spark.plans.lexical import lexical_oracles, lexical_queries  # noqa: E402
from realtime_spark.plans.profiling import profiling_oracles, profiling_queries  # noqa: E402
from realtime_spark.plans.sketches_plan import (  # noqa: E402
    sketches_oracles,
    sketches_queries,
)
from realtime_spark.plans.temporal import temporal_oracles, temporal_queries  # noqa: E402
from realtime_spark.plans.tpch import tpch_oracles, tpch_queries  # noqa: E402
from realtime_spark.plans.winnow_plan import winnow_oracles, winnow_queries  # noqa: E402
from realtime_spark.plans.training import training_oracles, training_queries  # noqa: E402
from realtime_spark.plans.window_analytics import (  # noqa: E402
    window_analytics_oracles,
    window_analytics_queries,
)
from realtime_spark.plans.tokenizer_plan import (  # noqa: E402
    tokenizer_oracles,
    tokenizer_queries,
)
from realtime_spark.plans.pca_plan import pca_oracles, pca_queries  # noqa: E402
from realtime_spark.plans.c4_plan import c4_oracles, c4_queries  # noqa: E402
from realtime_spark.plans.crdt_plan import crdt_oracles, crdt_queries  # noqa: E402
from realtime_spark.plans.behavior import (  # noqa: E402
    behavior_oracles,
    behavior_queries,
)
from realtime_spark.plans.dispatch_plan import (  # noqa: E402
    dispatch_oracles,
    dispatch_queries,
)
from realtime_spark.plans.placement_plan import (  # noqa: E402
    placement_oracles,
    placement_queries,
)
from realtime_spark.plans.stream_stores import (  # noqa: E402
    stream_stores_oracles,
    stream_stores_queries,
)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    qs: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
    for name, (fstr, _, action) in _FILTER_CASES.items():
        qs[name] = _pairs_query(fstr, action)
    for name, (fstr, _) in _IS_BOOL_CASES.items():
        qs[name] = _is_bool_query(fstr)
    qs.update(training_queries())
    qs.update(analytics_queries())
    qs.update(tpch_queries())
    qs.update(temporal_queries())
    qs.update(embeddings_queries())
    qs.update(profiling_queries())
    qs.update(realtime_extra_queries())
    qs.update(activity_queries())
    qs.update(window_analytics_queries())
    qs.update(corpus_lines_queries())
    qs.update(sketches_queries())
    qs.update(winnow_queries())
    qs.update(lexical_queries())
    qs.update(tokenizer_queries())
    qs.update(pca_queries())
    qs.update(c4_queries())
    qs.update(crdt_queries())
    qs.update(behavior_queries())
    qs.update(dispatch_queries())
    qs.update(placement_queries())
    qs.update(stream_stores_queries())
    qs["cdc_multi_pairs"] = q_cdc_multi_pairs
    qs["cdc_subscription_ids"] = q_cdc_subscription_ids
    qs["cdc_wildcard"] = q_cdc_wildcard
    qs["cdc_multi_table"] = q_cdc_multi_table
    qs["cdc_selected_columns"] = q_cdc_selected_columns
    qs["cdc_toast_merge"] = q_cdc_toast_merge
    qs["cdc_delete_pk_only"] = q_cdc_delete_pk_only
    qs["cdc_error_400"] = q_cdc_error_400
    qs["cdc_error_401"] = q_cdc_error_401
    qs["cdc_column_privileges"] = q_cdc_column_privileges
    qs["cdc_payload_clamp"] = q_cdc_payload_clamp
    qs["cdc_commit_ts_iso"] = q_cdc_commit_ts_iso
    qs["pgoutput_decode"] = q_pgoutput_decode
    qs["replay_topk"] = q_replay_topk
    qs["replay_dedup"] = q_replay_dedup
    qs["msg_retention"] = q_msg_retention
    qs["rate_sliding_60s"] = q_rate_sliding_60s
    qs["rate_limit_trigger"] = q_rate_limit_trigger
    qs["rate_shed"] = q_rate_shed
    qs["rate_limit_edges"] = q_rate_limit_edges
    qs["client_window_limit"] = q_client_window_limit
    qs["billable_events"] = q_billable_events
    qs["presence_state"] = q_presence_state
    qs["users_counter"] = q_users_counter
    qs["tenant_join_gate"] = q_tenant_join_gate
    return qs


def oracle_sql() -> dict[str, str]:
    sqls: dict[str, str] = {}
    for name, (_, where, action) in _FILTER_CASES.items():
        sqls[name] = _pairs_oracle(where, action)
    for name, (_, where) in _IS_BOOL_CASES.items():
        sqls[name] = _is_bool_oracle(where)
    sqls.update(training_oracles())
    sqls.update(analytics_oracles())
    sqls.update(tpch_oracles())
    sqls.update(temporal_oracles())
    sqls.update(embeddings_oracles())
    sqls.update(profiling_oracles())
    sqls.update(realtime_extra_oracles())
    sqls.update(activity_oracles())
    sqls.update(window_analytics_oracles())
    sqls.update(corpus_lines_oracles())
    sqls.update(sketches_oracles())
    sqls.update(winnow_oracles())
    sqls.update(lexical_oracles())
    sqls.update(tokenizer_oracles())
    sqls.update(pca_oracles())
    sqls.update(c4_oracles())
    sqls.update(crdt_oracles())
    sqls.update(behavior_oracles())
    sqls.update(dispatch_oracles())
    sqls.update(placement_oracles())
    sqls.update(stream_stores_oracles())
    sqls["cdc_multi_pairs"] = ORACLE_CDC_MULTI_PAIRS
    sqls["cdc_subscription_ids"] = ORACLE_CDC_SUBSCRIPTION_IDS
    sqls["cdc_wildcard"] = ORACLE_CDC_WILDCARD
    sqls["cdc_multi_table"] = ORACLE_CDC_MULTI_TABLE
    sqls["cdc_selected_columns"] = ORACLE_CDC_SELECTED_COLUMNS
    sqls["cdc_toast_merge"] = ORACLE_CDC_TOAST_MERGE
    sqls["cdc_delete_pk_only"] = ORACLE_CDC_DELETE_PK_ONLY
    sqls["cdc_error_400"] = ORACLE_CDC_ERROR_400
    sqls["cdc_error_401"] = ORACLE_CDC_ERROR_401
    sqls["cdc_column_privileges"] = ORACLE_CDC_COLUMN_PRIVILEGES
    sqls["cdc_payload_clamp"] = ORACLE_CDC_PAYLOAD_CLAMP
    sqls["cdc_commit_ts_iso"] = ORACLE_CDC_COMMIT_TS_ISO
    sqls["pgoutput_decode"] = ORACLE_PGOUTPUT_DECODE
    sqls["replay_topk"] = ORACLE_REPLAY_TOPK
    sqls["replay_dedup"] = ORACLE_REPLAY_DEDUP
    sqls["msg_retention"] = ORACLE_MSG_RETENTION
    sqls["rate_sliding_60s"] = ORACLE_RATE_SLIDING_60S
    sqls["rate_limit_trigger"] = ORACLE_RATE_LIMIT_TRIGGER
    sqls["rate_shed"] = ORACLE_RATE_SHED
    sqls["rate_limit_edges"] = ORACLE_RATE_LIMIT_EDGES
    sqls["client_window_limit"] = ORACLE_CLIENT_WINDOW_LIMIT
    sqls["billable_events"] = ORACLE_BILLABLE_EVENTS
    sqls["presence_state"] = ORACLE_PRESENCE_STATE
    sqls["users_counter"] = ORACLE_USERS_COUNTER
    sqls["tenant_join_gate"] = ORACLE_TENANT_JOIN_GATE
    return sqls
